"""DeepSeek-OCR annotated-markdown parser tests (the VLM-output path).

md, itxt, and json (page image masked - the reference test injects a
mock white page image) are byte-identical for all 3 fixtures.
"""

import json
import pathlib

import pytest

from docling_spark.deepseekocr import (
    _parse_table_html, convert_deepseekocr, parse_deepseekocr_markdown)
from docling_spark.serialize import to_indented_text, to_json, to_markdown

from conftest import needs_reference

SRC = pathlib.Path("/root/reference/tests/data/md_deepseek/sources")
GT = pathlib.Path("/root/reference/tests/data/md_deepseek/groundtruth")


def _paths():
    return sorted(SRC.glob("*.md"))


PATHS = _paths()
IDS = [p.stem for p in PATHS]
needs_goldens = needs_reference("md_deepseek/sources",
                                "md_deepseek/groundtruth")


@needs_goldens
@pytest.mark.parametrize("path", PATHS, ids=IDS)
def test_deepseek_md_itxt_golden_byte_identical(path):
    doc = convert_deepseekocr(path.read_bytes(), name=path.stem,
                              filename=path.name)
    assert to_markdown(doc) == (GT / f"{path.name}.md").read_text()
    assert to_indented_text(doc) == (GT / f"{path.name}.itxt").read_text()


@needs_goldens
@pytest.mark.parametrize("path", PATHS, ids=IDS)
def test_deepseek_json_golden_page_image_masked(path):
    doc = convert_deepseekocr(path.read_bytes(), name=path.stem,
                              filename=path.name)
    ours = json.loads(to_json(doc))
    theirs = json.load(open(GT / f"{path.name}.json"))
    for d in (ours, theirs):
        for pg in d.get("pages", {}).values():
            pg.pop("image", None)
    assert ours == theirs


def test_bbox_scaling_and_rounding():
    doc = parse_deepseekocr_markdown(
        "<|ref|>text<|/ref|><|det|>[[217, 209, 520, 225]]<|/det|>\nHello")
    prov = doc.texts[0].prov[0]
    assert prov["bbox"]["l"] == 132.8 and prov["bbox"]["t"] == 165.53


def test_caption_attaches_to_table():
    content = (
        "table[[10, 10, 20, 20]]\n"
        "<table><tr><th>A</th></tr><tr><td>1</td></tr></table>\n"
        "table_caption[[10, 30, 20, 40]]\nTable 1. Things.\n")
    doc = parse_deepseekocr_markdown(content)
    assert doc.tables and doc.tables[0].captions
    assert doc.resolve(doc.tables[0].captions[0]).text == \
        "Table 1. Things."


def test_table_html_spans():
    data = _parse_table_html(
        '<table><tr><th colspan="2">h</th></tr>'
        "<tr><td>a</td><td>b</td></tr></table>")
    assert data.num_rows == 2 and data.num_cols == 2
    assert data.table_cells[0].col_span == 2
    assert data.table_cells[0].column_header
