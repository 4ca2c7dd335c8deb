"""JATS backend tests: golden byte-identity sweep + semantic unit vectors.

Goldens live in /root/reference/tests/data/jats/{sources,groundtruth};
the tests that read them skip, naming the missing path, when it is absent.
md, itxt, AND json are byte-identical for all 4 fixtures (no masking
needed - JATS carries no embedded images).
"""

import hashlib
import json
import pathlib

import pytest

from docling_spark.jats import (
    _resolve_entities, convert_jats, looks_like_jats)
from docling_spark.serialize import to_indented_text, to_json, to_markdown

from conftest import needs_reference

SRC = pathlib.Path("/root/reference/tests/data/jats/sources")
GT = pathlib.Path("/root/reference/tests/data/jats/groundtruth")


def _paths():
    if not SRC.exists():
        return []
    return [p for p in sorted(SRC.iterdir())
            if p.suffix in (".xml", ".nxml")
            and (GT / f"{p.name}.md").exists()]


PATHS = _paths()
IDS = [p.name for p in PATHS]
needs_goldens = needs_reference("jats/sources", "jats/groundtruth")


def _convert(path: pathlib.Path):
    raw = path.read_bytes()
    bh = int.from_bytes(hashlib.sha256(raw).digest()[-8:], "big")
    return convert_jats(raw, name=path.stem, filename=path.name,
                        binary_hash=bh)


@needs_goldens
@pytest.mark.parametrize("path", PATHS, ids=IDS)
def test_jats_md_golden_byte_identical(path):
    doc = _convert(path)
    assert to_markdown(doc) == (GT / f"{path.name}.md").read_text()


@needs_goldens
@pytest.mark.parametrize("path", PATHS, ids=IDS)
def test_jats_itxt_golden_byte_identical(path):
    doc = _convert(path)
    assert to_indented_text(doc) == (GT / f"{path.name}.itxt").read_text()


@needs_goldens
@pytest.mark.parametrize("path", PATHS, ids=IDS)
def test_jats_json_golden_byte_identical(path):
    doc = _convert(path)
    assert json.loads(to_json(doc)) == json.load(
        open(GT / f"{path.name}.json"))


# ---------------------------------------------------------------- units

def test_looks_like_jats():
    assert looks_like_jats(
        b'<!DOCTYPE article PUBLIC "x" '
        b'"JATS-journalpublishing1.dtd"><article/>')
    assert not looks_like_jats(b"<html><body/></html>")


def test_entity_resolution():
    raw = (b'<?xml version="1.0"?><!DOCTYPE article [<!ENTITY x "Y">]>'
           b"<a>&x; &nbsp; &amp; &#8217;</a>")
    resolved = _resolve_entities(raw)
    assert b"<!DOCTYPE" not in resolved
    assert b"Y \xc2\xa0 &amp;" in resolved


@needs_reference("jats/sources/elife-56337.nxml")
def test_structure_title_authors_abstract():
    doc = _convert(SRC / "elife-56337.nxml")
    assert doc.texts[0].label == "title"
    assert "KRAB-zinc finger protein" in doc.texts[0].text
    assert any(t.label == "paragraph" and "Gernot Wolf" in t.text
               for t in doc.texts)
    headings = [t.text for t in doc.texts if t.label == "section_header"]
    assert "Abstract" in headings and "References" in headings


@needs_reference("jats/sources/elife-56337.nxml")
def test_citations_are_list_items():
    doc = _convert(SRC / "elife-56337.nxml")
    items = [t for t in doc.texts if t.label == "list_item"]
    assert any("(2016)" in t.text or "(2017)" in t.text for t in items)


@needs_reference("jats/sources/ptag100.xml")
def test_formulas_inline_and_display():
    doc = _convert(SRC / "ptag100.xml")
    formulas = [t for t in doc.texts if t.label == "formula"]
    assert formulas and any("\\" in t.text for t in formulas)


def test_never_raises_on_garbage():
    for junk in (b"", b"<not-jats/>", b"plain text"):
        try:
            convert_jats(junk, name="junk")
        except Exception as exc:
            assert isinstance(exc, Exception)
