"""USPTO backend tests: golden byte-identity sweep + semantic units.

Goldens live in /root/reference/tests/data/uspto/{sources,groundtruth};
the tests that read them skip, naming the missing path, when it is absent.
md, itxt (untruncated export, per the reference's test), and json are
byte-identical for all 5 fixtures, covering 4 patent formats: ICE v4.x
applications, application v1.x (pap), grant v2.5 (PATDOC/ST32), and the
line-oriented APS format.
"""

import hashlib
import json
import pathlib

import pytest

from docling_spark.uspto import (
    convert_uspto, looks_like_uspto, parse_cals_table, resolve_entity,
    style_text)
from docling_spark.serialize import to_indented_text, to_json, to_markdown

from conftest import needs_reference

SRC = pathlib.Path("/root/reference/tests/data/uspto/sources")
GT = pathlib.Path("/root/reference/tests/data/uspto/groundtruth")


def _paths():
    if not SRC.exists():
        return []
    return [p for p in sorted(SRC.iterdir())
            if (GT / f"{p.stem}.md").exists()]


PATHS = _paths()
IDS = [p.name for p in PATHS]
needs_goldens = needs_reference("uspto/sources", "uspto/groundtruth")


def _convert(path: pathlib.Path):
    raw = path.read_bytes()
    bh = int.from_bytes(hashlib.sha256(raw).digest()[-8:], "big")
    return convert_uspto(raw, name=path.name, filename=path.name,
                        binary_hash=bh)


@needs_goldens
@pytest.mark.parametrize("path", PATHS, ids=IDS)
def test_uspto_md_golden_byte_identical(path):
    assert to_markdown(_convert(path)) == \
        (GT / f"{path.stem}.md").read_text()


@needs_goldens
@pytest.mark.parametrize("path", PATHS, ids=IDS)
def test_uspto_itxt_golden_byte_identical(path):
    assert to_indented_text(_convert(path), max_text_len=None) == \
        (GT / f"{path.stem}.itxt").read_text()


@needs_goldens
@pytest.mark.parametrize("path", PATHS, ids=IDS)
def test_uspto_json_golden_byte_identical(path):
    assert json.loads(to_json(_convert(path))) == \
        json.load(open(GT / f"{path.stem}.json"))


# ---------------------------------------------------------------- units

def test_style_unicode_scripts():
    assert style_text("m-2", "sup") == "m⁻²"
    assert style_text("H2O"[1], "sub") == "₂"
    assert style_text("Abc", "italic") == "𝐴𝑏𝑐"


def test_iso8879_greek_entities():
    assert resolve_entity("mgr") == "μ"
    assert resolve_entity("THgr") == "Θ"
    assert resolve_entity("noSuchEntity") is None


def test_cals_table_namest_nameend():
    xml = """<table><tgroup cols="3">
    <colspec colname="1" colwidth="50PT"/>
    <colspec colname="2" colwidth="50PT"/>
    <colspec colname="3" colwidth="50PT"/>
    <tbody>
    <row><entry namest="1" nameend="3">wide</entry></row>
    <row><entry>a</entry><entry>b</entry><entry>c</entry></row>
    </tbody></tgroup></table>"""
    data = parse_cals_table(xml)
    assert data.num_rows == 2 and data.num_cols == 3
    wide = data.table_cells[0]
    assert wide.col_span == 3 and wide.text == "wide"


def test_cals_table_drops_undefined_entities():
    xml = ('<table><tgroup cols="1"><colspec colname="1" colwidth="10PT"/>'
           "<tbody><row><entry>ZEOCIN&thinsp;&trade;</entry></row>"
           "</tbody></tgroup></table>")
    data = parse_cals_table(xml)
    assert data.table_cells[0].text == "ZEOCIN"


def test_format_detection():
    assert looks_like_uspto(b"PATN\nWKU  057006474")
    assert looks_like_uspto(
        b'<!DOCTYPE us-patent-grant SYSTEM "us-patent-grant-v42.dtd">')
    assert not looks_like_uspto(b"<html></html>")


@needs_reference("uspto/sources/pftaps057006474.txt")
def test_aps_claims_structure():
    doc = _convert(SRC / "pftaps057006474.txt")
    headings = [t.text for t in doc.texts if t.label == "section_header"]
    assert "ABSTRACT" in headings and "CLAIMS" in headings
    assert doc.mimetype == "text/plain"


def test_never_raises_on_recognized_garbage():
    try:
        convert_uspto(b"PATN\nbroken", name="junk")
    except Exception as exc:
        assert isinstance(exc, Exception)
    with pytest.raises(ValueError):
        convert_uspto(b"<unknown/>", name="junk")
