"""Golden tests for the secondary declarative formats: CSV + Markdown.

Same method as the HTML corpus: byte-compare every export against the
reference groundtruth (md goldens end with a trailing newline, unlike the
HTML family)."""

import hashlib
import json
import pathlib

import pytest

from docling_spark.formats import (convert_asciidoc, convert_csv,
                                   convert_email, convert_epub,
                                   convert_markdown, convert_vtt)
from docling_spark.serialize import to_indented_text, to_json, to_markdown

from conftest import needs_reference

CSV_SRC = pathlib.Path("/root/reference/tests/data/csv/sources")
CSV_GT = pathlib.Path("/root/reference/tests/data/csv/groundtruth")
MD_SRC = pathlib.Path("/root/reference/tests/data/md/sources")
MD_GT = pathlib.Path("/root/reference/tests/data/md/groundtruth")
VTT_SRC = pathlib.Path("/root/reference/tests/data/webvtt/sources")
VTT_GT = pathlib.Path("/root/reference/tests/data/webvtt/groundtruth")

CSV_FIXTURES = sorted(p.name for p in CSV_SRC.glob("*.csv")) if CSV_SRC.exists() else []
MD_FIXTURES = sorted(p.name for p in MD_SRC.glob("*.md")) if MD_SRC.exists() else []
VTT_FIXTURES = sorted(p.name for p in VTT_SRC.glob("*.vtt")) if VTT_SRC.exists() else []


def _bh(raw: bytes) -> int:
    return int.from_bytes(hashlib.sha256(raw).digest()[-8:], "big")


@needs_reference("csv/sources", "csv/groundtruth")
@pytest.mark.parametrize("name", CSV_FIXTURES)
def test_csv_all_formats_byte_identical(name):
    raw = (CSV_SRC / name).read_bytes()
    doc = convert_csv(raw, name=name.rsplit(".", 1)[0], filename=name,
                      binary_hash=_bh(raw))
    for kind, ours in (
        ("md", to_markdown(doc)),
        ("itxt", to_indented_text(doc)),
        ("json", json.dumps(json.loads(to_json(doc)), indent=2,
                            ensure_ascii=False)),
    ):
        golden_path = CSV_GT / f"{name}.{kind}"
        if not golden_path.exists():
            continue
        golden = golden_path.read_text()
        assert ours == golden or ours + "\n" == golden, f"{name}.{kind}"


@needs_reference("md/sources", "md/groundtruth")
@pytest.mark.parametrize("name", MD_FIXTURES)
def test_markdown_reexport_byte_identical(name):
    raw = (MD_SRC / name).read_bytes()
    doc = convert_markdown(raw, name=name.rsplit(".", 1)[0], filename=name,
                           binary_hash=_bh(raw))
    golden = (MD_GT / f"{name}.md").read_text()
    assert to_markdown(doc) + "\n" == golden


@needs_reference("webvtt/sources", "webvtt/groundtruth")
@pytest.mark.parametrize("name", VTT_FIXTURES)
def test_webvtt_all_formats_byte_identical(name):
    raw = (VTT_SRC / name).read_bytes()
    doc = convert_vtt(raw, name=name.rsplit(".", 1)[0], filename=name,
                      binary_hash=_bh(raw))
    for kind, ours in (
        ("md", to_markdown(doc)),
        ("itxt", to_indented_text(doc)),
        ("json", json.dumps(json.loads(to_json(doc)), indent=2,
                            ensure_ascii=False)),
    ):
        golden_path = VTT_GT / f"{name}.{kind}"
        if not golden_path.exists():
            continue
        golden = golden_path.read_text()
        assert ours == golden or ours + "\n" == golden, f"{name}.{kind}"


def test_webvtt_never_raises_on_garbage():
    for raw in (b"", b"not vtt", b"WEBVTT", b"WEBVTT\n\nbroken --> cue",
                b"WEBVTT\n\n00:00.000 --> bad\n<v unclosed"):
        doc = convert_vtt(raw, name="garbage")
        to_markdown(doc)


def test_markdown_never_raises_on_garbage():
    for raw in (b"", b"| broken | table", b"``` unclosed fence\ncode",
                b"#\n##\n- \n1. ", b"\xff\xfe bad bytes",
                b"<div>html soup<ul><li>x"):
        doc = convert_markdown(raw, name="garbage")
        to_markdown(doc)
        to_indented_text(doc)
        to_json(doc)


def test_csv_never_raises_on_garbage():
    for raw in (b"", b'a,"unclosed quote\nb,c', b"\xff\xfe,bad",
                b"only-one-cell"):
        doc = convert_csv(raw, name="garbage")
        to_markdown(doc)


EPUB_SRC = pathlib.Path("/root/reference/tests/data/epub/sources")
EPUB_GT = pathlib.Path("/root/reference/tests/data/epub/groundtruth")
EPUB_FIXTURES = (sorted(p.name for p in EPUB_SRC.glob("*.epub"))
                 if EPUB_SRC.exists() else [])


@needs_reference("epub/sources", "epub/groundtruth")
@pytest.mark.parametrize("name", EPUB_FIXTURES)
def test_epub_all_formats_byte_identical(name):
    raw = (EPUB_SRC / name).read_bytes()
    doc = convert_epub(raw, name=name.rsplit(".", 1)[0], filename=name,
                       binary_hash=_bh(raw))
    for kind, ours in (
        ("md", to_markdown(doc)),
        ("itxt", to_indented_text(doc)),
        ("json", json.dumps(json.loads(to_json(doc)), indent=2,
                            ensure_ascii=False)),
    ):
        golden_path = EPUB_GT / f"{name}.{kind}"
        if not golden_path.exists():
            continue
        golden = golden_path.read_text()
        assert ours == golden or ours + "\n" == golden, f"{name}.{kind}"


@needs_reference("email/sources/eml_simple.eml")
def test_email_structure():
    raw = pathlib.Path(
        "/root/reference/tests/data/email/sources/eml_simple.eml").read_bytes()
    doc = convert_email(raw, name="eml_simple", filename="eml_simple.eml")
    labels = [(t.label, t.text) for t in doc.texts]
    assert labels[0][0] == "title"
    assert labels[1][1].startswith("From: ")
    assert labels[2][1].startswith("To: ")
    assert any("simple email body" in t for _, t in labels)


def test_epub_email_never_raise_on_garbage():
    for raw in (b"", b"PK garbage not zip", b"\xff\xfe"):
        to_markdown(convert_epub(raw, name="g"))
        to_markdown(convert_email(raw, name="g"))


ADOC_SRC = pathlib.Path("/root/reference/tests/data/asciidoc/sources")
ADOC_GT = pathlib.Path("/root/reference/tests/data/asciidoc/groundtruth")
ADOC_FIXTURES = (sorted(p.name for p in ADOC_SRC.glob("*.asciidoc"))
                 if ADOC_SRC.exists() else [])


@needs_reference("asciidoc/sources", "asciidoc/groundtruth")
@pytest.mark.parametrize("name", ADOC_FIXTURES)
def test_asciidoc_md_byte_identical(name):
    raw = (ADOC_SRC / name).read_bytes()
    doc = convert_asciidoc(raw, name=name.rsplit(".", 1)[0], filename=name,
                           binary_hash=_bh(raw))
    golden = (ADOC_GT / f"{name}.md").read_text()
    ours = to_markdown(doc)
    assert ours == golden or ours + "\n" == golden


def test_asciidoc_never_raises_on_garbage():
    for raw in (b"", b"|=== \n|unclosed", b"= ", b"image::[", b"\xff\xfe"):
        to_markdown(convert_asciidoc(raw, name="g"))


@needs_reference("md/sources", "md/groundtruth")
def test_md_yaml_goldens_item_level():
    """YAML sink + md-backend structural parity: the reference verifies
    its md yaml goldens ITEM-level (tests/test_backend_markdown.py
    verify_docitems - the goldens' origin/mimetype is stale vs current
    code), so we pin the same: every text item's (label, text,
    formatting) matches the shipped groundtruth, and to_yaml round-trips
    through yaml.safe_load."""
    import pathlib

    import yaml

    from docling_spark.serialize import to_yaml

    src = pathlib.Path("/root/reference/tests/data/md/sources")
    gt = pathlib.Path("/root/reference/tests/data/md/groundtruth")
    for stem in ("inline_and_formatting", "mixed_without_h1"):
        doc = convert_markdown((src / f"{stem}.md").read_bytes(),
                               name=stem, filename=f"{stem}.md")
        ours = yaml.safe_load(to_yaml(doc))
        ref = yaml.safe_load((gt / f"{stem}.md.yaml").read_text())
        ot = [(t["label"], t["text"], t.get("formatting"))
              for t in ours["texts"]]
        rt = [(t["label"], t["text"], t.get("formatting"))
              for t in ref["texts"]]
        assert ot == rt, f"{stem}: text items diverge"
        assert len(ours["tables"]) == len(ref["tables"])
