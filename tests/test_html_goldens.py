"""Golden-file e2e: byte-identical md/itxt vs the reference groundtruth.

Mirrors the reference's own test strategy
(``tests/test_backend_html.py:443-471`` driving
``tests/data/html/groundtruth``; SURVEY.md §5).
"""

import pathlib

import pytest

from docling_spark.extractor import extract
from docling_spark.serialize import to_indented_text, to_json, to_markdown

from conftest import needs_reference

SRC = pathlib.Path("/root/reference/tests/data/html/sources")
GT = pathlib.Path("/root/reference/tests/data/html/groundtruth")

KNOWN_GAPS: set = set()

FIXTURES = sorted(p.stem for p in SRC.glob("*.html")) if SRC.exists() else []
needs_goldens = needs_reference("html/sources", "html/groundtruth")


@needs_goldens
@pytest.mark.parametrize("name", [n for n in FIXTURES if n not in KNOWN_GAPS])
def test_markdown_byte_identical(name):
    doc = extract((SRC / f"{name}.html").read_bytes(), name=name,
                  filename=f"{name}.html")
    golden = (GT / f"{name}.html.md").read_text()
    assert to_markdown(doc) == golden


@needs_goldens
@pytest.mark.parametrize(
    "name",
    [n for n in FIXTURES
     if n not in KNOWN_GAPS and (GT / f"{n}.html.itxt").exists()])
def test_itxt_byte_identical(name):
    doc = extract((SRC / f"{name}.html").read_bytes(), name=name,
                  filename=f"{name}.html")
    golden = (GT / f"{name}.html.itxt").read_text()
    assert to_indented_text(doc) == golden


@needs_goldens
@pytest.mark.parametrize("name", [n for n in FIXTURES if n not in KNOWN_GAPS])
def test_json_byte_identical(name):
    """Full DoclingDocument JSON byte-identity, including the
    reference-compatible binary_hash (sha256(bytes) mod 2^64)."""
    import hashlib
    import json
    raw = (SRC / f"{name}.html").read_bytes()
    bh = int.from_bytes(hashlib.sha256(raw).digest()[-8:], "big")
    doc = extract(raw, name=name, filename=f"{name}.html", binary_hash=bh)
    ours = json.dumps(json.loads(to_json(doc)), indent=2, ensure_ascii=False)
    assert ours == (GT / f"{name}.html.json").read_text()


def test_extractor_never_raises_on_garbage():
    for raw in (b"", b"<p>a<p>b", b"\xff\xfe\x00bad", b"<table><td>x",
                b"<ul><li>a<li>b</ul>", b"<div>" * 300 + b"</div>" * 100):
        doc = extract(raw, name="garbage")
        to_markdown(doc)
        to_indented_text(doc)
        to_json(doc)
