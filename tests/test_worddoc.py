"""Legacy binary .doc reader — all three exports byte-identical vs the
reference groundtruth (the reference converts via LibreOffice + its
docx backend: legacy_msoffice_backend.py; ours parses [MS-DOC] and
synthesizes the equivalent docx for the shared msword backend)."""

import hashlib
import json
import pathlib

import pytest

from conftest import needs_reference

SRC = pathlib.Path("/root/reference/tests/data/doc/sources")
GT = pathlib.Path("/root/reference/tests/data/doc/groundtruth")

SAMPLE = "doc/sources/legacy_sample.doc"
needs_sample = needs_reference(SAMPLE)
needs_goldens = needs_reference(SAMPLE, "doc/groundtruth")


@pytest.fixture(scope="module")
def converted():
    from docling_spark.worddoc import convert_doc
    raw = (SRC / "legacy_sample.doc").read_bytes()
    bh = int.from_bytes(hashlib.sha256(raw).digest()[-8:], "big")
    return convert_doc(raw, name="legacy_sample",
                       filename="legacy_sample.doc", binary_hash=bh)


@needs_goldens
def test_md_byte_identical(converted):
    from docling_spark.serialize import to_markdown
    assert to_markdown(converted) == \
        (GT / "legacy_sample.doc.md").read_text()


@needs_goldens
def test_itxt_byte_identical(converted):
    from docling_spark.serialize import to_indented_text
    assert to_indented_text(converted) == \
        (GT / "legacy_sample.doc.itxt").read_text()


@needs_goldens
def test_json_byte_identical(converted):
    """Canonical-serialized byte identity (same comparison as the
    html/docx golden suites): round-trip ours through the identical
    json.dumps settings and compare the exact text."""
    from docling_spark.serialize import to_json
    ours = json.dumps(json.loads(to_json(converted)), indent=2,
                      ensure_ascii=False)
    assert ours == (GT / "legacy_sample.doc.json").read_text()


@needs_sample
def test_structures():
    from docling_spark.worddoc import DocFile
    d = DocFile((SRC / "legacy_sample.doc").read_bytes())
    assert d.ccp_text == 728
    assert d.style_names[1] == "Heading 1"
    assert d.style_names[17] == "Title"
    assert d.lfo_fmt[19] == "bullet" and d.lfo_fmt[17] == "decimal"
    # the inline duck picture is a real PNG in the Data stream
    ext, img = d.picture(0)
    assert ext == "png" and img[:4] == b"\x89PNG"


def test_not_a_doc_raises():
    from docling_spark.worddoc import DocError, DocFile
    with pytest.raises((DocError, ValueError)):
        DocFile(b"\xd0\xcf\x11\xe0" + b"\x00" * 600)


def test_sprm_tdeftable_operand_length():
    """sprmTDefTable (0xD608) is the documented spra==6 exception
    ([MS-DOC] 2.6.3): a 2-byte cb prefix covering cb+1 operand bytes.
    A sprm following it in the same grpprl must still be parsed."""
    import struct

    from docling_spark.worddoc import SPRM_PFTTP, _iter_sprms

    # TDefTableOperand: cb=8 -> 7 remaining bytes after the cb field
    body = b"\x01" * 7
    grp = (struct.pack("<H", 0xD608) + struct.pack("<H", 8) + body
           + struct.pack("<H", SPRM_PFTTP) + b"\x01")
    sprms = list(_iter_sprms(grp))
    assert [s for s, _ in sprms] == [0xD608, SPRM_PFTTP]
    assert sprms[0][1] == struct.pack("<H", 8) + body
    assert sprms[1][1] == b"\x01"

    # ordinary spra==6 sprm (1-byte size prefix) is unchanged
    grp2 = (struct.pack("<H", 0xD609) + b"\x03abc"
            + struct.pack("<H", SPRM_PFTTP) + b"\x01")
    sprms2 = list(_iter_sprms(grp2))
    assert [s for s, _ in sprms2] == [0xD609, SPRM_PFTTP]


def test_style_name_quote_escaped():
    from xml.sax.saxutils import escape
    assert escape('He said "hi"', {'"': "&quot;"}) == \
        "He said &quot;hi&quot;"


@needs_sample
def test_fuzz_truncated_and_bitflipped(spark):
    """Dispatch totality for .doc: truncated and bit-flipped bytes must
    produce per-doc error envelopes (or a degraded success), never a
    task failure (mirrors tests/test_fuzz.py for the other formats)."""
    import random

    from docling_spark import engine

    raw = (SRC / "legacy_sample.doc").read_bytes()
    rng = random.Random(42)
    rows = []
    for i, cut in enumerate((64, 600, 2048, len(raw) // 2)):
        rows.append((f"https://x/trunc_{i}.doc", raw[:cut]))
    for i in range(4):
        b = bytearray(raw)
        for _ in range(16):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        rows.append((f"https://x/flip_{i}.doc", bytes(b)))
    df = spark.createDataFrame(rows, "url string, html binary")
    out = engine.extract_pages(df, repartition=False).collect()
    assert len(out) == len(rows)
    for r in out:
        assert r["status"] in ("success", "failure")


@needs_sample
def test_engine_dispatch(spark):
    from docling_spark import engine
    raw = (SRC / "legacy_sample.doc").read_bytes()
    df = spark.createDataFrame(
        [("https://x/legacy_sample.doc", raw)], "url string, html binary")
    row = engine.extract_pages(df, repartition=False).collect()[0]
    assert row["status"] == "success"
    assert row["n_tables"] == 1 and row["n_pictures"] == 1
