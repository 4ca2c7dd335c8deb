"""Legacy binary .ppt reader — md/itxt byte-identical vs the reference
groundtruth; json compared the way the reference's OWN e2e test does
(tests/test_backend_legacy_msoffice.py:36 verify_document fuzzy=True,
FUZZY_BBOX_TOL_RATIO=0.08 of page extent, because LibreOffice geometry
varies across platforms — our deltas are LO text-autofit growth, max
0.067 of page).  The reference converts via LibreOffice + its pptx
backend; ours parses [MS-PPT]/[MS-ODRAW] and synthesizes the
equivalent pptx for the shared mspptx backend."""

import hashlib
import json
import pathlib

import pytest

from conftest import needs_reference

SRC = pathlib.Path("/root/reference/tests/data/ppt/sources")
GT = pathlib.Path("/root/reference/tests/data/ppt/groundtruth")

SAMPLE = "ppt/sources/legacy_sample.ppt"
needs_sample = needs_reference(SAMPLE)
needs_goldens = needs_reference(SAMPLE, "ppt/groundtruth")

FUZZY_BBOX_TOL_RATIO = 0.08  # the reference's own legacy-format policy


@pytest.fixture(scope="module")
def converted():
    from docling_spark.pptbin import convert_ppt
    raw = (SRC / "legacy_sample.ppt").read_bytes()
    bh = int.from_bytes(hashlib.sha256(raw).digest()[-8:], "big")
    return convert_ppt(raw, name="legacy_sample",
                       filename="legacy_sample.ppt", binary_hash=bh)


@needs_goldens
def test_md_byte_identical(converted):
    from docling_spark.serialize import to_markdown
    assert to_markdown(converted) == \
        (GT / "legacy_sample.ppt.md").read_text()


@needs_goldens
def test_itxt_byte_identical(converted):
    from docling_spark.serialize import to_indented_text
    assert to_indented_text(converted) == \
        (GT / "legacy_sample.ppt.itxt").read_text()


@needs_goldens
def test_json_identical_with_reference_fuzzy_bboxes(converted):
    """Object identity for every non-numeric field; numeric deltas
    bounded by the reference's own fuzzy bbox tolerance."""
    from docling_spark.serialize import to_json
    ours = json.loads(to_json(converted))
    gt = json.load(open(GT / "legacy_sample.ppt.json"))
    page_extent = max(gt["pages"]["1"]["size"]["width"],
                      gt["pages"]["1"]["size"]["height"])
    tol = page_extent * FUZZY_BBOX_TOL_RATIO
    hard = []

    def cmp(a, b, path=""):
        if isinstance(a, dict) and isinstance(b, dict):
            if set(a) != set(b):
                hard.append((path, set(a) ^ set(b)))
                return
            for k in a:
                cmp(a[k], b[k], f"{path}.{k}")
        elif isinstance(a, list) and isinstance(b, list):
            if len(a) != len(b):
                hard.append((path, (len(a), len(b))))
                return
            for i, (x, y) in enumerate(zip(a, b)):
                cmp(x, y, f"{path}[{i}]")
        elif a != b:
            numeric = (isinstance(a, (int, float))
                       and isinstance(b, (int, float)))
            if not (numeric and abs(a - b) <= tol):
                hard.append((path, (a, b)))

    cmp(gt, ours)
    assert not hard, hard[:10]


@needs_goldens
def test_table_structure_exact(converted):
    """The 9x7 merged-cell grid must match the groundtruth exactly
    (col/row offsets, spans, header flags, texts)."""
    gt = json.load(open(GT / "legacy_sample.ppt.json"))
    gt_cells = [
        (c["start_row_offset_idx"], c["end_row_offset_idx"],
         c["start_col_offset_idx"], c["end_col_offset_idx"],
         c["row_span"], c["col_span"], c["column_header"], c["text"])
        for c in gt["tables"][0]["data"]["table_cells"]]
    td = converted.tables[0].data
    ours = [
        (c.start_row_offset_idx, c.end_row_offset_idx,
         c.start_col_offset_idx, c.end_col_offset_idx,
         c.row_span, c.col_span, c.column_header, c.text)
        for c in td.table_cells]
    assert (td.num_rows, td.num_cols) == (9, 7)
    assert ours == gt_cells


@needs_sample
def test_structures():
    from docling_spark.pptbin import PptFile, _Table
    ppt = PptFile((SRC / "legacy_sample.ppt").read_bytes())
    assert ppt.slide_size == (7680, 4320)
    assert len(ppt.slides) == 3
    tables = [s for s in ppt.slides[0] if isinstance(s, _Table)]
    assert len(tables) == 1
    # body text inherits bulleted default, "other" text doesn't
    assert ppt.default_bullet.get(1) is True
    assert ppt.default_bullet.get(4) is False
    # real notes for slides 2 and 3, the notes master excluded
    assert ppt.notes == [
        "Some notes on the second slide.",
        "Final notes on the third slide.\nSecond line of notes."]
    assert ppt.slide_has_notes == [False, True, True]


@needs_sample
def test_autonumber_detection():
    """PP9 fBulletHasAutoNumber turns bullets into numbered lists."""
    from docling_spark.pptbin import PptFile, _Shape
    ppt = PptFile((SRC / "legacy_sample.ppt").read_bytes())
    shapes = [s for s in ppt.slides[2] if isinstance(s, _Shape)]
    flags = {s.paras[0].text: [p.autonum for p in s.paras]
             for s in shapes}
    assert flags["List item4"] == [True, True, True]
    assert flags["I1"] == [False] * 4
    assert flags["Maybe a list?"] == [False, True, True, True]


def test_not_a_ppt_raises():
    from docling_spark.pptbin import PptError, PptFile
    with pytest.raises((PptError, ValueError)):
        PptFile(b"\xd0\xcf\x11\xe0" + b"\x00" * 600)


@needs_reference(SAMPLE, "doc/sources/legacy_sample.doc")
def test_looks_like_ppt():
    from docling_spark.pptbin import looks_like_ppt
    assert looks_like_ppt((SRC / "legacy_sample.ppt").read_bytes())
    assert not looks_like_ppt(b"<html></html>")
    doc_src = pathlib.Path(
        "/root/reference/tests/data/doc/sources/legacy_sample.doc")
    assert not looks_like_ppt(doc_src.read_bytes())


@needs_sample
def test_engine_dispatch(spark):
    from docling_spark import engine
    raw = (SRC / "legacy_sample.ppt").read_bytes()
    df = spark.createDataFrame(
        [("https://x/legacy_sample.ppt", raw)], "url string, html binary")
    row = engine.extract_pages(df, repartition=False).collect()[0]
    assert row["status"] == "success"
    assert row["n_tables"] == 1


@needs_sample
def test_fuzz_truncated_and_bitflipped(spark):
    """Truncated / bit-flipped .ppt bytes must produce per-doc error
    envelopes (or degraded success), never a task failure."""
    import random

    from docling_spark import engine

    raw = (SRC / "legacy_sample.ppt").read_bytes()
    rng = random.Random(7)
    rows = []
    for i, cut in enumerate((64, 600, 4096, len(raw) // 2)):
        rows.append((f"https://x/trunc_{i}.ppt", raw[:cut]))
    for i in range(4):
        b = bytearray(raw)
        for _ in range(16):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        rows.append((f"https://x/flip_{i}.ppt", bytes(b)))
    df = spark.createDataFrame(rows, "url string, html binary")
    out = engine.extract_pages(df, repartition=False).collect()
    assert len(out) == len(rows)
    for r in out:
        assert r["status"] in ("success", "failure")
