"""PDF backend tests: COS layer, text extraction, Doc assembly.

Byte-identity is pinned against the reference's own groundtruth markdown
for the fixtures whose layout is deterministic-reachable (no ML tables);
the rest pin text-extraction vectors and page/cell structure.
"""

import pathlib

import pytest

from docling_spark.pdfdoc import convert_pdf, looks_like_pdf
from docling_spark.pdfio import Lexer, Name, PdfDocument, PdfError, Ref
from docling_spark.pdftext import (extract_page_cells, glyph_name_to_unicode,
                                   parse_tounicode)
from docling_spark.serialize import to_markdown

from conftest import needs_reference

SRC = pathlib.Path("/root/reference/tests/data/pdf/sources")
GT = pathlib.Path("/root/reference/tests/data/pdf/groundtruth")

needs_corpus = needs_reference("pdf/sources")
needs_goldens = needs_reference("pdf/sources", "pdf/groundtruth")


# ---------------------------------------------------------------- pdfio

def test_lexer_objects():
    lex = Lexer(b"<< /Type /Page /N 3 /F 4.5 /S (hi\\)x) /H <414243> "
                b"/A [1 2 R 3] /Ref 7 0 R >>")
    d = lex.read_object()
    assert d["Type"] == Name("Page")
    assert d["N"] == 3 and d["F"] == 4.5
    assert d["S"] == b"hi)x"
    assert d["H"] == b"ABC"
    assert d["A"] == [Ref(1, 2), 3]
    assert d["Ref"] == Ref(7, 0)


def test_lexer_literal_string_escapes():
    lex = Lexer(rb"(a\n\t\\\(\)\101 b)")
    assert lex.read_object() == b"a\n\t\\()A b"


def test_lexer_name_hex_escape():
    lex = Lexer(b"/A#20B")
    assert lex.read_object() == "A B"


def test_not_a_pdf():
    with pytest.raises(PdfError):
        PdfDocument(b"this is not a pdf at all" * 100)


def test_tounicode_bfchar_and_range():
    cmap = (b"begincodespacerange <0000> <FFFF> endcodespacerange\n"
            b"2 beginbfchar <0041> <0061> <0042> <00660066> endbfchar\n"
            b"1 beginbfrange <0050> <0052> <0070> endbfrange\n")
    m = parse_tounicode(cmap)
    assert m[0x41] == "a"
    assert m[0x42] == "ff"
    assert m[0x50] == "p" and m[0x51] == "q" and m[0x52] == "r"


def test_glyph_names():
    assert glyph_name_to_unicode("comma") == ","
    assert glyph_name_to_unicode("uni0041") == "A"
    assert glyph_name_to_unicode("fi") == "ﬁ"
    assert glyph_name_to_unicode("g123") is None


def test_looks_like_pdf():
    assert looks_like_pdf(b"%PDF-1.7\n...")
    assert not looks_like_pdf(b"<html></html>")


# --------------------------------------------------- corpus: object layer

@needs_corpus
def test_all_corpus_pdfs_parse_with_correct_page_counts():
    expected = {
        "2305.03393v1-pg9.pdf": 1, "amt_handbook_sample.pdf": 1,
        "code_and_formula.pdf": 2, "multi_page.pdf": 5,
        "normal_4pages.pdf": 4, "picture_classification.pdf": 2,
        "redp5110_sampled.pdf": 18, "right_to_left_01.pdf": 1,
        "right_to_left_02.pdf": 1, "right_to_left_03.pdf": 1,
        "skipped_1page.pdf": 3, "skipped_2pages.pdf": 4,
        "table_mislabeled_as_picture.pdf": 1,
    }
    for fname, n_pages in expected.items():
        doc = PdfDocument((SRC / fname).read_bytes())
        assert len(doc.pages()) == n_pages, fname


@needs_corpus
def test_page_range_pushdown():
    data = (SRC / "multi_page.pdf").read_bytes()
    pages = extract_page_cells(data, page_range=(2, 3))
    assert [p[0] for p in pages] == [2, 3]


# ------------------------------------------------- corpus: text extraction

@needs_corpus
def test_arxiv_pg9_first_lines():
    pages = extract_page_cells((SRC / "2305.03393v1-pg9.pdf").read_bytes())
    cells = pages[0][3]
    texts = [c.text for c in cells]
    assert ("Optimized Table Tokenization for Table Structure Recognition"
            in texts)
    assert any(t.startswith("order to compute the TED score.")
               for t in texts)
    # column positions: body text starts at the LaTeX margin
    body = [c for c in cells if c.text.startswith("order to compute")][0]
    assert abs(body.l - 134.8) < 1.0
    assert abs(body.font_size - 10.0) < 0.2


@needs_corpus
def test_rtl_visual_to_logical():
    pages = extract_page_cells((SRC / "right_to_left_01.pdf").read_bytes())
    first = pages[0][3][0].text
    # embedded latin words restored to logical order inside the RTL line
    assert "Python" in first
    assert "nohtyP" not in first
    # arabic present
    assert any("؀" <= ch <= "ۿ" for ch in first)


@needs_corpus
def test_cell_counts_within_tolerance_of_reference():
    import json
    for stem in ("2305.03393v1-pg9", "code_and_formula", "normal_4pages"):
        meta = json.load(open(GT / f"{stem}.pages.meta.json"))
        ref = [m["num_cells"] for m in meta]
        pages = extract_page_cells((SRC / f"{stem}.pdf").read_bytes())
        ours = [len(p[3]) for p in pages]
        assert len(ours) == len(ref)
        for o, r in zip(ours, ref):
            if r == 0:
                assert o == 0
            else:
                # different line-merge granularity; same order of magnitude
                assert 0.5 * r <= o <= 2.0 * r, (stem, ours, ref)


# ------------------------------------------------ corpus: markdown identity

@needs_corpus
@pytest.mark.parametrize("stem", ["code_and_formula", "multi_page",
                                  "picture_classification"])
def test_markdown_byte_identical(stem):
    doc = convert_pdf((SRC / f"{stem}.pdf").read_bytes(), name=stem)
    expected = (GT / f"{stem}.md").read_text(encoding="utf-8")
    assert to_markdown(doc) == expected


@needs_corpus
def test_all_corpus_pdfs_convert_without_error():
    for p in sorted(SRC.glob("*.pdf")):
        doc = convert_pdf(p.read_bytes(), name=p.stem)
        assert doc.pages, p.name
        # every text item carries provenance with a bottom-left bbox
        for t in doc.texts:
            assert t.prov and t.prov[0]["bbox"]["coord_origin"] == \
                "BOTTOMLEFT", p.name


@needs_corpus
def test_bookmark_outline():
    doc = PdfDocument(
        (SRC.parent / "bookmark_sample.pdf").read_bytes())
    outline = doc.outline()
    assert outline, "bookmark_sample must expose an outline"
    assert all(isinstance(lv, int) and isinstance(t, str)
               for lv, t in outline)


# ------------------------------------------------------- engine dispatch

@needs_corpus
def test_engine_dispatch_pdf():
    import pyarrow as pa

    from docling_spark.engine import _extract_batches
    raw = (SRC / "code_and_formula.pdf").read_bytes()
    df = pa.RecordBatch.from_pydict({
        "url": ["https://x.test/a/code_and_formula.pdf"],
        "html": [raw]})
    out = next(_extract_batches([df])).to_pandas()
    assert out["status"][0] == "success"
    assert out["n_texts"][0] > 10
    expected = (GT / "code_and_formula.md").read_text(encoding="utf-8")
    assert out["md"][0] == expected


@needs_reference("ebcdic/sources")
def test_engine_dispatch_ebcdic_layout_mapping():
    import pyarrow as pa

    from docling_spark.engine import _extract_batches
    ebc_src = pathlib.Path("/root/reference/tests/data/ebcdic/sources")
    ebc = next(iter(sorted(ebc_src.glob("*.ebc"))))
    layout = (ebc_src / (ebc.name.replace(".ebc", ".layout.json"))
              ).read_text()
    df = pa.RecordBatch.from_pydict({
        "url": [f"https://x.test/{ebc.name}"],
        "html": [ebc.read_bytes()]})
    out = next(_extract_batches(
        [df], side_inputs={"ebcdic": {ebc.stem: layout}})).to_pandas()
    assert out["status"][0] == "success", out["error"][0]
    assert out["n_tables"][0] >= 1
    # without a layout the row fails with an envelope, not a crash
    out2 = next(_extract_batches(
        [df], side_inputs={"ebcdic": {}})).to_pandas()
    assert out2["status"][0] == "failure"


def test_engine_dispatch_deepseek_sniff():
    import pyarrow as pa

    from docling_spark.engine import _extract_batches
    raw = ("<|ref|>title<|/ref|><|det|>[[10,10,500,40]]<|/det|>\n"
           "# Hello\n").encode()
    df = pa.RecordBatch.from_pydict({"url": ["https://x.test/page.md"],
                                     "html": [raw]})
    out = next(_extract_batches([df])).to_pandas()
    assert out["status"][0] == "success", out["error"][0]


@needs_corpus
def test_geometric_table_reconstruction():
    """Deterministic TableFormer stand-in: the pg9 HPO table must come
    out as ONE structured table with the correct column count and
    values (north-star scope: table-structure recovery)."""
    doc = convert_pdf((SRC / "2305.03393v1-pg9.pdf").read_bytes(),
                      name="pg9")
    assert len(doc.tables) == 1
    data = doc.tables[0].data
    assert data.num_cols == 8
    # 2 header decks + 4 merged body rows (TableFormer row semantics:
    # the groundtruth table has rowspan-merged multi-line body cells)
    assert data.num_rows == 6
    texts = {c.text for c in data.table_cells}
    for v in ("TEDs", "simple", "Language", "# enc-layers",
              "OTSL HTML", "0.965 0.969", "2.73 5.39", "1.22 2"):
        assert v in texts, v
    # prose pages must NOT sprout tables
    doc2 = convert_pdf((SRC / "multi_page.pdf").read_bytes(), name="mp")
    assert len(doc2.tables) == 0


# ------------------------------------------- synthetic regression PDFs
# (round-4 ADVICE: std-14 width fallback crash; hybrid-reference xref)

def _pdf_bare_helvetica() -> bytes:
    """Minimal PDF using /Helvetica with NO /Widths array (very common in
    hand-written PDFs; previously crashed load_font via a __slots__
    method rebind)."""
    content = b"BT /F1 12 Tf 72 720 Td (Hello World) Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>"),
        4: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        5: (b"<< /Length %d >>\nstream\n" % len(content)) + content
           + b"\nendstream",
    }
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_off = len(out)
    out += b"xref\n0 6\n0000000000 65535 f \n"
    for num in sorted(objs):
        out += b"%010d 00000 n \n" % offsets[num]
    out += (b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % xref_off)
    return bytes(out)


def _pdf_hybrid_xref() -> bytes:
    """Hybrid-reference PDF (PDF32000 7.5.8.4): rev-1 shows "Old"; the
    rev-2 incremental update replaces the PAGE DICT via an object stream
    indexed ONLY by the xref stream at /XRefStm, pointing /Contents at a
    new "Hybrid" stream. The rev-2 classic table is an empty update and
    its trailer carries BOTH /Prev and /XRefStm — a reader that follows
    only /Prev renders "Old"; correct hybrid handling renders "Hybrid"."""
    old = b"BT /F1 12 Tf 72 720 Td (Old) Tj ET"
    new = b"BT /F1 12 Tf 72 720 Td (Hybrid) Tj ET"
    out = bytearray(b"%PDF-1.5\n")
    offsets = {}

    def emit(num, body):
        offsets[num] = len(out)
        out.extend(b"%d 0 obj\n" % num + body + b"\nendobj\n")

    emit(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    emit(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    emit(3, (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
             b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>"))
    emit(4, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/FirstChar 32 /LastChar 122 /Widths [%s] >>"
            % b" ".join(b"500" for _ in range(32, 123)))
    emit(5, b"<< /Length %d >>\nstream\n%s\nendstream" % (len(old), old))
    xref1 = len(out)
    out += b"xref\n0 6\n0000000000 65535 f \n"
    for num in (1, 2, 3, 4, 5):
        out += b"%010d 00000 n \n" % offsets[num]
    out += (b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % xref1)

    emit(8, b"<< /Length %d >>\nstream\n%s\nendstream" % (len(new), new))
    page2 = (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
             b"/Resources << /Font << /F1 4 0 R >> >> /Contents 8 0 R >>")
    header = b"3 0"
    payload = header + b" " + page2
    emit(6, b"<< /Type /ObjStm /N 1 /First %d /Length %d >>\nstream\n%s"
            b"\nendstream" % (len(header) + 1, len(payload), payload))
    xrefstm_off = len(out)
    rows = bytearray()
    rows += bytes([2]) + (6).to_bytes(3, "big") + bytes([0])
    for num in (6, 7, 8):
        off = offsets.get(num, xrefstm_off)
        rows += bytes([1]) + off.to_bytes(3, "big") + bytes([0])
    emit(7, b"<< /Type /XRef /Size 9 /Index [3 1 6 3] /W [1 3 1] "
            b"/Root 1 0 R /Length %d >>\nstream\n%s\nendstream"
            % (len(rows), bytes(rows)))
    xref2 = len(out)
    out += b"xref\n0 1\n0000000000 65535 f \n"
    out += (b"trailer\n<< /Size 9 /Root 1 0 R /Prev %d /XRefStm %d >>\n"
            b"startxref\n%d\n%%%%EOF\n" % (xref1, xrefstm_off, xref2))
    return bytes(out)


def test_std14_font_without_widths():
    data = _pdf_bare_helvetica()
    doc = convert_pdf(data, name="bare")
    assert to_markdown(doc) == "Hello World"
    # the fallback must supply real Helvetica metrics, not default_width
    from docling_spark.pdftext import Font, _std14_width
    f = Font()
    f.width_fallback = _std14_width("Helvetica")
    assert f.width(ord("W")) == 944.0
    assert f.width(ord(" ")) == 278.0


def test_hybrid_xref_follows_xrefstm_and_prev():
    data = _pdf_hybrid_xref()
    pdf = PdfDocument(data)
    # object 3 must come from the objstm referenced only by /XRefStm
    assert pdf.xref[3][0] == "objstm"
    # objects from the /Prev classic chain must still resolve
    assert pdf.xref[1][0] == "off"
    doc = convert_pdf(data, name="hybrid")
    assert to_markdown(doc) == "Hybrid"


@needs_goldens
class TestPdfGroundtruthMd:
    """Byte-identity vs the reference's own PDF markdown groundtruth
    (reference: tests/data/pdf/groundtruth/*.md, StandardPdfPipeline
    with do_ocr=False)."""

    GT = pathlib.Path("/root/reference/tests/data/pdf/groundtruth")
    SRC = pathlib.Path("/root/reference/tests/data/pdf/sources")

    @pytest.mark.parametrize("stem", [
        "code_and_formula", "multi_page", "picture_classification",
        "right_to_left_01", "2305.03393v1-pg9",
    ])
    def test_md_byte_identical(self, stem):
        from docling_spark.pdfdoc import convert_pdf
        from docling_spark.serialize import to_markdown
        raw = (self.SRC / f"{stem}.pdf").read_bytes()
        doc = convert_pdf(raw, name=stem, filename=f"{stem}.pdf")
        assert to_markdown(doc) == (self.GT / f"{stem}.md").read_text()


@needs_goldens
class TestPdfDoctags:
    """DocTags export vs reference groundtruth.

    Round-5: textline cell rects now use the reference's actual
    formula, discovered by regression against every groundtruth
    fixture to 0.01 pt: top = baseline + CapHeight/1000*size, bottom =
    baseline + Descent/1000*(CapHeight/Ascent)*size (declared-metric
    box rescaled so ascent == cap height - NOT glyph ink), horizontal
    extents trimmed of in-string whitespace with whitespace-only show
    strings kept as their own cells.  That makes code_and_formula
    byte-identical (pinned below) and drives the rest to a per-file
    exact-loc ratchet.  The residuals are not closable
    deterministically: table and picture provs are the ML layout /
    TableFormer models' predicted regions (2305 table box overshoots
    the cell union by ~4 pt on every side; picture boxes differ from
    the drawn bitmap rect by 1-4 pt with no derivable rule), and
    multi_page's remaining text-item rights differ by sub-pt amounts
    that match no combination of advance/ink/space statistics of the
    glyph stream (custom-encoded font, deltas -0.3..+1.0 pt)."""

    GT = pathlib.Path("/root/reference/tests/data/pdf/groundtruth")
    SRC = pathlib.Path("/root/reference/tests/data/pdf/sources")

    BYTE_IDENTICAL = ["code_and_formula"]

    # (min exact locs, max per-loc deviation) per md-identical fixture
    # round 7: the cell's horizontal extents are now the plain advance
    # union over ALL glyphs including whitespace-only shows - the
    # strictly-dominant combination of a measured grid over {flag-2
    # ws excluded/included} x {outline-ink edge/advance edge} against
    # all 11 groundtruth doctags (678 -> 652 diff lines, multi_page
    # 182 -> 190 exact / worst 4 -> 3, nothing regressed). The
    # remaining deltas are right edges docling-parse derives from
    # FreeType state we cannot observe (hinted-advance quantization:
    # N/64 pt values matching neither the glyf control box, exact
    # curve extrema, the raw advance, hmtx metrics, nor grid-fit
    # ceilings - erratic per line, sub-point in magnitude)
    # round 7b: table bboxes now grow to the PAINTED RULE LINES that
    # frame them (pdfdoc._expand_tables_by_rules over the new
    # vector-path extraction incl. stroke width) - 2305's table rect
    # went from 0/4 to 3/4 exact edges (36 -> 39 exact locs, worst
    # 4 -> 1); the residual left edge sits ~0.2 pt outside every
    # computable geometry (model-region territory)
    RATCHET = {
        "multi_page": (190, 3),
        "picture_classification": (39, 3),
        "right_to_left_01": (7, 2),
        "2305.03393v1-pg9": (39, 1),
    }

    # every remaining groundtruth doctags file carries a diff-count pin
    # so regressions on the not-yet-identical fixtures stay visible:
    # (max full diff lines, max structure-stripped diff lines)
    DIFF_CEILING = {
        "amt_handbook_sample": (14, 8),
        "normal_4pages": (177, 147),
        "redp5110_sampled": (282, 254),
        "right_to_left_02": (13, 13),
        "right_to_left_03": (49, 45),
        "table_mislabeled_as_picture": (77, 77),
    }

    @pytest.mark.parametrize("stem", BYTE_IDENTICAL)
    def test_doctags_byte_identical(self, stem):
        from docling_spark.pdfdoc import convert_pdf
        from docling_spark.serialize import to_doctags
        raw = (self.SRC / f"{stem}.pdf").read_bytes()
        dt = to_doctags(convert_pdf(raw, name=stem))
        assert dt == (self.GT / f"{stem}.doctags.txt").read_text()

    @pytest.mark.parametrize("stem", sorted(RATCHET))
    def test_doctags_structure_identical_locs_ratcheted(self, stem):
        import re
        from docling_spark.pdfdoc import convert_pdf
        from docling_spark.serialize import to_doctags
        raw = (self.SRC / f"{stem}.pdf").read_bytes()
        dt = to_doctags(convert_pdf(raw, name=stem))
        gt = (self.GT / f"{stem}.doctags.txt").read_text()
        strip = lambda s: re.sub(r"<loc_\d+>", "", s)  # noqa: E731
        assert strip(dt) == strip(gt)
        gl = [int(v) for v in re.findall(r"<loc_(\d+)>", gt)]
        ol = [int(v) for v in re.findall(r"<loc_(\d+)>", dt)]
        assert len(gl) == len(ol)
        min_exact, max_dev = self.RATCHET[stem]
        exact = sum(1 for a, b in zip(gl, ol) if a == b)
        worst = max(abs(a - b) for a, b in zip(gl, ol))
        assert exact >= min_exact, (exact, min_exact)
        assert worst <= max_dev, (worst, max_dev)

    @pytest.mark.parametrize("stem", sorted(DIFF_CEILING))
    def test_doctags_diff_ratcheted(self, stem):
        import difflib
        import re
        from docling_spark.pdfdoc import convert_pdf
        from docling_spark.serialize import to_doctags
        raw = (self.SRC / f"{stem}.pdf").read_bytes()
        dt = to_doctags(convert_pdf(raw, name=stem))
        gt = (self.GT / f"{stem}.doctags.txt").read_text()
        max_full, max_stripped = self.DIFF_CEILING[stem]

        def lines(a, b):
            return sum(1 for ln in difflib.unified_diff(
                a.splitlines(), b.splitlines()) if ln[:1] in "+-")

        strip = lambda s: re.sub(r"<loc_\d+>", "", s)  # noqa: E731
        full = lines(gt, dt)
        stripped = lines(strip(gt), strip(dt))
        assert full <= max_full, (full, max_full)
        assert stripped <= max_stripped, (stripped, max_stripped)


@needs_goldens
def test_pdf_md_diff_ratchet():
    """Regression ratchet: groundtruth md diff-line counts must not grow
    (byte-identical fixtures are pinned exactly in
    TestPdfGroundtruthMd; the rest bound the remaining ML-entangled
    divergence documented in SURVEY/BASELINE).

    Round-5 residual evidence (why these counts cannot reach 0
    deterministically):

    amt_handbook_sample (8): the groundtruth's single-vs-double word
    spacing does not correlate with ANY observable of the PDF.  Two
    lines drawn with the identical operator shape (single literal
    ``(..)Tj``), identical font (WACECQ+Times-Roman, 10 pt, space
    width 0.25 em), identical Tw=0.125 and near-identical Tc
    (+0.001 vs -0.003, i.e. word gaps of 1.26 pt vs 1.22 pt) get
    OPPOSITE treatment in the groundtruth: "by hand as its locking
    action..." is single-spaced while "stainless  steel
    self-locking  nuts,..." is double-spaced - with the LARGER gap on
    the single-spaced line.  Likewise "from  1 / 4" doubles at a
    space-to-superscript gap of -0.03 pt while "to 1 / 6" on the
    same line stays single at -0.04 pt.  The doubling decision is
    internal state of the reference's docling-parse v4 C++ sanitizer
    (not shipped here), unreachable from glyph geometry.

    right_to_left_02 (16): requires three ML-model outputs baked into
    the groundtruth: the layout model labels the bottom-margin page
    number "11" (BOTTOMLEFT bbox t=37.8) as body `text` AND the
    reading-order model emits it FIRST; the decorative
    tatweel-stretched block is labeled `formula` (exported as
    formula-not-decoded); and the page's drawn bitmap produces no
    picture item.  All three contradict the deterministic rules the
    other ten fixtures need."""
    import difflib
    from docling_spark.pdfdoc import convert_pdf
    from docling_spark.serialize import to_markdown
    SRC = pathlib.Path("/root/reference/tests/data/pdf/sources")
    GT = pathlib.Path("/root/reference/tests/data/pdf/groundtruth")
    ceilings = {
        "amt_handbook_sample": 8,
        "normal_4pages": 160,
        "redp5110_sampled": 430,
        "right_to_left_02": 12,
        "right_to_left_03": 80,
        "table_mislabeled_as_picture": 128,
    }
    for stem, ceiling in ceilings.items():
        raw = (SRC / f"{stem}.pdf").read_bytes()
        md = to_markdown(convert_pdf(raw, name=stem))
        gt = (GT / f"{stem}.md").read_text()
        n = sum(1 for ln in difflib.unified_diff(
            gt.splitlines(), md.splitlines()) if ln[:1] in "+-")
        assert n <= ceiling, (stem, n, ceiling)


@needs_goldens
class TestGroundtruthSpacingArtifact:
    """Formal scope-out for amt_handbook_sample's 8 residual md diff
    lines (all single-vs-double word-spacing): the groundtruth's own
    decisions are PROVABLY inconsistent with every rule of the form
    "emit a second space iff the residual gap after a space glyph
    exceeds a threshold" - for ANY threshold, including thresholds
    computed per line from the show operator's parameters.  Each test
    below measures the actual glyph geometry from the PDF bytes, the
    actual operator encoding from the decoded content stream, and the
    actual spacing choice from the groundtruth md, and asserts the
    contradiction.  The doubling decision therefore lives in internal
    state of the reference's docling-parse v4 C++ tokenizer (not
    shipped in /root/reference), unreachable from the page content.

    (The only varying quantity across the counterexample pairs is the
    residual itself; operator type, font, size, Tw, scale - and for
    the within-TJ pair literally every byte of context - are equal.)
    """

    SRC = pathlib.Path(
        "/root/reference/tests/data/pdf/sources/amt_handbook_sample.pdf")
    GTMD = pathlib.Path(
        "/root/reference/tests/data/pdf/groundtruth/amt_handbook_sample.md")

    @pytest.fixture(scope="class")
    def page0(self):
        from docling_spark.pdfio import PdfDocument, decode_stream
        from docling_spark.pdftext import PdfTextExtractor
        raw = self.SRC.read_bytes()
        doc = PdfDocument(raw)
        page = list(doc.pages())[0]
        glyphs = PdfTextExtractor(doc).page_glyphs(page)
        r = doc.resolve
        cont = r(page.get("Contents"))
        stream = (decode_stream(cont, r) if not isinstance(cont, list)
                  else b"".join(decode_stream(r(c), r) for c in cont))
        return glyphs, stream, self.GTMD.read_text()

    @staticmethod
    def _residuals_after_spaces(glyphs, anchor, span):
        """Measured gap between each space glyph's right edge and the
        next glyph, inside the text region [anchor, anchor+span)."""
        txt = "".join(g[4] for g in glyphs)
        i = txt.find(anchor)
        assert i >= 0, anchor
        off, gi0, gi1 = 0, None, None
        for gi, g in enumerate(glyphs):
            if off >= i and gi0 is None:
                gi0 = gi
            off += len(g[4])
            if off > i + span:
                gi1 = gi
                break
        run = glyphs[gi0:gi1]
        return [round(g[0] - (p[0] + p[2]), 4)
                for p, g in zip(run, run[1:])
                if p[4] == " " and g[4] != " "]

    def test_no_threshold_separates_the_two_tj_lines(self, page0):
        """Counterexample 1 (within plain-Tj lines): the groundtruth
        double-spaces the line whose word gaps are 1.22 pt and
        single-spaces the line whose word gaps are 1.26 pt.  Any
        threshold t must satisfy t <= 1.22 (to double the first) AND
        t > 1.26 (to single the second): impossible."""
        glyphs, stream, gt = page0
        # both lines are single literal-string Tj shows at Tw=0.125,
        # same font/size (byte-level mechanism evidence):
        assert (b"0.125 Tw T*\n(stainless steel self-locking nuts, "
                b"representing the all-metal )Tj") in stream
        assert (b"0.125 Tw 0 -1.25 TD\n(by hand as its locking action "
                b"takes places only when the )Tj") in stream
        doubled = self._residuals_after_spaces(
            glyphs, "stainless steel self-locking nuts, repre", 50)
        singled = self._residuals_after_spaces(
            glyphs, "by hand as its locking", 22)
        assert doubled and singled
        # groundtruth's actual choices:
        assert "stainless  steel  self-locking  nuts," in gt
        assert "by hand as its locking action" in gt
        # non-monotonicity: every doubled gap < every singled gap
        assert max(doubled) < min(singled), (doubled, singled)

    def test_equal_gaps_in_one_tj_get_opposite_treatment(self, page0):
        """Counterexample 2 (within ONE TJ operator): on the line
        '(T)0.6 (he)0.6 ( e)0.6 ...' every word gap measures an
        identical 1.56 pt (Tc=0.031 + Tw=0.125 at scale 10.08), yet
        the groundtruth single-spaces the first word gap and
        double-spaces the rest.  Identical inputs, different outputs:
        no function of the glyph geometry or local operator context
        can produce this."""
        glyphs, stream, gt = page0
        assert (b"0.031 Tc 0.125 Tw 0 -1.45 TD\n"
                b"[(T)0.6 (he)0.6 ( e)0.6 (l)") in stream
        res = self._residuals_after_spaces(
            glyphs, "The elastic stop nut is a", 26)
        assert len(res) >= 4
        # the gap the groundtruth singles equals the gaps it doubles
        assert max(res) - min(res) < 0.01, res
        assert "The elastic  stop  nut  is  a" in gt

    def test_rtl02_residuals_require_ml_outputs(self):
        """Per-file record evidence that right_to_left_02's remaining
        md diff needs three ML-model outputs baked into the
        groundtruth, none derivable from the page content:

        1. the bottom-margin page number "11" (its cell sits in the
           bottom 4% of the page - a page-footer zone under every
           deterministic rule, and rtl_01/rtl_03 groundtruths contain
           no analogous promoted margin text) is emitted FIRST as body
           text by the reference's reading-order model;
        2. the tatweel-stretched decorative table header block (eight
           ordinary-text cells, no math glyphs) is labeled `formula`
           (exported as formula-not-decoded) by the layout model;
        3. the page carries a real 148x446 pt image XObject, yet the
           groundtruth contains no picture item - the layout model
           did not predict one."""
        from docling_spark.pdftext import extract_page_cells
        src = pathlib.Path(
            "/root/reference/tests/data/pdf/sources/right_to_left_02.pdf")
        gt = pathlib.Path(
            "/root/reference/tests/data/pdf/groundtruth/"
            "right_to_left_02.md").read_text()
        (_, _w, h, cells, images), = extract_page_cells(
            src.read_bytes(), with_images=True)
        # 1. "11" is geometrically a footer, yet groundtruth-first
        footer = [c for c in cells if c.text == "11"]
        assert footer and footer[0].t / h > 0.95
        assert gt.startswith("11\n")
        # 2. the decorative block is plain Arabic text + tatweel
        #    (U+0640) stretching, not math - yet GT says formula
        deco = [c for c in cells if "ــ" in c.text]
        assert len(deco) >= 6
        assert "<!-- formula-not-decoded -->" in gt
        # 3. a real image XObject on the page, no GT picture item
        assert images
        assert "<!-- image -->" not in gt

    def test_rtl03_checkbox_segmentation_is_ml_state(self):
        """Per-file record evidence for right_to_left_03: the
        groundtruth renders two structurally identical checkbox-pair
        form rows (same drawn grid, same two options "بلی/خير", same
        Wingdings check glyphs) in OPPOSITE segmentations - one field
        as two separate checkbox list items, the adjacent field as a
        single merged item carrying both options.  The segmentation is
        the reference layout model's per-cluster prediction, not a
        function of the page geometry."""
        gt = pathlib.Path(
            "/root/reference/tests/data/pdf/groundtruth/"
            "right_to_left_03.md").read_text()
        # field 1: options split into two checkbox items
        assert "- [ ] بلی\n\n- [x] خير" in gt
        # field 2 (same form, same option pair): one merged item
        assert "- [x] بلی        خير" in gt

    def test_table_mislabeled_option_rows_are_ml_state(self):
        """Per-file record evidence for table_mislabeled_as_picture:
        the survey page repeats the same checkbox-option row shape
        ("Yes, at the national (federal) level" etc.) under every
        question, yet the groundtruth renders the four identical rows
        of question 25 in FOUR different ways - an enumerated item
        numbered "2." (continuing no visible sequence), a bare
        unmarked paragraph, a bulleted item, and a stranded bare "No"
        paragraph - while question 24's identical rows are uniform
        bullets.  The rendering derives from the reference layout
        model's orphan-cluster absorption over PREDICTED clusters
        (utils/layout_postprocessor.py), not from the page content."""
        gt = pathlib.Path(
            "/root/reference/tests/data/pdf/groundtruth/"
            "table_mislabeled_as_picture.md").read_text()
        # q24: three uniform bullets, then the fourth option's checkbox
        # glyph (\x84) stranded as its own paragraph + bare "No"
        assert ("?\n- \x84 Yes, at the national (federal) level\n"
                "- \x84 Yes, at regional (district) level\n"
                "- \x84 Yes, at the local (municipal) level\n"
                "\n\x84\n\nNo\n\n25. If your country") in gt
        # q25, identical four rows: enumerated item numbered "2.",
        # stranded checkbox + bare paragraph, bulleted item, stranded
        # checkbox + bare "No" - four renderings for one row shape
        q25 = gt.split("25. If your country")[1]
        assert ("?\n2. \x84 Yes, at the national (federal) level\n"
                "\n\x84\n\nYes, at regional (district) level\n\n"
                "- \x84 Yes, at the local (municipal) level\n"
                "\n\x84\n\nNo\n\n26. If your country") in q25

    def test_table_mislabeled_enumeration_is_ml_state(self):
        """Per-hunk evidence for the REMAINING table_mislabeled md
        hunks (q26/q27): the same checkbox-option row shape that q24
        renders as uniform BULLETS is rendered by the groundtruth as
        members of one merged ORDERED list spanning two questions -
        q26's options numbered 2.-6. (the question itself is implicit
        item 1), then q27's options numbered 8.-14., i.e. the question
        paragraph "27." absorbed ordinal slot 7 of the SAME list - and
        the eighth option of q27 ("They can conduct mediation") is
        ejected as a stranded checkbox + bare paragraph while its
        seven siblings stay enumerated. Whether a group of identical
        rows becomes bullets, one merged cross-question enumeration,
        or an orphan paragraph is decided by the layout model's
        predicted clusters and confidences
        (utils/layout_postprocessor.py:505-560 operates on
        model-cluster geometry + confidence), not by any observable of
        the page content."""
        gt = pathlib.Path(
            "/root/reference/tests/data/pdf/groundtruth/"
            "table_mislabeled_as_picture.md").read_text()
        # q26 options: enumerated 2..6 directly after the question line
        assert ("services? (Please select all that apply)\n"
                "2. \x84 Yes, there are specific guidelines for "
                "non-lawyers providing legal aid services\n"
                "3. \x84 Yes, there are specific guidelines on "
                "faculty/student ratios\n"
                "4. \x84 No, it is up to the discretion of each "
                "university\n"
                "5. \x84 Don't know\n"
                "6. \x84 There are no university-based student law "
                "clinics\n27. If your country") in gt
        # q27 options: numbering CONTINUES at 8 (the question consumed
        # slot 7 of the same merged list)
        q27 = gt.split("27. If your country")[1]
        assert q27.startswith(
            " allows legal aid services through university-based "
            "student law clinics, what type of legal aid services is "
            "a student authorized to undertake? (Please select all "
            "that apply)\n8. \x84 There is no limitation")
        assert "\n14. \x84 They can provide a full range" in q27
        # the eighth, geometrically identical option row is ejected as
        # a stranded checkbox glyph + bare paragraph
        assert ("regardless of gravity\n\n\x84\n\n"
                "They can conduct mediation") in q27
        # while q24's identical option rows are uniform bullets (pinned
        # in test_table_mislabeled_option_rows_are_ml_state): the same
        # row shape gets three renderings across one page

    def test_cross_show_sites_are_non_monotone(self, page0):
        """Counterexample 3 (trailing space -> Tm-positioned fraction
        digit, four structurally identical sites): the groundtruth
        doubles at residuals +0.017 and -0.035 but singles at -0.041
        and +0.171.  A threshold rule needs every singled residual
        below every doubled one; here the singled +0.171 (D) sits far
        ABOVE both doubled sites, and the doubled -0.035 (B) is only
        0.006 pt from the singled -0.041 (C)."""
        glyphs, stream, gt = page0
        a = self._residuals_after_spaces(glyphs, "6 up to 1", 12)[-1]
        b = self._residuals_after_spaces(glyphs, "s from 1", 10)[-1]
        c = self._residuals_after_spaces(glyphs, "inch to 1", 12)[-1]
        d = self._residuals_after_spaces(glyphs, "8 up to 3", 12)[-1]
        assert "up to  1 / 4 inch, the " in gt     # A doubled
        assert "ranges from  1 / 4 inch" in gt     # B doubled
        assert "inch to 1 / 6 inch" in gt          # C singled
        assert "up to 3 / 8 inch" in gt            # D singled
        # a threshold rule needs max(singled) < min(doubled); the
        # groundtruth violates it by a 0.2 pt margin:
        assert max(c, d) > min(a, b) + 0.2, (a, b, c, d)
        # and the doubled/singled pair B/C are 0.006 pt apart:
        assert abs(b - c) < 0.01, (b, c)


def test_isolated_punctuation_splits_to_own_cell():
    """A lone '.' stranded past a column-sized gap becomes its own cell
    (amt_handbook: the reference layout model emits an orphan '.'
    cluster); punctuation that text follows closely stays glued."""
    from docling_spark.pdftext import glyphs_to_cells

    def g(x, ch, w=5.0, y=700.0, s=10.0):
        return (x, y, w, s, ch, False, False, False, 0.7, -0.2, False, 0)

    # "of" then a 10pt gap then "." with nothing after -> split
    stranded = [g(100, "o"), g(105, "f"), g(110, " ", w=2.5),
                g(122.5, ".", w=2.5)]
    cells = glyphs_to_cells(stranded, 792.0)
    assert [c.text for c in cells] == ["of", "."]
    # same geometry but text continues right after the "." -> glued
    glued = [g(100, "o"), g(105, "f"), g(110, " ", w=2.5),
             g(122.5, ".", w=2.5), g(125.5, "x")]
    cells = glyphs_to_cells(glued, 792.0)
    assert len(cells) == 1 and cells[0].text.endswith(". x") is False


def test_lone_punct_cell_is_orphan_block_unless_same_row():
    from docling_spark.pdfdoc import _merge_into_blocks
    from docling_spark.pdftext import TextCell

    # "." on the row BELOW a paragraph line -> its own block
    para = TextCell("alloy only.", 60, 100, 200, 110, 10.0, False, False)
    dot = TextCell(".", 62, 112, 66, 122, 10.0, False, False)
    blocks = _merge_into_blocks([para, dot], 10.0)
    assert len(blocks) == 2
    # "." continuing the SAME visual row (style-split) -> merges
    line = TextCell("Definition", 60, 100, 120, 110, 10.0, True, False)
    dot2 = TextCell(".", 123, 100, 127, 110, 10.0, False, False)
    blocks = _merge_into_blocks([line, dot2], 10.0)
    assert len(blocks) == 1


@needs_goldens
class TestMultiPageDoctagsMLEvidence:
    """Formal scope-out for multi_page's 30 residual doctags x1 locs:
    the groundtruth right edges are PROVABLY not a function of the
    glyph geometry alone - they depend on the reference's ML layout
    model's predicted cluster regions (which decide whether a trailing
    whitespace advance rect is absorbed into the item bbox).

    Three byte-level facts measured from the PDF content stream:

    1. The title line and the 'Pre-Digital Era' heading line both end
       in a pen-continuous whitespace-only show (|pen gap| < 0.01 pt,
       one space glyph, 0.25 em advance).  Identical structure - yet
       the groundtruth EXCLUDES the title's whitespace advance
       (x1 = 221 = last visible glyph's advance end) and INCLUDES the
       heading's (x1 = 274 = the whitespace advance end).  No rule on
       (pen gap, font, size, show structure) separates them.

    2. The 'Microsoft Word (1983)' bullet's widest line ends with an
       in-string trailing space ('ng '): last visible advance end
       523.09 pt -> loc 439, whitespace advance end 526.12 pt ->
       loc 442.  The groundtruth says 441 (524.37..525.56 pt) -
       strictly BETWEEN the only two computable candidates.  No
       include-or-exclude rule, per show or per line, can emit it.

    3. The same contradiction with the opposite signs exists on one
       page: 'WordStar (1978)' (gt 439 = EXCLUDE the in-string space)
       vs 'Other notable software' (gt 434 = INCLUDE the continuous
       whitespace show, gap -0.0024 pt, same font and size).

    Conclusion: the residual locs encode the ML layout cluster
    geometry (reference: docling/utils/layout_postprocessor.py cell
    assignment unions cells into PREDICTED regions), not a
    deterministic function of the page bytes.  The per-file ratchet in
    TestPdfDoctags bounds the residual instead."""

    SRC = pathlib.Path("/root/reference/tests/data/pdf/sources")
    GT = pathlib.Path("/root/reference/tests/data/pdf/groundtruth")
    W = 595.2  # multi_page MediaBox width, pt

    @pytest.fixture(scope="class")
    def shows(self):
        """All show ops of multi_page with pen-continuity measured."""
        from docling_spark import pdftext as pt

        rows = []
        page_no = [0]
        orig_pg = pt.PdfTextExtractor.page_glyphs_and_images
        orig_pgp = pt.PdfTextExtractor.page_glyphs_images_paths
        orig_show = pt.PdfTextExtractor._show

        def pg(self, page):
            page_no[0] += 1
            return orig_pg(self, page)

        def pgp(self, page):
            page_no[0] += 1
            return orig_pgp(self, page)

        def show(self, raw, font, tfs, tc, tw, th, ts, tm, ctm,
                 tmode, glyphs):
            n0 = len(glyphs)
            pen0 = self._pen
            out = orig_show(self, raw, font, tfs, tc, tw, th, ts, tm,
                            ctm, tmode, glyphs)
            new = glyphs[n0:]
            if new:
                g0 = new[0]
                gap = (None if pen0 is None
                       else abs(g0[0] - pen0[0]) + abs(g0[1] - pen0[1]))
                rows.append({
                    "page": page_no[0], "y": g0[1], "x0": g0[0],
                    "xend": new[-1][0] + new[-1][2],
                    "txt": "".join(g[4] for g in new), "gap": gap,
                    "vis_end": max((g[0] + max(g[2], 0.0) for g in new
                                    if g[4].strip()), default=None),
                })
            return out

        pt.PdfTextExtractor.page_glyphs_and_images = pg
        pt.PdfTextExtractor.page_glyphs_images_paths = pgp
        pt.PdfTextExtractor._show = show
        try:
            from docling_spark.pdfdoc import convert_pdf
            convert_pdf((self.SRC / "multi_page.pdf").read_bytes(),
                        name="multi_page")
        finally:
            pt.PdfTextExtractor.page_glyphs_and_images = orig_pg
            pt.PdfTextExtractor.page_glyphs_images_paths = orig_pgp
            pt.PdfTextExtractor._show = orig_show
        return rows

    def _gt_x1(self, needle):
        import re
        gt = (self.GT / "multi_page.doctags.txt").read_text()
        m = re.search(r"((?:<loc_\d+>){4})" + re.escape(needle), gt)
        assert m, needle
        return int(re.findall(r"\d+", m.group(1))[2])

    def _loc(self, x_pt):
        return round(x_pt / self.W * 500.0)

    def _line(self, shows, page, y, prefix):
        sel = sorted((s for s in shows
                      if s["page"] == page and abs(s["y"] - y) < 0.5),
                     key=lambda s: s["x0"])
        assert sel and "".join(s["txt"] for s in sel).startswith(prefix)
        return sel

    def test_title_vs_heading_opposite_ws_treatment(self, shows):
        # title line (page 1, y 758.64): trailing pen-continuous
        # whitespace-only show - groundtruth EXCLUDES its advance
        title = self._line(shows, 1, 758.64, "The Evolution")
        tail = title[-1]
        assert not tail["txt"].strip() and tail["gap"] < 0.01
        vis = max(s["vis_end"] for s in title if s["vis_end"])
        assert self._gt_x1("The Evolution") == self._loc(vis)
        assert self._loc(tail["xend"]) == self._loc(vis) + 2  # not gt

        # heading line (page 1, y 687.84): IDENTICAL structure -
        # trailing pen-continuous whitespace-only show - groundtruth
        # INCLUDES its advance
        head = self._line(shows, 1, 687.84, "Pre-")
        htail = head[-1]
        assert not htail["txt"].strip() and htail["gap"] < 0.01
        hvis = max(s["vis_end"] for s in head if s["vis_end"])
        assert self._gt_x1("Pre-Digital Era") == self._loc(htail["xend"])
        assert self._loc(htail["xend"]) > self._loc(hvis)

    def test_msword_bullet_gt_between_candidates(self, shows):
        # 'Microsoft Word (1983)' bullet, widest line ends 'ng ' with
        # an in-string trailing space: gt x1 is strictly between the
        # exclude-space and include-space candidates
        line = self._line(shows, 1, 116.40, "• Microsoft Word")
        vis = max(s["vis_end"] for s in line if s["vis_end"])
        allend = max(s["xend"] for s in line)
        gt = self._gt_x1("Microsoft Word (1983)")
        assert self._loc(vis) < gt < self._loc(allend), (
            self._loc(vis), gt, self._loc(allend))

    def test_same_geometry_opposite_treatment_body(self, shows):
        # WordStar bullet: gt EXCLUDES the widest line's trailing
        # space ('rn ' in-string, advance end 525.55 -> loc 442 != gt)
        ws_line = self._line(shows, 1, 144.00, "the first widely")
        gt_ws = self._gt_x1("WordStar (1978)")
        assert gt_ws == self._loc(
            max(s["vis_end"] for s in ws_line if s["vis_end"]))
        assert gt_ws < self._loc(max(s["xend"] for s in ws_line))
        # Other-notable paragraph: gt INCLUDES the widest line's
        # trailing pen-continuous whitespace show (gap -0.0024 pt)
        on_line = self._line(shows, 2, 758.88, "Other notable")
        tail = on_line[-1]
        assert not tail["txt"].strip() and tail["gap"] < 0.01
        gt_on = self._gt_x1("Other notable")
        assert gt_on == self._loc(tail["xend"])
        assert gt_on > self._loc(
            max(s["vis_end"] for s in on_line if s["vis_end"]))


class TestEncryptedPdf:
    """Standard security handler (pdfcrypt): the reference's
    tests/test_pdf_password.py requires conversion of the AESV2
    fixture to SUCCEED with password "1234"."""

    FIXTURE = ("/root/reference/tests/data/pdf_password/sources/"
               "2206.01062_pg3.pdf")
    needs_fixture = needs_reference("pdf_password/sources/2206.01062_pg3.pdf")

    @needs_fixture
    def test_aesv2_fixture_converts(self):
        from docling_spark.pdfdoc import convert_pdf
        from docling_spark.serialize import to_markdown
        raw = open(self.FIXTURE, "rb").read()
        doc = convert_pdf(raw, name="pg3", password="1234")
        md = to_markdown(doc)
        assert "DocLayNet" in md
        assert len(doc.pages) == 1

    @needs_fixture
    def test_wrong_password_clean_error(self):
        import pytest

        from docling_spark.pdfio import PdfDocument
        raw = open(self.FIXTURE, "rb").read()
        with pytest.raises(ValueError, match="password"):
            PdfDocument(raw, password="nope")

    def test_aes_and_rc4_known_answers(self):
        from docling_spark.pdfcrypt import (_aes_decrypt_block,
                                            _aes_encrypt_block,
                                            _expand_key, rc4)
        pt = bytes.fromhex("00112233445566778899aabbccddeeff")
        k = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
        ct = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
        rk = _expand_key(k)
        assert _aes_encrypt_block(pt, rk) == ct
        assert _aes_decrypt_block(ct, rk) == pt
        k256 = bytes(range(32))
        rk256 = _expand_key(k256)
        assert _aes_decrypt_block(_aes_encrypt_block(pt, rk256),
                                  rk256) == pt
        assert rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"

    @needs_fixture
    def test_engine_password_mapping(self, spark):
        """The pdf side input rides the worker function to executors; an
        encrypted doc WITHOUT its password yields a failure envelope,
        never a task failure."""
        from docling_spark import engine
        raw = open(self.FIXTURE, "rb").read()
        rows = [("https://x/2206.01062_pg3.pdf", raw)]
        df = spark.createDataFrame(rows, "url string, html binary")
        ok = engine.extract_pages(
            df, repartition=False,
            side_inputs={"pdf": {"2206.01062_pg3": "1234"}}).collect()[0]
        assert ok["status"] == "success" and ok["n_pages"] == 1
        bad = engine.extract_pages(df, repartition=False).collect()[0]
        assert bad["status"] == "failure"
        assert "password" in (bad["error"] or "")


class TestAes256Pdf:
    """R5/R6 (AES-256) key derivation — round-5 ADVICE: Algorithm 2.B
    must pick SHA-256/384/512 by the first 16 bytes of E as a
    big-endian integer mod 3 (== byte-sum mod 3), and R5's
    intermediate key is plain SHA-256(pwd+key_salt), no 2.B loop.
    No R6 fixture ships with the reference, so these build synthetic
    encrypted PDFs with an in-test writer and round-trip them."""

    FILE_KEY = bytes(range(32))
    VALID_SALT = b"VALSALT!"
    KEY_SALT = b"KEYSALT!"
    PLAINTEXT = b"BT /F1 12 Tf 72 720 Td (Secret R6 text) Tj ET"
    STRING_PT = b"encrypted string value"

    @staticmethod
    def _cbc_enc(key, iv, data, pad=True):
        from docling_spark.pdfcrypt import _aes_encrypt_block, _expand_key
        if pad:
            p = 16 - len(data) % 16
            data = data + bytes([p]) * p
        rk = _expand_key(key)
        out, prev = bytearray(), iv
        for off in range(0, len(data), 16):
            blk = bytes(x ^ y for x, y in zip(data[off:off + 16], prev))
            prev = _aes_encrypt_block(blk, rk)
            out.extend(prev)
        return bytes(out)

    @classmethod
    def _enc_obj(cls, data, pad=True):
        """AESV3 per-object payload: random IV || CBC ciphertext.
        Deterministic IV for test reproducibility."""
        iv = b"\x11" * 16
        return iv + cls._cbc_enc(cls.FILE_KEY, iv, data, pad=pad)

    _build_cache: dict = {}

    @classmethod
    def _build(cls, r, pwd="1234", strf="StdCF", encrypt_metadata=True):
        key = (r, pwd, strf, encrypt_metadata)
        if key in cls._build_cache:
            return cls._build_cache[key]
        import hashlib

        from docling_spark.pdfcrypt import StandardSecurityHandler as S
        p = pwd.encode()
        if r == 5:
            uhash = hashlib.sha256(p + cls.VALID_SALT).digest()
            inter = hashlib.sha256(p + cls.KEY_SALT).digest()
        else:
            uhash = S._hash_r6(p, cls.VALID_SALT, b"")
            inter = S._hash_r6(p, cls.KEY_SALT, b"")
        u = uhash + cls.VALID_SALT + cls.KEY_SALT
        ue = cls._cbc_enc(inter, b"\x00" * 16, cls.FILE_KEY, pad=False)
        o = b"\x00" * 48  # owner entries unused by user-password open
        oe = b"\x00" * 32

        stream_ct = cls._enc_obj(cls.PLAINTEXT)
        if strf == "Identity":
            string_out = cls.STRING_PT       # stored in the clear
        else:
            string_out = cls._enc_obj(cls.STRING_PT)
        meta_xml = b"<?xpacket?><x:xmpmeta/>"
        meta_out = meta_xml if not encrypt_metadata \
            else cls._enc_obj(meta_xml)

        em = "" if encrypt_metadata else " /EncryptMetadata false"
        objs = {
            1: b"<< /Type /Catalog /Pages 2 0 R /Metadata 6 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
                b" /Contents 4 0 R /PieceInfo << /T <"
                + string_out.hex().encode() + b"> >> >>"),
            4: (b"<< /Length " + str(len(stream_ct)).encode()
                + b" >>\nstream\n" + stream_ct + b"\nendstream"),
            5: ("<< /Filter /Standard /V 5 /R {r} /Length 256"
                " /CF << /StdCF << /CFM /AESV3 /Length 32 >> >>"
                " /StmF /StdCF /StrF /{strf}{em} /P -4"
                " /U <{u}> /UE <{ue}> /O <{o}> /OE <{oe}> >>".format(
                    r=r, strf=strf, em=em, u=u.hex(), ue=ue.hex(),
                    o=o.hex(), oe=oe.hex()).encode()),
            6: (b"<< /Type /Metadata /Subtype /XML /Length "
                + str(len(meta_out)).encode() + b" >>\nstream\n"
                + meta_out + b"\nendstream"),
        }
        out = bytearray(b"%PDF-1.7\n")
        offsets = {}
        for num in sorted(objs):
            offsets[num] = len(out)
            out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
        xref_off = len(out)
        out += b"xref\n0 7\n0000000000 65535 f \n"
        for num in sorted(objs):
            out += b"%010d 00000 n \n" % offsets[num]
        out += (b"trailer\n<< /Size 7 /Root 1 0 R /Encrypt 5 0 R"
                b" /ID [<00112233445566778899aabbccddeeff>"
                b" <00112233445566778899aabbccddeeff>] >>\n"
                b"startxref\n%d\n%%%%EOF\n" % xref_off)
        cls._build_cache[key] = bytes(out)
        return cls._build_cache[key]

    def _open(self, raw, pwd="1234"):
        from docling_spark.pdfio import PdfDocument, Ref
        doc = PdfDocument(raw, password=pwd)
        page = doc.resolve(Ref(3, 0))
        contents = doc.resolve(page["Contents"])
        string = doc.resolve(page["PieceInfo"])["T"]
        meta = doc.resolve(Ref(6, 0))
        return contents.raw, string, meta.raw

    def test_r6_roundtrip(self):
        raw = self._build(6)
        stream, string, meta = self._open(raw)
        assert stream == self.PLAINTEXT
        assert string == self.STRING_PT
        assert meta == b"<?xpacket?><x:xmpmeta/>"

    def test_r5_roundtrip(self):
        # R5 intermediate key = plain SHA-256(pwd+key_salt) - the 2.B
        # loop here would derive a different key and reject "1234"
        stream, string, _ = self._open(self._build(5))
        assert stream == self.PLAINTEXT and string == self.STRING_PT

    def test_r6_wrong_password(self):
        import pytest
        with pytest.raises(ValueError, match="password"):
            self._open(self._build(6), pwd="nope")

    def test_strf_identity_leaves_strings_clear(self):
        _, string, _ = self._open(self._build(6, strf="Identity"))
        assert string == self.STRING_PT

    def test_encrypt_metadata_false_skips_metadata_stream(self):
        _, _, meta = self._open(self._build(6, encrypt_metadata=False))
        assert meta == b"<?xpacket?><x:xmpmeta/>"

    def test_hash_2b_matches_cleanroom_spec(self):
        """Pin Algorithm 2.B against an independently-written spec
        transcription (ISO 32000-2 7.6.4.3.4): K = SHA-256(pwd+salt);
        repeat { K1 = (pwd+K+udata)*64; E = AES-128-CBC(K[:16],
        iv=K[16:32], K1); K = {SHA-256,384,512}[E[:16] as BE int mod 3]
        (E) } until round >= 64 and E[-1] <= round-32."""
        import hashlib

        from docling_spark.pdfcrypt import (StandardSecurityHandler,
                                            _aes_encrypt_block,
                                            _expand_key)

        def spec_2b(pwd, salt, udata=b"", last_byte_rule=False):
            k = hashlib.sha256(pwd + salt + udata).digest()
            rnd = 0
            while True:
                rnd += 1
                k1 = (pwd + k + udata) * 64
                rk = _expand_key(k[:16])
                prev, e = k[16:32], bytearray()
                for off in range(0, len(k1), 16):
                    blk = bytes(a ^ b for a, b in
                                zip(k1[off:off + 16], prev))
                    prev = _aes_encrypt_block(blk, rk)
                    e += prev
                sel = (e[-1] if last_byte_rule
                       else int.from_bytes(bytes(e[:16]), "big")) % 3
                k = (hashlib.sha256, hashlib.sha384,
                     hashlib.sha512)[sel](bytes(e)).digest()
                if rnd >= 64 and e[-1] <= rnd - 32:
                    return k[:32]

        diverged = 0
        for pwd, salt in ((b"1234", b"VALSALT!"), (b"", b"\x00" * 8),
                          (b"aZ9!", bytes(range(8)))):
            got = StandardSecurityHandler._hash_r6(pwd, salt, b"")
            assert got == spec_2b(pwd, salt), (pwd, salt)
            # the round-4 bug selected the digest by E[-1] % 3; prove
            # the vector set distinguishes the two rules
            if got != spec_2b(pwd, salt, last_byte_rule=True):
                diverged += 1
        assert diverged > 0


@needs_corpus
class TestNormal4pagesMLEvidence:
    """Per-file record evidence that normal_4pages' remaining md diff
    (159 lines, bounded by the ratchet) is entangled with the
    reference's ML layout/reading-order state baked into the
    groundtruth, not with any page-derivable rule."""

    @pytest.fixture(scope="class")
    def doc(self):
        raw = (SRC / "normal_4pages.pdf").read_bytes()
        pages = extract_page_cells(raw, with_images=True)
        gt = (GT / "normal_4pages.md").read_text()
        return pages, gt

    def test_section_number_order_inverted(self, doc):
        """Both numbered section headings draw the number box LEFT of
        the title text on the same baseline ("1 들어가며",
        "2 코로나-19 관련 보험 현황"), yet the groundtruth emits the
        number AFTER the text in both headings - the reading-order
        model's within-cluster ordering over predicted boxes, not a
        geometric rule (left-to-right yields number first)."""
        pages, gt = doc
        _, _, _, cells0, _ = pages[0]
        num = next(c for c in cells0 if c.text.strip() == "1"
                   and 420 < c.t < 440)
        txt = next(c for c in cells0 if c.text.strip() == "들어가며")
        assert num.r < txt.l            # number strictly left
        assert abs(num.t - txt.t) < 2   # same baseline
        assert "## 들어가며 1" in gt        # yet text-then-number
        _, _, _, cells1, _ = pages[1]
        num2 = next(c for c in cells1 if c.text.strip() == "2"
                    and c.t < 120)
        txt2 = next(c for c in cells1
                    if c.text.strip() == "코로나-19 관련 보험 현황")
        assert num2.r < txt2.l and abs(num2.t - txt2.t) < 2
        assert "## 코로나-19 관련 보험 현황 2" in gt

    def test_docstart_image_above_geometrically_earlier_text(self, doc):
        """The groundtruth's FIRST item is a picture, but both page-1
        image XObjects sit far BELOW the masthead text (제1695호 at
        t=84, 발행일 at t=110 vs images at t=305 and t=421): the
        reading-order model hoisted a predicted picture cluster above
        text that every geometric ordering emits first."""
        pages, gt = doc
        _, _, _, cells0, images0 = pages[0]
        assert gt.lstrip().startswith("<!-- image -->")
        masthead = next(c for c in cells0 if c.text.strip() == "제1695호")
        assert len(images0) == 2
        assert all(img[1] > masthead.b + 100 for img in images0), images0

    def test_footnote_merge_self_inconsistent(self, doc):
        """Four 'N)'-prefixed footnote lines share the same left
        margin (l=65.2) and uniform ~12.7pt leading at the page
        bottom, yet the groundtruth keeps the first two as separate
        paragraphs while merging the last two AND the indented
        continuation line into ONE paragraph - opposite treatments of
        structurally identical lines = predicted-cluster membership,
        not geometry."""
        pages, gt = doc
        _, _, _, cells0, _ = pages[0]
        fns = sorted((c for c in cells0
                      if abs(c.l - 65.2) < 0.5 and c.t > 700),
                     key=lambda c: c.t)
        assert len(fns) == 3  # 2) 생명보험은, 1) 한국표준, 2) 감염병
        texts = [c.text.strip()[:12] for c in fns]
        assert texts[0].startswith("2) 생명보험은")
        assert texts[1].startswith("1) 한국표준질병")
        assert texts[2].startswith("2) 감염병의")
        # separate paragraph for the outer footnotes...
        assert "\n\n2) 생명보험은" in gt
        # ...but the inner pair + continuation merged into one line
        assert ("사고 2) 감염병의 예방 및 관리에 관한 법률 제2조 제2호에서 "
                "규정한 감염병 그러나, 약관상" in gt)

    def test_picture_items_subset_of_xobjects(self, doc):
        """7 real image XObjects across the 4 pages, only 3 picture
        items in the groundtruth - which 4 get no item is the layout
        model's picture prediction (rtl_02 precedent)."""
        pages, gt = doc
        assert sum(len(i) for _, _, _, _, i in pages) == 7
        assert gt.count("<!-- image -->") == 3


@needs_corpus
class TestRedpMLEvidence:
    """Per-file record evidence that redp5110_sampled's remaining md
    diff (425 lines, bounded by the ratchet) is entangled with two ML
    models' predictions baked into the groundtruth: TableFormer cell
    structure and layout-model furniture labels."""

    @pytest.fixture(scope="class")
    def doc(self):
        raw = (SRC / "redp5110_sampled.pdf").read_bytes()
        pages = extract_page_cells(raw, with_images=True)
        gt = (GT / "redp5110_sampled.md").read_text()
        return pages, gt

    def test_toc_table_cells_scramble_printed_lines(self, doc):
        """The printed TOC page is one clean text line per entry, each
        carrying its own page number (verified from the extracted
        cells), yet the groundtruth renders it as a table whose cells
        SCRAMBLE those lines: 3.1.1's and 3.1.2's titles merged into
        one cell paired with page 14 only; '16 18' (3.1.2's and 3.2's
        page numbers) jammed into a single number cell on 3.2's row;
        '3.6' detached from its own title and glued onto 3.6.1's row;
        and the single line '3.6.5 Defining and creating column
        masks...26' split mid-phrase ACROSS TWO ROWS with crossed
        page numbers (masks|26 vs ...column|28).  No deterministic
        parse of one-line-per-entry input produces cross-row cell
        scrambling - these are TableFormer's predicted cell rects."""
        pages, gt = doc
        _, _, _, cells, _ = pages[1]  # TOC page
        def line(prefix):
            return next(c.text.strip() for c in cells
                        if c.text.strip().startswith(prefix))
        # the page itself: each entry is ONE line with its own number
        assert line("3.1.1  Row permission").endswith("14")
        assert line("3.1.2  Enabling").endswith("16")
        assert line("3.2  Special registers").endswith("18")
        assert line("3.6.5  Defining").endswith("26")
        assert line("3.6.6  Activating RCAC").endswith("28")
        # the groundtruth table: scrambled cells
        assert ("3.1.1 Row permission and column mask definitions . . . . . ."
                " . . . . . . . . . . . . . . . . 3.1.2 Enabling and "
                "activating RCAC") in gt
        assert "| 16 18 |" in gt
        assert ("| 3.6 3.6.1 Assigning the QIBM_DB_SECADM function ID to "
                "the consultants. . . . . . . | 23 |") in gt
        assert ("| masks . . . . . . . . . . . . . . . . . . . . . . . . . "
                ". . . . | 26 |") in gt
        assert "| 3.6.5 Defining and creating column | 28 |" in gt

    def test_margin_inclusion_is_ml_label_not_geometry(self, doc):
        """Cells in the SAME bottom-margin band (t within 754-756 of a
        792pt page) get opposite groundtruth treatment: every body
        page's running footer and page number is EXCLUDED (the title
        string appears only twice - cover + chapter opener - never as
        the 7 footer repetitions; '© Copyright IBM Corp' never
        appears; no standalone page-number lines), while the cover's
        'ibm.com'/'/redbooks' at t=750 and the t=26 top-margin 'Front
        cover'/'Back cover' ARE body text.  A y-threshold rule cannot
        produce both; the furniture decision is the layout model's
        per-cluster page-header/footer label."""
        import re
        pages, gt = doc
        # footer cells exist on body pages at t~754.8
        footer_pages = [p for p, _, _, cells, _ in
                        ((pno, w, h, c, i) for pno, w, h, c, i in pages)
                        if any(c.text.strip() == "Row and Column Access "
                               "Control Support in IBM DB2 for i"
                               and c.t > 750 for c in cells)]
        assert len(footer_pages) >= 5
        # ...but the string appears only twice in gt (cover + opener)
        assert gt.count(
            "Row and Column Access Control Support in IBM DB2 for i") == 2
        assert "© Copyright IBM Corp" not in gt
        assert not re.search(r"(?m)^(iii|xi|27|124)$", gt)
        # same margin bands, opposite label on the covers:
        _, _, _, cells0, _ = pages[0]
        assert any(c.text.strip() == "Front cover" and c.t < 30
                   for c in cells0)
        assert any(c.text.strip() == "ibm.com" and c.t > 745
                   for c in cells0)
        assert "Front cover" in gt and "ibm.com" in gt
        assert "Back cover" in gt


@needs_reference("pdf/sources/multi_page.pdf")
def test_ttink_hmtx_advances_match_pdf_widths():
    """The embedded font program's hmtx advances (TrueTypeInk.advance)
    agree with the PDF /Widths ints to within the 1/1000-em rounding
    the /Widths encoding imposes - the measurement that ruled hmtx
    drift OUT as the source of the residual doctags right-edge deltas
    (they are far smaller than the observed 0.8-2 pt residuals)."""
    from docling_spark.pdfio import PdfDocument
    from docling_spark.pdftext import load_font
    raw = (pathlib.Path("/root/reference/tests/data/pdf/sources")
           / "multi_page.pdf").read_bytes()
    doc = PdfDocument(raw)
    page = next(iter(doc.pages()))
    res = doc.resolve(page.get("Resources", {}))
    fonts = doc.resolve(res.get("Font", {}))
    checked = 0
    for _, fref in fonts.items():
        f = load_font(doc, doc.resolve(fref))
        if f.ink is None or not f.ink.ok or not f.ink.n_hmetrics:
            continue
        for code, w_pdf in list(f.widths.items())[:60]:
            w_hm = f.ink.advance(code)
            if w_hm is None:
                continue
            assert abs(w_hm - w_pdf / 1000.0) < 1e-3, (code, w_pdf, w_hm)
            checked += 1
    assert checked >= 100


def test_painted_path_extraction_geometry():
    """page_glyphs_images_paths: stroked lines carry half the line
    width on every side, filled rects carry exact geometry, clip-only
    paths (W .. n) are excluded, and cm transforms apply."""
    import zlib
    content = (b"q 2 0 0 2 10 10 cm 4 w\n"
               b"0 0 m 50 0 l S\n"            # stroked line, scaled 2x
               b"10 10 30 20 re f\n"          # filled rect
               b"0 0 100 100 re W n\n"        # clip only - excluded
               b"Q\n")
    comp = zlib.compress(content)
    pdf = (b"%PDF-1.4\n"
           b"1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj\n"
           b"2 0 obj<</Type/Pages/Kids[3 0 R]/Count 1>>endobj\n"
           b"3 0 obj<</Type/Page/Parent 2 0 R/MediaBox[0 0 200 200]"
           b"/Contents 4 0 R>>endobj\n"
           b"4 0 obj<</Length " + str(len(comp)).encode()
           + b"/Filter/FlateDecode>>stream\n" + comp
           + b"\nendstream endobj\n")
    xref_at = len(pdf)
    pdf += (b"xref\n0 5\n0000000000 65535 f \n")
    # rebuild offsets
    offs = []
    pos = pdf.index(b"1 0 obj")
    for i in (b"1 0 obj", b"2 0 obj", b"3 0 obj", b"4 0 obj"):
        offs.append(pdf.index(i))
    pdf = pdf[:xref_at]
    xref = b"xref\n0 5\n0000000000 65535 f \n" + b"".join(
        b"%010d 00000 n \n" % o for o in offs)
    trailer = (b"trailer<</Size 5/Root 1 0 R>>\nstartxref\n"
               + str(xref_at).encode() + b"\n%%EOF")
    pdf += xref + trailer

    from docling_spark.pdfio import PdfDocument
    from docling_spark.pdftext import PdfTextExtractor
    doc = PdfDocument(pdf)
    ex = PdfTextExtractor(doc)
    page = next(iter(doc.pages()))
    _, _, paths = ex.page_glyphs_images_paths(page)
    assert len(paths) == 2, paths
    # stroked line: cm scales by 2 -> device line (10,10)-(110,10),
    # width 4*2=8 -> half 4 on each side
    line = min(paths, key=lambda p: p[1])
    assert line == (6.0, 6.0, 114.0, 14.0), line
    # filled rect: (10,10,30x20) under 2x+10 -> (30,30)-(90,70), no
    # stroke growth
    rect = max(paths, key=lambda p: p[1])
    assert rect == (30.0, 30.0, 90.0, 70.0), rect
