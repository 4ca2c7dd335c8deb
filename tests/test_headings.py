"""Heading-hierarchy inference (reference heading_hierarchy_model
numbering + style strategies)."""

from docling_spark.headings import (
    infer_from_numbering,
    infer_from_style,
    infer_heading_levels,
    parse_marker,
)

from conftest import needs_reference


def test_marker_families():
    assert parse_marker("PART I - General").family == "part"
    assert parse_marker("Chapter 2: Ducks").family == "chapter"
    assert parse_marker("Article 5 blah").family == "article"
    assert parse_marker("§ 12 Liability").family == "article"
    assert parse_marker("1.1 Scope").family == "dotted"
    assert parse_marker("1.1.1 Detail").depth == 3
    assert parse_marker("3. Terms").family == "arabic"
    assert parse_marker("(a) first").family == "alpha_l"
    assert parse_marker("(iv) fourth").family == "roman_l"
    assert parse_marker("Summary.") is None      # word, not numbering
    assert parse_marker("No marker here") is None


def test_legal_numbering_hierarchy():
    # (ii) is unambiguous Roman; a lone (i) would resolve to alpha here
    # because the only other letter evidence is alpha - same as reference
    texts = ["PART I Preliminary", "1. Definitions", "1.1 Interpretation",
             "(a) first item", "(ii) sub item", "2. Scope", "PART II Body"]
    levels = infer_from_numbering(texts)
    assert levels[0] == 1            # PART
    assert levels[1] == 2            # 1.
    assert levels[2] == 3            # 1.1
    assert levels[3] == 4            # (a)
    assert levels[4] == 5            # (i)
    assert levels[5] == levels[1]    # 2. same as 1.
    assert levels[6] == levels[0]


def test_level_compression_starts_at_one():
    # a doc that only uses "1." numbering is not pushed to depth 2
    levels = infer_from_numbering(["1. A", "2. B"])
    assert set(levels.values()) == {1}


def test_ambiguous_single_letter_roman_vs_alpha():
    # 'I.' with unambiguous Roman evidence -> Roman
    lv = infer_from_numbering(["I. intro", "II. body", "III. end"])
    assert len(set(lv.values())) == 1
    # 'C.' with alpha evidence -> alpha (same level as B.)
    lv2 = infer_from_numbering(["B. second", "C. third"])
    assert lv2[0] == lv2[1]
    # lone 'I.' with no evidence defaults to Roman; 'D.' defaults alpha ->
    # Roman ranks above alpha in the family order
    lv3 = infer_from_numbering(["I. one", "D. four"])
    assert lv3[0] < lv3[1]


def test_style_fallback_buckets():
    sizes = {0: 24.2, 1: 18.0, 2: 17.8, 3: 12.0}
    lv = infer_from_style(sizes)
    assert lv[0] == 1
    assert lv[1] == lv[2] == 2
    assert lv[3] == 3


def test_combined_numbering_then_style():
    texts = ["1. Numbered", "Unnumbered Big", "1.1 Sub"]
    levels = infer_heading_levels(texts, font_sizes={1: 20.0})
    assert levels[0] == 1 and levels[2] == 2
    assert levels[1] == 3  # style headings sit below numbered depth


def test_apply_to_doc():
    from docling_spark.extractor import extract
    from docling_spark.headings import apply_heading_hierarchy
    html = (b"<h1>T</h1><h2>1. One</h2><p>x</p><h2>1.1 Sub</h2><p>y</p>"
            b"<h2>2. Two</h2><p>z</p>")
    doc = extract(html, name="t")
    n = apply_heading_hierarchy(doc)
    from docling_spark.model import SectionHeaderItem
    lvls = [t.level for t in doc.texts if isinstance(t, SectionHeaderItem)]
    assert lvls == [1, 2, 1]
    assert n >= 1


class TestBookmarkHierarchy:
    """PDF outline -> heading levels (reference strategy #1,
    heading_hierarchy_model.py:309-400; test vector mirrors the
    reference's tests/test_heading_hierarchy_bookmarks.py on
    bookmark_sample.pdf)."""

    @needs_reference("pdf/bookmark_sample.pdf")
    def test_bookmark_sample_levels(self):
        import pathlib
        from docling_spark.model import SectionHeaderItem
        from docling_spark.pdfdoc import convert_pdf
        from docling_spark.pdfio import PdfDocument
        raw = pathlib.Path(
            "/root/reference/tests/data/pdf/bookmark_sample.pdf"
        ).read_bytes()
        assert PdfDocument(raw).outline() == [
            (1, "PART I - DEFINITIONS"), (2, "1. Interpretation"),
            (2, "2. Construction of Terms"), (1, "PART II - OBLIGATIONS"),
            (2, "3. Payment Terms"), (3, "3.1 Payment Schedule"),
            (2, "4. Termination"), (1, "PART III - MISCELLANEOUS")]
        doc = convert_pdf(raw, name="bm", heading_hierarchy=True)
        got = [(h.level, h.text) for h in doc.texts
               if isinstance(h, SectionHeaderItem)]
        assert got == [
            (1, "PART I - DEFINITIONS"), (2, "1. Interpretation"),
            (2, "2. Construction of Terms"), (1, "PART II - OBLIGATIONS"),
            (2, "3. Payment Terms"), (3, "3.1 Payment Schedule"),
            (2, "4. Termination"), (1, "PART III - MISCELLANEOUS")]

    @needs_reference("pdf/bookmark_sample.pdf")
    def test_default_off_keeps_flat_levels(self):
        import pathlib
        from docling_spark.model import SectionHeaderItem
        from docling_spark.pdfdoc import convert_pdf
        raw = pathlib.Path(
            "/root/reference/tests/data/pdf/bookmark_sample.pdf"
        ).read_bytes()
        doc = convert_pdf(raw, name="bm")  # enabled=False default
        levels = {h.level for h in doc.texts
                  if isinstance(h, SectionHeaderItem)}
        assert levels <= {1}

    def test_match_score_vectors(self):
        # reference test vectors (test_heading_hierarchy_bookmarks.py)
        from docling_spark.headings import bookmark_match_score
        assert bookmark_match_score("1.1 Definitions", "Definitions") >= 0.99
        assert bookmark_match_score(
            "PART I Introduction", "Introduction") >= 0.9
        assert bookmark_match_score(
            "Representations and Warranties of the Seller",
            "Representations and Warranties") >= 0.9
        assert bookmark_match_score("Termination", "Definitions") < 0.8
        assert bookmark_match_score(
            "Governing Law", "Schedule of Assets") < 0.8
