"""Format dispatch of the extraction worker, without the reference corpus.

Every input here is built in the test, so these run wherever the package
imports. Each parity row feeds one synthetic document per format through
``engine._extract_batches`` and checks that md, itxt and doc_json equal a
direct call of that format's converter with the engine's kwargs.
"""

import hashlib
import json
import time

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from docling_spark import engine
from docling_spark.deepseekocr import convert_deepseekocr
from docling_spark.ebcdic import convert_ebcdic
from docling_spark.extractor import HtmlExtractor
from docling_spark.formats import (convert_asciidoc, convert_csv,
                                   convert_email, convert_markdown,
                                   convert_vtt)
from docling_spark.latex import convert_latex
from docling_spark.serialize import to_indented_text, to_json, to_markdown
from docling_spark.vlmparsers import convert_chandra, convert_dots

EBCDIC_LAYOUT = json.dumps({"records": [{"fields": [
    {"name": "CODE", "size": 4}, {"name": "QTY", "size": 3}]}]})
# two cp037 records: "AB12" "007" and "CD34" "042"
EBCDIC_RAW = "AB12007CD34042".encode("cp037")
LATEX_MAIN = (b"\\documentclass{article}\n\\begin{document}\n"
              b"\\section{Intro}\nMain text.\n\\input{sec}\n"
              b"\\end{document}\n")
LATEX_INPUTS = {"sec.tex": b"Text from the input file.\n"}


def _bh(raw: bytes) -> int:
    return int.from_bytes(hashlib.sha256(raw).digest()[-8:], "big")


# (url, raw bytes, expected doc as a function of (raw, binary_hash))
PARITY = [
    ("https://x/a/page.html",
     b"<html><body><h1>T</h1><p>hello <b>world</b></p></body></html>",
     lambda r, h: HtmlExtractor().convert(r, name="page",
                                          filename="page.html",
                                          binary_hash=h)),
    ("https://x/a/noext",
     b"<p>no extension is html</p>",
     lambda r, h: HtmlExtractor().convert(r, name="noext",
                                          filename="noext.html",
                                          binary_hash=h)),
    ("https://x/a/vlm.html",
     b'<div data-bbox="10 10 500 40" data-label="Title">Hello</div>\n'
     b'<div data-bbox="10 60 500 90" data-label="Text">Body line.</div>',
     lambda r, h: convert_chandra(r, name="vlm", filename="vlm.html")),
    ("https://x/a/layout.json",
     b'[{"bbox": [10, 10, 500, 40], "category": "Title", "text": "Hi"},'
     b' {"bbox": [10, 60, 500, 90], "category": "Text", "text": "Body"}]',
     lambda r, h: convert_dots(r, name="layout", filename="layout.json")),
    ("https://x/a/notes.md",
     b"# Title\n\nSome *markdown* text.\n\n- one\n- two\n",
     lambda r, h: convert_markdown(r, name="notes", filename="notes.md",
                                   binary_hash=h)),
    ("https://x/a/ocr.md",
     b"<|ref|>title<|/ref|><|det|>[[10,10,500,40]]<|/det|>\n# Hello\n",
     lambda r, h: convert_deepseekocr(r, name="ocr", filename="ocr.md",
                                      binary_hash=h)),
    ("https://x/a/t.csv",
     b"a,b\n1,2\n3,4\n",
     lambda r, h: convert_csv(r, name="t", filename="t.csv",
                              binary_hash=h)),
    # the file name is the url path's last segment: a query string or a
    # fragment after it does not change the format row
    ("https://x/a/t.csv?dl=1#top",
     b"a,b\n1,2\n3,4\n",
     lambda r, h: convert_csv(r, name="t", filename="t.csv",
                              binary_hash=h)),
    ("https://x/a/n.md?x=1",
     b"# Title\n\nSome text.\n",
     lambda r, h: convert_markdown(r, name="n", filename="n.md",
                                   binary_hash=h)),
    ("https://x/a/subs.vtt",
     b"WEBVTT\n\n00:00:00.000 --> 00:00:01.000\nHello there\n",
     lambda r, h: convert_vtt(r, name="subs", filename="subs.vtt",
                              binary_hash=h)),
    ("https://x/a/doc.adoc",
     b"= Title\n\nA paragraph.\n\n== Section\n\nMore text.\n",
     lambda r, h: convert_asciidoc(r, name="doc", filename="doc.adoc",
                                   binary_hash=h)),
    ("https://x/a/mail.eml",
     b"From: a@x.test\nTo: b@x.test\nSubject: Hi\n"
     b"Content-Type: text/plain\n\nBody of the mail.\n",
     lambda r, h: convert_email(r, name="mail", filename="mail.eml",
                                binary_hash=h)),
    ("https://x/a/paper.tex", LATEX_MAIN,
     lambda r, h: convert_latex(r, name="paper", filename="paper.tex",
                                binary_hash=h, inputs=LATEX_INPUTS)),
    ("https://x/a/rec.ebc", EBCDIC_RAW,
     lambda r, h: convert_ebcdic(r, EBCDIC_LAYOUT, name="rec.ebc",
                                 filename="rec.ebc", binary_hash=h)),
]

SIDE_INPUTS = {"latex": {"paper": LATEX_INPUTS},
               "ebcdic": {"rec": EBCDIC_LAYOUT}}


def _run(urls, raws, **opts):
    batch = pa.RecordBatch.from_pydict({"url": urls, "html": raws})
    return pa.Table.from_batches(
        engine._extract_batches([batch], **opts)).to_pandas()


@pytest.mark.parametrize("url,raw,expected", PARITY,
                         ids=[p[0].rsplit("/", 1)[-1] for p in PARITY])
def test_dispatch_parity_with_direct_converter(url, raw, expected):
    out = _run([url], [raw], side_inputs=SIDE_INPUTS)
    row = out.iloc[0]
    assert row["status"] == "success", row["error"]
    doc = expected(raw, _bh(raw))
    assert row["md"] == to_markdown(doc)
    assert row["itxt"] == to_indented_text(doc)
    assert row["doc_json"] == to_json(doc)
    assert row["html_bytes"] == len(raw)


def test_side_inputs_reach_their_converters():
    """The latex and ebcdic rows above only prove parity if the side
    input was actually used: the \\input text and the decoded EBCDIC
    fields must appear in the markdown."""
    out = _run(["https://x/a/paper.tex", "https://x/a/rec.ebc"],
               [LATEX_MAIN, EBCDIC_RAW], side_inputs=SIDE_INPUTS)
    assert "Text from the input file." in out["md"][0]
    assert "AB12" in out["md"][1] and "CD34" in out["md"][1]


def test_ebcdic_without_layout_is_a_failure_envelope():
    """An .ebc payload without a registered layout cannot be decoded; it
    must fail with the missing-layout error, not be parsed as HTML."""
    out = _run(["https://x/rec.ebc"], [EBCDIC_RAW])
    assert out["status"][0] == "failure"
    assert out["error"][0] == (
        "ValueError: no EBCDIC layout registered for 'rec.ebc'")


def test_raising_export_fails_only_its_document(monkeypatch):
    """An optional export that raises for one document yields that
    document's failure envelope; the other document in the batch still
    succeeds, and the batch keeps one row per input."""
    from docling_spark import serialize

    real = serialize.to_doctags

    def flaky(doc):
        if doc.name == "bad":
            raise RuntimeError("doctags broke")
        return real(doc)

    monkeypatch.setattr(serialize, "to_doctags", flaky)
    out = _run(["https://x/good.html", "https://x/bad.html"],
               [b"<p>good</p>", b"<p>bad</p>"],
               exports=(*engine.DEFAULT_EXPORTS, "doctags"))
    assert list(out["status"]) == ["success", "failure"]
    assert out["doctags"][0].startswith("<doctag>")
    assert out["error"][1] == "RuntimeError: doctags broke"
    assert out["md"][1] is None and out["doctags"][1] is None


def test_worker_output_is_typed_by_the_result_schema():
    """The worker's batches carry the Arrow form of ``EXTRACT_SCHEMA``
    whatever the rows: an empty input batch yields one empty batch of it,
    and a batch whose rows all fail keeps its types (int32 zero counts,
    double ms, null strings)."""
    schema = to_arrow_schema(engine.EXTRACT_SCHEMA)
    empty = pa.RecordBatch.from_pydict(
        {"url": pa.array([], pa.string()), "html": pa.array([], pa.binary())})
    (out,) = engine._extract_batches([empty])
    assert out.num_rows == 0 and out.schema == schema

    failing = pa.RecordBatch.from_pydict({
        "url": ["https://x/broken.docx", "https://x/rec.ebc"],
        "html": [b"PK\x03\x04 not a zip", EBCDIC_RAW]})
    (out,) = engine._extract_batches([failing])
    assert out.schema == schema
    cols = out.to_pydict()
    assert cols["status"] == ["failure", "failure"]
    for n in ("n_texts", "n_tables", "n_pictures", "n_pages"):
        assert cols[n] == [0, 0]
    assert cols["serialize_ms"] == [0.0, 0.0]
    assert all(isinstance(ms, float) for ms in cols["parse_ms"])
    for n in ("doc_json", "md", "itxt"):
        assert cols[n] == [None, None]
    assert all(cols["error"])


def test_unknown_option_names_raise_on_the_driver(spark):
    df = spark.createDataFrame([("https://x/a.html", b"<p>a</p>")],
                               "url string, html binary")
    with pytest.raises(ValueError, match=r"\['pfd'\]"):
        engine.extract_pages(df, side_inputs={"pfd": {"a": "1234"}})
    with pytest.raises(ValueError, match=r"\['doctag'\]"):
        engine.extract_pages(df, exports=("doctag",))


def test_export_columns_follow_the_schema(spark):
    df = spark.createDataFrame([("https://x/a.html", b"<p>a</p>")],
                               "url string, html binary")
    res = engine.extract_pages(df, repartition=False,
                               exports=("html", "doctags",
                                        *engine.DEFAULT_EXPORTS))
    assert res.columns == (engine.EXTRACT_SCHEMA.fieldNames()
                           + ["doctags", "html"])
    # a repeated name is one column, in its declared place
    res = engine.extract_pages(df, repartition=False,
                               exports=("md", "doc_json", "md"))
    assert res.columns == [c for c in engine.EXTRACT_SCHEMA.fieldNames()
                           if c != "itxt"]


def test_default_exports_keep_the_result_columns(spark):
    """Naming no exports gives the same columns, in the same order and
    of the same types, as the fixed md/itxt/doc_json output did."""
    df = spark.createDataFrame([("https://x/a.html", b"<p>a</p>")],
                               "url string, html binary")
    res = engine.extract_pages(df)
    assert res.columns == [
        "url", "status", "doc_json", "md", "itxt", "n_texts", "n_tables",
        "n_pictures", "n_pages", "html_bytes", "parse_ms", "serialize_ms",
        "error", "partition_id"]
    assert res.schema == engine.EXTRACT_SCHEMA


def test_unrequested_export_is_never_serialized(monkeypatch):
    """An md-only run neither calls the json serializer nor emits its
    column: with ``to_json`` raising, every document still succeeds."""
    from docling_spark import serialize

    def broken(doc):
        raise AssertionError("to_json called")

    monkeypatch.setattr(serialize, "to_json", broken)
    out = _run(["https://x/a.html", "https://x/t.csv"],
               [b"<h1>T</h1><p>a</p>", b"a,b\n1,2\n"], exports=("md",))
    assert list(out["status"]) == ["success", "success"]
    assert "doc_json" not in out.columns and "itxt" not in out.columns
    assert out["md"][0] == "# T\n\na"


def test_serialize_ms_covers_every_requested_export(monkeypatch):
    from docling_spark import serialize

    real = serialize.to_doctags

    def slow(doc):
        time.sleep(0.05)
        return real(doc)

    monkeypatch.setattr(serialize, "to_doctags", slow)
    out = _run(["https://x/a.html"], [b"<p>a</p>"], exports=("doctags",))
    assert out["status"][0] == "success"
    assert out["serialize_ms"][0] >= 50


def test_pdf_password_side_input_in_spark(spark):
    """The pdf side input rides the worker function to the executors: the
    synthetic AES-256 PDF opens with its password and fails with a
    password error without it."""
    import test_pdf

    raw = test_pdf.TestAes256Pdf._build(6)
    df = spark.createDataFrame([("https://x/secret.pdf", raw)],
                               "url string, html binary")
    ok = engine.extract_pages(
        df, repartition=False,
        side_inputs={"pdf": {"secret": "1234"}}).collect()[0]
    assert ok["status"] == "success", ok["error"]
    assert ok["n_pages"] == 1
    bad = engine.extract_pages(df, repartition=False).collect()[0]
    assert bad["status"] == "failure"
    assert "password" in (bad["error"] or "")
