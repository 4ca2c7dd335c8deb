"""Chunker tests: hand-derived hierarchical chunkings, hybrid merge/split,
doc_json round-trip, and the Spark chunks_view / token_window_chunks ops."""

import json
import pathlib

import pytest
from pyspark.sql import functions as F

from docling_spark import chunking, engine
from docling_spark.extractor import HtmlExtractor
from docling_spark.serialize import to_json

from conftest import needs_reference

FIXTURES = pathlib.Path("/root/reference/tests/data/html/sources")


def _convert(html: str):
    return HtmlExtractor().convert(html.encode("utf-8"), name="t",
                                   filename="t.html", binary_hash=1)


# ----------------------------------------------------------- hand-derived

def test_hierarchical_basic_paragraphs_and_headings():
    doc = _convert("""
    <html><body>
      <h1>Intro</h1><p>First para.</p><p>Second para.</p>
      <h2>Details</h2><p>Third para.</p>
    </body></html>""")
    chunks = list(chunking.hierarchical_chunks(doc))
    assert [c["text"] for c in chunks] == [
        "First para.", "Second para.", "Third para."]
    assert chunks[0]["headings"] == ["Intro"]
    assert chunks[1]["headings"] == ["Intro"]
    assert chunks[2]["headings"] == ["Intro", "Details"]


def test_hierarchical_merges_list_items():
    doc = _convert("""
    <html><body><h1>T</h1>
      <ul><li>alpha</li><li>beta</li><li>gamma</li></ul>
      <p>after</p>
    </body></html>""")
    chunks = list(chunking.hierarchical_chunks(doc))
    assert chunks[0]["label"] == "list"
    assert chunks[0]["text"] == "alpha\nbeta\ngamma"
    assert len(chunks[0]["doc_items"]) == 3
    assert chunks[1]["text"] == "after"


def test_hierarchical_no_merge_option():
    doc = _convert(
        "<html><body><ul><li>a</li><li>b</li></ul></body></html>")
    chunks = list(chunking.hierarchical_chunks(doc,
                                               merge_list_items=False))
    # without merging, nothing is emitted for the group wrapper itself;
    # the walk descends and each list item stands alone
    assert [c["text"] for c in chunks] == ["a", "b"]


def test_hierarchical_heading_stack_pops_siblings():
    doc = _convert("""
    <html><body>
      <h1>A</h1><h2>B</h2><p>one</p><h2>C</h2><p>two</p><h1>D</h1><p>three</p>
    </body></html>""")
    chunks = list(chunking.hierarchical_chunks(doc))
    assert chunks[0]["headings"] == ["A", "B"]
    assert chunks[1]["headings"] == ["A", "C"]
    assert chunks[2]["headings"] == ["D"]


def test_hierarchical_table_triplets():
    doc = _convert("""
    <html><body><table>
      <tr><th>city</th><th>pop</th></tr>
      <tr><td>Rome</td><td>2.8M</td></tr>
    </table></body></html>""")
    chunks = list(chunking.hierarchical_chunks(doc))
    tables = [c for c in chunks if c["label"] == "table"]
    assert len(tables) == 1
    assert "city = Rome" in tables[0]["text"]
    assert "pop = 2.8M" in tables[0]["text"]


def test_hierarchical_picture_caption_chunk():
    doc = _convert("""
    <html><body><h1>T</h1><figure><img src="x.png"/>
      <figcaption>A duck</figcaption></figure></body></html>""")
    chunks = list(chunking.hierarchical_chunks(doc))
    pics = [c for c in chunks if c["label"] == "picture"]
    assert len(pics) == 1
    assert pics[0]["captions"] == ["A duck"]
    assert pics[0]["text"] == "A duck"
    assert chunking.contextualize(pics[0]) == "T\nA duck\nA duck"


def test_hybrid_splits_oversized():
    # hand-derived: each "wN" = letter token + digit-group token = 2 bpe
    # tokens, so 25 words = 50 tokens; max 10 -> 5 parts of 5 words
    doc = _convert("<html><body><p>%s</p></body></html>"
                   % " ".join(f"w{i}" for i in range(25)))
    chunks = list(chunking.hybrid_chunks(doc, max_tokens=10))
    assert [chunking.count_tokens_bpe(c["text"]) for c in chunks] == [10] * 5
    assert [len(c["text"].split()) for c in chunks] == [5] * 5


def test_bpe_counter_hand_vectors():
    # hand-derived: hello(5ch->2) world(5ch->2); it+'s+a+test = 1+1+1+1;
    # 12345 -> 123|45 digit groups; ellipsis runs at ~2 chars/token
    assert chunking.count_tokens_bpe("hello world") == 4
    assert chunking.count_tokens_bpe("it's a test") == 4
    assert chunking.count_tokens_bpe("x = 12345 + 7") == 6
    assert chunking.count_tokens_bpe("internationalization") == 5
    assert chunking.count_tokens_bpe("...---...") == 5
    assert chunking.count_tokens_bpe("") == 0


def test_hybrid_split_respects_bpe_budget():
    # long words (12 chars = 3 bpe tokens each): 10 words = 30 tokens,
    # max 9 -> greedy packs 3 words per part
    words = ["abcdefghijkl"] * 10
    doc = _convert("<html><body><p>%s</p></body></html>" % " ".join(words))
    chunks = list(chunking.hybrid_chunks(doc, max_tokens=9))
    assert [len(c["text"].split()) for c in chunks] == [3, 3, 3, 1]
    assert all(chunking.count_tokens_bpe(c["text"]) <= 9 for c in chunks)


def test_hybrid_merges_peers_same_headings():
    doc = _convert("""
    <html><body><h1>H</h1><p>one two</p><p>three four</p>
      <h1>H2</h1><p>five</p></body></html>""")
    chunks = list(chunking.hybrid_chunks(doc, max_tokens=100))
    assert len(chunks) == 2
    assert chunks[0]["text"] == "one two\nthree four"
    assert chunks[1]["text"] == "five"


def test_hybrid_merge_peers_optout():
    doc = _convert(
        "<html><body><p>one</p><p>two</p></body></html>")
    chunks = list(chunking.hybrid_chunks(doc, max_tokens=100,
                                         merge_peers=False))
    assert [c["text"] for c in chunks] == ["one", "two"]


# ------------------------------------------------------------- round-trip

@needs_reference("html/sources")
@pytest.mark.parametrize("fixture", ["example_01", "example_05", "wiki_duck"])
def test_doc_json_roundtrip_byte_identical(fixture):
    raw = (FIXTURES / f"{fixture}.html").read_bytes()
    doc = HtmlExtractor().convert(raw, name=fixture,
                                  filename=f"{fixture}.html", binary_hash=7)
    j1 = to_json(doc)
    j2 = to_json(chunking.doc_from_json(j1))
    assert j1 == j2


@needs_reference("html/sources/example_02.html")
def test_chunks_on_golden_fixture():
    raw = (FIXTURES / "example_02.html").read_bytes()
    doc = HtmlExtractor().convert(raw, name="example_02",
                                  filename="example_02.html", binary_hash=7)
    chunks = list(chunking.hierarchical_chunks(doc))
    assert chunks  # non-empty
    for c in chunks:
        assert c["text"].strip()
        assert isinstance(c["headings"], list)
        assert c["doc_items"]


# ----------------------------------------------------------- spark surface

def test_chunks_view(spark):
    rows = [("https://x/a", "<html><body><h1>T</h1><p>hello world</p>"
             "<ul><li>x</li><li>y</li></ul></body></html>".encode())]
    pages = spark.createDataFrame(rows, "url string, html binary")
    res = engine.extract_pages(pages, repartition=False)
    out = chunking.chunks_view(res).collect()
    assert [(r["label"], r["text"]) for r in out] == [
        ("text", "hello world"), ("list", "x\ny")]
    assert out[0]["headings"] == ["T"]
    assert out[1]["n_tokens"] == 2


def test_token_window_chunks(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(300))), (2, ""), (3, "one")],
        "doc_id long, text string")
    out = chunking.token_window_chunks(docs, size=128).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert sorted(by_doc) == [1, 3]  # empty doc emits nothing
    assert [r["n_tokens"] for r in sorted(by_doc[1],
                                          key=lambda r: r["chunk_id"])] == \
        [128, 128, 44]
    assert by_doc[3][0]["n_tokens"] == 1


def test_split_oversized_linear_running_sum_equivalence():
    """Round-4 ADVICE: _split_oversized keeps a running per-word token sum
    instead of recounting the joined prefix per append (O(n^2) on
    crawl-scale chunks). Boundaries must match the rescan formulation."""
    import random
    rng = random.Random(7)
    words = []
    for _ in range(3000):
        n = rng.randint(1, 12)
        words.append("".join(rng.choice("abcdefghijklmnop,.!?0123456789")
                             for _ in range(n)))
    chunk = {"text": " ".join(words), "label": "text", "headings": [],
             "captions": [], "doc_items": ["#/texts/0"]}
    parts = list(chunking._split_oversized(chunk, 64))
    # reference (quadratic) formulation for comparison
    counter = chunking.count_tokens_bpe
    cur, expect = [], []
    for w in chunk["text"].split():
        if cur and counter(" ".join(cur + [w])) > 64:
            expect.append(" ".join(cur))
            cur = [w]
        else:
            cur.append(w)
    if cur:
        expect.append(" ".join(cur))
    assert [p["text"] for p in parts] == expect
    assert all(counter(p["text"]) <= 64 or len(p["text"].split()) == 1
               for p in parts)


# -------------------------------------------- value-level fixture goldens
# (round-3 verdict task #9: hand-derived chunkings of real reference
# fixtures, pinned VALUE-level - not just structure counts)

GOLDEN_SRC = pathlib.Path("/root/reference/tests/data/html/sources")

_CHUNK_GOLDENS = {
    # single table chunk: row-wise "header = cell" triplets, spanned
    # headers repeated per covered column
    "example_04.html": [
        (["Data Table with Rowspan and Colspan"],
         "Header 1 = Row 1 & 2, Col 1 (rowspan)\n"
         "Header 2 & 3 (colspan) = Row 1, Col 2\n"
         "Header 2 & 3 (colspan) = Row 1, Col 3\n"
         "Header 2 & 3 (colspan) = Row 2, Col 2 & 3 (colspan)\n"
         "Header 1 = Row 3, Col 1\n"
         "Header 2 & 3 (colspan) = Row 3, Col 2\n"
         "Header 2 & 3 (colspan) = Row 3, Col 3"),
    ],
    # description lists: dt/dd items merge per list; h1 context stays on
    # the heading stack under sibling h2 sections
    "html_description_list.html": [
        (["Beverages"], "Coffee\nMilk\nSoda\nWater"),
        (["Beverages", "Programming Languages"], "Python\nJavaScript"),
        (["Beverages", "Complex Example"], "HTML\nCSS"),
        (["Beverages", "Nested Lists"],
         "Main Term 1\nMain Term 2 (Sub-categories)\nMain Term 3 (Mixed)"),
    ],
    # bare divs: one chunk per block, no heading context; inline <b>
    # splits baked by the extractor stay separate chunks
    "example_06.html": [
        ([], "This is a div with text."),
        ([], "This is another div with text."),
        ([], "This is a regular paragraph."),
        ([], "This is a third div\nwith a new line."),
        ([], "Heading for the details element"),
        ([], "Description of the details element."),
        ([], "This is a fourth div with a"),
        ([], "bold"),
        ([], "paragraph."),
    ],
}


@needs_reference("html/sources")
@pytest.mark.parametrize("stem", sorted(_CHUNK_GOLDENS))
def test_hierarchical_chunk_value_goldens(stem):
    raw = (GOLDEN_SRC / stem).read_bytes()
    doc = HtmlExtractor().convert(raw, name=stem, filename=stem,
                                  binary_hash=7)
    got = [(c["headings"], c["text"])
           for c in chunking.hierarchical_chunks(doc)]
    assert got == _CHUNK_GOLDENS[stem]
