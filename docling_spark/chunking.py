"""Chunking for training-data pipelines: DoclingDocument-aware chunkers.

Reimplements the semantics of the reference's chunker stack
(``/root/reference/docling/chunking/__init__.py:6-12`` re-exports
``HierarchicalChunker`` / ``HybridChunker`` from docling-core; behavior
documented in ``/root/reference/docs/concepts/chunking.md:108-117``):

- **Hierarchical**: one chunk per detected document element, merging
  consecutive list items into one chunk (opt-out via
  ``merge_list_items``), with heading path and captions attached as
  metadata. Headings/furniture are context, not chunks.
- **Hybrid**: tokenization-aware refinement on top - one pass splitting
  only oversized chunks, one pass merging undersized successive chunks
  with identical headings+captions (opt-out via ``merge_peers``)
  (``docs/concepts/chunking.md:62-73``). The reference uses an HF
  tokenizer; this container has none, so the token counter is
  whitespace-word based (documented deviation - swap ``count_tokens``
  for a real BPE counter in production, the dataflow is unchanged).

Spark surface: :func:`chunks_view` explodes extraction results
(url, doc_json) into chunk rows via ``mapInPandas`` (Arrow-batched,
per-doc pure function - the sanctioned Python-stage shape), and
:func:`token_window_chunks` is the pure-column-algebra chunker over a
plain text corpus (DuckDB-oracle-checkable).
"""

from __future__ import annotations

import json
import re
from typing import Iterable, Iterator, Optional

from . import keep_spark_archives
from .model import (
    BODY, Doc, Formatting, GroupItem, ListItemItem, PictureItem,
    SectionHeaderItem, TableCell, TableData, TableItem, TextItem,
)

# --------------------------------------------------------------- from_dict

_TEXT_CLASSES = {
    "section_header": SectionHeaderItem,
    "list_item": ListItemItem,
}


def _ref(d: Optional[dict]) -> Optional[str]:
    return d["$ref"] if d else None


def doc_from_dict(d: dict) -> Doc:
    """Rebuild a :class:`Doc` from its exported JSON dict (inverse of
    ``Doc.to_dict``). Used to re-open extraction output (``doc_json``
    column) for chunking / span queries without re-parsing HTML."""
    origin = d.get("origin", {})
    doc = Doc(d.get("name", ""), filename=origin.get("filename", ""),
              binary_hash=origin.get("binary_hash", 0),
              mimetype=origin.get("mimetype", "text/html"))
    doc.body.children = [r["$ref"] for r in d.get("body", {}).get("children", [])]
    doc.furniture.children = [
        r["$ref"] for r in d.get("furniture", {}).get("children", [])]

    for g in d.get("groups", []):
        item = GroupItem(g["self_ref"], _ref(g.get("parent")),
                         name=g.get("name", "group"),
                         label=g.get("label", "unspecified"),
                         content_layer=g.get("content_layer", BODY))
        item.children = [r["$ref"] for r in g.get("children", [])]
        doc.groups.append(item)

    for t in d.get("texts", []):
        label = t.get("label", "text")
        fmt = None
        if "formatting" in t:
            f = t["formatting"]
            fmt = Formatting(f.get("bold", False), f.get("italic", False),
                             f.get("underline", False),
                             f.get("strikethrough", False),
                             f.get("script", "baseline"))
        kwargs = dict(orig=t.get("orig"), formatting=fmt,
                      hyperlink=t.get("hyperlink"),
                      content_layer=t.get("content_layer", BODY),
                      kind=t.get("kind"), source=t.get("source"))
        cls = _TEXT_CLASSES.get(label)
        if cls is SectionHeaderItem:
            item = SectionHeaderItem(t["self_ref"], _ref(t.get("parent")),
                                     label, t.get("text", ""),
                                     level=t.get("level", 1), **kwargs)
        elif cls is ListItemItem:
            item = ListItemItem(t["self_ref"], _ref(t.get("parent")),
                                label, t.get("text", ""),
                                enumerated=t.get("enumerated", False),
                                marker=t.get("marker", ""), **kwargs)
        else:
            item = TextItem(t["self_ref"], _ref(t.get("parent")),
                            label, t.get("text", ""), **kwargs)
        item.children = [r["$ref"] for r in t.get("children", [])]
        doc.texts.append(item)

    for p in d.get("pictures", []):
        item = PictureItem(p["self_ref"], _ref(p.get("parent")),
                           content_layer=p.get("content_layer", BODY))
        item.children = [r["$ref"] for r in p.get("children", [])]
        item.captions = [r["$ref"] for r in p.get("captions", [])]
        doc.pictures.append(item)

    for t in d.get("tables", []):
        td = t.get("data", {})
        cells = [
            TableCell(
                text=c.get("text", ""),
                row_span=c.get("row_span", 1), col_span=c.get("col_span", 1),
                start_row_offset_idx=c.get("start_row_offset_idx", 0),
                end_row_offset_idx=c.get("end_row_offset_idx", 1),
                start_col_offset_idx=c.get("start_col_offset_idx", 0),
                end_col_offset_idx=c.get("end_col_offset_idx", 1),
                column_header=c.get("column_header", False),
                row_header=c.get("row_header", False),
                row_section=c.get("row_section", False),
                fillable=c.get("fillable", False),
                ref=_ref(c.get("ref")),
            )
            for c in td.get("table_cells", [])
        ]
        data = TableData(num_rows=td.get("num_rows", 0),
                         num_cols=td.get("num_cols", 0), table_cells=cells)
        item = TableItem(t["self_ref"], _ref(t.get("parent")), data,
                         content_layer=t.get("content_layer", BODY))
        item.children = [r["$ref"] for r in t.get("children", [])]
        item.captions = [r["$ref"] for r in t.get("captions", [])]
        doc.tables.append(item)
    return doc


def doc_from_json(s: str) -> Doc:
    return doc_from_dict(json.loads(s))


# ------------------------------------------------------------ hierarchical

def count_tokens(text: str) -> int:
    """Whitespace token count (used by the pure-column-algebra window
    chunker and its DuckDB oracle twin)."""
    return len(text.split())


# GPT-2-style pre-tokenization (the public regex shape: contraction
# suffixes, letter runs, 1-3 digit groups, punctuation runs), followed by
# a deterministic subword estimate - the container has no HF tokenizer,
# so this stands in for the reference HybridChunker's pluggable tokenizer
# with REPRODUCIBLE counts (not a hash stub): ~4 chars/token for words,
# one token per 1-3 digit group, ~2 chars/token for punctuation runs.
_BPE_PRETOK = re.compile(
    r"'(?:[sdmt]|ll|ve|re)"
    r"|[A-Za-z\u00C0-\u024F\u0370-\u03FF\u0400-\u04FF]+"
    r"|[0-9]{1,3}"
    r"|[^\sA-Za-z0-9\u00C0-\u024F\u0370-\u03FF\u0400-\u04FF]+")


def count_tokens_bpe(text: str) -> int:
    """Deterministic BPE-ish token estimate (see _BPE_PRETOK)."""
    n = 0
    for m in _BPE_PRETOK.finditer(text):
        piece = m.group(0)
        c = piece[0]
        if c.isdigit():
            n += 1
        elif c.isalpha() or c == "'":
            n += (len(piece) + 3) // 4
        else:
            n += (len(piece.strip()) + 1) // 2 or 1
    return n


def _table_text(doc: Doc, item: TableItem) -> str:
    """Triplet-style table serialization for chunk text: one line per data
    cell, ``rowhdr, colhdr = value`` (the chunk-friendly shape docling-core
    uses for embedding, as opposed to markdown grids)."""
    grid = item.data.grid()
    if not grid:
        return ""
    col_headers: dict[int, str] = {}
    row_headers: dict[int, str] = {}
    for cell in item.data.table_cells:
        if cell.column_header:
            for c in range(cell.start_col_offset_idx, cell.end_col_offset_idx):
                col_headers.setdefault(c, cell.text)
        if cell.row_header:
            for r in range(cell.start_row_offset_idx, cell.end_row_offset_idx):
                row_headers.setdefault(r, cell.text)
    lines = []
    seen = set()
    for r, row in enumerate(grid):
        for c, cell in enumerate(row):
            if cell is None or cell.column_header or cell.row_header:
                continue
            key = id(cell)
            if key in seen:
                continue
            seen.add(key)
            if not cell.text:
                continue
            ctx = [h for h in (row_headers.get(r), col_headers.get(c)) if h]
            if ctx:
                lines.append(f"{', '.join(ctx)} = {cell.text}")
            else:
                lines.append(cell.text)
    return "\n".join(lines)


def _caption_texts(doc: Doc, item) -> list[str]:
    out = []
    for ref in getattr(item, "captions", []):
        cap = doc.resolve(ref)
        if getattr(cap, "text", ""):
            out.append(cap.text)
    return out


_HEADING_CONTEXT = ("title", "section_header")


def hierarchical_chunks(doc: Doc, merge_list_items: bool = True
                        ) -> Iterator[dict]:
    """One chunk per document element; consecutive list items merged.

    Yields dicts: {text, label, headings, captions, doc_items}. Headings
    (title = level 0, section_header = its level) are metadata context,
    never chunks themselves. Furniture is excluded (body walk only).
    """
    headings: list[tuple[int, str]] = []  # (level, text) stack

    def set_heading(level: int, text: str) -> None:
        while headings and headings[-1][0] >= level:
            headings.pop()
        headings.append((level, text))

    def heading_path() -> list[str]:
        return [t for _, t in headings]

    def collect_list(group: GroupItem, depth: int,
                     texts: list, refs: list) -> None:
        for ref in group.children:
            child = doc.resolve(ref)
            if child.content_layer != BODY:
                continue
            if isinstance(child, GroupItem):
                if child.label in ("list", "ordered_list"):
                    collect_list(child, depth + 1, texts, refs)
                continue
            if isinstance(child, TextItem) and child.text.strip():
                texts.append(("  " * depth) + child.text)
                refs.append(child.self_ref)

    def walk(node) -> Iterator[dict]:
        for ref in node.children:
            child = doc.resolve(ref)
            if child.content_layer != BODY:
                continue
            if isinstance(child, GroupItem):
                if merge_list_items and child.label in ("list",
                                                        "ordered_list"):
                    texts: list[str] = []
                    refs: list[str] = []
                    collect_list(child, 0, texts, refs)
                    if texts:
                        yield {"text": "\n".join(texts), "label": "list",
                               "headings": heading_path(), "captions": [],
                               "doc_items": refs}
                    continue
                yield from walk(child)
                continue
            if isinstance(child, TableItem):
                caps = _caption_texts(doc, child)
                text = _table_text(doc, child)
                if text or caps:
                    yield {"text": text, "label": "table",
                           "headings": heading_path(), "captions": caps,
                           "doc_items": [child.self_ref]}
                continue
            if isinstance(child, PictureItem):
                caps = _caption_texts(doc, child)
                if caps:
                    yield {"text": "\n".join(caps), "label": "picture",
                           "headings": heading_path(), "captions": caps,
                           "doc_items": [child.self_ref]}
                continue
            if isinstance(child, TextItem):
                if child.label in _HEADING_CONTEXT:
                    level = (0 if child.label == "title"
                             else getattr(child, "level", 1))
                    if child.text.strip():
                        set_heading(level, child.text)
                elif child.text.strip():
                    yield {"text": child.text, "label": child.label,
                           "headings": heading_path(), "captions": [],
                           "doc_items": [child.self_ref]}
                if child.children:
                    yield from walk(child)

    yield from walk(doc.body)


def _split_oversized(chunk: dict, max_tokens: int,
                     counter=count_tokens_bpe) -> Iterator[dict]:
    """Greedy word-boundary split: each part carries as many words as fit
    under max_tokens by the active counter."""
    if counter(chunk["text"]) <= max_tokens:
        yield chunk
        return
    toks = chunk["text"].split()
    # running per-word token sum, not counter(' '.join(cur+[w])) per append —
    # that rescan is O(n^2) on crawl-scale oversized chunks. Exact for any
    # counter additive across whitespace boundaries (the default BPE
    # estimator is; verified counter(' '.join(ws)) == sum per-word).
    cur: list[str] = []
    cur_tokens = 0
    for w in toks:
        w_tokens = counter(" " + w if cur else w)
        if cur and cur_tokens + w_tokens > max_tokens:
            part = dict(chunk)
            part["text"] = " ".join(cur)
            yield part
            cur = [w]
            cur_tokens = counter(w)
        else:
            cur.append(w)
            cur_tokens += w_tokens
    if cur:
        part = dict(chunk)
        part["text"] = " ".join(cur)
        yield part


def hybrid_chunks(doc: Doc, max_tokens: int = 512,
                  merge_peers: bool = True,
                  merge_list_items: bool = True,
                  counter=count_tokens_bpe) -> Iterator[dict]:
    """Hybrid = hierarchical + split-oversized pass + merge-peers pass
    (successive undersized chunks with identical headings AND captions).
    ``counter`` is the pluggable tokenizer (reference HybridChunker takes
    an HF tokenizer); default is the deterministic BPE-ish estimator.
    """
    pieces: list[dict] = []
    for chunk in hierarchical_chunks(doc, merge_list_items):
        pieces.extend(_split_oversized(chunk, max_tokens, counter))
    if not merge_peers:
        yield from pieces
        return
    pending: Optional[dict] = None
    for chunk in pieces:
        if pending is None:
            pending = dict(chunk)
            continue
        same_ctx = (pending["headings"] == chunk["headings"]
                    and pending["captions"] == chunk["captions"])
        merged_len = (counter(pending["text"])
                      + counter(chunk["text"]))
        if same_ctx and merged_len <= max_tokens:
            pending["text"] = pending["text"] + "\n" + chunk["text"]
            pending["doc_items"] = pending["doc_items"] + chunk["doc_items"]
            pending["label"] = "merged"
        else:
            yield pending
            pending = dict(chunk)
    if pending is not None:
        yield pending


def contextualize(chunk: dict) -> str:
    """Metadata-enriched serialization used to feed an embedding model:
    heading path + captions prepended to the chunk text."""
    parts = list(chunk["headings"]) + list(chunk["captions"])
    parts.append(chunk["text"])
    return "\n".join(p for p in parts if p)


# ------------------------------------------------------------ Spark surface

def chunks_view(results, max_tokens: Optional[int] = None):
    """Explode extraction results (url, doc_json) into chunk rows.

    ``max_tokens=None`` -> hierarchical chunks; an int -> hybrid chunks at
    that budget. One Arrow batch per Python call; only (url, doc_json) are
    shipped to the workers (column pruning reaches the scan).
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                                   StructField, StructType)

    schema = StructType([
        StructField("url", StringType(), False),
        StructField("chunk_id", IntegerType(), False),
        StructField("label", StringType(), False),
        StructField("text", StringType(), False),
        StructField("headings", ArrayType(StringType()), False),
        StructField("n_tokens", IntegerType(), False),
        StructField("doc_items", ArrayType(StringType()), False),
    ])

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keep_spark_archives()
        for pdf in batches:
            out = {f.name: [] for f in schema.fields}
            for url, doc_json in zip(pdf["url"], pdf["doc_json"]):
                if doc_json is None:
                    continue
                try:
                    doc = doc_from_json(doc_json)
                    chunks = (hierarchical_chunks(doc)
                              if max_tokens is None
                              else hybrid_chunks(doc, max_tokens))
                    for i, chunk in enumerate(chunks):
                        out["url"].append(url)
                        out["chunk_id"].append(i)
                        out["label"].append(chunk["label"])
                        out["text"].append(chunk["text"])
                        out["headings"].append(chunk["headings"])
                        out["n_tokens"].append(count_tokens(chunk["text"]))
                        out["doc_items"].append(chunk["doc_items"])
                except Exception:
                    continue  # malformed doc_json: skip, never fail the task
            yield pd.DataFrame(out)

    cols = results.where(F.col("status") == "success").select(
        "url", "doc_json")
    return cols.mapInPandas(gen, schema=schema)


def token_window_chunks(documents, size: int = 128):
    """Fixed-size token-window chunking over a plain-text corpus in pure
    column algebra (split -> sequence -> posexplode -> slice). No Python;
    whole-stage-codegen eligible; DuckDB twin in ``oracle_sql``.

    Output: (doc_id, chunk_id, n_tokens, chunk_md5) - the md5 keeps the
    oracle compare small while still pinning the exact chunk text.
    """
    from pyspark.sql import functions as F

    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    n_chunks = F.ceil(n / F.lit(size)).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - 1)
    base = (documents
            .where(F.trim(F.col("text")) != "")
            .select("doc_id", toks.alias("toks"),
                    F.posexplode(idx).alias("chunk_id", "_i")))
    chunk = F.slice(F.col("toks"), F.col("chunk_id") * size + 1, size)
    return base.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )
