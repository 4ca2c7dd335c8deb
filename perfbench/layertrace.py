"""Layer tracing by replay: the workload's docs, one driver process, spans.

The engine runs untraced.  The traced run converts the same generated docs
again, in this process, through the public functions of each layer, with a
span around every call:

    engine.doc                      one per document: convert + serializers
      extractor.convert             HtmlExtractor.convert
        dom.parse                   dom.parse_html, as the extractor calls it
      formats.convert               convert_markdown / convert_csv
      pdfdoc.convert                convert_pdf
        pdftext.cells               extract_page_cells, as convert_pdf calls it
          pdfio.open                PdfDocument(raw) and its page-tree walk
      msword.convert                convert_docx
      serialize.md / .itxt / .json  to_markdown / to_indented_text / to_json

The calls inside a converter are reached by swapping the module attribute
the converter looks up (``extractor.parse_html``, ``pdfdoc.
extract_page_cells``, ``pdftext.PdfDocument``) for a timed wrapper, and
swapping it back afterwards; nothing inside ``docling_spark`` records time.
Spans live in memory as (name, start, end, parent, doc) and are written out
when the replay ends.  A layer's self time is its span's duration minus
the time its child spans cover.  The replay also runs once without spans;
the difference is the tracing overhead.
"""

from __future__ import annotations

import hashlib
import json
import time
from contextlib import contextmanager

from docling_spark import extractor as _extractor
from docling_spark import pdfdoc as _pdfdoc
from docling_spark import pdftext as _pdftext
from docling_spark.extractor import HtmlExtractor
from docling_spark.formats import convert_csv, convert_markdown
from docling_spark.msword import convert_docx
from docling_spark.pdfdoc import convert_pdf
from docling_spark.serialize import to_indented_text, to_json, to_markdown


class Tracer:
    """In-memory span recorder for one thread."""

    def __init__(self):
        self.spans: list[list] = []   # [name, start, end, parent, doc]
        self._stack: list[int] = []
        self.doc = -1

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), 0.0, parent, self.doc])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def wrap(self, name: str, fn):
        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return timed

    def self_times(self) -> list[float]:
        """Per span: duration minus the summed duration of its children
        (children of one span never overlap in a single thread)."""
        own = [end - start for _, start, end, _, _ in self.spans]
        for _, start, end, parent, _ in self.spans:
            if parent >= 0:
                own[parent] -= end - start
        return own

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, doc in self.spans:
                f.write(json.dumps([name, start, end, parent, doc]) + "\n")


class _NoTracer:
    @contextmanager
    def span(self, name: str):
        yield


@contextmanager
def _layer_hooks(tr: Tracer):
    """Swap the inner-layer entry points the converters look up for timed
    wrappers; restore them on exit."""
    real_parse = _extractor.parse_html
    real_cells = _pdfdoc.extract_page_cells
    real_open = _pdftext.PdfDocument

    def open_pdf(*args, **kwargs):
        with tr.span("pdfio.open"):
            doc = real_open(*args, **kwargs)
        doc.pages = tr.wrap("pdfio.open", doc.pages)
        return doc

    _extractor.parse_html = tr.wrap("dom.parse", real_parse)
    _pdfdoc.extract_page_cells = tr.wrap("pdftext.cells", real_cells)
    _pdftext.PdfDocument = open_pdf
    try:
        yield
    finally:
        _extractor.parse_html = real_parse
        _pdfdoc.extract_page_cells = real_cells
        _pdftext.PdfDocument = real_open


def _naming(url: str, raw: bytes) -> tuple[str, str, str, int]:
    """(ext, name, filename tail, binary hash) as the engine derives them
    from a row's url and bytes."""
    tail = url.rsplit("/", 1)[-1].split("#")[0] or "page"
    ext = tail.rsplit(".", 1)[-1].lower() if "." in tail else "html"
    name = tail.rsplit(".", 1)[0] if "." in tail else tail
    bh = int.from_bytes(hashlib.sha256(raw).digest()[-8:], "big")
    return ext, name, tail, bh


def convert_one(url: str, raw: bytes, html: HtmlExtractor, tr=None):
    """Convert and serialize one doc through the public layer functions.
    Returns ``(status, md, itxt, doc_json, n_pages)``."""
    tr = tr or _NoTracer()
    ext, name, tail, bh = _naming(url, raw)
    with tr.span("engine.doc"):
        try:
            if ext == "pdf" or raw[:5] == b"%PDF-":
                with tr.span("pdfdoc.convert"):
                    doc = convert_pdf(raw, name=name, filename=tail,
                                      binary_hash=bh, password="")
            elif ext in ("md", "csv"):
                fn = convert_markdown if ext == "md" else convert_csv
                with tr.span("formats.convert"):
                    doc = fn(raw, name=name, filename=tail, binary_hash=bh)
            elif ext == "docx":
                with tr.span("msword.convert"):
                    doc = convert_docx(raw, name=name, filename=tail,
                                       binary_hash=bh)
            else:
                with tr.span("extractor.convert"):
                    doc = html.convert(raw, name=name,
                                       filename=name + ".html",
                                       binary_hash=bh)
            with tr.span("serialize.md"):
                md = to_markdown(doc)
            with tr.span("serialize.itxt"):
                itxt = to_indented_text(doc)
            with tr.span("serialize.json"):
                js = to_json(doc)
        except Exception:  # the engine's per-doc failure envelope
            return "failure", None, None, None, 0
    return "success", md, itxt, js, len(doc.pages)


def row_digest(status, md, itxt, doc_json) -> str:
    h = hashlib.sha256(status.encode())
    for part in (md, itxt, doc_json):
        h.update(b"\x00" if part is None else b"\x01" + part.encode())
    return h.hexdigest()


def _pct(xs: list[float], q: float) -> float:
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def layer_metrics(rows, spans_path: str) -> dict[str, float]:
    """Convert every row twice, with and without spans, and return the
    per-layer self times.  The two passes alternate doc by doc, and which
    one goes first alternates too, so machine drift and warm caches fall
    on both sides of ``trace.overhead_s`` alike."""
    tr = Tracer()
    html = HtmlExtractor()
    plain_s = traced_s = 0.0
    out_bytes = pages = 0
    for i, (url, raw) in enumerate(rows):
        tr.doc = i
        for traced in ((True, False) if i % 2 else (False, True)):
            t0 = time.perf_counter()
            if traced:
                with _layer_hooks(tr):
                    _, md, itxt, js, n = convert_one(url, raw, html, tr)
                traced_s += time.perf_counter() - t0
            else:
                convert_one(url, raw, html)
                plain_s += time.perf_counter() - t0
        pages += n
        out_bytes += sum(len(p.encode()) for p in (md, itxt, js) if p)
    tr.dump(spans_path)
    own = tr.self_times()
    total: dict[str, float] = {}
    parse_per_doc: dict[int, float] = {}
    doc_ms: list[float] = []
    for (name, start, end, _, doc), s in zip(tr.spans, own):
        total[name] = total.get(name, 0.0) + s
        if name == "dom.parse":
            parse_per_doc[doc] = parse_per_doc.get(doc, 0.0) + s * 1e3
        elif name == "engine.doc":
            doc_ms.append((end - start) * 1e3)
    per_page = 1e3 / pages if pages else 0.0
    parse_ms = list(parse_per_doc.values())

    def ms(name):
        return total.get(name, 0.0) * 1e3

    return {
        "dom.parse_ms": ms("dom.parse"),
        "dom.parse_ms_p50": _pct(parse_ms, 0.5),
        "dom.parse_ms_p99": _pct(parse_ms, 0.99),
        "extractor.walk_ms": ms("extractor.convert"),
        "formats.convert_ms": ms("formats.convert"),
        "msword.convert_ms": ms("msword.convert"),
        "serialize.md_ms": ms("serialize.md"),
        "serialize.itxt_ms": ms("serialize.itxt"),
        "serialize.json_ms": ms("serialize.json"),
        "serialize.out_bytes": float(out_bytes),
        "pdfio.open_ms_per_page": total.get("pdfio.open", 0.0) * per_page,
        "pdftext.cells_ms_per_page":
            total.get("pdftext.cells", 0.0) * per_page,
        "pdfdoc.assemble_ms_per_page":
            total.get("pdfdoc.convert", 0.0) * per_page,
        "engine.dispatch_ms": ms("engine.doc"),
        "engine.doc_ms_p50": _pct(doc_ms, 0.5),
        "engine.doc_ms_p99": _pct(doc_ms, 0.99),
        "replay.self_s": sum(own),
        "replay.plain_s": plain_s,
        "trace.overhead_s": traced_s - plain_s,
        "trace.overhead_share": (traced_s - plain_s) / plain_s,
    }
