"""Seeded input generator for the extraction benchmark.

Everything here is a pure function of ``(seed, n)``: the same seed gives
byte-identical inputs.  The seed picks content and row order; the amount
of work does not depend on it.  Row counts per kind are fixed, and the
sizes of medium and oversized pages and the page counts of PDFs are spread
evenly over their ranges, so runs with different seeds stay comparable.  The engine only ever sees the result as a parquet
table ``(url string, html binary)``, written under the benchmark's work
directory and cached there by a key that includes ``GEN_VERSION``.

Two tables:

- ``crawl_rows`` - a Common-Crawl-like size mix: mostly small template
  pages, ~10% medium pages (10-60 KB), about 1 row in 2,000 oversized
  (0.5-2 MB), 1/16 markdown and csv rows, 1% born-digital PDFs of 1-16
  pages (a crawl stores PDFs too), and a fixed share of poison rows
  (a corrupt ``.docx`` and a header-only ``.pdf``) that must come back as
  ``status='failure'``.  The oversized rows are injected here on purpose:
  ``docling_spark.pages.generate_pages`` cannot produce them, because every
  row with ``i % 1000 == 999`` also has ``i % 16`` in ``{7, 15}``, so its
  md/csv branch always wins over the skew branch.
- ``pdf_rows`` - born-digital multi-page PDFs (1-16 pages, std-14 fonts,
  FlateDecode content, headings, one and two columns, ruled tables), written
  by the minimal writer below.  A few are truncated: some recover partially
  and some fail.
"""

from __future__ import annotations

import random
import zlib

GEN_VERSION = 1

_WORDS = ("crawl parquet arrow shuffle executor cluster page table heading "
          "list item caption figure anchor span title paragraph section "
          "footer body text document extract record batch schema column "
          "partition manifest bucket commit stage task driver worker").split()

_SENTENCES = [
    "Columnar batches cross the Python boundary once per partition.",
    "The crawler stores every response body next to its capture time.",
    "Scan cost grows with the bytes a query has to read from storage.",
    "Oversized pages are rare but they decide when the last task ends.",
    "Reading order follows the layout from top to bottom and left to right.",
    "Markup that is hidden from the reader never reaches the output.",
    "A commit manifest records which buckets are already written.",
    "Navigation blocks and cookie banners are boilerplate, not content.",
]


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _html_section(rng: random.Random, idx: int, s: int) -> str:
    parts = [f"<h2>Section {s} {rng.choice(_WORDS)}</h2>"]
    for _ in range(rng.randint(1, 4)):
        text = f"{rng.choice(_SENTENCES)} {_words(rng, 8, 40)}"
        r = rng.random()
        if r < 0.2:
            text = f"lead <strong>{text}</strong> tail"
        elif r < 0.3:
            text = f'read <a href="/doc/{rng.randint(0, 9999)}">{text}</a> on'
        elif r < 0.35:
            text = f"run <code>{rng.choice(_WORDS)}()</code> then {text}"
        parts.append(f"<p>{text}</p>")
    r = rng.random()
    if r < 0.35:
        tag = "ol" if rng.random() < 0.3 else "ul"
        items = "".join(f"<li>entry {i} {_words(rng, 1, 6)}</li>"
                        for i in range(rng.randint(2, 7)))
        parts.append(f"<{tag}>{items}</{tag}>")
    elif r < 0.6:
        ncol = rng.randint(2, 5)
        head = "".join(f"<th>col {c}</th>" for c in range(ncol))
        rows = "".join(
            "<tr>" + "".join(f"<td>{rng.choice(_WORDS)} {row}.{c}</td>"
                             for c in range(ncol)) + "</tr>"
            for row in range(rng.randint(2, 6)))
        parts.append(f"<table><tr>{head}</tr>{rows}</table>")
    if rng.random() < 0.15:
        parts.append(f'<figure><img src="f{idx}_{s}.png" alt="plot {s}"/>'
                     f"<figcaption>Figure {s}: {_words(rng, 3, 8)}"
                     "</figcaption></figure>")
    return "".join(parts)


def _html_page(rng: random.Random, idx: int, min_bytes: int = 0) -> bytes:
    """A template page; sections are appended until ``min_bytes``."""
    head = (f"<!DOCTYPE html><html><head><title>Crawl page {idx}</title>"
            "<style>p{margin:0}</style><script>var t=1;</script></head><body>"
            f'<nav><a href="/">home</a> | <a href="/about">about</a></nav>'
            f"<h1>Crawled document {idx}</h1>")
    tail = "<footer><p>footer boilerplate</p></footer></body></html>"
    body = []
    size = len(head) + len(tail)
    n_sections = rng.randint(1, 4)
    s = 0
    while s < n_sections or size < min_bytes:
        sec = _html_section(rng, idx, s)
        body.append(sec)
        size += len(sec)
        s += 1
    return (head + "".join(body) + tail).encode("utf-8")


def _markdown(rng: random.Random, idx: int) -> bytes:
    lines = [f"# Notes {idx}", ""]
    for s in range(rng.randint(1, 3)):
        lines += [f"## Part {s}", "",
                  f"{rng.choice(_SENTENCES)} {_words(rng, 10, 30)}", ""]
        if rng.random() < 0.5:
            lines += [f"- point {j} {rng.choice(_WORDS)}"
                      for j in range(rng.randint(2, 5))] + [""]
    return "\n".join(lines).encode("utf-8")


def _csv(rng: random.Random, idx: int) -> bytes:
    ncol = rng.randint(2, 5)
    lines = [",".join(f"c{c}" for c in range(ncol))]
    lines += [",".join(f"{rng.choice(_WORDS)}{r}.{c}" for c in range(ncol))
              for r in range(rng.randint(3, 12))]
    return "\n".join(lines).encode("utf-8")


def _poison(rng: random.Random, k: int) -> tuple[str, bytes]:
    """A row every converter must reject: a corrupt zip or a PDF cut
    inside an object."""
    if k % 2 == 0:
        return "docx", b"PK\x03\x04" + rng.randbytes(512)
    return "pdf", _truncate(write_pdf(rng, k, 2), 2, fail=True)


def _spread(rng: random.Random, n: int, lo: int, hi: int) -> list[int]:
    """``n`` values evenly spaced over [lo, hi], in seeded order."""
    vals = [lo + round((hi - lo) * (k + 0.5) / n) for k in range(n)]
    rng.shuffle(vals)
    return vals


def crawl_rows(seed: int, n: int) -> tuple[list[tuple[str, bytes]], int]:
    """``n`` (url, bytes) rows of the crawl mix and the poison-row count."""
    rng = random.Random(f"crawl/{seed}")
    counts = {"big": max(1, round(n / 2000)), "poison": max(2, n // 400),
              "md": n // 32, "csv": n // 32, "mid": n // 10,
              "pdf": n // 100}
    kinds = [k for k, c in counts.items() for _ in range(c)]
    kinds += ["small"] * (n - len(kinds))
    rng.shuffle(kinds)
    sizes = {"mid": _spread(rng, counts["mid"], 10_000, 60_000),
             "big": _spread(rng, counts["big"], 500_000, 2_000_000),
             "pdf": _spread(rng, counts["pdf"], 1, 16)}
    rows = []
    n_poisoned = 0
    for i, kind in enumerate(kinds):
        host = f"h{rng.randrange(97):02d}.crawl.test"
        if kind == "small":
            rows.append((f"https://{host}/p/{i}", _html_page(rng, i)))
        elif kind in ("mid", "big"):
            rows.append((f"https://{host}/p/{i}",
                         _html_page(rng, i, sizes[kind].pop())))
        elif kind == "md":
            rows.append((f"https://{host}/notes/{i}.md", _markdown(rng, i)))
        elif kind == "csv":
            rows.append((f"https://{host}/data/{i}.csv", _csv(rng, i)))
        elif kind == "pdf":
            rows.append((f"https://{host}/files/{i}.pdf",
                         write_pdf(rng, i, sizes["pdf"].pop())))
        else:
            ext, raw = _poison(rng, n_poisoned)
            rows.append((f"https://{host}/files/{i}.{ext}", raw))
            n_poisoned += 1
    return rows, n_poisoned


# ------------------------------------------------------------ PDF writer

_FONTS = {"F1": b"Helvetica", "F2": b"Helvetica-Bold", "F3": b"Times-Roman",
          "F4": b"Courier"}


def _pdf_escape(text: str) -> bytes:
    return (text.replace("\\", "\\\\").replace("(", "\\(")
            .replace(")", "\\)").encode("latin-1"))


def _wrap(text: str, width_chars: int) -> list[str]:
    lines, cur = [], ""
    for w in text.split():
        if cur and len(cur) + 1 + len(w) > width_chars:
            lines.append(cur)
            cur = w
        else:
            cur = f"{cur} {w}" if cur else w
    if cur:
        lines.append(cur)
    return lines


def _pdf_page_content(rng: random.Random, doc: int, page: int) -> bytes:
    """Content stream of one US-letter page: heading, body in one or two
    columns, sometimes a ruled table."""
    ops = []

    def text(font: str, size: float, x: float, y: float, s: str) -> None:
        ops.append(b"BT /%s %g Tf %g %g Td (%s) Tj ET"
                   % (font.encode(), size, x, y, _pdf_escape(s)))

    y = 740.0
    text("F2", 16, 72, y, f"{page + 1} Section {rng.choice(_WORDS)} of "
                          f"report {doc}")
    y -= 30
    two_col = rng.random() < 0.4
    cols = [(72.0, 38), (318.0, 38)] if two_col else [(72.0, 88)]
    body_font = rng.choice(["F1", "F3"])
    table_at = rng.randint(0, 2) if rng.random() < 0.35 else -1
    for col_x, chars in cols:
        cy = y
        for p in range(rng.randint(2, 4)):
            if p == table_at and not two_col:
                cy = _pdf_table(rng, ops, text, cy)
                continue
            if rng.random() < 0.25:
                text("F2", 12, col_x, cy, f"{p + 1}.{page} "
                     f"{rng.choice(_WORDS).title()} {rng.choice(_WORDS)}")
                cy -= 20
            para = " ".join(f"{rng.choice(_SENTENCES)} {_words(rng, 5, 15)}"
                            for _ in range(rng.randint(2, 4)))
            for line in _wrap(para, chars):
                if cy < 90:
                    break
                text(body_font, 10, col_x, cy, line)
                cy -= 12
            cy -= 10
    text("F4", 8, 300, 40, str(page + 1))
    return b"\n".join(ops)


def _pdf_table(rng, ops, text, y: float) -> float:
    """A ruled grid table: cell text plus stroked row and column rules."""
    ncol, nrow = rng.randint(3, 5), rng.randint(3, 6)
    col_w, row_h = 468.0 / ncol, 16.0
    top = y + 4
    for r in range(nrow):
        for c in range(ncol):
            s = f"h{c}" if r == 0 else f"{rng.randint(0, 999)}.{c}"
            text("F2" if r == 0 else "F1", 9, 76 + c * col_w,
                 y - r * row_h - 8, s)
    bottom = top - nrow * row_h
    for r in range(nrow + 1):
        ops.append(b"72 %g m 540 %g l S" % (top - r * row_h,
                                             top - r * row_h))
    for c in range(ncol + 1):
        ops.append(b"%g %g m %g %g l S" % (72 + c * col_w, top,
                                            72 + c * col_w, bottom))
    return bottom - 20


def write_pdf(rng: random.Random, doc: int, n_pages: int) -> bytes:
    """A born-digital PDF with a classic xref table, written the same way
    as the minimal writers in tests/test_pdf.py."""
    font_nums = {name: 3 + i for i, name in enumerate(_FONTS)}
    first_page = 3 + len(_FONTS)
    objs: dict[int, bytes] = {1: b"<< /Type /Catalog /Pages 2 0 R >>"}
    kids = []
    fonts = b" ".join(b"/%s %d 0 R" % (k.encode(), n)
                      for k, n in font_nums.items())
    for k, n in font_nums.items():
        objs[n] = (b"<< /Type /Font /Subtype /Type1 /BaseFont /%s "
                   b"/Encoding /WinAnsiEncoding >>" % _FONTS[k])
    for p in range(n_pages):
        page_num, content_num = first_page + 2 * p, first_page + 2 * p + 1
        kids.append(b"%d 0 R" % page_num)
        objs[page_num] = (b"<< /Type /Page /Parent 2 0 R "
                          b"/MediaBox [0 0 612 792] /Resources << /Font << "
                          + fonts + b" >> >> /Contents %d 0 R >>"
                          % content_num)
        data = zlib.compress(_pdf_page_content(rng, doc, p))
        objs[content_num] = (b"<< /Length %d /Filter /FlateDecode >>\n"
                             b"stream\n" % len(data) + data
                             + b"\nendstream")
    objs[2] = (b"<< /Type /Pages /Kids [" + b" ".join(kids)
               + b"] /Count %d >>" % n_pages)
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref = len(out)
    size = max(objs) + 1
    out += b"xref\n0 %d\n0000000000 65535 f \n" % size
    out += b"".join(b"%010d 00000 n \n" % offsets[n] for n in range(1, size))
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (size, xref))
    return bytes(out)


def _truncate(raw: bytes, n_pages: int, fail: bool) -> bytes:
    """Cut a PDF of at least two pages before its second half of page
    objects.  The xref is gone, but the catalog, fonts and first pages
    survive, so the reader recovers them.  With ``fail`` the cut lands 25
    bytes into the next page object, which the reader rejects."""
    pos = 0
    for _ in range(n_pages // 2 + 1):
        pos = raw.find(b"<< /Type /Page /Parent", pos) + 1
    cut = raw.rfind(b"\nendobj\n", 0, pos) + 8
    return raw[:cut + (25 if fail else 0)]


def pdf_rows(seed: int, n: int) -> tuple[list[tuple[str, bytes]], int]:
    """``n`` (url, bytes) PDF rows and the count that must fail.

    Every 16th document is truncated so that it recovers partially, and
    every 16th (offset by 8) so that it fails; both have at least two
    pages."""
    rng = random.Random(f"pdf/{seed}")
    rows = []
    n_fail = 0
    for i in range(n):
        cut = i % 16 in (5, 13)
        n_pages = 1 + 7 * i % 16          # each of 1..16 equally often
        raw = write_pdf(rng, i, n_pages)
        if cut:
            raw = _truncate(raw, n_pages, fail=i % 16 == 13)
            n_fail += i % 16 == 13
        rows.append((f"https://docs.test/r/{seed}/{i}.pdf", raw))
    return rows, n_fail


def write_table(rows: list[tuple[str, bytes]], path: str,
                n_files: int = 4) -> None:
    """Write ``(url, html)`` rows as a directory of parquet part files."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path, exist_ok=True)
    schema = pa.schema([("url", pa.string()), ("html", pa.binary())])
    step = -(-len(rows) // n_files)
    for k in range(n_files):
        part = rows[k * step:(k + 1) * step]
        urls, blobs = zip(*part) if part else ((), ())
        pq.write_table(pa.table([list(urls), list(blobs)], schema=schema),
                       os.path.join(path, f"part-{k:03d}.parquet"))
