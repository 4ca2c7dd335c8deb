"""Deterministic synthesis of the Common-Crawl-style ``pages`` table.

Input contract (BASELINE.json ``input_hint``): columns
``url string, warc_ts timestamp, html binary, text string, lang string``.
No external data: payloads come from the reference's own HTML test corpus
(``/root/reference/tests/data/html/sources``) plus seeded template
expansion. The fixture rows are present only when that directory exists;
without it every row is synthetic. Every ``skew_every``-th row is an
oversized html blob, the long tail that largest-first partitioning
(``engine.partition_pages``) must start first (FIXTURES.md §1).

Generation is pure-Python + pyarrow (no JVM needed) and cached on disk, so
tests and bench runs share identical bytes.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import pathlib
import random

import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_DIR = pathlib.Path("/root/reference/tests/data/html/sources")
DEFAULT_CACHE = pathlib.Path(__file__).resolve().parents[1] / ".pages_cache"

_LANGS = ["en", "de", "fr", "es", "it", "nl", "pt", "sv"]

_PARA_POOL = [
    "Ducks are mostly aquatic birds found in both fresh water and sea water.",
    "The engine reads Arrow record batches and emits structured documents.",
    "Partition pruning and predicate pushdown keep the scan cost bounded.",
    "A salted repartition by url hash spreads skewed hosts across tasks.",
    "Layout analysis orders the clusters by a topological reading order.",
    "Large html payloads are routed to singleton slices before batching.",
    "Checkpoint manifests record each committed partition for resume.",
    "Boilerplate removal strips scripts, styles and hidden elements.",
]

_WORDS = ("data spark arrow parquet shuffle executor cluster page html "
          "table heading list item caption figure anchor span title "
          "paragraph section footer body text document extract").split()


def _synth_html(rng: random.Random, idx: int) -> bytes:
    """Seeded template expansion: heading/paragraph/list/table soup."""
    parts = [
        "<!DOCTYPE html><html><head><title>Synthetic page %d</title>"
        "<style>p{margin:0}</style><script>var x=1;</script></head><body>" % idx
    ]
    parts.append(f"<h1>Synthetic document {idx}</h1>")
    n_sections = rng.randint(1, 4)
    for s in range(n_sections):
        parts.append(f"<h2>Section {s} {rng.choice(_WORDS)}</h2>")
        for _ in range(rng.randint(1, 4)):
            words = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(8, 40)))
            deco = rng.random()
            if deco < 0.2:
                words = f"start <b>{words}</b> finish"
            elif deco < 0.3:
                words = f'see <a href="/page/{rng.randint(0, 999)}">{words}</a> here'
            parts.append(f"<p>{rng.choice(_PARA_POOL)} {words}</p>")
        if rng.random() < 0.4:
            items = "".join(
                f"<li>item {i} {rng.choice(_WORDS)}</li>"
                for i in range(rng.randint(2, 6)))
            parts.append(f"<ul>{items}</ul>")
        if rng.random() < 0.25:
            rows = []
            ncol = rng.randint(2, 4)
            for r in range(rng.randint(2, 5)):
                cells = "".join(
                    f"<td>{rng.choice(_WORDS)} {r}.{c}</td>" for c in range(ncol))
                rows.append(f"<tr>{cells}</tr>")
            parts.append(f"<table>{''.join(rows)}</table>")
        if rng.random() < 0.2:
            parts.append(
                f'<img src="img{idx}_{s}.png" alt="figure {s} of doc {idx}"/>')
    parts.append("<footer><p>footer boilerplate</p></footer></body></html>")
    return "".join(parts).encode("utf-8")


def _synth_markdown(rng: random.Random, idx: int) -> bytes:
    parts = [f"# Markdown doc {idx}", ""]
    for s in range(rng.randint(1, 3)):
        parts += [f"## Part {s}", ""]
        words = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 30)))
        parts += [f"{rng.choice(_PARA_POOL)} {words}", ""]
        if rng.random() < 0.5:
            parts += [f"- item {j} {rng.choice(_WORDS)}"
                      for j in range(rng.randint(2, 5))] + [""]
    return "\n".join(parts).encode("utf-8")


def _synth_csv(rng: random.Random, idx: int) -> bytes:
    cols = rng.randint(2, 5)
    lines = [",".join(f"col{c}" for c in range(cols))]
    for r in range(rng.randint(3, 12)):
        lines.append(",".join(f"{rng.choice(_WORDS)}{r}.{c}"
                              for c in range(cols)))
    return "\n".join(lines).encode("utf-8")


def generate_pages(
    n_rows: int,
    seed: int = 42,
    skew_every: int = 1000,
    skew_repeat: int = 400,
    include_fixtures: bool = True,
):
    """Yield pages rows deterministically.

    The first rows are the reference's HTML test corpus (``FIXTURE_DIR``),
    present only when ``include_fixtures`` is set and that directory
    exists; seeded synthetic rows fill the rest. Every ``skew_every``-th
    row is an oversized html blob (the body repeated ``skew_repeat`` times,
    ~1-5 MB at the default), whatever format its slot would otherwise get.
    """
    epoch = _dt.datetime(2024, 1, 1)
    rows = []
    i = 0
    if include_fixtures and FIXTURE_DIR.exists():
        for p in sorted(FIXTURE_DIR.glob("*.html")):
            raw = p.read_bytes()
            rows.append({
                "url": f"https://fixture.test/html/{p.stem}#%d" % i,
                "warc_ts": epoch + _dt.timedelta(seconds=i),
                "html": raw,
                "text": None,
                "lang": "en",
            })
            i += 1
            if len(rows) >= n_rows:
                return rows
    rng = random.Random(seed)
    while len(rows) < n_rows:
        # The oversized slot is tested first: with the defaults every
        # skew_every-th row also falls on a markdown or csv slot below.
        if skew_every and i % skew_every == skew_every - 1:
            # oversized html blob: repeat the body section many times
            head, _, tail = _synth_html(rng, i).partition(b"<body>")
            mid = tail.rsplit(b"</body>", 1)[0]
            body = head + b"<body>" + mid * skew_repeat + b"</body></html>"
            url = f"https://synth.test/{i % 64:02d}/{i}"
        # every 16th/17th row is a non-HTML format to exercise dispatch
        elif i % 16 == 7:
            body = _synth_markdown(rng, i)
            url = f"https://synth.test/{i % 64:02d}/{i}.md"
        elif i % 16 == 15:
            body = _synth_csv(rng, i)
            url = f"https://synth.test/{i % 64:02d}/{i}.csv"
        else:
            body = _synth_html(rng, i)
            url = f"https://synth.test/{i % 64:02d}/{i}"
        rows.append({
            "url": url,
            "warc_ts": epoch + _dt.timedelta(seconds=i),
            "html": body,
            "text": None,
            "lang": _LANGS[i % len(_LANGS)],
        })
        i += 1
    return rows


def pages_schema() -> pa.schema:
    return pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])


def write_pages_parquet(path, n_rows: int, seed: int = 42,
                        skew_every: int = 1000, skew_repeat: int = 400,
                        n_files: int | None = None) -> str:
    """Write the pages table as a DIRECTORY of part files.

    A single parquet file caps the scan (and any following shuffle write)
    at one task; real Common-Crawl-style tables are thousands of files, so
    the synthetic corpus mirrors that - one part per ~2k rows."""
    path = pathlib.Path(path)
    rows = generate_pages(n_rows, seed=seed, skew_every=skew_every,
                          skew_repeat=skew_repeat)
    if n_files is None:
        n_files = max(1, min(64, n_rows // 2048))
    path.mkdir(parents=True, exist_ok=True)
    chunk = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        part = rows[i * chunk:(i + 1) * chunk]
        if not part:
            break
        table = pa.Table.from_pylist(part, schema=pages_schema())
        pq.write_table(table, path / f"part-{i:04d}.parquet",
                       row_group_size=max(256, len(part) // 4))
    return str(path)


def _fixture_digest() -> str:
    """Digest of the fixture rows ``generate_pages`` adds: the names and
    bytes of ``FIXTURE_DIR/*.html``, none when that directory is absent."""
    h = hashlib.sha256()
    if FIXTURE_DIR.exists():
        for p in sorted(FIXTURE_DIR.glob("*.html")):
            raw = p.read_bytes()
            h.update(f"{p.name}\0{len(raw)}\0".encode() + raw)
    return h.hexdigest()[:12]


def ensure_pages(n_rows: int, seed: int = 42, cache_dir=None,
                 skew_every: int = 1000, skew_repeat: int = 400) -> str:
    """Idempotent cached generation keyed by the parameters and the fixture
    set, so a corpus that appears (or changes) later gets a fresh table."""
    cache_dir = pathlib.Path(cache_dir or DEFAULT_CACHE)
    key = hashlib.sha256(
        f"{n_rows}|{seed}|{skew_every}|{skew_repeat}|{_fixture_digest()}|v5"
        .encode()).hexdigest()[:12]
    out = cache_dir / f"pages_{n_rows}_{key}.parquet"
    if not (out / "_DONE").exists():
        write_pages_parquet(out, n_rows, seed=seed, skew_every=skew_every,
                            skew_repeat=skew_repeat)
        (out / "_DONE").touch()
    return str(out)
