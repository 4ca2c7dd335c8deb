"""From-scratch WARC/1.0 source: Common-Crawl's wire format -> the
pages table shape (url, warc_ts, html, text, lang).

The north-rule input is an Iceberg table of Common-Crawl-style pages;
this module is the INGEST step that builds it from raw crawl output.
Format per ISO 28500: records are ``WARC/1.0\\r\\n`` + headers +
``\\r\\n`` + Content-Length payload bytes + ``\\r\\n\\r\\n``; a
``.warc.gz`` stores each record as its own gzip member (the CC layout,
which is what makes per-record random access and parallel splitting
possible). Response records carry an HTTP message whose body is the
page; the HTTP head is stripped here.

Spark shape: ``spark.read.format("binaryFile")`` lists the archive
files (one task per file - WARC files are written ~1 GB each precisely
so file-granular parallelism works), and an Arrow-batched
``mapInPandas`` walks records with pure-stdlib parsing. Malformed
records are skipped, never fatal - the per-file lineage row carries the
skip count, mirroring the extraction error envelopes.
"""

from __future__ import annotations

import datetime as _dt
import gzip
import io
import zlib

from pyspark.sql import DataFrame

from . import keep_spark_archives

WARC_SCHEMA = ("url string, warc_ts timestamp, html binary, "
               "text string, lang string, warc_type string, "
               "source_file string")

_CRLF2 = b"\r\n\r\n"


_GZ_CHUNK = 1 << 20


def _gunzip_members(data: bytes):
    """Yield (member bytes, compressed offset, compressed length) per
    gzip member (CC-style member-per-record) - the offsets are what a
    CDX index records so fleet readers can range-GET one record.

    Walks a zero-copy memoryview in bounded chunks so a ~1 GB archive
    with tens of thousands of members costs O(n) memcpy total, not
    O(n * members): each member's decompressor is fed <=1 MiB slices
    until ``eof``, and the only per-member copy is the <=1 MiB
    ``unused_data`` tail of its final chunk."""
    mv = memoryview(data)
    n = len(data)
    pos = 0
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        out = []
        fed = 0
        try:
            while not d.eof and pos + fed < n:
                piece = mv[pos + fed: pos + fed + _GZ_CHUNK]
                out.append(d.decompress(piece))
                fed += len(piece)
        except zlib.error:
            return
        if not d.eof:
            return  # truncated final member
        consumed = fed - len(d.unused_data)
        if consumed <= 0:
            return
        yield b"".join(out), pos, consumed
        pos += consumed


def parse_warc(data: bytes, source_file: str = "",
               with_offsets: bool = False):
    """Parse one WARC file's bytes into page rows (list of dicts).

    Handles both plain ``.warc`` and member-per-record ``.warc.gz``.
    Returns (rows, n_records, n_skipped); with ``with_offsets`` every
    row also carries (record_offset, record_length) in the ARCHIVE file
    (compressed offsets for .gz) - the CDX random-access coordinates."""
    if data[:2] == b"\x1f\x8b":
        blobs = _gunzip_members(data)
    else:
        blobs = _split_plain(data)
    rows, n_rec, n_skip = [], 0, 0
    for blob, off, rlen in blobs:
        n_rec += 1
        row = _parse_record(blob, source_file)
        if row is None:
            n_skip += 1
        elif row:
            if with_offsets:
                row["record_offset"] = off
                row["record_length"] = rlen
            rows.append(row)
    return rows, n_rec, n_skip


def _split_plain(data: bytes):
    """Split a plain (uncompressed) WARC stream into (blob, offset,
    length) records by walking Content-Length - never by scanning
    payloads for magic."""
    pos = 0
    n = len(data)
    while pos < n:
        head_end = data.find(_CRLF2, pos)
        if head_end < 0:
            return
        head = data[pos:head_end]
        clen = _content_length(head)
        if clen is None:
            return
        end = head_end + 4 + clen
        rec_end = end
        while data[rec_end:rec_end + 2] == b"\r\n":
            rec_end += 2
        yield data[pos:end], pos, rec_end - pos
        pos = rec_end


def _content_length(head: bytes):
    for line in head.split(b"\r\n"):
        if line.lower().startswith(b"content-length:"):
            try:
                return int(line.split(b":", 1)[1].strip())
            except ValueError:
                return None
    return None


def _parse_warc_date(raw_ts: str):
    """WARC-Date -> datetime; WARC 1.0 mandates second precision but
    WARC 1.1 allows fractional seconds and some writers emit them -
    accept both rather than silently dropping the record."""
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return _dt.datetime.strptime(raw_ts, fmt)
        except ValueError:
            continue
    return None


def _http_body(payload: bytes) -> bytes:
    """HTTP response message -> entity bytes: split the head at the
    first blank line (CRLF or bare-LF header framing - real crawls
    contain both), then undo ``Transfer-Encoding: chunked`` framing and
    ``Content-Encoding: gzip/deflate``. Never raises; an undecodable
    layer is left as-is (downstream sniffing skips it)."""
    i_crlf = payload.find(_CRLF2)
    i_lf = payload.find(b"\n\n")
    if i_crlf < 0 and i_lf < 0:
        return b""
    if i_lf >= 0 and (i_crlf < 0 or i_lf < i_crlf):
        head, body = payload[:i_lf], payload[i_lf + 2:]
    else:
        head, body = payload[:i_crlf], payload[i_crlf + 4:]
    te = ce = b""
    for line in head.split(b"\n"):
        line = line.rstrip(b"\r")
        k, sep, v = line.partition(b":")
        if not sep:
            continue
        k = k.strip().lower()
        if k == b"transfer-encoding":
            te = v.strip().lower()
        elif k == b"content-encoding":
            ce = v.strip().lower()
    if b"chunked" in te:
        dechunked = _dechunk(body)
        if dechunked is not None:
            body = dechunked
    if ce in (b"gzip", b"x-gzip", b"deflate"):
        for wbits in (47, -15):  # 47 = auto zlib/gzip; -15 = raw deflate
            try:
                body = zlib.decompress(body, wbits)
                break
            except zlib.error:
                continue
    return body


def _dechunk(body: bytes):
    """Undo HTTP/1.1 chunked framing; None if the framing is invalid
    (caller keeps the raw bytes)."""
    out = []
    pos = 0
    n = len(body)
    while pos < n:
        j = body.find(b"\n", pos)
        if j < 0:
            return None
        tok = body[pos:j].strip().split(b";")[0]
        try:
            size = int(tok, 16)
        except ValueError:
            return None
        pos = j + 1
        if size == 0:
            break
        if pos + size > n:
            return None
        out.append(body[pos:pos + size])
        pos += size
        if body[pos:pos + 2] == b"\r\n":
            pos += 2
        elif body[pos:pos + 1] == b"\n":
            pos += 1
    return b"".join(out)


def _parse_record(blob: bytes, source_file: str):
    """One record blob -> page row dict, {} for non-response records,
    None for malformed ones."""
    if not blob.startswith(b"WARC/"):
        return None
    head_end = blob.find(_CRLF2)
    if head_end < 0:
        return None
    headers = {}
    for line in blob[:head_end].split(b"\r\n")[1:]:
        k, _, v = line.partition(b":")
        if _:
            headers[k.strip().lower()] = v.strip()
    clen = _content_length(blob[:head_end])
    if clen is None:
        return None
    payload = blob[head_end + 4:head_end + 4 + clen]
    if len(payload) < clen:
        return None  # truncated record
    wtype = headers.get(b"warc-type", b"").decode("ascii", "replace")
    if wtype != "response":
        return {}
    uri = headers.get(b"warc-target-uri", b"").decode("utf-8", "replace")
    if not uri:
        return None
    raw_ts = headers.get(b"warc-date", b"").decode("ascii", "replace")
    ts = _parse_warc_date(raw_ts)
    if ts is None:
        return None
    # response payload is an HTTP message: strip the status+header
    # block and undo chunked framing / gzip content-coding
    if payload[:5] in (b"HTTP/",):
        body = _http_body(payload)
    else:
        body = payload
    return {
        "url": uri,
        "warc_ts": ts,
        "html": body,
        "text": None,
        "lang": None,
        "warc_type": wtype,
        "source_file": source_file,
    }


def _warc_batches(batches):
    keep_spark_archives()
    import pandas as pd
    for pdf in batches:
        out = {k: [] for k in ("url", "warc_ts", "html", "text", "lang",
                               "warc_type", "source_file")}
        for path, content in zip(pdf["path"], pdf["content"]):
            try:
                rows, _, _ = parse_warc(bytes(content), str(path))
            except Exception:
                rows = []
            for r in rows:
                for k in out:
                    out[k].append(r[k])
        yield pd.DataFrame(out)


def read_warc(spark, path: str) -> DataFrame:
    """WARC archive directory -> pages-shaped DataFrame.

    One task per archive file (binaryFile source); stdlib record walk
    inside an Arrow-batched ``mapInPandas``. The output drops straight
    into ``engine.extract_pages`` / the Iceberg pages table writer.
    """
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.warc*")
             .load(path)
             .select("path", "content"))
    return files.mapInPandas(_warc_batches, schema=WARC_SCHEMA)


CDX_SCHEMA = ("url string, warc_ts timestamp, digest string, "
              "record_offset long, record_length long, "
              "source_file string")


def _cdx_batches(batches):
    keep_spark_archives()
    import hashlib

    import pandas as pd
    for pdf in batches:
        out = {k: [] for k in ("url", "warc_ts", "digest",
                               "record_offset", "record_length",
                               "source_file")}
        for path, content in zip(pdf["path"], pdf["content"]):
            try:
                rows, _, _ = parse_warc(bytes(content), str(path),
                                        with_offsets=True)
            except Exception:
                rows = []
            for r in rows:
                out["url"].append(r["url"])
                out["warc_ts"].append(r["warc_ts"])
                out["digest"].append(
                    hashlib.sha256(r["html"]).hexdigest())
                out["record_offset"].append(r["record_offset"])
                out["record_length"].append(r["record_length"])
                out["source_file"].append(r["source_file"])
        yield pd.DataFrame(out)


def cdx_index(spark, path: str) -> DataFrame:
    """CDX-style random-access index over a WARC archive directory:
    one row per response record with its (compressed) byte offset and
    length in the archive file plus the payload digest.

    This is the fleet-scale lookup artifact: a reader that needs ONE
    page range-GETs ``record_length`` bytes at ``record_offset`` and
    gunzips a single member, instead of scanning the archive. Built the
    same way as :func:`read_warc` - task per archive file, stdlib walk
    in Arrow batches."""
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.warc*")
             .load(path)
             .select("path", "content"))
    return files.mapInPandas(_cdx_batches, schema=CDX_SCHEMA)


METRICS_SCHEMA = ("source_file string, n_records long, "
                  "n_responses long, n_skipped long")


def _metrics_batches(batches):
    keep_spark_archives()
    import pandas as pd
    for pdf in batches:
        out = {k: [] for k in ("source_file", "n_records",
                               "n_responses", "n_skipped")}
        for path, content in zip(pdf["path"], pdf["content"]):
            try:
                rows, n_rec, n_skip = parse_warc(bytes(content), str(path))
            except Exception:
                rows, n_rec, n_skip = [], 0, -1
            out["source_file"].append(str(path).rsplit("/", 1)[-1])
            out["n_records"].append(n_rec)
            out["n_responses"].append(len(rows))
            out["n_skipped"].append(n_skip)
        yield pd.DataFrame(out)


def ingest_metrics(spark, path: str) -> DataFrame:
    """Per-archive-file ingest lineage (the north rule's per-partition
    lineage row, applied to the WARC source): record / response / skip
    counts per file, so a fleet run can audit which archives were
    short-read or skip-heavy without re-scanning them."""
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.warc*")
             .load(path)
             .select("path", "content"))
    return files.mapInPandas(_metrics_batches, schema=METRICS_SCHEMA)


def ensure_warc(n_records: int = 48, seed: int = 7,
                cache_dir=None) -> str:
    """Idempotent cached fixture: the WARC archive AND an
    ``expected.parquet`` of the rows the generator intended - written
    straight from the generator's state, never through the parser, so
    the oracle comparison is a genuine end-to-end check of the parse."""
    import hashlib
    import pathlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_spark.pages import DEFAULT_CACHE
    cache_dir = pathlib.Path(cache_dir or DEFAULT_CACHE)
    key = hashlib.sha256(
        f"warc|{n_records}|{seed}|v3".encode()).hexdigest()[:12]
    out = cache_dir / f"warc_{n_records}_{key}"
    if not (out / "_DONE").exists():
        expected = write_synthetic_warc(out / "archive", n_records, seed,
                                        compress=True,
                                        return_expected=True)
        table = pa.Table.from_pylist(expected, schema=pa.schema([
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("record_offset", pa.int64()),
            ("record_length", pa.int64()),
        ]))
        pq.write_table(table, out / "expected.parquet")
        meta = pa.Table.from_pylist([{
            "source_file": "part-0000.warc.gz",
            "n_records": n_records,
            "n_responses": len(expected),
            "n_skipped": 0,
        }])
        pq.write_table(meta, out / "expected_meta.parquet")
        (out / "_DONE").touch()
    return str(out)


# ----------------------------------------------------- synthetic fixture

def write_synthetic_warc(path, n_records: int = 24, seed: int = 7,
                         compress: bool = True,
                         return_expected: bool = False):
    """Deterministic CC-style fixture: response records (html payloads
    behind HTTP heads) interleaved with request/metadata records that
    ingestion must skip. With ``return_expected`` the intended response
    rows are returned (url, warc_ts, html) for oracle comparison."""
    import pathlib
    import random
    rng = random.Random(seed)
    out = io.BytesIO()
    expected = []
    t0 = _dt.datetime(2024, 3, 1, 0, 0, 0)
    for i in range(n_records):
        ts = (t0 + _dt.timedelta(seconds=i)).strftime("%Y-%m-%dT%H:%M:%SZ")
        url = f"https://warc.test/{i % 8:x}/{i}"
        if i % 5 == 3:
            body = b""
            rec = _record(b"request", url, ts,
                          b"GET / HTTP/1.1\r\nHost: warc.test\r\n\r\n")
        elif i % 5 == 4:
            rec = _record(b"metadata", url, ts, b"fetchTimeMs: 12\r\n")
        else:
            words = " ".join(
                rng.choice(("the", "and", "with", "alpha", "beta",
                            "gamma", "delta", "crawl", "page", "data"))
                for _ in range(rng.randint(6, 14)))
            body = (f"<html><body><h1>doc {i}</h1><p>{words}</p>"
                    f"</body></html>").encode()
            http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                    + f"Content-Length: {len(body)}\r\n\r\n".encode()
                    + body)
            rec = _record(b"response", url, ts, http)
            expected.append({
                "url": url,
                "warc_ts": t0 + _dt.timedelta(seconds=i),
                "html": body,
                "record_offset": out.tell(),
                "record_length": (len(gzip.compress(rec, mtime=0))
                                  if compress else len(rec)),
            })
        if compress:
            out.write(gzip.compress(rec, mtime=0))
        else:
            out.write(rec)
    p = pathlib.Path(path)
    p.mkdir(parents=True, exist_ok=True)
    name = "part-0000.warc.gz" if compress else "part-0000.warc"
    (p / name).write_bytes(out.getvalue())
    if return_expected:
        return expected
    return str(p)


def _record(wtype: bytes, url: str, ts: str, payload: bytes) -> bytes:
    head = (b"WARC/1.0\r\n"
            b"WARC-Type: " + wtype + b"\r\n"
            + f"WARC-Target-URI: {url}\r\n".encode()
            + f"WARC-Date: {ts}\r\n".encode()
            + f"Content-Length: {len(payload)}\r\n".encode())
    # each header line already ends \r\n; one more \r\n closes the head
    return head + b"\r\n" + payload + _CRLF2
