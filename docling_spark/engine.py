"""Spark execution layer: the scaled extraction job.

North-rule machinery (SURVEY.md §3.4, §4):

- **Round-robin repartition** (``partition_pages``) so every task gets
  the same number of rows, whatever the mix of hosts in the urls.
- **Explicit skew split**: rows with ``length(html) > skew_threshold``
  are routed to their own fine-grained partitions (oversized blobs never
  share an Arrow batch with the bulk), then unioned back.  AQE only fixes
  join/shuffle skew, not map-side payload skew, so this is done explicitly.
- **Arrow-batched extraction** via ``mapInPandas`` - one Python invocation
  per record batch, never per row. Each document is converted by the
  first matching row of one ordered format table (extension plus content
  sniff); per-format side inputs travel as one ``{format: {basename:
  value}}`` map, and each optional export adds one column.
- **Per-partition lineage/metrics**: (partition_id, doc_count,
  byte_count, failure list) rows aggregated from the results' own
  columns.
- **Checkpoint manifest + resume**: the input is read once and staged by
  url-hash commit group; when the groups can fill the task slots, staging
  is rebalanced so a small group is one file. Groups run concurrently,
  each reading its staged files without a shuffle. Each group's output is
  written as a unit, then committed by a driver-side manifest file (no
  Spark job); resume skips the committed buckets. Spark jobs do only the
  extraction work, one job per group, plus one staging pass and one
  metrics pass per run.

Reference lifecycle being mirrored: ``DocumentConverter.convert_all``
(``/root/reference/docling/document_converter.py:505-590``) with structured
per-doc error envelopes (``base_models.py:85-91,311-327``) - a failing
document NEVER fails the task; it yields status='failure' + error message.
"""

from __future__ import annotations

import functools
import time
import uuid
from concurrent.futures import (
    FIRST_COMPLETED, Future, ThreadPoolExecutor, wait)
from typing import Iterable, Iterator, Optional

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ------------------------------------------------------------------ schema

EXTRACT_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("status", StringType(), False),
    StructField("doc_json", StringType(), True),
    StructField("md", StringType(), True),
    StructField("itxt", StringType(), True),
    StructField("n_texts", IntegerType(), True),
    StructField("n_tables", IntegerType(), True),
    StructField("n_pictures", IntegerType(), True),
    StructField("n_pages", IntegerType(), True),
    StructField("html_bytes", LongType(), True),
    StructField("parse_ms", DoubleType(), True),
    StructField("serialize_ms", DoubleType(), True),
    StructField("error", StringType(), True),
    StructField("partition_id", IntegerType(), True),
])

METRICS_SCHEMA = StructType([
    StructField("partition_id", IntegerType(), False),
    StructField("doc_count", LongType(), False),
    StructField("byte_count", LongType(), False),
    StructField("failure_count", LongType(), False),
    StructField("failures", ArrayType(StringType()), True),
])


# The formats that take a side input, and the optional export columns.
SIDE_INPUT_FORMATS = ("pdf", "ebcdic", "xbrl", "latex")
EXTRA_EXPORTS = ("doctags", "html")


def _check_options(side_inputs: Optional[dict],
                   extra_exports: tuple[str, ...]) -> tuple[str, ...]:
    """Reject unknown side-input formats and export names; return the
    requested exports in ``EXTRA_EXPORTS`` order."""
    for what, given, known in (
            ("side_inputs", side_inputs or {}, SIDE_INPUT_FORMATS),
            ("extra_exports", extra_exports, EXTRA_EXPORTS)):
        bad = sorted(set(given) - set(known))
        if bad:
            raise ValueError(f"unknown {what} {bad}; expected {known}")
    return tuple(e for e in EXTRA_EXPORTS if e in extra_exports)


def _format_table() -> list:
    """The ordered ``(format, matches(ext, raw), convert(raw, name, tail,
    binary_hash, side))`` rows; the first match converts the document.
    ``html``, the Common-Crawl default, matches everything and stays last."""
    # Imports inside the function so the worker ships cleanly to executors.
    from .boxnote import convert_boxnote
    from .deepseekocr import convert_deepseekocr
    from .ebcdic import convert_ebcdic
    from .extractor import HtmlExtractor
    from .formats import (convert_asciidoc, convert_csv, convert_email,
                          convert_epub, convert_markdown, convert_vtt)
    from .jats import convert_jats, looks_like_jats
    from .latex import convert_latex
    from .legacy import convert_xls
    from .metsgbs import convert_metsgbs, looks_like_metsgbs
    from .msexcel import convert_xlsx
    from .mspptx import convert_pptx
    from .msword import convert_docx
    from .odf import convert_odf
    from .pdfdoc import convert_pdf
    from .pptbin import convert_ppt
    from .uspto import convert_uspto, looks_like_uspto
    from .vlmparsers import (convert_chandra, convert_dots, sniff_chandra,
                             sniff_dots)
    from .worddoc import convert_doc
    from .xbrl import convert_xbrl, looks_like_xbrl

    html = HtmlExtractor()
    ole = b"\xd0\xcf\x11\xe0"

    def ext_in(*exts):
        return lambda ext, raw: ext in exts

    def plain(convert):
        return lambda raw, name, tail, bh, side: convert(
            raw, name=name, filename=tail, binary_hash=bh)

    def ebcdic(raw, name, tail, bh, layout):
        if layout is None:
            raise ValueError(f"no EBCDIC layout registered for {tail!r}")
        return convert_ebcdic(raw, layout, name=tail, filename=tail,
                              binary_hash=bh)

    return [
        # encrypted PDFs take their password from the side input; ""
        # opens the common owner-restricted, empty-user-password case
        ("pdf", lambda ext, raw: ext == "pdf" or raw[:5] == b"%PDF-",
         lambda raw, name, tail, bh, pw: convert_pdf(
             raw, name=name, filename=tail, binary_hash=bh,
             password=pw or "")),
        ("deepseekocr", lambda ext, raw: ext == "md" and (
            b"<|ref|>" in raw[:65536] or b"<|det|>" in raw[:65536]),
         plain(convert_deepseekocr)),
        ("ebcdic", ext_in("ebc"), ebcdic),
        ("md", ext_in("md"), plain(convert_markdown)),
        ("csv", ext_in("csv"), plain(convert_csv)),
        ("vtt", ext_in("vtt"), plain(convert_vtt)),
        ("epub", ext_in("epub"), plain(convert_epub)),
        ("eml", ext_in("eml"), plain(convert_email)),
        ("asciidoc", ext_in("adoc", "asciidoc"), plain(convert_asciidoc)),
        ("docx", ext_in("docx"), plain(convert_docx)),
        ("xlsx", ext_in("xlsx", "xlsm"), plain(convert_xlsx)),
        ("xls", ext_in("xls"), plain(convert_xls)),
        ("doc", lambda ext, raw: ext == "doc" and raw[:4] == ole,
         plain(convert_doc)),
        ("ppt", lambda ext, raw: ext == "ppt" and raw[:4] == ole,
         plain(convert_ppt)),
        ("pptx", ext_in("pptx"), plain(convert_pptx)),
        ("odf", ext_in("odt", "ods", "odp"), plain(convert_odf)),
        ("metsgbs", lambda ext, raw: ext in ("gz", "tgz")
         and raw[:2] == b"\x1f\x8b" and looks_like_metsgbs(raw),
         plain(convert_metsgbs)),
        ("xbrl", lambda ext, raw: ext == "xml" and looks_like_xbrl(raw),
         lambda raw, name, tail, bh, tax: convert_xbrl(
             raw, taxonomy=tax or {}, name=name, filename=tail,
             binary_hash=bh)),
        ("jats", lambda ext, raw: ext in ("nxml", "jats") or (
            ext == "xml" and looks_like_jats(raw)), plain(convert_jats)),
        ("uspto", lambda ext, raw: ext in ("xml", "txt")
         and looks_like_uspto(raw),
         lambda raw, name, tail, bh, side: convert_uspto(
             raw, name=tail, filename=tail, binary_hash=bh)),
        ("boxnote", ext_in("boxnote"), plain(convert_boxnote)),
        # chandra-ocr-2 VLM output: top-level divs with data-bbox and
        # data-label in a 0-1000 grid
        ("chandra", lambda ext, raw: ext in ("html", "htm")
         and sniff_chandra(raw),
         lambda raw, name, tail, bh, side: convert_chandra(
             raw, name=name, filename=tail)),
        # dots.ocr VLM output: a JSON array of {bbox, category, text}
        ("dots", lambda ext, raw: ext == "json" and sniff_dots(raw),
         lambda raw, name, tail, bh, side: convert_dots(
             raw, name=name, filename=tail)),
        ("latex", ext_in("tex"),
         lambda raw, name, tail, bh, inputs: convert_latex(
             raw, name=name, filename=tail, binary_hash=bh, inputs=inputs)),
        ("html", lambda ext, raw: True,
         lambda raw, name, tail, bh, side: html.convert(
             raw, name=name, filename=name + ".html", binary_hash=bh)),
    ]


def _extract_batches(batches: Iterable[pd.DataFrame],
                     side_inputs: Optional[dict] = None,
                     extra_exports: tuple[str, ...] = ()
                     ) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: one call per Arrow batch, one row per document
    (a failure envelope when its conversion or any export raises). The
    options are those of ``extract_pages``."""
    import hashlib

    from pyspark import TaskContext

    from .serialize import (to_doctags, to_indented_text, to_json,
                            to_markdown)
    from .serialize_html import to_html

    exporters = {"doctags": to_doctags, "html": to_html}
    names = _check_options(side_inputs, extra_exports)
    exports = [exporters[e] for e in names]
    columns = EXTRACT_SCHEMA.fieldNames() + list(names)
    side_inputs = side_inputs or {}
    no_exports = (None,) * len(exports)
    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else -1
    table = _format_table()

    for pdf in batches:
        rows = []
        for url, html in zip(pdf["url"].values, pdf["html"].values):
            # Coercion stays INSIDE the try: a row with an unexpected type
            # (string html, None url) must become a failure envelope, never
            # a task failure.
            raw = b""
            url = "" if url is None else str(url)
            t0 = time.perf_counter()
            try:
                if isinstance(html, (bytes, bytearray, memoryview)):
                    raw = bytes(html)
                elif html is not None:
                    raw = str(html).encode("utf-8")
                tail = url.rsplit("/", 1)[-1].split("#")[0] or "page"
                ext = (tail.rsplit(".", 1)[-1].lower()
                       if "." in tail else "html")
                name = tail.rsplit(".", 1)[0] if "." in tail else tail
                # reference-compatible document hash: sha256(bytes) mod 2^64
                bh = int.from_bytes(
                    hashlib.sha256(raw).digest()[-8:], "big")
                for fmt, matches, convert in table:
                    if matches(ext, raw):
                        break
                side = side_inputs.get(fmt) or {}
                doc = convert(raw, name, tail, bh,
                              side.get(name) or side.get(tail))
                t1 = time.perf_counter()
                md = to_markdown(doc)
                itxt = to_indented_text(doc)
                doc_json = to_json(doc)
                t2 = time.perf_counter()
                row = (url, "success", doc_json, md, itxt, len(doc.texts),
                       len(doc.tables), len(doc.pictures), len(doc.pages),
                       len(raw), (t1 - t0) * 1e3, (t2 - t1) * 1e3, None,
                       pid, *(export(doc) for export in exports))
            except Exception as exc:  # never fail the task for one doc
                row = (url, "failure", None, None, None, 0, 0, 0, 0,
                       len(raw), (time.perf_counter() - t0) * 1e3, 0.0,
                       f"{type(exc).__name__}: {exc}", pid, *no_exports)
            rows.append(row)
        yield pd.DataFrame(rows, columns=columns)


def load_pages(spark, source: str, fmt: str = "auto") -> DataFrame:
    """Resolve the pages input (north rule: an Iceberg table of
    Common-Crawl-style pages) to a DataFrame.

    - ``fmt="table"`` or a catalog-style identifier (no path separator):
      ``spark.read.table`` - the Iceberg path when the session's catalog
      is configured (iceberg tables are read through their catalog name,
      which also enables snapshot/partition pruning);
    - ``fmt="iceberg"``: ``spark.read.format("iceberg").load`` for
      direct path-based Iceberg access (needs the iceberg-spark runtime
      on the cluster classpath);
    - otherwise: a parquet directory (the sandbox testdata layout).

    Either way the result is lazily scanned - column pruning down to
    (url, html) and filter pushdown happen at the source.
    """
    if fmt == "table" or (fmt == "auto" and "/" not in source
                          and "\\" not in source):
        return spark.read.table(source)
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(source)
    return spark.read.parquet(source)


def write_bucketed(df: DataFrame, table: str, bucket_by: str = "url",
                   num_buckets: int = 64, mode: str = "overwrite",
                   sort: bool = True) -> None:
    """Persist a url-keyed table BUCKETED (and bucket-sorted) on the key.

    The 100-TB payoff: extraction output is written once with
    ``bucketBy(url)``; every later url-keyed join, semi-join dedup, or
    incremental-novelty comparison against another table bucketed the
    same way runs WITHOUT an Exchange on either side (asserted in
    tests/test_plans.py) - the shuffle that would otherwise dominate
    re-processing is paid once at write time. Requires a table catalog
    (``saveAsTable``); Spark's Hive-style bucketing is what Iceberg's
    bucket partition transform replaces in production.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(
        num_buckets, bucket_by)
    if sort:
        w = w.sortBy(bucket_by)
    w.saveAsTable(table)


def partition_pages(
    pages: DataFrame,
    num_partitions: Optional[int] = None,
    skew_threshold: int = 1 << 20,
) -> DataFrame:
    """Explicit skew-split repartition for the extraction map.

    Oversized rows (html longer than ``skew_threshold`` bytes) are split
    from the bulk and distributed at 2x granularity so one multi-MB page
    never skews a task. Output column set is unchanged.
    """
    spark = pages.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # Two branches, both round-robin (exact count balance):
    # - normal rows spread over num_partitions tasks;
    # - oversized blobs get 2x granularity so a multi-MB page (the 100-TB
    #   long tail) owns its task slice and never serializes a wave.
    # Round-robin beats salt-hashing here because extraction is
    # row-independent - deterministic url-hash bucketing is only needed on
    # the checkpoint/manifest path, which buckets separately.
    big = pages.where(F.length("html") > skew_threshold)
    normal = pages.where(
        (F.length("html") <= skew_threshold) | F.col("html").isNull())
    normal = normal.repartition(num_partitions)
    big = big.repartition(2 * num_partitions)
    return normal.unionByName(big)


def extract_pages(
    pages: DataFrame,
    num_partitions: Optional[int] = None,
    skew_threshold: int = 1 << 20,
    repartition: bool = True,
    side_inputs: Optional[dict] = None,
    extra_exports: tuple[str, ...] = (),
) -> DataFrame:
    """The main job: pages(url, html, ...) -> extraction results.

    Column pruning: only (url, html) are shipped into the Python workers -
    Catalyst prunes the parquet scan down to those two columns. Each
    document goes to the first matching row of ``_format_table``.
    ``side_inputs`` maps a ``SIDE_INPUT_FORMATS`` name to ``{basename:
    value}``: pdf passwords, EBCDIC copybook layouts, XBRL ``{path: bytes}``
    taxonomies, LaTeX ``{filename: bytes}`` input files. The basename is
    tried without, then with, its extension. The map rides the worker
    function to the executors, so it must be small. ``extra_exports`` adds
    a nullable string column after ``EXTRACT_SCHEMA`` per named export
    (``"doctags"``, ``"html"``); md, itxt and json are always emitted.
    Unknown format or export names raise ``ValueError``.
    """
    names = _check_options(side_inputs, extra_exports)
    cols = pages.select("url", "html")
    if repartition:
        cols = partition_pages(cols, num_partitions, skew_threshold)
    schema = StructType(EXTRACT_SCHEMA.fields + [
        StructField(n, StringType(), True) for n in names])
    fn = functools.partial(_extract_batches, side_inputs=side_inputs,
                           extra_exports=names)
    return cols.mapInPandas(fn, schema=schema)


def partition_metrics(results: DataFrame,
                      by: tuple[str, ...] = ("partition_id",)) -> DataFrame:
    """Per-partition lineage rows (north rule): doc/byte counts + failures,
    one row per ``by`` key (the checkpointed run adds its commit group)."""
    return (
        results.groupBy(*by)
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum("html_bytes").alias("byte_count"),
            F.sum(F.when(F.col("status") != "success", 1).otherwise(0))
            .alias("failure_count"),
            F.collect_list(
                F.when(F.col("status") != "success",
                       F.concat_ws(": ", "url", "error"))
            ).alias("failures"),
        )
    )


# ----------------------------------------------------- checkpointed runs

# Commit groups extracted at once, at least. One group alone leaves cores
# idle: every Python task pays a fixed cost before engine code runs (README
# "Scale design"), and each group waits on its own straggler. A run of 16
# one-task groups over 1,200 crawl pages on a 4-vCPU VM (4 interleaved
# reps) took a median 15.3 s with 2 in flight, 9.6 s with 4 and 9.0 s with
# 8, inside the 8.0-11.2 s spread of 4.
MIN_GROUPS_IN_FLIGHT = 4

# One row per committed bucket; the driver writes it, Spark reads it.
MANIFEST_SCHEMA = StructType([
    StructField("bucket", IntegerType(), False),
    StructField("committed_at", DoubleType(), False),
])

# results/ as read back: the extraction columns plus the commit group.
RESULTS_SCHEMA = StructType(
    EXTRACT_SCHEMA.fields + [StructField("grp", IntegerType(), True)])


class CheckpointedExtraction:
    """Bucket-wise extraction with a commit manifest enabling resume.

    The input is split into ``num_buckets`` disjoint buckets by
    ``pmod(xxhash64(url), num_buckets)``, and the buckets into fixed commit
    groups of ``group_size``. ``run()`` reads the input ONCE: the pending
    groups' ``(url, html)`` are staged into ``staged/``, partitioned by
    group. Groups run ``_groups_in_flight()`` at a time, in threads that
    carry the caller's job group, description and tags. Each group's
    extraction reads only its own directory, with no shuffle, one task per
    staged file split. When there are at least as many pending groups as
    task slots, staging is rebalanced by group (one shuffle), so a small
    group is one file and one Python task, and a large one is files of
    about ``spark.sql.adaptive.advisoryPartitionSizeInBytes``. With fewer
    groups it is not: every input split leaves a file in each group it
    holds rows of, so the groups still spread over the slots. After a
    group's results land, the driver appends the group's manifest rows as one parquet file
    through the Hadoop FileSystem (an Iceberg snapshot commit in
    production) - no Spark job per commit. When a group fails, no further
    group starts; the groups in flight finish and commit, and ``run()``
    re-raises. Per-partition metrics are written once, at the end of the
    run, from one pass over ``results/``; then ``staged/`` is deleted. A
    re-run skips the buckets the manifest holds, so it resumes from the
    committed groups.

    Layout under ``out_dir``: ``results/grp=<gid>``, ``metrics/grp=<gid>``,
    ``manifest/`` and, while a run is in flight, ``staged/grp=<gid>``.
    """

    def __init__(self, spark: SparkSession, out_dir: str,
                 num_buckets: int = 16, group_size: int = 4):
        self.spark = spark
        self.out_dir = out_dir.rstrip("/")
        self.num_buckets = num_buckets
        self.group_size = group_size
        self.results_path = f"{self.out_dir}/results"
        self.metrics_path = f"{self.out_dir}/metrics"
        self.manifest_path = f"{self.out_dir}/manifest"
        self.staged_path = f"{self.out_dir}/staged"

    def _hadoop(self, path: str):
        """``path`` and the Hadoop FileSystem that Spark reads it with, so
        a scheme-qualified output (``file://``, ``s3a://``) resolves the
        same way for the driver's own reads and writes."""
        jvm_path = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        conf = self.spark._jsparkSession.sessionState().newHadoopConf()
        return jvm_path.getFileSystem(conf), jvm_path

    def committed_buckets(self) -> set[int]:
        fs, path = self._hadoop(self.manifest_path)
        if not fs.exists(path):
            return set()
        rows = self.spark.read.schema(MANIFEST_SCHEMA).parquet(
            self.manifest_path).collect()
        return {r["bucket"] for r in rows}

    def _commit(self, gid: int, buckets: list[int]) -> None:
        """Append the group's manifest rows as ONE parquet file, without a
        Spark job. It is written under a ``_``-prefixed name, which Spark's
        readers skip, and then renamed into place: a crash can lose the
        whole group's commit but never expose half of it."""
        sink = pa.BufferOutputStream()
        pq.write_table(pa.Table.from_pydict(
            {"bucket": buckets, "committed_at": [time.time()] * len(buckets)},
            schema=to_arrow_schema(MANIFEST_SCHEMA)), sink)
        name = f"commit-{gid}-{uuid.uuid4().hex}.parquet"
        fs, tmp = self._hadoop(f"{self.manifest_path}/_{name}")
        out = fs.create(tmp, False)
        try:
            out.write(sink.getvalue().to_pybytes())
        finally:
            out.close()
        _, final = self._hadoop(f"{self.manifest_path}/{name}")
        if not fs.rename(tmp, final):
            raise IOError(f"manifest commit rename failed: {tmp} -> {final}")

    def run(self, pages: DataFrame) -> dict:
        done = self.committed_buckets()
        size = self.group_size
        # Groups are a FIXED partition of range(num_buckets) — never derived
        # from the order-dependent pending list — so a retried group always
        # lands on the same grp=<gid> directory even after a partial commit
        # (a torn manifest write must not shift group boundaries).
        pending = {}
        for gid in range(0, self.num_buckets, size):
            group = [b for b in range(gid, min(gid + size, self.num_buckets))
                     if b not in done]
            if group:
                pending[gid] = group
        if pending:
            # One pass over the input stages every pending group; each
            # group's read below is pruned to its own directory.
            bucket = F.pmod(F.xxhash64("url"), F.lit(self.num_buckets))
            staged = (pages.select("url", "html")
                      .withColumn("grp", (bucket - bucket % size).cast("int"))
                      .where(F.col("grp").isin(list(pending))))
            if len(pending) >= self._task_slots():
                # Enough groups to fill the task slots with one task each:
                # shuffle by group first, so a group lands as one file (AQE
                # splits one that outgrows its advisory size) instead of a
                # sliver from every input split, each a Python task of its
                # own later. With fewer groups the slivers keep the slots
                # busy. Without AQE the hint is ignored.
                staged = staged.hint("rebalance", "grp")
            staged.write.mode("overwrite").partitionBy("grp").parquet(
                self.staged_path)
            # The explicit schema also covers an input with no rows, which
            # leaves no grp=<gid> directory to infer it from.
            staged = self.spark.read.schema(staged.schema).parquet(
                self.staged_path)
            self._extract_groups(staged, pending)
        self._write_metrics(pending)
        fs, path = self._hadoop(self.staged_path)
        fs.delete(path, True)
        return {
            "resumed_from": sorted(done),
            "processed": [b for group in pending.values() for b in group],
            "total_buckets": self.num_buckets,
        }

    def _task_slots(self) -> int:
        """Tasks the executors registered now can run at once (their cores
        over ``spark.task.cpus``). Unlike ``defaultParallelism`` it ignores
        ``spark.default.parallelism``. Under dynamic allocation it counts
        only the executors already up, so a run that starts before the
        executors scale out stages and schedules for the ones it has."""
        sc = self.spark.sparkContext._jsc.sc()
        return sc.maxNumConcurrentTasks(
            sc.resourceProfileManager().defaultResourceProfile())

    def _groups_in_flight(self) -> int:
        """Commit groups extracted at once: ``MIN_GROUPS_IN_FLIGHT``, or one
        per task slot where there are more slots, so one-task groups can
        fill them. Above 4 slots this is unmeasured; each group in flight
        holds a driver thread and a running job."""
        return max(MIN_GROUPS_IN_FLIGHT, self._task_slots())

    def _extract_groups(self, staged: DataFrame, pending: dict) -> None:
        """Extract, write and commit every pending group, at most
        ``_groups_in_flight()`` at a time. Once a group fails, no further
        group starts; the groups in flight finish and commit, and then the
        first error is re-raised."""

        def extract(gid: int, group: list[int]) -> None:
            # Re-extract the WHOLE fixed group, not just its pending
            # subset: grp=<gid> is overwritten as a unit, so it must
            # always hold the full group's rows or a torn manifest would
            # silently drop the already-committed buckets' output on
            # resume. No repartition: the tasks are the staged files'
            # splits, without a rescan or shuffle.
            results = extract_pages(staged.where(F.col("grp") == gid),
                                    repartition=False)
            # Idempotent commit protocol: each group's results land in a
            # key=value subdirectory with overwrite semantics, so a crash
            # between the results write and the manifest commit leaves a
            # directory that the resumed run simply overwrites - no
            # duplicate rows, no inflated metrics. Readers of results_path
            # see `grp` as a discovered partition column.
            results.write.mode("overwrite").parquet(
                f"{self.results_path}/grp={gid}")
            self._commit(gid, group)

        todo = iter(pending.items())
        running: set[Future] = set()
        error: Optional[BaseException] = None
        slots = self._groups_in_flight()
        with ThreadPoolExecutor(slots) as pool:
            while True:
                while error is None and len(running) < slots:
                    nxt = next(todo, None)
                    if nxt is None:
                        break
                    # The group's jobs carry the caller's job group,
                    # description and tags. Wrapped per group because the
                    # wrapper installs ONE copy of the caller's local
                    # properties, and Spark SQL keeps the running query's
                    # execution id in them: a shared copy would leak one
                    # group's id into another's jobs.
                    target = inheritable_thread_target(self.spark)(extract)
                    running.add(pool.submit(target, *nxt))
                if not running:
                    break
                finished, running = wait(running,
                                         return_when=FIRST_COMPLETED)
                for fut in finished:
                    if error is None:
                        error = fut.exception()
        if error is not None:
            raise error

    def _write_metrics(self, pending: dict) -> None:
        """Replace ``metrics/grp=<gid>`` for every group extracted in this
        run, and for any committed group whose metrics a crashed run never
        wrote, from one column-pruned pass over their results."""
        fs, path = self._hadoop(self.metrics_path)
        have = ({s.getPath().getName() for s in fs.listStatus(path)}
                if fs.exists(path) else set())
        todo = [gid for gid in range(0, self.num_buckets, self.group_size)
                if gid in pending or f"grp={gid}" not in have]
        if not todo:
            return
        for gid in todo:
            fs.delete(self._hadoop(f"{self.metrics_path}/grp={gid}")[1], True)
        results = self.spark.read.schema(RESULTS_SCHEMA).parquet(
            self.results_path).where(F.col("grp").isin(todo))
        partition_metrics(results, by=("grp", "partition_id")).write.mode(
            "append").partitionBy("grp").parquet(self.metrics_path)


# ------------------------------------------------------------- utilities

def extraction_summary(results: DataFrame) -> dict:
    row = results.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("html_bytes").alias("bytes"),
        F.sum(F.when(F.col("status") == "success", 1).otherwise(0)).alias("ok"),
        F.avg("parse_ms").alias("avg_parse_ms"),
        F.avg("serialize_ms").alias("avg_serialize_ms"),
    ).collect()[0]
    return {k: row[k] for k in
            ("docs", "bytes", "ok", "avg_parse_ms", "avg_serialize_ms")}


def spans_view(results: DataFrame) -> DataFrame:
    """Queryable side-view: explode the doc's text items out of doc_json.

    Uses from_json on the flat texts array - ad-hoc queries over spans
    without re-walking HTML (SURVEY.md §1.3 'exploded side-columns').
    """
    span_schema = ("array<struct<self_ref:string,label:string,text:string,"
                   "content_layer:string>>")
    return (
        results
        .where(F.col("status") == "success")
        .withColumn(
            "span",
            F.explode(F.from_json(
                F.get_json_object("doc_json", "$.texts"), span_schema)))
        .select(
            "url",
            F.col("span.self_ref").alias("self_ref"),
            F.col("span.label").alias("label"),
            F.col("span.text").alias("text"),
            F.col("span.content_layer").alias("content_layer"),
        )
    )


def items_view(results: DataFrame) -> DataFrame:
    """Queryable side-view over ALL item kinds (texts, tables, pictures,
    groups) exploded from doc_json - one unified schema so span queries
    don't re-walk HTML for non-text items either.

    Columns: (url, kind, self_ref, label, content_layer, text, name,
    num_rows, num_cols, n_captions). JVM-side from_json only, no Python.
    """
    ok = results.where(F.col("status") == "success")
    nil = F.lit(None)

    def kind_view(json_path, schema, kind, text, name, num_rows, num_cols,
                  n_captions):
        return (ok.withColumn(
            "it", F.explode(F.from_json(
                F.get_json_object("doc_json", json_path), schema)))
            .select(
                "url", F.lit(kind).alias("kind"),
                F.col("it.self_ref").alias("self_ref"),
                F.col("it.label").alias("label"),
                F.col("it.content_layer").alias("content_layer"),
                text.alias("text"), name.alias("name"),
                num_rows.cast("int").alias("num_rows"),
                num_cols.cast("int").alias("num_cols"),
                n_captions.cast("int").alias("n_captions")))

    texts = kind_view(
        "$.texts",
        "array<struct<self_ref:string,label:string,text:string,"
        "content_layer:string>>",
        "text", F.col("it.text"), nil, nil, nil, nil)
    tables = kind_view(
        "$.tables",
        "array<struct<self_ref:string,label:string,content_layer:string,"
        "captions:array<struct<`$ref`:string>>,"
        "data:struct<num_rows:int,num_cols:int>>>",
        "table", nil, nil, F.col("it.data.num_rows"),
        F.col("it.data.num_cols"), F.size("it.captions"))
    pictures = kind_view(
        "$.pictures",
        "array<struct<self_ref:string,label:string,content_layer:string,"
        "captions:array<struct<`$ref`:string>>>>",
        "picture", nil, nil, nil, nil, F.size("it.captions"))
    groups = kind_view(
        "$.groups",
        "array<struct<self_ref:string,label:string,name:string,"
        "content_layer:string>>",
        "group", nil, F.col("it.name"), nil, nil, nil)
    return texts.unionByName(tables).unionByName(pictures).unionByName(groups)
