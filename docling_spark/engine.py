"""Spark execution layer: the scaled extraction job.

North-rule machinery (SURVEY.md §3.4, §4):

- **Largest-first partitioning** (``partition_pages``) over one scan and
  one shuffle: each scan split is sorted by html length and dealt in
  snake order, from a task of its own, over ``TASKS_PER_SLOT`` tasks a
  slot, so the heaviest rows start first and the slots that run them get
  fewer of the rest. That is the skew handling (README "Scale design").
- **Arrow-batched extraction** via ``mapInArrow`` - one Python invocation
  per record batch, never per row, reading and building pyarrow arrays
  against one result schema (no pandas). Each document is converted by the
  first matching row of one ordered format table (extension plus content
  sniff); per-format side inputs travel as one ``{format: {basename:
  value}}`` map. One ``exports`` tuple names the serialized columns
  (doc_json, md, itxt by default; doctags, html on request): an export
  that is not named is neither computed nor emitted.
- **Per-partition lineage/metrics**: (partition_id, doc_count,
  byte_count, failure list, parse/serialize ms) rows aggregated from the
  results' own columns.
- **Checkpoint manifest + resume**: the input is read once and staged by
  url-hash commit group; when the groups can fill the task slots, staging
  is rebalanced so a small group is one file. Groups run concurrently,
  largest first, each reading its staged files without a shuffle. Each
  group's output is written as a unit, its metrics observed on that
  write, and then its commit is one driver-side manifest file (no Spark
  job) that carries those metrics; resume skips the committed buckets.
  Spark jobs do only the extraction work, one job per group, plus one
  staging pass per run.

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

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
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

from . import keep_spark_archives

# ------------------------------------------------------------------ schema

# Every extraction output column, in output order. The ``EXPORTS`` among
# them are emitted only when requested (``_result_schema``).
RESULT_COLUMNS = StructType([
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
    StructField("doctags", StringType(), True),
    StructField("html", StringType(), True),
])

# The lineage aggregates of a set of results rows (``_metrics_aggs``): one
# row per partition from ``partition_metrics``, one row per commit group in
# a checkpointed run's manifest.
METRICS_SCHEMA = StructType([
    StructField("doc_count", LongType(), False),
    StructField("byte_count", LongType(), False),
    StructField("failure_count", LongType(), False),
    StructField("failures", ArrayType(StringType()), True),
    StructField("parse_ms", DoubleType(), False),
    StructField("serialize_ms", DoubleType(), False),
])


# The export columns, the default request, and the formats that take a
# side input.
EXPORTS = ("doc_json", "md", "itxt", "doctags", "html")
DEFAULT_EXPORTS = ("doc_json", "md", "itxt")
SIDE_INPUT_FORMATS = ("pdf", "ebcdic", "xbrl", "latex")


def _check_options(side_inputs: Optional[dict],
                   exports: tuple[str, ...]) -> tuple[str, ...]:
    """Reject unknown side-input formats and export names; return the
    requested exports in ``EXPORTS`` order, each once."""
    for what, given, known in (
            ("side_inputs", side_inputs or {}, SIDE_INPUT_FORMATS),
            ("exports", exports, EXPORTS)):
        bad = sorted(set(given) - set(known))
        if bad:
            raise ValueError(f"unknown {what} {bad}; expected {known}")
    return tuple(e for e in EXPORTS if e in exports)


def _result_schema(exports: tuple[str, ...]) -> StructType:
    """``RESULT_COLUMNS`` without the exports that were not requested."""
    return StructType([f for f in RESULT_COLUMNS.fields
                       if f.name not in EXPORTS or f.name in exports])


# The default output: the result rows of every run that names no exports.
EXTRACT_SCHEMA = _result_schema(DEFAULT_EXPORTS)


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


def _extract_batches(batches: Iterable[pa.RecordBatch],
                     side_inputs: Optional[dict] = None,
                     exports: tuple[str, ...] = DEFAULT_EXPORTS
                     ) -> Iterator[pa.RecordBatch]:
    """mapInArrow worker: one call per Arrow batch of ``(url, html)``, one
    output batch of ``_result_schema(exports)`` per input batch and one
    row per document (a failure envelope, its exports null, when its
    conversion or any export raises). Only the requested exports are
    serialized. The options are those of ``extract_pages``, already
    checked there."""
    keep_spark_archives()
    import hashlib

    from pyspark import TaskContext

    from . import serialize, serialize_html

    serializers = {"doc_json": serialize.to_json,
                   "md": serialize.to_markdown,
                   "itxt": serialize.to_indented_text,
                   "doctags": serialize.to_doctags,
                   "html": serialize_html.to_html}
    exporters = [(e, serializers[e]) for e in exports]
    schema = to_arrow_schema(_result_schema(exports))
    side_inputs = side_inputs or {}
    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else -1
    table = _format_table()

    for batch in batches:
        rows = []
        for url, html in zip(batch.column("url").to_pylist(),
                             batch.column("html").to_pylist()):
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
                # the file name: the last path segment, without the query
                # string and the fragment
                tail = (url.split("#", 1)[0].split("?", 1)[0]
                        .rsplit("/", 1)[-1] or "page")
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
                row = {e: export(doc) for e, export in exporters}
                t2 = time.perf_counter()
                row.update(
                    url=url, status="success", n_texts=len(doc.texts),
                    n_tables=len(doc.tables), n_pictures=len(doc.pictures),
                    n_pages=len(doc.pages), html_bytes=len(raw),
                    parse_ms=(t1 - t0) * 1e3,
                    serialize_ms=(t2 - t1) * 1e3,
                    partition_id=pid)
            except Exception as exc:  # never fail the task for one doc
                row = dict(
                    url=url, status="failure", n_texts=0, n_tables=0,
                    n_pictures=0, n_pages=0, html_bytes=len(raw),
                    parse_ms=(time.perf_counter() - t0) * 1e3,
                    serialize_ms=0.0, error=f"{type(exc).__name__}: {exc}",
                    partition_id=pid)
            rows.append(row)
        # a column a row leaves out (its error, a failure's exports) is null
        yield pa.RecordBatch.from_pylist(rows, schema=schema)


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


# Extraction tasks per task slot in ``partition_pages``. More tasks than
# slots let the scheduler give the slot that runs the heavy task fewer of
# the other rows; each Python task costs about 30-40 ms. perfbench
# ``html_crawl`` on a 4-vCPU VM, one Spark session per seed (seeds 1-6),
# median of 7 alternating reps: 3 a slot 1.76/1.53/1.63/1.48/1.50/1.53 s,
# 4 a slot 1.67/1.55/1.55/1.49/1.53/1.53 s. Another run over the same
# seeds: 4 a slot 1.71/1.65/1.56/1.62/1.64/1.76 s, 1 a slot 2.07/1.98/
# 1.69/1.99/1.82/2.05 s, 4 equal-count unsorted tasks 1.92/1.86/1.78/
# 1.79/2.01/2.24 s.
TASKS_PER_SLOT = 4


def _task_slots(spark: SparkSession) -> int:
    """Tasks the executors registered now can run at once (their cores
    over ``spark.task.cpus``). Unlike ``defaultParallelism`` it ignores
    ``spark.default.parallelism``. Under dynamic allocation it counts only
    the executors already up, so a job planned before the executors scale
    out is sized for the ones it has."""
    sc = spark.sparkContext._jsc.sc()
    return sc.maxNumConcurrentTasks(
        sc.resourceProfileManager().defaultResourceProfile())


def partition_pages(pages: DataFrame) -> DataFrame:
    """Deal ``pages`` largest first over ``max(spark.sql.shuffle.partitions,
    TASKS_PER_SLOT x task slots)`` tasks, over one scan and one shuffle;
    the columns are unchanged.

    Each scan split is sorted by ``length(html)``, largest first (ties by
    url, then html, so a retried map task deals every row to the same
    task), and split s deals its rows in snake order from task s: rank r
    has place ``p = (r + s) mod 2n`` and goes to task ``p`` if ``p < n``,
    else ``2n - 1 - p``. With no more splits than slots, the splits'
    heaviest rows land in the first tasks, which Spark launches first, and
    the slots that run them get fewer of the many small tasks; with more,
    the heavy rows still spread over all the tasks. An equal-count deal
    over one task per slot left the task with the 0.65 s page as the
    run's tail (README "Scale design"). An input with fewer rows than
    tasks runs empty tasks. Extraction is row-independent, so no url
    hash; the checkpointed path buckets by url itself.
    """
    spark = pages.sparkSession
    n = max(int(spark.conf.get("spark.sql.shuffle.partitions")),
            TASKS_PER_SLOT * _task_slots(spark))
    # A row's place: its rank (the id's low 33 bits, taken after the sort)
    # plus its split's index, modulo two rounds. It is a column of its own
    # because every reference to the id expression counts rows by itself.
    # The snake (a plain ``(r + s) mod n`` deal gives the first tasks the
    # heavier row of every round) measured the same or faster: perfbench
    # ``html_crawl`` on a 4-vCPU VM, one session per seed (seeds 1-6),
    # median of 7 alternating reps, snake 1.68/1.43/1.44/1.48/1.43/1.39 s,
    # plain 1.67/1.44/1.46/1.46/1.49/1.49 s.
    lap = 2 * n
    deal = F.col("_deal")
    return (pages.sortWithinPartitions(F.length("html").desc(), "url", "html")
            .withColumn("_deal", (F.monotonically_increasing_id()
                                  .bitwiseAND((1 << 33) - 1)
                                  + F.spark_partition_id()) % lap)
            .repartitionById(n, F.least(deal, lap - 1 - deal).cast("int"))
            .select(*pages.columns))


def extract_pages(
    pages: DataFrame,
    repartition: bool = True,
    side_inputs: Optional[dict] = None,
    exports: tuple[str, ...] = DEFAULT_EXPORTS,
) -> DataFrame:
    """The main job: pages(url, html, ...) -> extraction results.

    Column pruning: only (url, html) are shipped into the Python workers -
    Catalyst prunes the parquet scan down to those two columns, read once.
    ``repartition`` deals the rows over ``partition_pages``' tasks, largest
    first (README "Scale design"); without it the tasks are the input's
    own splits. Each document goes to the first matching row of
    ``_format_table``.
    ``side_inputs`` maps a ``SIDE_INPUT_FORMATS`` name to ``{basename:
    value}``: pdf passwords, EBCDIC copybook layouts, XBRL ``{path: bytes}``
    taxonomies, LaTeX ``{filename: bytes}`` input files. The basename is
    tried without, then with, its extension. The map rides the worker
    function to the executors, so it must be small. ``exports`` names the
    ``EXPORTS`` columns to serialize and emit (``"doc_json"``, ``"md"``,
    ``"itxt"``, ``"doctags"``, ``"html"``), in any order and each counted
    once; they take their ``RESULT_COLUMNS`` places, and an export that is
    not named is never computed. The default gives ``EXTRACT_SCHEMA``.
    Unknown format or export names raise ``ValueError``.
    """
    names = _check_options(side_inputs, exports)
    cols = pages.select("url", "html")
    if repartition:
        cols = partition_pages(cols)
    fn = functools.partial(_extract_batches, side_inputs=side_inputs,
                           exports=names)
    return cols.mapInArrow(fn, schema=_result_schema(names))


def _metrics_aggs() -> list:
    """``METRICS_SCHEMA``'s aggregates over results rows: doc/byte counts,
    failures, and the parse and serialize ms sums. Over no rows they are
    zeros and an empty failures list, not nulls."""
    failed = F.col("status") != "success"
    return [
        F.count(F.lit(1)).alias("doc_count"),
        F.coalesce(F.sum("html_bytes"), F.lit(0)).alias("byte_count"),
        F.coalesce(F.sum(failed.cast("long")), F.lit(0))
        .alias("failure_count"),
        F.collect_list(F.when(failed, F.concat_ws(": ", "url", "error")))
        .alias("failures"),
        F.coalesce(F.sum("parse_ms"), F.lit(0.0)).alias("parse_ms"),
        F.coalesce(F.sum("serialize_ms"), F.lit(0.0)).alias("serialize_ms"),
    ]


def partition_metrics(results: DataFrame) -> DataFrame:
    """Per-partition lineage rows (north rule): ``partition_id`` and
    ``METRICS_SCHEMA``'s columns, one row per partition."""
    return results.groupBy("partition_id").agg(*_metrics_aggs())


# ----------------------------------------------------- checkpointed runs

# Commit groups extracted at once, at least. One group alone leaves cores
# idle: each group waits on its own straggler, and its slot idles while it
# commits and the next group is planned (about 0.3 s a group). A run of 16
# one-task groups over 1,200 crawl pages on a 4-vCPU VM (4 interleaved
# reps) took a median 15.3 s with 2 in flight, 9.6 s with 4 and 9.0 s with
# 8, inside the 8.0-11.2 s spread of 4.
MIN_GROUPS_IN_FLIGHT = 4

# One row per committed group: its buckets and the metrics observed on
# its results write. The driver writes it, Spark reads it.
MANIFEST_SCHEMA = StructType([
    StructField("grp", IntegerType(), False),
    StructField("buckets", ArrayType(IntegerType()), False),
    StructField("committed_at", DoubleType(), False),
] + METRICS_SCHEMA.fields)


class CheckpointedExtraction:
    """Bucket-wise extraction with a commit manifest enabling resume.

    The input is split into ``num_buckets`` disjoint buckets by
    ``pmod(xxhash64(url), num_buckets)``, and the buckets into fixed commit
    groups of ``group_size``. ``run()`` reads the input ONCE: the pending
    groups' ``(url, html)`` are staged into ``staged/``, partitioned by
    group. Groups run ``_groups_in_flight()`` at a time, the largest
    staged group first (by its staged bytes, from one file listing; ties in
    gid order), in threads that carry the caller's job group, description
    and tags. Each group's extraction reads only its own directory, with
    no shuffle, one task per staged file split. When there are at least
    as many pending groups as task slots, staging is rebalanced by group
    (one shuffle), so a small group is one file and one Python task, and
    a large one is files of about
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``. With fewer groups
    it is not: every input split leaves a file in each group it holds rows
    of, so the groups still spread over the slots.

    A group's metrics are observed on its results write (a
    ``pyspark.sql.Observation``, no extra pass), and its failures list
    reaches the driver that way, bounded by the group's failures. After
    the write, the driver commits the group: ONE ``MANIFEST_SCHEMA`` row
    (its gid, its buckets and those metrics) put as one parquet file
    through the Hadoop FileSystem (an Iceberg snapshot commit in
    production) - no Spark job per commit, and a committed group always
    has its metrics. The manifest holds one row per commit group, not per
    extraction task (``partition_metrics`` gives per-partition rows of any
    ``extract_pages`` result); ``summary()`` totals it. When a group
    fails, no further group starts; the groups in flight finish and
    commit, and ``run()`` re-raises. ``staged/`` is deleted either way. A
    re-run skips the buckets the manifest holds, so it resumes from the
    committed groups.

    Layout under ``out_dir``: ``results/grp=<gid>``, ``manifest/`` and,
    while a run is in flight, ``staged/grp=<gid>``. Output directories
    written in the earlier layout (a ``metrics/`` directory and one
    manifest row per bucket) are not read back.
    """

    def __init__(self, spark: SparkSession, out_dir: str,
                 num_buckets: int = 16, group_size: int = 4):
        self.spark = spark
        self.out_dir = out_dir.rstrip("/")
        self.num_buckets = num_buckets
        self.group_size = group_size
        self.results_path = f"{self.out_dir}/results"
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
            self.manifest_path).select(F.explode("buckets")).collect()
        return {r[0] for r in rows}

    def _put(self, directory: str, name: str, rows: dict,
             schema: StructType) -> None:
        """Write ``rows`` (column -> values) as ONE parquet file
        ``directory/name``, without a Spark job. It is written under a
        ``_``-prefixed name, which Spark's readers skip, and then renamed
        into place: a crash can lose the whole file but never expose half
        of it."""
        sink = pa.BufferOutputStream()
        pq.write_table(pa.Table.from_pydict(
            rows, schema=to_arrow_schema(schema)), sink)
        fs, tmp = self._hadoop(f"{directory}/_{name}")
        out = fs.create(tmp, False)
        try:
            out.write(sink.getvalue().to_pybytes())
        finally:
            out.close()
        _, final = self._hadoop(f"{directory}/{name}")
        if not fs.rename(tmp, final):
            raise IOError(f"rename failed: {tmp} -> {final}")

    def _commit(self, gid: int, buckets: list[int], metrics: dict) -> None:
        """Append the group's one manifest row, with its ``METRICS_SCHEMA``
        ``metrics``, as one ``_put`` file: a crash can lose the whole
        commit but never expose half of it or a commit without metrics."""
        row = {"grp": gid, "buckets": buckets, "committed_at": time.time(),
               **{k: metrics[k] for k in METRICS_SCHEMA.fieldNames()}}
        self._put(self.manifest_path,
                  f"commit-{gid}-{uuid.uuid4().hex}.parquet",
                  {k: [v] for k, v in row.items()}, MANIFEST_SCHEMA)

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
        try:
            if pending:
                self._extract_groups(self._stage(pages, pending), pending)
        finally:
            # the transient copy of the pending input, also after a failure
            fs, path = self._hadoop(self.staged_path)
            fs.delete(path, True)
        return {
            "resumed_from": sorted(done),
            "processed": [b for group in pending.values() for b in group],
            "total_buckets": self.num_buckets,
        }

    def _stage(self, pages: DataFrame, pending: dict) -> DataFrame:
        """One pass over the input stages every pending group into
        ``staged/grp=<gid>``; returns the staged table, so each group's
        read is pruned to its own directory."""
        size = self.group_size
        bucket = F.pmod(F.xxhash64("url"), F.lit(self.num_buckets))
        staged = (pages.select("url", "html")
                  .withColumn("grp", (bucket - bucket % size).cast("int"))
                  .where(F.col("grp").isin(list(pending))))
        if len(pending) >= _task_slots(self.spark):
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
        return self.spark.read.schema(staged.schema).parquet(self.staged_path)

    def _groups_in_flight(self) -> int:
        """Commit groups extracted at once: ``MIN_GROUPS_IN_FLIGHT``, or one
        per task slot where there are more slots, so one-task groups can
        fill them. Above 4 slots this is unmeasured; each group in flight
        holds a driver thread and a running job."""
        return max(MIN_GROUPS_IN_FLIGHT, _task_slots(self.spark))

    def _staged_bytes(self) -> dict[int, int]:
        """Bytes staged per commit group, from one listing of ``staged/``
        through the Hadoop FileSystem: no Spark job, no scan."""
        fs, pattern = self._hadoop(f"{self.staged_path}/grp=*/[^_.]*")
        sizes: dict[int, int] = {}
        for s in fs.globStatus(pattern) or []:
            gid = int(s.getPath().getParent().getName().split("=", 1)[1])
            sizes[gid] = sizes.get(gid, 0) + s.getLen()
        return sizes

    def _extract_groups(self, staged: DataFrame, pending: dict) -> None:
        """Extract, write and commit every pending group, at most
        ``_groups_in_flight()`` at a time, largest staged group first (ties
        in gid order), so the group with the most work is not the run's
        tail. Once a group fails, no further group starts; the groups in
        flight finish and commit, and then the first error is re-raised."""

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
            # see `grp` as a discovered partition column. The group's
            # metrics are observed on this write and ride its commit.
            obs = Observation()
            results.observe(obs, *_metrics_aggs()).write.mode(
                "overwrite").parquet(f"{self.results_path}/grp={gid}")
            self._commit(gid, group, obs.get)

        sizes = self._staged_bytes()
        # sorted() is stable and pending is in gid order
        todo = iter(sorted(pending.items(),
                           key=lambda item: -sizes.get(item[0], 0)))
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

    def summary(self) -> dict:
        """Run totals from the manifest alone, without a pass over
        ``results/``: docs, bytes, ok (docs less failures), and the mean
        parse and serialize ms per document (None with no documents)."""
        sums = ("doc_count", "byte_count", "failure_count", "parse_ms",
                "serialize_ms")
        row = self.spark.read.schema(MANIFEST_SCHEMA).parquet(
            self.manifest_path).agg(*(F.sum(c).alias(c) for c in sums)).first()
        docs = row["doc_count"] or 0
        return {
            "docs": docs,
            "bytes": row["byte_count"] or 0,
            "ok": docs - (row["failure_count"] or 0),
            "avg_parse_ms": row["parse_ms"] / docs if docs else None,
            "avg_serialize_ms": row["serialize_ms"] / docs if docs else None,
        }


# ------------------------------------------------------------- utilities

def spans_view(results: DataFrame) -> DataFrame:
    """Queryable side-view of the doc's text items: ``items_view``'s
    ``text`` rows as (url, self_ref, label, text, content_layer) - ad-hoc
    queries over spans without re-walking HTML (SURVEY.md §1.3 'exploded
    side-columns')."""
    return (items_view(results).where(F.col("kind") == "text")
            .select("url", "self_ref", "label", "text", "content_layer"))


def items_view(results: DataFrame) -> DataFrame:
    """Queryable side-view over ALL item kinds (texts, tables, pictures,
    groups) exploded from doc_json - one unified schema so span queries
    don't re-walk HTML for non-text items either. A result without
    doc_json (``exports`` that leave it out) raises ``AnalysisException``.

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
