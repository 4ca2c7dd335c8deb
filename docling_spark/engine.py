"""Spark execution layer: the scaled extraction job.

North-rule machinery (SURVEY.md §3.4, §4):

- **Salted repartition** by ``xxhash64(url)`` so hot hosts spread evenly
  across tasks at any cluster size.
- **Explicit skew split**: rows with ``length(html) > skew_threshold``
  are routed to their own fine-grained partitions (oversized blobs never
  share an Arrow batch with the bulk), then unioned back.  AQE only fixes
  join/shuffle skew, not map-side payload skew, so this is done explicitly.
- **Arrow-batched extraction** via ``mapInPandas`` - one Python invocation
  per record batch, never per row; heavy state (none today, model caches
  later) would live in per-executor module globals.
- **Per-partition lineage/metrics**: (partition_id, doc_count,
  byte_count, failure list) rows aggregated from the results' own
  columns.
- **Checkpoint manifest + resume**: the input is read once and staged by
  url-hash commit group; each group's output is written as a unit, then
  committed by a driver-side manifest file (no Spark job); resume skips
  the committed buckets. Spark jobs do only the extraction work, plus one
  staging pass and one metrics pass per run.

Reference lifecycle being mirrored: ``DocumentConverter.convert_all``
(``/root/reference/docling/document_converter.py:505-590``) with structured
per-doc error envelopes (``base_models.py:85-91,311-327``) - a failing
document NEVER fails the task; it yields status='failure' + error message.
"""

from __future__ import annotations

import json
import time
import uuid
from typing import Iterable, Iterator, Optional

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

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


def _extract_batches(batches: Iterable[pd.DataFrame],
                     ebcdic_layouts: Optional[dict] = None,
                     xbrl_taxonomies: Optional[dict] = None,
                     latex_inputs: Optional[dict] = None,
                     with_doctags: bool = False,
                     with_html: bool = False,
                     pdf_passwords: Optional[dict] = None
                     ) -> Iterator[pd.DataFrame]:
    r"""mapInPandas worker: one call per Arrow batch; per-doc error envelope.

    ``ebcdic_layouts`` maps a url basename (without extension) to its
    copybook layout JSON - EBCDIC payloads are undecodable without one, so
    the engine takes the mapping as a small broadcastable dict (the Spark
    analog of the reference's sidecar ``.layout.json`` files).
    ``xbrl_taxonomies`` maps a url basename to a {path: bytes} taxonomy
    mapping (the reference's taxonomy-package directory option).
    ``latex_inputs`` maps a url basename to a {filename: bytes} mapping
    for \input/\include resolution (multi-file arXiv projects).
    """
    # Imports inside the function so the closure ships cleanly to executors.
    import hashlib

    from pyspark import TaskContext

    from .extractor import HtmlExtractor
    from .formats import (convert_asciidoc, convert_csv, convert_email,
                          convert_epub, convert_markdown, convert_vtt)
    from .boxnote import convert_boxnote
    from .jats import convert_jats, looks_like_jats
    from .latex import convert_latex
    from .uspto import convert_uspto, looks_like_uspto
    from .msexcel import convert_xlsx
    from .mspptx import convert_pptx
    from .msword import convert_docx
    from .odf import convert_odf
    from .deepseekocr import convert_deepseekocr
    from .vlmparsers import (convert_chandra, convert_dots, sniff_chandra,
                             sniff_dots)
    from .ebcdic import convert_ebcdic
    from .metsgbs import convert_metsgbs, looks_like_metsgbs
    from .pdfdoc import convert_pdf
    from .xbrl import convert_xbrl, looks_like_xbrl
    from .serialize import (to_doctags, to_indented_text, to_json,
                            to_markdown)

    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else -1
    extractor = HtmlExtractor()

    for pdf in batches:
        out = {k.name: [] for k in EXTRACT_SCHEMA.fields}
        if with_doctags:
            out["doctags"] = []
        if with_html:
            out["html"] = []
        for url, html in zip(pdf["url"].values, pdf["html"].values):
            # Coercion stays INSIDE the try: a row with an unexpected type
            # (string html, None url) must become a failure envelope, never
            # a task failure.
            raw = b""
            url = "" if url is None else str(url)
            t0 = time.perf_counter()
            try:
                if html is None:
                    raw = b""
                elif isinstance(html, (bytes, bytearray, memoryview)):
                    raw = bytes(html)
                else:
                    raw = str(html).encode("utf-8")
                tail = url.rsplit("/", 1)[-1].split("#")[0] or "page"
                ext = (tail.rsplit(".", 1)[-1].lower()
                       if "." in tail else "html")
                name = tail.rsplit(".", 1)[0] if "." in tail else tail
                # reference-compatible document hash: sha256(bytes) mod 2^64
                bh = int.from_bytes(
                    hashlib.sha256(raw).digest()[-8:], "big")
                # format dispatch by extension (html default, the
                # Common-Crawl case); md/csv share the model/serializers
                if ext == "pdf" or raw[:5] == b"%PDF-":
                    # encrypted PDFs: per-doc password from the
                    # broadcastable mapping; default "" covers the
                    # common owner-restricted empty-user-password case
                    pw = ((pdf_passwords or {}).get(name)
                          or (pdf_passwords or {}).get(tail) or "")
                    doc = convert_pdf(raw, name=name,
                                      filename=tail, binary_hash=bh,
                                      password=pw)
                elif ext == "md" and (b"<|ref|>" in raw[:65536]
                                      or b"<|det|>" in raw[:65536]):
                    # DeepSeek-OCR annotated markdown (content sniff on
                    # the grounding markers)
                    doc = convert_deepseekocr(raw, name=name,
                                              filename=tail, binary_hash=bh)
                elif ext == "ebc" and ebcdic_layouts is not None:
                    layout = (ebcdic_layouts.get(name)
                              or ebcdic_layouts.get(tail))
                    if layout is None:
                        raise ValueError(
                            f"no EBCDIC layout registered for {tail!r}")
                    doc = convert_ebcdic(raw, layout, name=tail,
                                         filename=tail, binary_hash=bh)
                elif ext == "md":
                    doc = convert_markdown(raw, name=name,
                                           filename=tail, binary_hash=bh)
                elif ext == "csv":
                    doc = convert_csv(raw, name=name,
                                      filename=tail, binary_hash=bh)
                elif ext == "vtt":
                    doc = convert_vtt(raw, name=name,
                                      filename=tail, binary_hash=bh)
                elif ext == "epub":
                    doc = convert_epub(raw, name=name,
                                       filename=tail, binary_hash=bh)
                elif ext == "eml":
                    doc = convert_email(raw, name=name,
                                        filename=tail, binary_hash=bh)
                elif ext in ("adoc", "asciidoc"):
                    doc = convert_asciidoc(raw, name=name,
                                           filename=tail, binary_hash=bh)
                elif ext == "docx":
                    doc = convert_docx(raw, name=name,
                                       filename=tail, binary_hash=bh)
                elif ext in ("xlsx", "xlsm"):
                    doc = convert_xlsx(raw, name=name,
                                       filename=tail, binary_hash=bh)
                elif ext == "xls":
                    from .legacy import convert_xls
                    doc = convert_xls(raw, name=name,
                                      filename=tail, binary_hash=bh)
                elif ext == "doc" and raw[:4] == b"\xd0\xcf\x11\xe0":
                    from .worddoc import convert_doc
                    doc = convert_doc(raw, name=name,
                                      filename=tail, binary_hash=bh)
                elif ext == "ppt" and raw[:4] == b"\xd0\xcf\x11\xe0":
                    from .pptbin import convert_ppt
                    doc = convert_ppt(raw, name=name,
                                      filename=tail, binary_hash=bh)
                elif ext == "pptx":
                    doc = convert_pptx(raw, name=name,
                                       filename=tail, binary_hash=bh)
                elif ext in ("odt", "ods", "odp"):
                    doc = convert_odf(raw, name=name,
                                      filename=tail, binary_hash=bh)
                elif (ext in ("gz", "tgz") and raw[:2] == b"\x1f\x8b"
                      and looks_like_metsgbs(raw)):
                    doc = convert_metsgbs(raw, name=name,
                                          filename=tail, binary_hash=bh)
                elif ext == "xml" and looks_like_xbrl(raw):
                    tax = ((xbrl_taxonomies or {}).get(name)
                           or (xbrl_taxonomies or {}).get(tail) or {})
                    doc = convert_xbrl(raw, taxonomy=tax, name=name,
                                       filename=tail, binary_hash=bh)
                elif ext in ("nxml", "jats") or (
                        ext == "xml" and looks_like_jats(raw)):
                    doc = convert_jats(raw, name=name,
                                       filename=tail, binary_hash=bh)
                elif ext in ("xml", "txt") and looks_like_uspto(raw):
                    doc = convert_uspto(raw, name=tail,
                                        filename=tail, binary_hash=bh)
                elif ext == "boxnote":
                    doc = convert_boxnote(raw, name=name,
                                          filename=tail, binary_hash=bh)
                elif ext in ("html", "htm") and sniff_chandra(raw):
                    # chandra-ocr-2 VLM output: top-level divs with
                    # data-bbox/data-label in a 0-1000 grid
                    doc = convert_chandra(raw, name=name, filename=tail)
                elif ext == "json" and sniff_dots(raw):
                    # dots.ocr/dots.mocr VLM output: JSON array of
                    # {bbox, category, text} layout elements
                    doc = convert_dots(raw, name=name, filename=tail)
                elif ext == "tex":
                    lx = ((latex_inputs or {}).get(name)
                          or (latex_inputs or {}).get(tail))
                    doc = convert_latex(raw, name=name,
                                        filename=tail, binary_hash=bh,
                                        inputs=lx)
                else:
                    doc = extractor.convert(raw, name=name,
                                            filename=name + ".html",
                                            binary_hash=bh)
                t1 = time.perf_counter()
                md = to_markdown(doc)
                itxt = to_indented_text(doc)
                doc_json = to_json(doc)
                t2 = time.perf_counter()
                out["url"].append(url)
                out["status"].append("success")
                out["doc_json"].append(doc_json)
                out["md"].append(md)
                out["itxt"].append(itxt)
                out["n_texts"].append(len(doc.texts))
                out["n_tables"].append(len(doc.tables))
                out["n_pictures"].append(len(doc.pictures))
                out["n_pages"].append(len(doc.pages))
                out["html_bytes"].append(len(raw))
                out["parse_ms"].append((t1 - t0) * 1e3)
                out["serialize_ms"].append((t2 - t1) * 1e3)
                out["error"].append(None)
                if with_doctags:
                    out["doctags"].append(to_doctags(doc))
                if with_html:
                    from .serialize_html import to_html
                    out["html"].append(to_html(doc))
            except Exception as exc:  # never fail the task for one doc
                out["url"].append(url)
                out["status"].append("failure")
                out["doc_json"].append(None)
                out["md"].append(None)
                out["itxt"].append(None)
                out["n_texts"].append(0)
                out["n_tables"].append(0)
                out["n_pictures"].append(0)
                out["n_pages"].append(0)
                out["html_bytes"].append(len(raw))
                out["parse_ms"].append((time.perf_counter() - t0) * 1e3)
                out["serialize_ms"].append(0.0)
                out["error"].append(f"{type(exc).__name__}: {exc}")
                if with_doctags:
                    out["doctags"].append(None)
                if with_html:
                    out["html"].append(None)
            out["partition_id"].append(pid)
        yield pd.DataFrame(out)


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
    ebcdic_layouts: Optional[dict] = None,
    xbrl_taxonomies: Optional[dict] = None,
    latex_inputs: Optional[dict] = None,
    with_doctags: bool = False,
    with_html: bool = False,
    pdf_passwords: Optional[dict] = None,
) -> DataFrame:
    """The main job: pages(url, html, ...) -> extraction results.

    Column pruning: only (url, html) are shipped into the Python workers -
    Catalyst prunes the parquet scan down to those two columns.
    ``ebcdic_layouts`` ({basename: layout json}) rides the UDF closure -
    a driver-side dict small enough to broadcast with the task.
    ``with_doctags`` adds a DocTags export column (reference OutputFormat
    doctags; serialize.to_doctags) - opt-in so the default schema stays
    stable for downstream consumers. ``with_html`` likewise adds the
    standalone-page HTML export (serialize_html.to_html, reference
    OutputFormat html).
    """
    cols = pages.select("url", "html")
    if repartition:
        cols = partition_pages(cols, num_partitions, skew_threshold)
    schema = EXTRACT_SCHEMA
    extra_fields = []
    if with_doctags:
        extra_fields.append(StructField("doctags", StringType(), True))
    if with_html:
        extra_fields.append(StructField("html", StringType(), True))
    if extra_fields:
        schema = StructType(EXTRACT_SCHEMA.fields + extra_fields)
    if ebcdic_layouts is None and xbrl_taxonomies is None \
            and latex_inputs is None and not with_doctags \
            and not with_html and pdf_passwords is None:
        fn = _extract_batches
    else:
        def fn(batches, _lay=ebcdic_layouts, _tax=xbrl_taxonomies,
               _lx=latex_inputs, _dt=with_doctags, _wh=with_html,
               _pw=pdf_passwords):
            return _extract_batches(batches, ebcdic_layouts=_lay,
                                    xbrl_taxonomies=_tax,
                                    latex_inputs=_lx, with_doctags=_dt,
                                    with_html=_wh, pdf_passwords=_pw)
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
    group, so each group's extraction reads only its own directory. After
    a group's results land, the driver appends the group's manifest rows
    as one parquet file through the Hadoop FileSystem (an Iceberg snapshot
    commit in production) - no Spark job per commit. Per-partition metrics
    are written once, at the end of the run, from one pass over
    ``results/``; then ``staged/`` is deleted. A re-run skips the buckets
    the manifest holds, so it resumes from the last committed group.

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

    def run(self, pages: DataFrame, skew_threshold: int = 1 << 20) -> dict:
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
        processed = []
        if pending:
            # One pass over the input stages every pending group; each
            # group's read below is pruned to its own directory.
            bucket = F.pmod(F.xxhash64("url"), F.lit(self.num_buckets))
            staged = (pages.select("url", "html")
                      .withColumn("grp", (bucket - bucket % size).cast("int"))
                      .where(F.col("grp").isin(list(pending))))
            staged.write.mode("overwrite").partitionBy("grp").parquet(
                self.staged_path)
            # The explicit schema also covers an input with no rows, which
            # leaves no grp=<gid> directory to infer it from.
            staged = self.spark.read.schema(staged.schema).parquet(
                self.staged_path)
            for gid, group in pending.items():
                # Re-extract the WHOLE fixed group, not just its pending
                # subset: grp=<gid> is overwritten as a unit, so it must
                # always hold the full group's rows or a torn manifest would
                # silently drop the already-committed buckets' output on
                # resume.
                results = extract_pages(staged.where(F.col("grp") == gid),
                                        skew_threshold=skew_threshold)
                # Idempotent commit protocol: each group's results land in a
                # key=value subdirectory with overwrite semantics, so a
                # crash between the results write and the manifest commit
                # leaves a directory that the resumed run simply overwrites
                # - no duplicate rows, no inflated metrics. Readers of
                # results_path see `grp` as a discovered partition column.
                results.write.mode("overwrite").parquet(
                    f"{self.results_path}/grp={gid}")
                self._commit(gid, group)
                processed.extend(group)
        self._write_metrics(pending)
        fs, path = self._hadoop(self.staged_path)
        fs.delete(path, True)
        return {
            "resumed_from": sorted(done),
            "processed": processed,
            "total_buckets": self.num_buckets,
        }

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
