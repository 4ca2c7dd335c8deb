#!/usr/bin/env python
"""Production entry point: the 100 TB extraction job.

Submit with:

    python tools/make_pyfiles_zip.py            # -> dist/docling_spark.zip
    spark-submit --py-files dist/docling_spark.zip job.py \
        --input  s3://bucket/pages_table/ \
        --output s3://bucket/extraction_run_42/ \
        --buckets 4096 --group-size 64

The job is resumable: re-submitting with the same --output continues from
the last committed bucket group (engine.CheckpointedExtraction manifest).
Results land in <output>/results partitioned by commit group, each group
as it commits. A group's commit is one row in <output>/manifest that
carries its lineage metrics (observed on its results write); the printed
report totals the manifest, without a pass over the results. An output
written before that layout (with a <output>/metrics directory) is not
read back. The input is
read once into the transient <output>/staged, deleted at the end of the
run (also a failed one), so the output needs scratch space about equal
to the pending input. When the pending groups are at least as many as
the task slots, staging costs one shuffle of the pending input (see
README "Scale design").
"""

from __future__ import annotations

import argparse
import json
import pathlib
import tempfile
import time


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="pages input: catalog table name (iceberg) or "
                         "parquet/iceberg path")
    ap.add_argument("--input-format", default="auto",
                    choices=["auto", "table", "iceberg", "parquet",
                             "warc"],
                    help="how to resolve --input (auto: catalog table "
                         "when the value has no path separator; warc: a "
                         "directory of raw .warc/.warc.gz crawl archives "
                         "ingested straight into extraction)")
    ap.add_argument("--output", required=True, help="run output directory")
    ap.add_argument("--buckets", type=int, default=256,
                    help="url-hash commit buckets (resume granularity)")
    ap.add_argument("--group-size", type=int, default=16,
                    help="buckets per commit group")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder
        .appName("docling_spark_extract")
        # AQE re-plans shuffles at runtime; arrow batches feed the UDF
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .getOrCreate()
    )

    # A package imported from a directory (a bare `python job.py`, from
    # any cwd) is not on the executors' path: ship it. One imported from
    # a --py-files zip already is.
    import docling_spark
    from docling_spark import engine
    if pathlib.Path(docling_spark.__file__).parent.is_dir():
        spark.sparkContext.addPyFile(docling_spark.zip_package(
            pathlib.Path(tempfile.gettempdir()) / "docling_spark_pkg.zip"))

    if args.input_format == "warc":
        from docling_spark import warc as warc_mod
        pages = warc_mod.read_warc(spark, args.input).select("url", "html")
    else:
        pages = engine.load_pages(spark, args.input,
                                  fmt=args.input_format)
    t0 = time.time()
    ck = engine.CheckpointedExtraction(
        spark, args.output, num_buckets=args.buckets,
        group_size=args.group_size)
    stats = ck.run(pages)
    elapsed = time.time() - t0

    report = {
        "elapsed_sec": round(elapsed, 1),
        "resumed_from_buckets": len(stats["resumed_from"]),
        "processed_buckets": len(stats["processed"]),
        **ck.summary(),
    }
    print(json.dumps(report))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
