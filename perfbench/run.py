#!/usr/bin/env python3
"""Extraction benchmark: seeded inputs -> docling_spark.engine -> metrics.

    python3 perfbench/run.py --workload html_crawl --seed 1 --seconds 10 \
        --trace 0

Workloads (all closed loops with one client: one action at a time):

- ``html_crawl``        ``extract_pages`` over a Common-Crawl-like mix,
                        timed as one aggregate over the result;
- ``pdf_digital``       the same action over born-digital PDFs;
- ``checkpointed_job``  ``CheckpointedExtraction.run`` with ``job.py``'s
                        defaults (256 buckets, 16 per group) over the
                        ``html_crawl`` table into a fresh directory.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics (Spark status store plus a traced replay, see
``layertrace.py``).  The last stdout line is one JSON object.  The exit code is
non-zero when a correctness check fails.  See README.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import random
import shutil
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

CRAWL_ROWS = 1200
PDF_DOCS = 64
SETUPS = 3
BUCKETS, GROUP_SIZE = 256, 16          # job.py's defaults
SAMPLE = 40                            # replay-checked rows per run
TABLES = {"html_crawl": "crawl", "pdf_digital": "pdf",
          "checkpointed_job": "crawl"}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def prepare_env() -> None:
    """Keep every file the run writes under the work directory, and let
    Python workers import docling_spark whatever their cwd is."""
    for sub in ("tmp", "spark-local", "inputs", "out", "spans"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # the spark-submit launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, str(ROOT))


# ------------------------------------------------------------ inputs

def inputs(table: str, seed: int) -> tuple[str, dict]:
    """Generate (or reuse) the seeded table; return its path and facts."""
    import gen
    n = CRAWL_ROWS if table == "crawl" else PDF_DOCS
    path = WORK / "inputs" / f"{table}-n{n}-s{seed}-v{gen.GEN_VERSION}"
    meta_path = path / "_META.json"
    if not meta_path.exists():
        shutil.rmtree(path, ignore_errors=True)
        make = gen.crawl_rows if table == "crawl" else gen.pdf_rows
        rows, n_fail = make(seed, n)
        gen.write_table(rows, str(path))
        meta = {"rows": len(rows), "failing": n_fail,
                "bytes": sum(len(raw) for _, raw in rows)}
        meta_path.write_text(json.dumps(meta))
        _prune(WORK / "inputs", keep=6)
    return str(path), json.loads(meta_path.read_text())


def _prune(parent: pathlib.Path, keep: int) -> None:
    dirs = sorted(parent.iterdir(), key=lambda p: p.stat().st_mtime)
    for old in dirs[:-keep]:
        shutil.rmtree(old, ignore_errors=True)


def read_rows(path: str) -> list[tuple[str, bytes]]:
    import pyarrow.parquet as pq
    t = pq.read_table(path, columns=["url", "html"])
    return list(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))


# ------------------------------------------------------------ actions

def digest_of(results):
    """The timed aggregate: docs, failures, pages and an order-independent
    digest of every output row."""
    from pyspark.sql import functions as F
    r = results.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum((F.col("status") == "failure").cast("long")).alias("failed"),
        F.sum("n_pages").alias("pages"),
        F.expr("bit_xor(xxhash64(url, md, itxt, doc_json))").alias("digest"),
    ).collect()[0]
    return {k: int(r[k] or 0) for k in ("docs", "failed", "pages", "digest")}


def extract_action(spark, table: str) -> dict:
    from docling_spark import engine
    return digest_of(engine.extract_pages(engine.load_pages(spark, table)))


def checkpointed_action(spark, table: str, out: str) -> dict:
    from docling_spark import engine
    ck = engine.CheckpointedExtraction(spark, out, num_buckets=BUCKETS,
                                       group_size=GROUP_SIZE)
    return ck.run(engine.load_pages(spark, table))


class Bench:
    def __init__(self, args, cores: int):
        self.args = args
        self.cores = cores
        self.workload = args.workload
        self.table, self.meta = inputs(TABLES[args.workload], args.seed)
        self.spark = None
        self.checks: dict[str, bool] = {}
        self.attempted = self.failed = 0
        self.html_result = self.ck_result = None

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks[name] = self.checks.get(name, True) and bool(ok)
        if not ok:
            log(f"check failed: {name} {detail}")

    # -- one timed action -------------------------------------------------
    def run_once(self, tag: str) -> dict:
        self.spark.sparkContext.setJobDescription(tag)
        if self.workload != "checkpointed_job":
            return extract_action(self.spark, self.table)
        out = str(WORK / "out" / "ck")
        shutil.rmtree(out, ignore_errors=True)
        return checkpointed_action(self.spark, self.table, out)

    def verify(self, tag: str, got: dict) -> bool:
        """Check one action's result; return True when it is right."""
        self.spark.sparkContext.setJobDescription(f"{tag}/check")
        if self.workload == "checkpointed_job":
            ok = self._verify_checkpointed(got)
        else:
            ok = self._verify_counts(got)
        self.spark.sparkContext.setJobDescription(None)
        return ok

    def _verify_counts(self, got: dict) -> bool:
        ok = got["docs"] == self.meta["rows"]
        self.check("doc_count", ok, str(got))
        bad = got["failed"] == self.meta["failing"]
        self.check("failure_count", bad, str(got))
        pin = pinned(TABLES[self.workload], self.args.seed)
        same = pin is None or pin == got
        self.check("pinned_digest", same, f"{got} != {pin}")
        return ok and bad and same

    def _verify_checkpointed(self, stats: dict) -> bool:
        from docling_spark import engine
        out = str(WORK / "out" / "ck")
        ck = engine.CheckpointedExtraction(self.spark, out, BUCKETS,
                                           GROUP_SIZE)
        full = stats["processed"] == list(range(BUCKETS))
        manifest = ck.committed_buckets() == set(range(BUCKETS))
        self.check("manifest_covers_all_buckets", full and manifest)
        results = self.spark.read.parquet(ck.results_path)
        got = digest_of(results)
        same = got == self.html_result
        self.check("checkpointed_equals_html_crawl", same,
                   f"{got} != {self.html_result}")
        self.ck_result = got
        return full and manifest and same

    # -- replay check on a sample ------------------------------------------
    def sample_check(self, rows) -> None:
        """Spark's rows for a seeded sample (plus every planted special row)
        must equal a direct call of the same public converters.  The
        checkpointed job needs no sample of its own: its digest must equal
        the html_crawl one over the same table."""
        import layertrace as tr
        from docling_spark import engine
        from docling_spark.extractor import HtmlExtractor
        from pyspark.sql import functions as F
        rng = random.Random(f"sample/{self.args.seed}")
        n = SAMPLE if TABLES[self.workload] == "crawl" else SAMPLE // 4
        urls = set(rng.sample([u for u, _ in rows], n))
        # every poison, truncated and oversized row
        urls.update(u for u, raw in rows if u.endswith(".docx")
                    or len(raw) > 400_000
                    or (raw[:5] == b"%PDF-" and b"%%EOF" not in raw[-16:]))
        self.spark.sparkContext.setJobDescription("perfbench/sample")
        pages = engine.load_pages(self.spark, self.table)
        res = engine.extract_pages(pages.where(F.col("url").isin(list(urls))))
        got = {r.url: tr.row_digest(r.status, r.md, r.itxt, r.doc_json)
               for r in res.select("url", "status", "md", "itxt",
                                   "doc_json").collect()}
        self.spark.sparkContext.setJobDescription(None)
        html = HtmlExtractor()
        want = {u: tr.row_digest(*tr.convert_one(u, raw, html)[:4])
                for u, raw in rows if u in urls}
        diff = sorted(u for u in want if got.get(u) != want[u])
        self.check("sample_matches_replay", not diff and len(got) == len(want),
                   f"{len(diff)} differ, e.g. {diff[:3]}")

    # -- the timed loop ----------------------------------------------------
    def timed_reps(self, seconds: float):
        import sparkbench as sb
        times, scans, results, tags = [], [], [], []
        sampler = sb.RssSampler(sb.jvm_pid(self.spark))
        start = time.perf_counter()
        with sampler:
            # at least one rep; then no rep that would end past the window
            while not times or (time.perf_counter() - start
                                + sb.median(times) <= seconds):
                tag = f"perfbench/{self.workload}/{len(times)}"
                t0 = time.perf_counter()
                self.attempted += 1
                got = self.run_once(tag)
                times.append(time.perf_counter() - t0)
                self.spark.sparkContext.setJobDescription(None)
                scans.append(sum(s.input_bytes
                                 for s in sb.stages(self.spark, tag)))
                if not self.verify(tag, got):
                    self.failed += 1
                results.append(got)
                tags.append(tag)
        return times, scans, results, tags, sampler.peak

    def warm_up(self) -> None:
        """One unrecorded action before timing.  The checkpointed job needs
        the html_crawl result over its table, which its output must
        reproduce: the pinned one, or else that action's, which then also
        serves as its warm-up."""
        pin = pinned("crawl", self.args.seed)
        if self.workload == "checkpointed_job" and pin is not None:
            self.html_result = pin
            return
        self.spark.sparkContext.setJobDescription("perfbench/warm-up")
        got = extract_action(self.spark, self.table)
        self.spark.sparkContext.setJobDescription(None)
        if self.workload == "checkpointed_job":
            self.html_result = got
        else:
            self._verify_counts(got)

    # -- modes -------------------------------------------------------------
    def end_to_end(self, setup_times: list[float]) -> dict:
        import sparkbench as sb
        self.warm_up()
        times, scans, results, _, peak = self.timed_reps(self.args.seconds)
        log(f"reps {['%.3f' % t for t in times]}")
        wall = sb.median(times)
        if self.workload == "checkpointed_job":
            counts = self.ck_result
        else:
            counts = results[-1]
            self.sample_check(read_rows(self.table))
        log("checked")
        return {
            "setup_s": (sb.median(setup_times), "s"),
            "wall_s": (wall, "s"),
            "docs_per_s": (self.meta["rows"] / wall, "docs/s"),
            "input_mb_per_s": (self.meta["bytes"] / 1e6 / wall, "MB/s"),
            "pdf_pages_per_s": (counts["pages"] / wall, "pages/s"),
            "failed_frac": (counts["failed"] / counts["docs"], "ratio"),
            "scan_bytes": (sb.median(scans), "bytes"),
            "peak_rss_mb": (peak / 2**20, "MB"),
        }

    def layers(self) -> dict:
        import sparkbench as sb
        import layertrace as tr
        self.warm_up()
        writes = ResultsWriteTimer() if (
            self.workload == "checkpointed_job") else None
        try:
            times, _, _, tags, _ = self.timed_reps(self.args.seconds)
        finally:
            if writes is not None:
                writes.restore()
        wall = sb.median(times)
        # status-store figures describe the last rep, so pair them with
        # that rep's wall time
        last_wall = times[-1]
        st = sb.stages(self.spark, tags[-1], with_tasks=True)
        biggest = max(st, key=lambda s: s.run_ms)
        task_ms = sorted(biggest.task_ms) or [0]
        run_s = sum(s.run_ms for s in st) / 1e3
        boundary = self.boundary_probe()
        rows = read_rows(self.table)
        if self.workload != "checkpointed_job":
            self.sample_check(rows)
        spans = str(WORK / "spans" / f"{self.workload}-s{self.args.seed}"
                    ".jsonl")
        lay = tr.layer_metrics(rows, spans)
        self_s = lay["replay.self_s"]
        idle = last_wall * self.cores - run_s
        write_s = writes.seconds / len(times) if writes else 0.0
        m = {
            "engine.wall_s": wall,
            "engine.jobs": float(sb.job_count(self.spark, tags[-1])),
            "engine.stages": float(len(st)),
            "engine.tasks": float(sum(s.num_tasks for s in st)),
            "engine.input_scans": float(sum(s.input_bytes > 0 for s in st)),
            "engine.scan_bytes": float(sum(s.input_bytes for s in st)),
            "engine.shuffle_write_bytes":
                float(sum(s.shuffle_write_bytes for s in st)),
            "engine.output_bytes": float(sum(s.output_bytes for s in st)),
            "engine.executor_run_s": run_s,
            "engine.executor_cpu_s": sum(s.cpu_ns for s in st) / 1e9,
            "engine.gc_s": sum(s.gc_ms for s in st) / 1e3,
            "engine.idle_core_s": idle,
            "engine.task_skew": task_ms[-1] / max(task_ms[len(task_ms) // 2],
                                                  1),
            "engine.boundary_s": boundary,
            "engine.outside_converters_share":
                1.0 - self_s / (last_wall * self.cores),
            "engine.reconcile_gap":
                abs((self_s + boundary * self.cores + idle)
                    / (last_wall * self.cores) - 1.0),
            "engine.results_write_s": write_s,
            "engine.bookkeeping_s": wall - write_s if writes else 0.0,
        }
        m.update(lay)
        return {k: (v, _unit(k)) for k, v in m.items()}

    def boundary_probe(self, reps: int = 3) -> float:
        """The Spark side alone: the same (url, html) through the engine's
        partitioning and an identity mapInPandas into a noop sink."""
        import sparkbench as sb
        from docling_spark import engine
        pages = engine.load_pages(self.spark, self.table)

        def identity(batches):
            yield from batches

        times = []
        for _ in range(reps):
            df = engine.partition_pages(pages.select("url", "html"))
            t0 = time.perf_counter()
            df.mapInPandas(identity, schema=df.schema).write.format(
                "noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        return sb.median(times)


def _unit(name: str) -> str:
    if name.endswith("_per_page"):
        return "ms/page"
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_share", "_gap", "_skew")):
        return "ratio"
    return "count"


class ResultsWriteTimer:
    """Time each parquet write into a ``.../results/...`` path, so the
    checkpointed run splits into results writes and bookkeeping (metrics
    re-read and write, manifest commits).  The benchmark's own wrapper
    around ``DataFrameWriter.parquet``; ``restore`` puts the original back.
    """

    def __init__(self):
        from pyspark.sql.readwriter import DataFrameWriter
        self.real = DataFrameWriter.parquet
        self.seconds = 0.0
        real = self.real

        def parquet(writer, path, *args, **kwargs):
            t0 = time.perf_counter()
            try:
                return real(writer, path, *args, **kwargs)
            finally:
                if "/results/" in str(path):
                    self.seconds += time.perf_counter() - t0

        DataFrameWriter.parquet = parquet

    def restore(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter
        DataFrameWriter.parquet = self.real


def pinned(table: str, seed: int):
    path = HERE / "pinned.json"
    if not path.exists():
        return None
    return json.loads(path.read_text()).get(table, {}).get(str(seed))


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "docling_spark" / "engine.py").is_file():
        log(f"docling_spark not found beside {HERE.name}/; run from a "
            "checkout of the repository")
        return 2
    prepare_env()
    sys.path.insert(0, str(HERE))
    import sparkbench as sb

    cores = len(os.sched_getaffinity(0))
    bench = Bench(args, cores)
    setup_times: list[float] = []
    spark = None
    try:
        # The JVM is launched once, untimed; each set-up starts a session
        # in it and warms its workers.  setup_s is the median.
        sb.launch_jvm(cores, str(WORK))
        for _ in range(1 if args.trace else SETUPS):
            if spark is not None:
                spark.stop()
            spark, secs = sb.timed_setup(cores, str(WORK))
            setup_times.append(secs)
        bench.spark = spark
        log(f"{args.workload} seed={args.seed} cores={cores} "
            f"setups={['%.2f' % s for s in setup_times]}")
        metrics = bench.layers() if args.trace else bench.end_to_end(
            setup_times)
    finally:
        if spark is not None:
            shutdown(spark)
    log("stopped")
    correct = all(bench.checks.values()) and bench.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
