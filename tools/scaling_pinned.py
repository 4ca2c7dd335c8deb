#!/usr/bin/env python
"""Round-6 scaling stretch experiment (round-5 verdict task #8):
pin the driver JVM and the Python extraction workers to DISJOINT core
sets, so the JVM's task-dispatch/result-stream threads stop competing
with the workers for cycles.

Topology per leg: the process tree is tasksetted to (n_workers + 2)
cores; every Python worker re-pins itself to the worker set (cores
2..n+1) on its first batch, leaving cores 0-1 to the JVM.  The wide
pair is therefore 8 vs 30 workers (a 32-core box cannot give 32
workers AND a disjoint JVM set), and efficiency is normalized by the
actual worker ratio 30/8.

Interleaved best-of-N legs like tools/scaling.py.  Appends a JSON line
to BENCH_SCALING_PINNED.json; the conclusion (pass or measured
negative result) is recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

REPO = pathlib.Path(__file__).resolve().parents[1]

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, "{repo}")
from pyspark.sql import SparkSession
import pyarrow as pa
import pyarrow.compute as pc

n_workers = int(sys.argv[1]); pages_path = sys.argv[2]; reps = int(sys.argv[3])
worker_lo = int(sys.argv[4])  # first worker core (JVM keeps 0..lo-1)

spark = (SparkSession.builder.master(f"local[{{n_workers}}]")
         .config("spark.sql.shuffle.partitions", str(n_workers))
         .config("spark.driver.memory", "24g")
         .config("spark.ui.enabled", "false")
         .appName(f"scaling_pinned_{{n_workers}}").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

from docling_spark import engine
from docling_spark.engine import _extract_batches

WORKER_CORES = set(range(worker_lo, worker_lo + n_workers))

def _pinned(batches):
    try:
        os.sched_setaffinity(0, WORKER_CORES)
    except OSError:
        pass
    for out in _extract_batches(batches):
        yield pa.RecordBatch.from_pydict({{
            "url": out["url"], "status": out["status"],
            "md_len": pc.utf8_length(out["md"]).fill_null(0)}})

pages = spark.read.parquet(pages_path)
# One warm-up task per worker: these rows are all the same size, so they
# are spread by count, not by partition_pages' size deal.
warm = (spark.range(n_workers * 4)
        .selectExpr("cast(id as string) url",
                    "cast('<p>warm</p>' as binary) html")
        .repartition(n_workers))
warm.mapInArrow(_pinned, "url string, status string, md_len int").count()

n_docs = pages.count()
cols = engine.partition_pages(pages.select("url", "html"))
job = cols.mapInArrow(_pinned, "url string, status string, md_len int")
ts = []
for _ in range(reps):
    t0 = time.perf_counter()
    job.selectExpr("count(*)").collect()
    ts.append(time.perf_counter() - t0)
best = min(ts)
print(json.dumps({{"workers": n_workers, "docs": n_docs,
                  "times": [round(t, 2) for t in ts],
                  "best_sec": round(best, 2),
                  "docs_per_sec": round(n_docs / best, 1)}}))
spark.stop()
"""


def run_leg(n_workers: int, pages_path: str, reps: int) -> dict:
    jvm_cores = 2
    cpuset = f"0-{jvm_cores + n_workers - 1}"
    out = subprocess.run(
        ["taskset", "-c", cpuset, sys.executable, "-c",
         RUNNER.format(repo=REPO), str(n_workers), pages_path,
         str(reps), str(jvm_cores)],
        capture_output=True, text=True, timeout=3000)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(f"leg {n_workers} failed: {out.stderr[-2000:]}")
    return json.loads(lines[-1])


def merge(a: dict, b: dict) -> dict:
    out = dict(a if a["best_sec"] <= b["best_sec"] else b)
    out["times"] = a["times"] + b["times"]
    return out


def main():
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 240_000
    lo_n = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    hi_n = int(sys.argv[3]) if len(sys.argv) > 3 else 30
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3

    from docling_spark import pages as pages_mod
    pages_path = pages_mod.ensure_pages(n_pages)

    # interleave low/high/low/high (two passes per leg)
    lo1 = run_leg(lo_n, pages_path, reps)
    hi1 = run_leg(hi_n, pages_path, reps)
    lo = merge(lo1, run_leg(lo_n, pages_path, reps))
    hi = merge(hi1, run_leg(hi_n, pages_path, reps))
    factor = hi_n / lo_n
    eff = hi["docs_per_sec"] / (factor * lo["docs_per_sec"])
    result = {
        "experiment": "disjoint JVM/worker core pinning",
        "n_pages": n_pages,
        "jvm_cores": 2,
        "low": lo, "high": hi,
        "worker_ratio": factor,
        "scaling_efficiency": round(eff, 4),
    }
    out = REPO / "BENCH_SCALING_PINNED.json"
    out.write_text(json.dumps(result, indent=1))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
