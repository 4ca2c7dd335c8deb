#!/usr/bin/env python
"""Benchmark harness: headline extraction throughput + query timings.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query MEDIAN sec...}, "sf": <sf>, ...extras}

Measurement protocol (round 6): the sandbox shows 20-50% run-to-run
variance between processes and sizeable within-process noise, so every
leg is sampled N times (default 3) in INTERLEAVED passes - pass 1 runs
every leg once, then pass 2, then pass 3 - so each leg's samples see
comparable (and slowly-varying) box conditions. The recorded value per
query is the MEDIAN; per-query IQR is emitted as ``iqr_<name>`` and the
suite-level ``noise_floor`` (median relative IQR across legs) tells the
round-over-round comparator how big a delta must be before it means
anything. Same approach as tools/scaling.py's interleaved legs.

Round-7 additions: the headline extraction legs are ALSO measured in a
dedicated fresh-JVM subprocess (``--solo``) BEFORE the interleaved
suite - the suite medians are comparable across legs but systematically
noisier (45 legs share one JVM), so ``docs_per_sec_solo`` /
``pdf_pages_per_sec_solo`` are the numbers to compare across rounds.
Emission is hardened: console progress is disabled, the JSON is the
single FINAL stdout line (printed after spark.stop()), and the same
object is written to ``BENCH.json`` so a harness that garbles stdout
can read the file whole.

Env knobs:
  SPARK_GRAFT_SF_DIR  testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default 32)
  BENCH_PAGES_ROWS    pages-table rows for the extraction leg (default scaled)
  BENCH_REPS          interleaved passes per leg (default 3)
  BENCH_SOLO_REPS     solo-subprocess reps per headline leg (default 5)
  BENCH_SOLO=0        skip the solo subprocess (used by --solo itself)
"""

from __future__ import annotations

import json
import os
import pathlib
import statistics
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_REPS = max(1, int(os.environ.get("BENCH_REPS", "3")))


def sf_of(path: str) -> float:
    name = pathlib.Path(path).name
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.0


def _median(xs: list[float]) -> float:
    return statistics.median(xs)


def _iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def _build_spark(cpus: int):
    from pyspark.sql import SparkSession
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        # progress bars interleave with stdout and have garbled the
        # emitted JSON line before (BENCH_r06 parsed:null) - never again
        .config("spark.ui.showConsoleProgress", "false")
        .appName("docling_spark_bench")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _emit(out: dict) -> None:
    """The one place bench output leaves the process: BENCH.json file
    first, then the JSON as the single final stdout line."""
    line = json.dumps(out)
    (pathlib.Path(__file__).resolve().parent / "BENCH.json").write_text(
        line + "\n")
    sys.stdout.flush()
    print(line, flush=True)


def solo_main() -> None:
    """Fresh-JVM headline legs only: extract_pages + extract_pdf,
    N reps each, run to completion before the interleaved suite so the
    round-over-round throughput comparison is measured solo (the
    in-suite figure shares the JVM with ~45 other legs and is
    systematically lower and noisier)."""
    from docling_spark import engine, pages as pages_mod

    reps = max(1, int(os.environ.get("BENCH_SOLO_REPS", "5")))
    sf = sf_of(SF_DIR)
    n_pages = int(os.environ.get("BENCH_PAGES_ROWS",
                                 max(256, int(1_000_000 * sf))))
    pages_path = pages_mod.ensure_pages(n_pages)
    spark = _build_spark(CPUS)
    pages = spark.read.parquet(pages_path)
    html_bytes = pages.selectExpr("sum(length(html)) b").collect()[0]["b"]

    warm = (spark.range(CPUS * 4)
            .selectExpr("cast(id as string) url",
                        "cast('<p>warm</p>' as binary) html")
            .repartition(CPUS))
    engine.extract_pages(warm, repartition=False).count()

    out: dict = {"solo_reps": reps}
    agg = None
    xs: list[float] = []
    for _ in range(reps):
        t0 = time.perf_counter()
        res = engine.extract_pages(pages)
        agg = res.selectExpr(
            "count(*) docs",
            "sum(case when status='success' then 1 else 0 end) ok").collect()[0]
        xs.append(time.perf_counter() - t0)
    med = _median(xs)
    out.update({
        "extract_pages_solo": round(med, 3),
        "iqr_extract_pages_solo": round(_iqr(xs), 3),
        "docs_per_sec_solo": round(agg["docs"] / med, 2),
        "html_mb_per_sec_solo": round(html_bytes / 1e6 / med, 2),
        "extract_docs_solo": agg["docs"],
        "extract_ok_solo": agg["ok"],
    })

    pdf_src = pathlib.Path("/root/reference/tests/data/pdf/sources")
    if pdf_src.exists():
        fixtures = [(p.name, p.read_bytes())
                    for p in sorted(pdf_src.glob("*.pdf"))]
        n_pdf = max(len(fixtures), int(2600 * sf))
        nrep = (n_pdf + len(fixtures) - 1) // len(fixtures)
        rows = [(f"https://bench.test/pdf/{i}/{name}", raw)
                for i in range(nrep) for (name, raw) in fixtures][:n_pdf]
        pdf_df = spark.createDataFrame(rows, "url string, html binary") \
            .repartition(CPUS)
        xs = []
        pagg = None
        for _ in range(reps):
            t0 = time.perf_counter()
            pagg = engine.extract_pages(
                pdf_df, repartition=False).selectExpr(
                "count(*) docs", "sum(n_pages) pages").collect()[0]
            xs.append(time.perf_counter() - t0)
        med = _median(xs)
        out.update({
            "extract_pdf_solo": round(med, 3),
            "iqr_extract_pdf_solo": round(_iqr(xs), 3),
            "pdf_pages_per_sec_solo": round((pagg["pages"] or 0) / med, 2),
            "pdf_docs_per_sec_solo": round(pagg["docs"] / med, 2),
        })
    spark.stop()
    sys.stdout.flush()
    print(json.dumps(out), flush=True)


def _run_solo_subprocess() -> dict:
    """Run the solo headline legs in their own fresh JVM; stderr passes
    through, stdout's final line is the JSON. Failure degrades to {} -
    the suite still runs and reports."""
    import subprocess
    try:
        proc = subprocess.run(
            [sys.executable, str(pathlib.Path(__file__).resolve()),
             "--solo"],
            stdout=subprocess.PIPE, timeout=1800)
        lines = [ln for ln in proc.stdout.decode().splitlines()
                 if ln.strip()]
        return json.loads(lines[-1]) if lines else {}
    except Exception:
        return {}


def main() -> None:
    import __spark_entry__ as entrymod
    from docling_spark import engine, pages as pages_mod

    solo: dict = {}
    if os.environ.get("BENCH_SOLO", "1") != "0":
        solo = _run_solo_subprocess()

    sf = sf_of(SF_DIR)
    # extraction corpus scaled with sf: sf0.1 -> 100k pages (~0.9 GB html),
    # sized so the headline leg runs >=8s and measures steady-state
    # throughput rather than fixed cost (pages are cached across runs)
    default_rows = max(256, int(1_000_000 * sf))
    n_pages = int(os.environ.get("BENCH_PAGES_ROWS", default_rows))

    pages_path = pages_mod.ensure_pages(n_pages)
    spark = _build_spark(CPUS)

    samples: dict[str, list[float]] = {}
    extras: dict[str, float] = {}
    errors: dict[str, str] = {}

    # ---- leg definitions -------------------------------------------------
    pages = spark.read.parquet(pages_path)
    html_bytes = pages.selectExpr("sum(length(html)) b").collect()[0]["b"]

    agg_holder: dict = {}

    def leg_extract():
        res = engine.extract_pages(pages)
        agg_holder["html"] = res.selectExpr(
            "count(*) docs",
            "sum(case when status='success' then 1 else 0 end) ok",
            "sum(length(md)) md_bytes").collect()[0]

    legs: list[tuple[str, object]] = [("extract_pages", leg_extract)]

    def leg_linkgraph():
        # host-level outlink graph over the FULL html corpus: measures
        # the scan-side regexp_extract_all + explode + two-phase
        # partial-distinct agg path (pure JVM, no Python) at corpus scale
        from docling_spark import webgraph
        agg_holder["lg"] = webgraph.link_graph(pages).selectExpr(
            "count(*) edges", "sum(n_links) links").collect()[0]

    legs.append(("link_graph_corpus", leg_linkgraph))

    pdf_src = pathlib.Path("/root/reference/tests/data/pdf/sources")
    if pdf_src.exists():
        fixtures = [(p.name, p.read_bytes())
                    for p in sorted(pdf_src.glob("*.pdf"))]
        n_pdf = max(len(fixtures), int(2600 * sf))
        reps = (n_pdf + len(fixtures) - 1) // len(fixtures)
        rows = [(f"https://bench.test/pdf/{i}/{name}", raw)
                for i in range(reps) for (name, raw) in fixtures][:n_pdf]
        pdf_df = spark.createDataFrame(rows, "url string, html binary") \
            .repartition(CPUS)

        def leg_pdf():
            # total_pages from the engine-emitted n_pages column, not a
            # hard-coded per-fixture dict (stays correct if corpus changes)
            agg_holder["pdf"] = engine.extract_pages(
                pdf_df, repartition=False).selectExpr(
                "count(*) docs",
                "sum(case when status='success' then 1 else 0 end) ok",
                "sum(n_pages) pages").collect()[0]

        legs.append(("extract_pdf", leg_pdf))

    qs = entrymod.queries()
    bench_queries = [
        "tpch_q1_pricing_summary", "tpch_q3_top_orders", "region_revenue",
        "events_hourly", "event_sessions", "top_users_per_event_type",
        "doc_stats", "doc_exact_dups", "doc_lang_agg",
        "ngram_jaccard_dups", "doc_fingerprints", "emb_cosine_dups",
        "emb_knn_bruteforce", "minhash_near_dups", "simhash_near_dups",
        "emb_knn_lsh", "emb_knn_ivf", "doc_chunks", "near_dup_groups",
        "doc_confidence", "gopher_quality", "dup_passages",
        "pii_scrub", "repetition_stats", "bpe_token_stats", "source_profile",
        "stratified_sample", "decontaminate", "domain_profile",
        "tfidf_keywords", "unigram_surprisal", "quality_gate",
        "event_funnel", "embedding_profile", "dsir_weights", "vocab_zipf",
        "sequence_pack", "perplexity_buckets", "incremental_novelty",
        "source_vocab_overlap", "retention_cohorts", "host_cap",
        "dup_spans", "split_leakage", "bm25_topk", "pmi_pairs",
        "crawl_frontier", "train_split", "bigram_surprisal", "readability",
        "url_features", "kmeans_clusters", "semantic_dedup",
        "bpe_real_tokens",
    ]

    def make_query_leg(fn):
        def leg():
            agg_holder["rows_last"] = fn(spark, SF_DIR).count()
        return leg

    row_counts: dict[str, int] = {}
    for name in bench_queries:
        legs.append((name, make_query_leg(qs[name])))

    # ---- warm python workers (one real task per core) so pass 1 measures
    # steady-state throughput, not process spawn --------------------------
    warm = (spark.range(CPUS * 4)
            .selectExpr("cast(id as string) url",
                        "cast('<p>warm</p>' as binary) html")
            .repartition(CPUS))
    engine.extract_pages(warm, repartition=False).count()

    # ---- interleaved passes ---------------------------------------------
    # pass 0 is an unrecorded warm pass: the first execution of every
    # leg pays one-time plan-compile/codegen cost, which would inflate
    # the IQR (the medians barely move but the noise floor would read
    # cold-start, not steady-state). Skippable via BENCH_WARM=0.
    warm_passes = int(os.environ.get("BENCH_WARM", "1"))
    for _pass in range(warm_passes + N_REPS):
        recorded = _pass >= warm_passes
        for name, leg in legs:
            if name in errors:
                continue
            try:
                t0 = time.perf_counter()
                leg()
                dt = time.perf_counter() - t0
                if recorded:
                    samples.setdefault(name, []).append(dt)
                if "rows_last" in agg_holder:
                    row_counts[name] = agg_holder.pop("rows_last")
            except Exception as e:  # keep the bench line parseable
                errors[name] = type(e).__name__

    # ---- aggregate -------------------------------------------------------
    timings: dict[str, float] = {}
    rel_iqrs: list[float] = []
    for name, _ in legs:
        if name in errors or not samples.get(name):
            timings[name] = -1.0
            extras[f"error_{name}"] = errors.get(name, "no_sample")
            continue
        xs = samples[name]
        med = _median(xs)
        iqr = _iqr(xs)
        timings[name] = round(med, 3)
        extras[f"iqr_{name}"] = round(iqr, 3)
        if med > 0.05:
            rel_iqrs.append(iqr / med)
    for name, n in row_counts.items():
        extras[f"rows_{name}"] = n

    t_extract = timings.get("extract_pages", -1.0)
    if t_extract > 0 and "html" in agg_holder:
        agg = agg_holder["html"]
        extras["extract_docs"] = agg["docs"]
        extras["extract_ok"] = agg["ok"]
        extras["docs_per_sec"] = round(agg["docs"] / t_extract, 2)
        extras["html_mb_per_sec"] = round(
            html_bytes / 1e6 / t_extract, 2)
    t_pdf = timings.get("extract_pdf", -1.0)
    if t_pdf > 0 and "pdf" in agg_holder:
        pagg = agg_holder["pdf"]
        extras["pdf_docs"] = pagg["docs"]
        extras["pdf_ok"] = pagg["ok"]
        extras["pdf_pages"] = int(pagg["pages"] or 0)
        extras["pdf_pages_per_sec"] = round((pagg["pages"] or 0) / t_pdf, 2)
        extras["pdf_docs_per_sec"] = round(pagg["docs"] / t_pdf, 2)

    total = round(sum(t for t in timings.values() if t > 0), 3)
    # suite noise floor: median relative IQR across legs - a
    # round-over-round delta smaller than this is indistinguishable
    # from sandbox noise
    noise_floor = round(_median(rel_iqrs), 3) if rel_iqrs else 0.0
    out = {
        "metric": "extraction+operator suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": CPUS,
        "reps": N_REPS,
        "stat": "median",
        "noise_floor": noise_floor,
        **extras,
        **solo,
    }
    spark.stop()
    _emit(out)


if __name__ == "__main__":
    if "--solo" in sys.argv[1:]:
        solo_main()
    else:
        main()
