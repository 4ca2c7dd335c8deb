"""End-to-end Spark tests: extraction job, one-scan largest-first
partitioning, metrics, resume, parallelism invariance (SURVEY.md §7 v2
machinery)."""

import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import threading
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from docling_spark import engine, pages as pages_mod

from conftest import REF


def _pages(spark, n=48):
    return spark.read.parquet(pages_mod.ensure_pages(n))


def test_extract_pages_end_to_end(spark):
    res = engine.extract_pages(_pages(spark), repartition=True).cache()
    total = res.count()
    assert total == 48
    ok = res.where(F.col("status") == "success").count()
    assert ok == total  # all fixture/synthetic pages extract cleanly
    # fixture row must match the reference golden byte-for-byte
    row = res.where(F.col("url").startswith(
        "https://fixture.test/html/example_01")).first()
    res.unpersist()
    golden = REF / "html/groundtruth/example_01.html.md"
    if not golden.exists():
        pytest.skip(f"Docling corpus absent: {golden}")
    assert row is not None, "pages table has no example_01 fixture row"
    assert row["md"] == golden.read_text()


def test_ensure_pages_keyed_on_fixture_set(tmp_path, monkeypatch):
    """A fixture corpus that appears after a table was cached gets a fresh
    table holding its rows, not the cached all-synthetic one."""
    fixtures = tmp_path / "fixtures"
    fixtures.mkdir()
    monkeypatch.setattr(pages_mod, "FIXTURE_DIR", fixtures)
    cache = tmp_path / "cache"
    bare = pages_mod.ensure_pages(8, cache_dir=cache)
    (fixtures / "example_01.html").write_bytes(b"<html><p>hi</p></html>")
    with_fixture = pages_mod.ensure_pages(8, cache_dir=cache)
    assert with_fixture != bare
    urls = pq.read_table(with_fixture).column("url").to_pylist()
    assert urls[0] == "https://fixture.test/html/example_01#0"
    assert not any("fixture.test" in u
                   for u in pq.read_table(bare).column("url").to_pylist())


def test_column_pruning_reaches_scan(spark):
    """The physical plan must read only url+html from parquet."""
    pages = spark.read.parquet(pages_mod.ensure_pages(48))
    res = engine.extract_pages(pages, repartition=False)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "html" in read_schema and "url" in read_schema
    assert "warc_ts" not in read_schema and "lang" not in read_schema


def test_generate_pages_oversized_rows_are_html():
    """Every ``skew_every``-th row is an oversized html page, also where its
    slot would otherwise be csv (``i % 16 == 15``)."""
    rows = pages_mod.generate_pages(32, skew_every=16, include_fixtures=False)
    median = statistics.median(len(r["html"]) for r in rows)
    big = [r for r in rows if len(r["html"]) > 10 * median]
    assert [r["url"] for r in big] == ["https://synth.test/15/15",
                                       "https://synth.test/31/31"]
    assert all(r["html"].startswith(b"<!DOCTYPE html>") for r in big)


def test_one_scan_largest_first_partitioning(spark, tmp_path):
    """The default extraction plan reads its input once and shuffles once;
    ``partition_pages`` deals each scan split's rows largest first over
    ``max(spark.sql.shuffle.partitions, TASKS_PER_SLOT x task slots)``
    tasks, starting split s's deal at task s, so the splits' largest rows
    land in the first tasks, the same tasks on every evaluation. The
    oversized rows extract like the rest."""
    src = str(tmp_path / "src")
    spark.read.parquet(
        pages_mod.ensure_pages(48, skew_every=16, skew_repeat=32)
    ).repartition(3).write.parquet(src)
    pages = spark.read.parquet(src)
    res = engine.extract_pages(pages)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange") == 1

    cols = pages.select("url", "html")
    out = engine.partition_pages(cols)
    assert out.columns == cols.columns
    n = max(int(spark.conf.get("spark.sql.shuffle.partitions")),
            engine.TASKS_PER_SLOT * engine._task_slots(spark))
    assert out.rdd.getNumPartitions() == n

    def task_of_url(df):
        return dict(df.select("url", F.spark_partition_id()).rdd
                    .map(tuple).collect())

    first = task_of_url(out)
    assert len(first) == 48 and first == task_of_url(out)
    split_rows = cols.select("url", F.length("html").alias("len"),
                             F.spark_partition_id().alias("split")).collect()
    largest = {}  # split -> its first row in the deal's order
    for r in split_rows:
        key = (-r["len"], r["url"])
        largest[r["split"]] = min(largest.get(r["split"], key), key)
    assert {split: first[url] for split, (_, url) in largest.items()} == {
        0: 0, 1: 1, 2: 2}

    rows = res.select("url", "status", "html_bytes", "partition_id").collect()
    assert len(rows) == 48
    assert all(r["status"] == "success" for r in rows)
    synth = sorted((r["html_bytes"], r["url"], r["partition_id"])
                   for r in rows if r["url"].startswith("https://synth.test/"))
    assert synth[-1][0] > 10 * statistics.median(b for b, _, _ in synth)
    assert synth[-1][2] == first[synth[-1][1]] < 3  # it ran in a first task


def test_largest_first_deal_spreads_one_heavy_row_per_split(spark):
    """With more scan splits than tasks, each split's one oversized row
    goes to a different task until every task has one: the deal's start
    moves with the split."""
    n = max(int(spark.conf.get("spark.sql.shuffle.partitions")),
            engine.TASKS_PER_SLOT * engine._task_slots(spark))
    splits = n + 5
    pages = spark.range(0, 3 * splits, numPartitions=splits).selectExpr(
        "concat('u', id) url",
        "cast(repeat('x', if(id % 3 = 0, 10000, 10)) as binary) html")
    out = engine.partition_pages(pages).select(
        F.length("html").alias("len"), F.spark_partition_id().alias("t"))
    tasks = [r["t"] for r in out.collect() if r["len"] > 10]
    assert len(tasks) == splits
    assert len(set(tasks)) == n  # every task got one, five got two


def test_partition_metrics_cover_all_docs(spark):
    res = engine.extract_pages(_pages(spark), repartition=True)
    m = engine.partition_metrics(res)
    rows = m.collect()
    assert sum(r["doc_count"] for r in rows) == 48
    assert all(r["failure_count"] == 0 for r in rows)
    assert sum(r["byte_count"] for r in rows) > 0


def test_checkpoint_resume(spark, tmp_path):
    pages = _pages(spark, 40)
    out = str(tmp_path / "run1")
    ck = engine.CheckpointedExtraction(spark, out, num_buckets=4, group_size=2)
    r1 = ck.run(pages)
    assert r1["resumed_from"] == []
    assert sorted(r1["processed"]) == [0, 1, 2, 3]
    n1 = spark.read.parquet(ck.results_path).count()
    assert n1 == 40
    # resume: everything committed -> nothing reprocessed, no duplicates
    ck2 = engine.CheckpointedExtraction(spark, out, num_buckets=4, group_size=2)
    r2 = ck2.run(pages)
    assert r2["processed"] == []
    assert sorted(r2["resumed_from"]) == [0, 1, 2, 3]
    assert spark.read.parquet(ck.results_path).count() == 40
    assert _metrics_docs(spark, ck) == 40


def _metrics_docs(spark, ck):
    return spark.read.parquet(ck.manifest_path).agg(
        F.sum("doc_count")).first()[0]


def _pages_with_poison(spark, n=40):
    """``n`` crawl pages plus one corrupt ``.docx`` row, which extracts to
    a failure envelope."""
    poison = spark.createDataFrame(
        [("https://poison.test/broken.docx", b"PK\x03\x04 not a zip")],
        "url string, html binary")
    return _pages(spark, n).select("url", "html").unionByName(poison)


def _metrics_by_group(spark, ck):
    rows = spark.read.parquet(ck.manifest_path).collect()
    return {r["grp"]: r for r in rows}


def test_checkpoint_metrics_observed_on_write(spark, tmp_path):
    """A run observes each group's metrics on its results write and
    commits them with the group: each group's one manifest row equals an
    aggregate over that group's results."""
    ck = engine.CheckpointedExtraction(spark, str(tmp_path / "obs"),
                                       num_buckets=4, group_size=2)
    assert ck.run(_pages_with_poison(spark))["processed"] == [0, 1, 2, 3]
    failed = F.col("status") != "success"
    want = {r["grp"]: r for r in spark.read.parquet(ck.results_path)
            .groupBy("grp").agg(
                F.count(F.lit(1)).alias("doc_count"),
                F.sum("html_bytes").alias("byte_count"),
                F.sum(failed.cast("long")).alias("failure_count"),
                F.sort_array(F.collect_list(F.when(
                    failed, F.concat_ws(": ", "url", "error"))))
                .alias("failures"),
                F.sum("parse_ms").alias("parse_ms"),
                F.sum("serialize_ms").alias("serialize_ms")).collect()}
    got = _metrics_by_group(spark, ck)
    assert sorted(got) == sorted(want) == [0, 2]
    assert spark.read.parquet(ck.manifest_path).count() == 2
    for gid, w in want.items():
        g = got[gid]
        assert sorted(g["buckets"]) == [gid, gid + 1]
        for c in ("doc_count", "byte_count", "failure_count"):
            assert g[c] == w[c], (gid, c)
        assert sorted(g["failures"]) == w["failures"]
        assert g["parse_ms"] == pytest.approx(w["parse_ms"])
        assert g["serialize_ms"] == pytest.approx(w["serialize_ms"])
    assert sum(w["failure_count"] for w in want.values()) == 1
    assert sum(len(g["failures"]) for g in got.values()) == 1


def test_checkpoint_summary_matches_results(spark, tmp_path):
    """``summary()`` totals the manifest to the same figures an aggregate
    over ``results/`` gives, without reading ``results/``."""
    ck = engine.CheckpointedExtraction(spark, str(tmp_path / "sum"),
                                       num_buckets=4, group_size=2)
    ck.run(_pages_with_poison(spark))
    want = spark.read.parquet(ck.results_path).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("html_bytes").alias("bytes"),
        F.sum((F.col("status") == "success").cast("long")).alias("ok"),
        F.avg("parse_ms").alias("avg_parse_ms"),
        F.avg("serialize_ms").alias("avg_serialize_ms")).first()
    shutil.rmtree(ck.results_path)  # the summary reads the manifest alone
    got = ck.summary()
    assert set(got) == set(want.asDict())
    assert (got["docs"], got["bytes"], got["ok"]) == (41, want["bytes"], 40)
    assert want["docs"] == 41 and want["ok"] == 40
    assert got["avg_parse_ms"] == pytest.approx(want["avg_parse_ms"])
    assert got["avg_serialize_ms"] == pytest.approx(want["avg_serialize_ms"])


def test_checkpoint_resume_on_uri_output(spark, tmp_path):
    """A scheme-qualified output resumes too: the manifest is looked up
    through the Hadoop FileSystem Spark reads it with, not a local path."""
    pages = _pages(spark, 40)
    out = (tmp_path / "uri").as_uri()
    assert out.startswith("file://")
    r1 = engine.CheckpointedExtraction(spark, out, num_buckets=4,
                                       group_size=2).run(pages)
    assert sorted(r1["processed"]) == [0, 1, 2, 3]
    ck = engine.CheckpointedExtraction(spark, out, num_buckets=4,
                                       group_size=2)
    r2 = ck.run(pages)
    assert r2["processed"] == []
    assert sorted(r2["resumed_from"]) == [0, 1, 2, 3]
    assert spark.read.parquet(ck.results_path).count() == 40


def test_checkpoint_jobs_per_commit_group(spark, tmp_path):
    """Staging is per run, and the manifest commits run no Spark job:
    doubling the commit groups adds at most one job per extra group.
    Every job, including those of groups run in worker threads, carries
    the caller's job group, and the caller's description is left
    untouched."""
    pages = _pages(spark, 40)
    sc = spark.sparkContext

    def jobs(action) -> int:
        tag = f"jobs-{uuid.uuid4().hex}"
        ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
        sc.setJobGroup(tag, tag)
        try:
            action()
            assert sc.getLocalProperty("spark.job.description") == tag
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert set(sc.statusTracker().getJobIdsForGroup(None)) <= ungrouped
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    def run(groups):
        out = str(tmp_path / f"g{groups}")
        ck = engine.CheckpointedExtraction(spark, out, num_buckets=4,
                                           group_size=4 // groups)
        return lambda: ck.run(pages)

    g, g2 = jobs(run(2)), jobs(run(4))
    assert g > 0
    assert g2 - g <= 2, (g, g2)


def test_checkpoint_group_failure_resume(spark, tmp_path, monkeypatch):
    """A group failing mid-run: the group in flight with it still finishes
    and commits, no later group starts, ``run()`` re-raises the error, and
    the next run extracts only the uncommitted buckets."""
    pages = _pages(spark, 40)
    out = str(tmp_path / "fail")
    ck = engine.CheckpointedExtraction(spark, out, num_buckets=4,
                                       group_size=1)
    # two slots for four groups, so groups 2 and 3 wait for a free slot;
    # groups 0 and 1 are the largest, so they start first
    monkeypatch.setattr(engine.CheckpointedExtraction, "_groups_in_flight",
                        lambda self: 2)
    monkeypatch.setattr(engine.CheckpointedExtraction, "_staged_bytes",
                        lambda self: {0: 4, 1: 3, 2: 2, 3: 1})
    real_commit = engine.CheckpointedExtraction._commit
    failed = threading.Event()
    attempted = []

    def commit(self, gid, buckets, metrics):
        attempted.append(gid)
        if gid == 0:
            failed.set()
            raise RuntimeError("commit of group 0 failed")
        # group 1 commits only after group 0 has failed
        assert failed.wait(120)
        real_commit(self, gid, buckets, metrics)

    monkeypatch.setattr(engine.CheckpointedExtraction, "_commit", commit)
    with pytest.raises(RuntimeError, match="commit of group 0 failed"):
        ck.run(pages)
    # every started group reaches its commit, so 2 and 3 never started
    assert sorted(attempted) == [0, 1]
    assert ck.committed_buckets() == {1}
    # the failed run still deleted its staged copy of the input, and the
    # group it committed already has its metrics row
    assert not pathlib.Path(out, "staged").exists()
    res1 = spark.read.parquet(ck.results_path).where("grp = 1")
    assert _metrics_by_group(spark, ck)[1]["doc_count"] == res1.count() > 0
    monkeypatch.undo()
    r = engine.CheckpointedExtraction(spark, out, num_buckets=4,
                                      group_size=1).run(pages)
    assert r["resumed_from"] == [1]
    assert r["processed"] == [0, 2, 3]
    res = spark.read.parquet(ck.results_path)
    assert res.count() == 40
    assert res.select("url").distinct().count() == 40
    # the summary of both runs' commits equals the results' own totals
    want = res.agg(F.sum("html_bytes"), F.sum(
        (F.col("status") == "success").cast("long"))).first()
    got = ck.summary()
    assert (got["docs"], got["bytes"], got["ok"]) == (40, want[0], want[1])
    assert ck.committed_buckets() == {0, 1, 2, 3}


def test_checkpoint_starts_largest_group_first(spark, tmp_path, monkeypatch):
    """Groups start in order of their staged bytes, largest first, with
    ties in gid order; ``processed`` stays in gid order. One group at a
    time, so the commit order is the start order."""
    base = _pages(spark, 40)
    bucket = F.pmod(F.xxhash64("url"), F.lit(4))
    big_url = (spark.createDataFrame(
        [(f"https://big.test/{i}",) for i in range(32)], "url string")
        .where(bucket == 2).first()["url"])
    # random hex does not compress: 256 KB staged, several times the
    # rest of the table
    page = b"<p>" + os.urandom(128 * 1024).hex().encode() + b"</p>"
    pages = base.select("url", "html").unionByName(spark.createDataFrame(
        [(big_url, page)], "url string, html binary"))
    monkeypatch.setattr(engine.CheckpointedExtraction, "_groups_in_flight",
                        lambda self: 1)
    real_commit = engine.CheckpointedExtraction._commit
    real_sizes = engine.CheckpointedExtraction._staged_bytes
    commits, sizes = [], {}

    def commit(self, gid, buckets, metrics):
        commits.append(gid)
        real_commit(self, gid, buckets, metrics)

    def staged_bytes(self):
        sizes.update(real_sizes(self))
        return sizes

    monkeypatch.setattr(engine.CheckpointedExtraction, "_commit", commit)
    monkeypatch.setattr(engine.CheckpointedExtraction, "_staged_bytes",
                        staged_bytes)
    ck = engine.CheckpointedExtraction(spark, str(tmp_path / "big"),
                                       num_buckets=4, group_size=1)
    assert ck.run(pages)["processed"] == [0, 1, 2, 3]
    assert set(sizes) == {0, 1, 2, 3}
    assert sizes[2] > sum(sizes.values()) - sizes[2]
    assert commits[0] == 2
    assert commits == sorted(sizes, key=lambda g: (-sizes[g], g))
    assert spark.read.parquet(ck.results_path).count() == 41
    # equal sizes: gid order
    commits.clear()
    monkeypatch.setattr(engine.CheckpointedExtraction, "_staged_bytes",
                        lambda self: dict.fromkeys(range(4), 1))
    ck = engine.CheckpointedExtraction(spark, str(tmp_path / "tie"),
                                       num_buckets=4, group_size=1)
    assert ck.run(pages)["processed"] == [0, 1, 2, 3]
    assert commits == [0, 1, 2, 3]


def _input_files_per_group(pages, ck):
    """How many input files hold rows of each commit group: the number of
    staged files a group gets when staging does not shuffle."""
    bucket = F.pmod(F.xxhash64("url"), F.lit(ck.num_buckets))
    rows = (pages.select((bucket - bucket % ck.group_size).alias("grp"),
                         F.input_file_name().alias("f"))
            .groupBy("grp").agg(F.countDistinct("f").alias("n")).collect())
    return {r["grp"]: r["n"] for r in rows}


def _results_files(ck, gid):
    return len(list(pathlib.Path(ck.results_path, f"grp={gid}").glob(
        "part-*.parquet")))


@pytest.mark.parametrize("input_files, advisory", [(4, None), (8, "16k")],
                         ids=["small", "over_advisory_size"])
def test_checkpoint_one_file_per_small_group(spark, tmp_path, monkeypatch,
                                             input_files, advisory):
    """With as many groups as task slots, staging rebalances by commit
    group: a small group is one staged file, extracted by one task into one
    results file, however many files the input has. A group past AQE's
    advisory partition size is split, into fewer files than the input
    splits it spans. Either way the rows are those of ``extract_pages``."""
    src = str(tmp_path / "src")
    _pages(spark, 40).repartition(input_files).write.parquet(src)
    assert len(list(pathlib.Path(src).glob("part-*.parquet"))) == input_files
    pages = spark.read.parquet(src)
    ck = engine.CheckpointedExtraction(spark, str(tmp_path / "ck"),
                                       num_buckets=4, group_size=2)
    # two groups on a two-slot cluster
    monkeypatch.setattr(engine, "_task_slots", lambda spark: 2)
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(key)
    if advisory:
        spark.conf.set(key, advisory)
    try:
        assert ck.run(pages)["processed"] == [0, 1, 2, 3]
    finally:
        spark.conf.set(key, before)
    files = {gid: _results_files(ck, gid) for gid in (0, 2)}
    if advisory is None:
        assert files == {0: 1, 2: 1}
    else:
        spans = _input_files_per_group(pages, ck)
        assert max(files.values()) > 1, files
        assert all(files[g] < spans[g] for g in files), (files, spans)
    # every column but the timings and the task's partition id
    cols = [c for c in engine.EXTRACT_SCHEMA.fieldNames()
            if c not in ("parse_ms", "serialize_ms", "partition_id")]
    assert {"doc_json", "md", "itxt"} <= set(cols)
    got = spark.read.parquet(ck.results_path).select(cols)
    want = engine.extract_pages(pages).select(cols)
    assert got.count() == want.count() == 40
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_checkpoint_fewer_groups_than_slots_keep_split_files(spark, tmp_path):
    """With fewer pending groups than task slots, staging does not shuffle:
    every input file leaves a file in each group it holds rows of, so the
    groups' tasks still spread over the slots."""
    src = str(tmp_path / "src")
    _pages(spark, 40).repartition(4).write.parquet(src)
    pages = spark.read.parquet(src)
    ck = engine.CheckpointedExtraction(spark, str(tmp_path / "ck"),
                                       num_buckets=4, group_size=2)
    assert engine._task_slots(spark) > 2
    assert ck.run(pages)["processed"] == [0, 1, 2, 3]
    spans = _input_files_per_group(pages, ck)
    assert {gid: _results_files(ck, gid) for gid in (0, 2)} == spans
    assert spark.read.parquet(ck.results_path).select(
        "url").distinct().count() == 40


def test_checkpoint_without_aqe(spark, tmp_path, monkeypatch):
    """The staging rebalance is a layout hint only: with AQE off, the run
    still extracts every page once and commits every bucket."""
    # as many groups as slots, so staging asks for the rebalance
    monkeypatch.setattr(engine, "_task_slots", lambda spark: 2)
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        ck = engine.CheckpointedExtraction(spark, str(tmp_path / "noaqe"),
                                           num_buckets=4, group_size=2)
        r = ck.run(_pages(spark, 40))
    finally:
        spark.conf.set(key, before)
    assert r["processed"] == [0, 1, 2, 3]
    res = spark.read.parquet(ck.results_path)
    assert res.count() == 40
    assert res.select("url").distinct().count() == 40
    assert _metrics_docs(spark, ck) == 40
    assert ck.committed_buckets() == {0, 1, 2, 3}


def test_checkpoint_torn_manifest_resume(spark, tmp_path):
    """A crash between a group's results write and its commit leaves the
    group's results but no commit file, maybe a ``_``-prefixed temp file
    that readers must not see. Resume re-extracts only that group, whose
    fixed bucket range keeps its ``grp=<gid>`` directory, and overwrites
    it: no row lost or duplicated, and one manifest row per group."""
    pages = _pages(spark, 40)
    out = str(tmp_path / "torn")
    ck = engine.CheckpointedExtraction(spark, out, num_buckets=4,
                                       group_size=2)
    ck.run(pages)
    assert spark.read.parquet(ck.results_path).count() == 40
    # group 0's commit was created but never renamed into place
    manifest = pathlib.Path(ck.manifest_path)
    (commit0,) = [p for p in manifest.glob("commit-*.parquet")
                  if pq.read_table(p).column("grp").to_pylist() == [0]]
    commit0.rename(manifest / f"_{commit0.name}")
    kept = sorted(p.name for p in pathlib.Path(
        ck.results_path, "grp=2").glob("part-*"))
    ck2 = engine.CheckpointedExtraction(spark, out, num_buckets=4,
                                        group_size=2)
    assert ck2.committed_buckets() == {2, 3}
    r = ck2.run(pages)
    # only the uncommitted group is re-extracted...
    assert r["processed"] == [0, 1]
    assert sorted(p.name for p in pathlib.Path(
        ck.results_path, "grp=2").glob("part-*")) == kept
    # ...and the results hold exactly one row per input, no dupes/loss
    res = spark.read.parquet(ck.results_path)
    assert res.count() == 40
    assert res.select("url").distinct().count() == 40
    # the temp file adds no row: one commit, with its metrics, per group
    assert ck2.summary()["docs"] == 40
    assert sorted(_metrics_by_group(spark, ck)) == [0, 2]
    assert spark.read.parquet(ck.manifest_path).count() == 2
    assert not (tmp_path / "torn" / "staged").exists()
    assert ck2.committed_buckets() == {0, 1, 2, 3}


def test_checkpoint_one_put_per_group(spark, tmp_path, monkeypatch):
    """A run's driver-side bookkeeping is one ``_put`` file per committed
    group, into the manifest; no ``metrics/`` directory is made."""
    real_put = engine.CheckpointedExtraction._put
    puts = []

    def put(self, directory, name, rows, schema):
        puts.append(directory)
        real_put(self, directory, name, rows, schema)

    monkeypatch.setattr(engine.CheckpointedExtraction, "_put", put)
    ck = engine.CheckpointedExtraction(spark, str(tmp_path / "puts"),
                                       num_buckets=4, group_size=1)
    assert ck.run(_pages(spark, 40))["processed"] == [0, 1, 2, 3]
    assert puts == [ck.manifest_path] * 4
    assert len(list(pathlib.Path(ck.manifest_path).glob("*.parquet"))) == 4
    assert not (tmp_path / "puts" / "metrics").exists()
    assert ck.summary()["docs"] == 40


def test_checkpoint_empty_pages(spark, tmp_path):
    """An empty pages table stages no group directory at all; every bucket
    still commits and results/ reads back empty with the full schema."""
    pages = spark.createDataFrame([], "url string, html binary")
    ck = engine.CheckpointedExtraction(spark, str(tmp_path / "empty"),
                                       num_buckets=4, group_size=2)
    r = ck.run(pages)
    assert r["processed"] == [0, 1, 2, 3]
    assert ck.committed_buckets() == {0, 1, 2, 3}
    res = spark.read.parquet(ck.results_path)
    assert res.count() == 0
    assert set(engine.EXTRACT_SCHEMA.fieldNames()) <= set(res.columns)
    assert {"doc_json", "md", "itxt"} <= set(res.columns)
    # one manifest row per group, its metrics observed on the write as
    # zeros
    got = _metrics_by_group(spark, ck)
    assert sorted(got) == [0, 2]
    assert spark.read.parquet(ck.manifest_path).count() == 2
    for r in got.values():
        assert (r["doc_count"], r["byte_count"], r["failure_count"],
                r["failures"], r["parse_ms"], r["serialize_ms"]) == (
                    0, 0, 0, [], 0.0, 0.0)
    assert ck.summary() == {"docs": 0, "bytes": 0, "ok": 0,
                            "avg_parse_ms": None, "avg_serialize_ms": None}


def test_parallelism_invariance(spark):
    """Per-url output must not depend on partition layout (north rule:
    determinism under two cluster sizes)."""
    pages = _pages(spark, 40)
    a = engine.extract_pages(pages.repartition(2), repartition=False)
    b = engine.extract_pages(pages.repartition(16), repartition=False)
    da = {r["url"]: (r["md"], r["doc_json"]) for r in a.collect()}
    db = {r["url"]: (r["md"], r["doc_json"]) for r in b.collect()}
    assert da == db


def test_failure_isolation(spark):
    """A pathological row must produce status=failure, not a task error."""
    rows = [("u://good", b"<p>ok</p>"), ("u://null", None)]
    df = spark.createDataFrame(rows, "url string, html binary")
    res = engine.extract_pages(df, repartition=False).collect()
    by_url = {r["url"]: r for r in res}
    assert by_url["u://good"]["status"] == "success"
    # null html decodes to empty doc - still success, no crash
    assert by_url["u://null"]["status"] == "success"


def test_spans_view(spark):
    res = engine.extract_pages(_pages(spark, 40), repartition=False)
    spans = engine.spans_view(res)
    labels = {r["label"] for r in spans.select("label").distinct().collect()}
    assert "section_header" in labels or "title" in labels


def test_items_view_all_kinds(spark):
    from docling_spark import engine
    html = (b"<html><body><h1>T</h1><p>para</p>"
            b"<table><tr><td>1</td><td>2</td></tr></table>"
            b"<ul><li>x</li></ul>"
            b"<figure><img src='i.png'/><figcaption>c</figcaption>"
            b"</figure></body></html>")
    pages = spark.createDataFrame([("https://x/a", html)],
                                  "url string, html binary")
    res = engine.extract_pages(pages, repartition=False)
    rows = engine.items_view(res).collect()
    kinds = {r["kind"] for r in rows}
    assert kinds == {"text", "table", "picture", "group"}
    table = [r for r in rows if r["kind"] == "table"][0]
    assert (table["num_rows"], table["num_cols"]) == (1, 2)
    pic = [r for r in rows if r["kind"] == "picture"][0]
    assert pic["n_captions"] == 1
    group = [r for r in rows if r["kind"] == "group"][0]
    assert group["label"] == "list"


def test_doc_json_views_reject_a_result_without_it(spark):
    """The views that re-open doc_json fail at analysis on a result that
    does not export it, naming the column, instead of returning no rows."""
    from pyspark.errors import AnalysisException

    from docling_spark import chunking

    res = engine.extract_pages(_pages(spark, 4), repartition=False,
                               exports=("md",))
    for view in (engine.items_view, engine.spans_view, chunking.chunks_view):
        with pytest.raises(AnalysisException, match="doc_json"):
            view(res)


def test_extract_pages_with_doctags_column(spark):
    """Opt-in doctags export column (reference OutputFormat doctags)."""
    rows = [("https://x/a.html",
             b"<html><body><h1>T</h1><p>hello world</p></body></html>")]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = engine.extract_pages(
        df, repartition=False,
        exports=(*engine.DEFAULT_EXPORTS, "doctags")).collect()[0]
    assert out["status"] == "success"
    dt = out["doctags"]
    assert dt.startswith("<doctag>") and dt.endswith("</doctag>")
    assert "<title>" in dt and "hello world" in dt
    # default schema unchanged
    cols = engine.extract_pages(df, repartition=False).columns
    assert "doctags" not in cols


def test_load_pages_resolves_table_and_parquet(spark, tmp_path):
    """load_pages: a catalog-style identifier goes through
    spark.read.table (the Iceberg route), a path reads parquet."""
    rows = [("https://x/a.html", b"<p>hi</p>")]
    df = spark.createDataFrame(rows, "url string, html binary")
    df.createOrReplaceTempView("pages_tbl")
    via_table = engine.load_pages(spark, "pages_tbl")
    assert via_table.count() == 1
    p = str(tmp_path / "pages_pq")
    df.write.parquet(p)
    via_path = engine.load_pages(spark, p)
    assert via_path.count() == 1
    assert set(via_path.columns) == {"url", "html"}


def test_extract_pages_with_html_column(spark):
    """Opt-in standalone-HTML export column (OutputFormat html)."""
    rows = [("https://x/a.html",
             b"<html><body><h2>T</h2><p>hello</p></body></html>")]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = engine.extract_pages(
        df, repartition=False,
        exports=(*engine.DEFAULT_EXPORTS, "html")).collect()[0]
    assert out["status"] == "success"
    page = out["html"]
    assert page.startswith("<!DOCTYPE html>")
    assert "<p>hello</p>" in page and page.rstrip().endswith("</html>")
    assert "html" not in engine.extract_pages(df, repartition=False).columns


def test_job_runs_from_any_cwd(tmp_path):
    """``python job.py`` started outside the repo imports the package
    through the script's directory, which the executors cannot see: the
    job ships the package itself, and its report prints counts as ints."""
    job = pathlib.Path(__file__).resolve().parents[1] / "job.py"
    proc = subprocess.run(
        [sys.executable, str(job), "--input", pages_mod.ensure_pages(40),
         "--output", str(tmp_path / "out"), "--buckets", "4",
         "--group-size", "2"],
        cwd=tmp_path, env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["docs"] == 40 and type(report["docs"]) is int


def test_worker_keeps_spark_archives_across_tasks(spark, tmp_path):
    """After ``keep_spark_archives`` runs in a Python worker, the next task
    in that worker does not re-read ``pyspark.zip``'s directory (Spark's
    per-task ``importlib.invalidate_caches()``), but still re-reads a zip
    added with ``addPyFile``, so a re-shipped package is seen."""
    import zipfile
    mod = f"archive_probe_{uuid.uuid4().hex}"
    user_zip = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(user_zip, "w") as zf:
        zf.writestr(f"{mod}.py", "VALUE = 1\n")
    sc = spark.sparkContext
    sc.addPyFile(str(user_zip))

    def probe(rows):
        # The first task in a worker runs the helper and starts logging
        # zipimport's directory reads; the next one reports the reads
        # made since (Spark's invalidation runs before the task's code)
        # and stops logging. A task that leaves input unread ends its
        # worker, so the probe drains its rows.
        list(rows)
        import importlib
        import os
        import sys
        import zipimport

        from docling_spark import keep_spark_archives
        keep_spark_archives()
        importlib.import_module(mod)
        reads = getattr(zipimport, "_probe_reads", None)
        if reads is None:
            stock = zipimport._read_directory
            zipimport._probe_stock, zipimport._probe_reads = stock, []
            zipimport._read_directory = lambda path: (
                zipimport._probe_reads.append(path), stock(path))[1]
            yield os.getpid(), None, []
            return
        zipimport._read_directory = zipimport._probe_stock
        del zipimport._probe_reads, zipimport._probe_stock
        archives = sorted({imp.archive for imp in sys.path_importer_cache
                           .values() if isinstance(imp, zipimport.zipimporter)})
        yield os.getpid(), reads, archives

    seen = set()
    for _ in range(12):
        pid, reads, archives = sc.parallelize([0], 1).mapPartitions(
            probe).collect()[0]
        if reads is not None and pid in seen:
            break
        seen.add(pid)
    else:
        pytest.fail(f"no two of 12 one-task jobs shared a worker: {seen}")
    spark_zips = [a for a in archives if a.endswith("pyspark.zip")]
    assert spark_zips, archives
    assert not set(spark_zips) & set(reads), reads
    assert [r for r in reads if r.endswith(user_zip.name)], reads
