"""End-to-end Spark tests: extraction job, skew split, metrics, resume,
parallelism invariance (SURVEY.md §7 v2 machinery)."""

import pathlib
import shutil
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from docling_spark import engine, pages as pages_mod


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
    golden = pathlib.Path(
        "/root/reference/tests/data/html/groundtruth/example_01.html.md"
    ).read_text()
    assert row["md"] == golden
    res.unpersist()


def test_column_pruning_reaches_scan(spark):
    """The physical plan must read only url+html from parquet."""
    pages = spark.read.parquet(pages_mod.ensure_pages(48))
    res = engine.extract_pages(pages, repartition=False)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "html" in read_schema and "url" in read_schema
    assert "warc_ts" not in read_schema and "lang" not in read_schema


def test_skew_split_partitioning(spark):
    pages = _pages(spark, 48)
    # low threshold forces the fixture wiki_duck (~800KB) into the big branch
    out = engine.partition_pages(pages.select("url", "html"),
                                 num_partitions=4, skew_threshold=100_000)
    assert out.count() == 48
    assert set(out.columns) == {"url", "html"}


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
    # metrics land at the end of a run: a crash after the last commit but
    # before them is healed by the next run without re-extracting
    shutil.rmtree(ck.metrics_path)
    r3 = ck2.run(pages)
    assert r3["processed"] == []
    assert _metrics_docs(spark, ck) == 40


def _metrics_docs(spark, ck):
    return spark.read.parquet(ck.metrics_path).agg(
        F.sum("doc_count")).first()[0]


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
    """Staging, metrics and manifest commits are per run, not per group:
    doubling the commit groups adds at most one job per extra group.  Every
    job, including those of groups run in worker threads, carries the
    caller's job group, and the caller's description is left untouched."""
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
    # two slots for four groups, so groups 2 and 3 wait for a free slot
    monkeypatch.setattr(engine.CheckpointedExtraction, "_groups_in_flight",
                        lambda self: 2)
    real_commit = engine.CheckpointedExtraction._commit
    failed = threading.Event()
    attempted = []

    def commit(self, gid, buckets):
        attempted.append(gid)
        if gid == 0:
            failed.set()
            raise RuntimeError("commit of group 0 failed")
        # group 1 commits only after group 0 has failed
        assert failed.wait(120)
        real_commit(self, gid, buckets)

    monkeypatch.setattr(engine.CheckpointedExtraction, "_commit", commit)
    with pytest.raises(RuntimeError, match="commit of group 0 failed"):
        ck.run(pages)
    # every started group reaches its commit, so 2 and 3 never started
    assert sorted(attempted) == [0, 1]
    assert ck.committed_buckets() == {1}
    monkeypatch.undo()
    r = engine.CheckpointedExtraction(spark, out, num_buckets=4,
                                      group_size=1).run(pages)
    assert r["resumed_from"] == [1]
    assert r["processed"] == [0, 2, 3]
    res = spark.read.parquet(ck.results_path)
    assert res.count() == 40
    assert res.select("url").distinct().count() == 40
    assert _metrics_docs(spark, ck) == 40
    assert ck.committed_buckets() == {0, 1, 2, 3}


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
    monkeypatch.setattr(engine.CheckpointedExtraction, "_task_slots",
                        lambda self: 2)
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
    assert ck._task_slots() > 2
    assert ck.run(pages)["processed"] == [0, 1, 2, 3]
    spans = _input_files_per_group(pages, ck)
    assert {gid: _results_files(ck, gid) for gid in (0, 2)} == spans
    assert spark.read.parquet(ck.results_path).select(
        "url").distinct().count() == 40


def test_checkpoint_without_aqe(spark, tmp_path, monkeypatch):
    """The staging rebalance is a layout hint only: with AQE off, the run
    still extracts every page once and commits every bucket."""
    # as many groups as slots, so staging asks for the rebalance
    monkeypatch.setattr(engine.CheckpointedExtraction, "_task_slots",
                        lambda self: 2)
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
    """A crash that commits only SOME buckets of a group must not lose or
    duplicate rows on resume: group ids come from a fixed bucket-range
    partition and the whole fixed group is re-extracted + overwritten
    (round-2 advice: order-dependent gids left stale grp dirs)."""
    pages = _pages(spark, 40)
    out = str(tmp_path / "torn")
    ck = engine.CheckpointedExtraction(spark, out, num_buckets=4,
                                       group_size=2)
    ck.run(pages)
    total = spark.read.parquet(ck.results_path).count()
    assert total == 40
    # simulate a torn commit: drop bucket 1's manifest row (group {0,1}
    # is now half-committed) but leave the results directory intact
    mf = spark.read.parquet(ck.manifest_path)
    kept = mf.where("bucket <> 1")
    tmp_mf = str(tmp_path / "mf_tmp")
    kept.coalesce(1).write.mode("overwrite").parquet(tmp_mf)
    shutil.rmtree(ck.manifest_path)
    shutil.move(tmp_mf, ck.manifest_path)
    # a commit torn before its rename leaves a `_`-prefixed temp file that
    # readers must not see
    pq.write_table(pa.table({"bucket": pa.array([1], pa.int32()),
                             "committed_at": [0.0]}),
                   f"{ck.manifest_path}/_commit-torn.parquet")
    ck2 = engine.CheckpointedExtraction(spark, out, num_buckets=4,
                                        group_size=2)
    assert sorted(ck2.committed_buckets()) == [0, 2, 3]
    r = ck2.run(pages)
    # only the torn group's pending bucket is (re)committed...
    assert r["processed"] == [1]
    # ...and the results hold exactly one row per input, no dupes/loss
    res = spark.read.parquet(ck.results_path)
    assert res.count() == 40
    assert res.select("url").distinct().count() == 40
    # the re-extracted group's metrics replace, not add to, the old ones
    assert _metrics_docs(spark, ck) == 40
    assert not (tmp_path / "torn" / "staged").exists()
    assert sorted(ck2.committed_buckets()) == [0, 1, 2, 3]


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


def test_extract_pages_with_doctags_column(spark):
    """Opt-in doctags export column (reference OutputFormat doctags)."""
    rows = [("https://x/a.html",
             b"<html><body><h1>T</h1><p>hello world</p></body></html>")]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = engine.extract_pages(df, repartition=False,
                               extra_exports=("doctags",)).collect()[0]
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
    out = engine.extract_pages(df, repartition=False,
                               extra_exports=("html",)).collect()[0]
    assert out["status"] == "success"
    page = out["html"]
    assert page.startswith("<!DOCTYPE html>")
    assert "<p>hello</p>" in page and page.rstrip().endswith("</html>")
    assert "html" not in engine.extract_pages(df, repartition=False).columns
