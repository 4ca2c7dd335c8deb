"""Spark session set-up, the status-store reader and the RSS sampler.

The benchmark reads Spark's own accounting instead of instrumenting the
engine: every stage of a tagged action is fetched from the driver's
``AppStatusStore`` through py4j, so input, shuffle and output bytes, run,
CPU and GC time, and task durations are exact per-run deltas.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field


def _conf(cores: int, work: str):
    """One task slot and one shuffle partition per core, no UI and no
    console progress bar.  Temporary files, shuffle spills and the
    warehouse stay under ``work``."""
    from pyspark import SparkConf
    tmp = os.path.join(work, "tmp")
    return SparkConf().setAll([
        ("spark.master", f"local[{cores}]"),
        ("spark.app.name", "perfbench"),
        ("spark.sql.shuffle.partitions", str(cores)),
        ("spark.ui.enabled", "false"),
        ("spark.ui.showConsoleProgress", "false"),
        ("spark.local.dir", os.path.join(work, "spark-local")),
        ("spark.sql.warehouse.dir", os.path.join(work, "warehouse")),
        # Vectored parquet reads bypass the Hadoop filesystem statistics,
        # so stage input bytes would count only the footers.
        ("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false"),
        ("spark.driver.extraJavaOptions",
         f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
         f"-Dderby.system.home={tmp}"),
    ])


def launch_jvm(cores: int, work: str) -> None:
    """Start the JVM that the sessions run in, without a session, so that
    set-up time counts session start and worker warm-up only."""
    from pyspark import SparkContext
    SparkContext._ensure_initialized(conf=_conf(cores, work))


def start_session(cores: int, work: str):
    from pyspark.sql import SparkSession
    spark = SparkSession.builder.config(conf=_conf(cores, work)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark, cores: int) -> None:
    """Run the extraction once per task slot, so every Python worker has
    imported the converters before anything is timed."""
    from docling_spark import engine
    rows = [(f"https://warm.test/{i}",
             b"<html><body><h1>warm</h1><p>up</p></body></html>")
            for i in range(cores)]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = engine.extract_pages(df).where("status = 'success'").count()
    if got != cores:
        raise RuntimeError(f"warm-up extracted {got} of {cores} docs")


def timed_setup(cores: int, work: str) -> tuple[object, float]:
    """Start a session and warm its workers; return it and the seconds
    that took."""
    t0 = time.perf_counter()
    spark = start_session(cores, work)
    warm_workers(spark, cores)
    return spark, time.perf_counter() - t0


# ------------------------------------------------------------ status store

@dataclass
class StageRow:
    num_tasks: int
    input_bytes: int
    shuffle_write_bytes: int
    output_bytes: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    task_ms: list = field(default_factory=list)


def stages(spark, description: str, with_tasks: bool = False
           ) -> list[StageRow]:
    """Completed stages whose job carries ``description`` (set with
    ``setJobDescription``).  Skipped stages, whose output was reused from
    an earlier job, ran no tasks and are left out."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    # stageList(statuses, details, withSummaries, quantiles, taskStatus);
    # an empty status list means every stage.
    seq = store.stageList(jvm.java.util.ArrayList(), False, False,
                          sc._gateway.new_array(jvm.double, 0),
                          jvm.java.util.ArrayList())
    out = []
    for i in range(seq.size()):
        sd = seq.apply(i)
        if str(sd.status()) != "COMPLETE":
            continue
        desc = sd.description()
        desc = desc.get() if desc.isDefined() else ""
        if desc != description:
            continue
        row = StageRow(sd.numCompleteTasks(),
                       sd.inputBytes(), sd.shuffleWriteBytes(),
                       sd.outputBytes(), sd.executorRunTime(),
                       sd.executorCpuTime(), sd.jvmGcTime())
        if with_tasks:
            tasks = store.taskList(sd.stageId(), sd.attemptId(),
                                   sd.numTasks())
            for j in range(tasks.size()):
                dur = tasks.apply(j).duration()
                if dur.isDefined():
                    row.task_ms.append(int(dur.get()))
        out.append(row)
    return out


def job_count(spark, description: str) -> int:
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    seq = store.jobsList(sc._jvm.java.util.ArrayList())
    n = 0
    for i in range(seq.size()):
        d = seq.apply(i).description()
        n += d.isDefined() and d.get() == description
    return n


# ------------------------------------------------------------ memory

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by
    ``k`` processes counted ``1/k`` in each.  Forked Python workers share
    most of their pages with the daemon, so plain RSS would count them
    once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed resident memory (PSS) of a process tree: the JVM
    and the Python workers it forks, sampled every ``period`` seconds in a
    thread."""

    def __init__(self, root_pid: int, period: float = 0.25):
        self.root_pid = root_pid
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> int:
        kids = _children()
        todo, total = [self.root_pid], 0
        while todo:
            pid = todo.pop()
            total += _pss_bytes(pid)
            todo.extend(kids.get(pid, ()))
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._sample())


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def median(xs) -> float:
    return float(statistics.median(xs))
