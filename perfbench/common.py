"""Shared pieces: the Spark session lifecycle, Spark's own job and
stage accounting, run conditions, and summary statistics."""

from __future__ import annotations

import math
import os
import resource
import statistics
import subprocess
import time

from pyspark import SparkContext

from data_feature_extraction_and_retrieval_pipeline_spark.session import (
    get_spark,
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) CPU jiffies from /proc/stat: steal is time the
    host ran something else while this machine's CPUs wanted to run."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def steal_share(before: tuple[int, int]) -> float:
    total, steal = cpu_jiffies()
    return (steal - before[1]) / max(total - before[0], 1)


def peak_rss_mb() -> float:
    """Peak resident set of THIS Python process (the JVM is a separate
    process and is not included)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def pct(values, q: float):
    """Nearest-rank percentile ``q`` (0-100): an actual sample, never a
    blend of two neighbours."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    return v[max(math.ceil(q / 100.0 * len(v)) - 1, 0)]


def median(values) -> float:
    return statistics.median(values)


# -- Spark session ------------------------------------------------------


def start_spark(work: str, batch: bool):
    """A session from the package's factory. ``batch=True`` applies the
    exact configuration ``bench.py`` uses for the registry queries, on
    half the cores: with a task thread per core, Spark's task threads,
    its driver threads and the Python driver outnumber the cores, and
    a busy host then stretches every stage by its slowest task (over
    four seeds run at both sizes back to back on a 4-vCPU machine,
    warm-pass throughput spread 1.7x at 4 slots and 1.2x at 2). Serving uses the factory defaults. Every scratch file
    Spark writes goes under ``work``."""
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        # no hsperfdata file under /tmp; JVM temp files under ``work``
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
        ),
    }
    kwargs: dict = {"app_name": "perfbench", "cpus": nproc()}
    if batch:
        extra.update(
            {
                "spark.sql.adaptive.enabled": "false",
                "spark.locality.wait": "0ms",
            }
        )
        kwargs["shuffle_partitions"] = 4
        kwargs["cpus"] = max(nproc() // 2, 1)
    spark = get_spark(extra_conf=extra, **kwargs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM that pyspark launched, and wait
    for it to exit (its Python workers exit with it)."""
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def job_floor_ms(spark, reps: int = 5) -> float:
    """Median wall of a no-op 32-task job: the per-job fixed cost."""
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(0, 32 * 1000, 1, 32).count()
        out.append((time.perf_counter() - t0) * 1000.0)
    return median(out)


class JobLedger:
    """Spark's own accounting of the jobs a SparkContext ran, read from
    its status store (kept whether or not the UI runs)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def max_job_id(self) -> int:
        jobs = self.store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())),
                   default=-1)

    def jobs(self, ids=None, after: int = -1) -> dict:
        """Totals over jobs ``ids`` (or every job with id > ``after``):
        jobs, tasks, failed tasks, summed job wall, shuffle bytes
        written and bytes spilled."""
        tot = {
            "jobs": 0, "tasks": 0, "failed_tasks": 0, "job_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0,
        }
        if ids is None:
            jl = self.store.jobsList(None)
            datas = [jl.apply(i) for i in range(jl.size())]
            datas = [j for j in datas if j.jobId() > after]
        else:
            datas = [self.store.job(int(i)) for i in ids]
        for j in datas:
            tot["jobs"] += 1
            tot["tasks"] += j.numTasks()
            tot["failed_tasks"] += j.numFailedTasks()
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                tot["job_s"] += (
                    done.get().getTime() - sub.get().getTime()
                ) / 1000.0
            stages = j.stageIds()
            for k in range(stages.size()):
                try:
                    st = self.store.lastStageAttempt(stages.apply(k))
                except Exception:  # evicted or never submitted
                    continue
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["spill_bytes"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                )
        return tot

    def last_completion_s(self, ids) -> float | None:
        """Latest completion (epoch s, ms resolution) of jobs ``ids``."""
        done = [self.store.job(int(i)).completionTime() for i in ids]
        ms = [d.get().getTime() for d in done if d.isDefined()]
        return max(ms) / 1000.0 if ms else None

    def group(self, gid: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(gid))


def collect_totals(spark, records: list) -> dict:
    """Sum over the traced collects in ``records`` (emptied): Catalyst
    planning ms, and fetch ms = time from the end of the collect's last
    Spark job to the collect returning rows (the whole collect when it
    ran no job). Records come from spans.wrap_collect."""
    ledger = JobLedger(spark)
    plan = fetch = 0.0
    for gid, wall, plan_s, end in records:
        plan += plan_s
        last = ledger.last_completion_s(ledger.group(gid))
        fetch += wall if last is None else max(end - last, 0.0)
    n = len(records)
    records.clear()
    return {"plan_ms": plan * 1000.0, "fetch_ms": fetch * 1000.0,
            "collects": n}


def exec_layers(units: list[dict]) -> dict:
    """Spark-side per-layer numbers, each the median over units of work
    (one hot build, or one warm batch pass) of the unit's total."""
    out = {}
    for k in ("jobs", "tasks", "failed_tasks", "job_s",
              "shuffle_write_bytes", "spill_bytes"):
        out[f"exec.{k}"] = median([u[k] for u in units])
    out["catalyst.plan_ms"] = median([u["plan_ms"] for u in units])
    out["fetch_ms"] = median([u["fetch_ms"] for u in units])
    out["units"] = len(units)
    return out
