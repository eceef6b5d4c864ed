#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload serve-hot --seed 1 --seconds 10 --trace 0

Workloads (workloads.json records why each exists, its loop type, rate
and sizes):

- ``serve-hot``: the HTTP service over the hot tier, open-loop Poisson
  load then a closed-loop capacity phase.
- ``batch``: registry queries over a seeded synthetic corpus (cold-pass
  set-up, then seed-ordered warm passes).

``--trace 0`` measures the end-to-end metrics untraced. ``--trace 1``
records spans around the calls into each layer and reports the
per-layer metrics, plus the tracing overhead against untraced work in
the same run; spans are written to ``.bench_work/traces/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> {value, unit}). The lines before it
name every metric with its unit and sample count, then a ``detail``
JSON line with run conditions and the numbers that are not gated.
Every file the run writes stays under ``.bench_work/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("serve-hot", "batch")

# Gated end-to-end metrics. Latency (p50, mean, p90, p99 with sample
# counts) is printed on every run but not gated: on the shared measuring
# machine its spread over ten seeds (0.26-0.32 of the median) passed the
# largest bound allowed, while closed-loop and pass throughput, which a
# latency regression also lowers, stayed inside it (workloads.json).
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "driver_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.job_floor_ms": "ms",
    "catalyst.plan_ms": "ms",
    "fetch_ms": "ms",
    "exec.job_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "service.cache_hit_ratio": "ratio",
    "service.busy_pct": "%",
    "api.busy_pct": "%",
    "serving.busy_pct": "%",
    "queries.busy_pct": "%",
    "catalyst.busy_pct": "%",
    "exec.busy_pct": "%",
    "trace.overhead_pct": "%",
}


PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h
REAP_GRACE_S = 10.0


def become_subreaper() -> None:
    """Have descendants whose parent exits (the shells spark-submit
    leaves behind when it execs the JVM, pyspark's worker daemon) be
    re-parented to this process rather than to init, so that
    ``reap_descendants`` can wait for every process the run started."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited meanwhile
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(d))
    return out


def reap_descendants() -> None:
    """Wait until this process has no children left: reap those that
    have exited, give the rest ``REAP_GRACE_S`` to end, then kill them.
    With ``become_subreaper`` that covers every descendant."""
    deadline = time.monotonic() + REAP_GRACE_S
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:  # no children at all
            return
        if time.monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")

    # The program under test is the package next to this directory;
    # without it there is nothing to measure.
    sys.path.insert(0, str(ROOT))
    try:
        import data_feature_extraction_and_retrieval_pipeline_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2

    # A stop request unwinds through the ``finally`` blocks that stop
    # the server, the load generator and the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()

    base = ROOT / ".bench_work"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # Python temp files (the package's scratch dirs, pyspark workers)
    # and Spark's block/shuffle files stay inside the checkout.
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # spark-submit's launcher JVM: no hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    )

    if args.workload == "batch":
        import batch as wl
    else:
        import serve as wl
    try:
        out = wl.run(args.seed, args.seconds, bool(args.trace), str(work))
        if args.trace:
            traces = base / "traces"
            traces.mkdir(exist_ok=True)
            dest = traces / f"{args.workload}-{args.seed}.json"
            shutil.move(out.pop("spans"), dest)
            out["detail"]["spans_file"] = str(dest.relative_to(ROOT))
    finally:
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)

    for name, (value, unit, samples) in out["metrics"].items():
        print(f"{name} = {value:.6g} {unit}  ({samples})")
    print(f"error_rate = {out['failed']}/{out['attempted']} operations")
    if args.trace:
        out["detail"]["layers"] = out["layers"]
        metrics = {
            k: {"value": float(out["layers"][k]), "unit": u}
            for k, u in PER_LAYER.items()
        }
    else:
        metrics = {
            k: {"value": out["metrics"][k][0], "unit": u}
            for k, u in END_TO_END.items()
        }
    print("detail " + json.dumps(out["detail"], default=str))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
