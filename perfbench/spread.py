#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload batch --seeds 1-10 [--seconds 10]

Runs the benchmark once per seed (one after another, never in
parallel), then prints each metric's median, quartiles and the
quartile spread as a share of the median (``statistics.quantiles(v,
n=4)``) next to the bound ``BENCHMARK.json`` fixes for it. Results
append to ``.bench_work/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", type=int, default=None)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = ROOT / ".bench_work" / f"spread-{args.workload}.jsonl"
    log.parent.mkdir(exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        detail = json.loads(lines[-2][len("detail "):])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, **res, "detail": detail}) + "\n")
        print(seed, res["correct"], res["attempted"], res["failed"],
              {k: round(v["value"], 4) for k, v in res["metrics"].items()},
              flush=True)
        if not res["correct"]:
            return 1
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, v in values.items():
        q1, q2, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / q2
        bound = bounds.get(k)
        flag = "" if bound is None or spread < bound / 3 else "  <-- over bound/3"
        print(f"{k}: median {q2:.4g} q1 {q1:.4g} q3 {q3:.4g} "
              f"spread {spread:.3f} bound {bound}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
