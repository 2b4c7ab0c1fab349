#!/usr/bin/env python3
"""Which per-layer counts repeat exactly from run to run.

Usage, from the repo root:

    python3 perfbench/tools/repeat_counts.py [--runs 3] [--seconds 5] [workload ...]

Runs each workload traced (`--trace 1`) several times with the same seed,
so the inputs are identical, and sorts the count metrics (units `count`
and `bytes`) of the layers that workload exercises into those that read
the same in every run and those that vary, with their range. It also
prints the median end-to-end numbers measured under tracing, to set
against untraced runs as the tracing overhead. Only an
exact count can back a count-based claim; a varying one is timing-bound
(micro-batch boundaries, adaptive re-planning) and needs a distribution.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

SPEC = json.loads(Path("BENCHMARK.json").read_text())
COUNT_UNITS = {"count", "bytes"}


def traced(workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", "1"],
        check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in SPEC["workloads"]])
    a = ap.parse_args()
    for w in a.workloads:
        runs = [traced(w, a.seed, a.seconds) for _ in range(a.runs)]
        names = [k for k, v in runs[0].items() if v["unit"] in COUNT_UNITS]
        exact, varying = [], []
        for k in names:
            vals = [r[k]["value"] for r in runs]
            if max(vals) == 0:
                continue  # a layer this workload does not run
            (exact if len(set(vals)) == 1 else varying).append((k, vals))
        print(f"## {w} ({a.runs} traced runs, seed {a.seed})")
        print("exact:   " + ", ".join(f"{k}={v[0]:g}" for k, v in exact))
        print("varying: " + ", ".join(f"{k} {min(v):g}..{max(v):g}" for k, v in varying))
        # end-to-end numbers under tracing, against untraced runs: overhead
        print("traced:  " + ", ".join(
            f"{k}={statistics.median(r[k]['value'] for r in runs):.4g}"
            for k in ("trace.throughput_per_s", "trace.latency_p50_s",
                      "trace.latency_tail_s")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
