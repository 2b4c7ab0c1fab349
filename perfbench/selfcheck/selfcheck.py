#!/usr/bin/env python3
"""Self-check of the repo benchmark.

Usage, from the repo root:

    python3 perfbench/selfcheck/selfcheck.py

Runs every workload on tiny inputs (`--tiny`), untraced and traced, and
checks that the result line names exactly the metrics BENCHMARK.json
declares, with their units. Then proves each correctness gate fires: a
corrupted expected summary (cdr_batch), a wrong pinned hash (analyst_mix)
and an injected duplicate rated row (live_chain) must each be reported as
failures. Last, it checks that the benchmark refuses to run, without a
result line, in a directory holding only BENCHMARK.json and perfbench/.
Takes about five minutes on a 4-core host; exit code 0 when all checks pass.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
RUN = [sys.executable, "perfbench/run.py"]
problems = []


def run(workload, trace, extra=(), cwd=ROOT):
    cmd = RUN + ["--workload", workload, "--seed", "1", "--seconds", "2",
                 "--trace", str(trace), "--tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=900)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def check(cond, what):
    print(f"  {'ok  ' if cond else 'FAIL'} {what}")
    if not cond:
        problems.append(what)


def main() -> int:
    for w in (x["name"] for x in SPEC["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res = run(w, trace)
            print(f"{w} --trace {trace}: exit {rc}")
            check(rc == 0 and res is not None, f"{w} trace={trace} printed a result")
            if res is None:
                continue
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{w} trace={trace} result keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{w} trace={trace} correct with no failures")
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w} trace={trace} prints every {key} metric with its unit")
            check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                  f"{w} trace={trace} metric values are numbers")

    for w, gate in (("cdr_batch", "summary"), ("analyst_mix", "hash"),
                    ("live_chain", "duplicate")):
        rc, res = run(w, 0, ("--inject", gate))
        print(f"{w} --inject {gate}: exit {rc}, "
              f"failed {res and res['failed']} of {res and res['attempted']}")
        check(rc == 0 and res is not None and res["failed"] > 0 and not res["correct"],
              f"{w} reports the injected '{gate}' fault as a failure")

    bare = ROOT / ".bench_build" / "selfcheck-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "target", "project"))
    shutil.copytree(ROOT / "perfbench" / "project", bare / "perfbench" / "project",
                    ignore=shutil.ignore_patterns("target", "project"))
    p = subprocess.run(SPEC["command"] + ["--workload", "cdr_batch", "--seed", "1",
                                          "--seconds", "2", "--trace", "0"],
                       cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=180)
    print(f"bare directory: exit {p.returncode}")
    check(p.returncode != 0 and not p.stdout.strip(),
          "refuses to run without the program sources, printing no result")
    shutil.rmtree(bare, ignore_errors=True)

    print("selfcheck:", "PASS" if not problems else f"FAIL ({len(problems)})")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
