#!/usr/bin/env python3
"""Check the analyst_mix pins against the engine and against DuckDB.

Usage, from the repo root (after one benchmark run has built the harness):

    python3 perfbench/tools/verify_pins.py [work_dir]

1. Runs each mix query over the bundled tables (`run.py --per-query`) and
   compares its hash with perfbench/analyst_pins.tsv.
2. Dumps the same queries with graft.Verify and compares every result with
   its oracle SQL run in DuckDB over the same tables (tools/check_oracle.py).
Exit code 0 only when every pin matches and every oracle comparison passes.
"""
import os
import subprocess
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import run as bench  # noqa: E402

TABLES = bench.BENCH / "data" / "sf0.001"


def main() -> int:
    work = Path(sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp())
    out_dir = work / "verify"
    out_dir.mkdir(parents=True, exist_ok=True)
    pinned = {}
    for line in (bench.BENCH / "analyst_pins.tsv").read_text().splitlines():
        if line.strip() and not line.startswith("#"):
            k, v = line.split()
            pinned[k] = v
    bench.build()
    rows = subprocess.run(
        bench.java_cmd(["--per-query", ",".join(pinned)]),
        check=True, stdout=subprocess.PIPE, text=True).stdout
    got = {f[0]: f[1] for f in (l.split("\t") for l in rows.splitlines()) if len(f) > 1}
    bad_pins = sorted(k for k in pinned if got.get(k) != pinned[k])
    for k in pinned:
        print(f"  pin {k}: {'MISMATCH' if k in bad_pins else 'OK'} {got.get(k)}")

    env = dict(os.environ, SPARK_GRAFT_CPUS="4",
               SPARK_GRAFT_VERIFY_ONLY=",".join(pinned))
    cmd = bench.java_cmd([])
    cmd[cmd.index("perfbench.Main")] = "graft.Verify"
    subprocess.run(cmd + [str(TABLES), str(out_dir)], check=True, env=env,
                   stdout=subprocess.DEVNULL)
    oracle = subprocess.run(
        [sys.executable, str(bench.ROOT / "tools" / "check_oracle.py"),
         str(out_dir), str(TABLES)])
    print(f"pins: {len(pinned) - len(bad_pins)}/{len(pinned)} match")
    return 0 if not bad_pins and oracle.returncode == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
