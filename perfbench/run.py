#!/usr/bin/env python3
"""Build and run the repo benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload cdr_batch --seed 1 --seconds 10 --trace 0

Workloads: cdr_batch, live_chain, analyst_mix. The first run in a checkout
compiles the program and the harness with sbt (offline) into .bench_build/;
later runs reuse the build while the sources are unchanged. The last line
of standard output is the result object. Extra flags understood by the
harness: --tiny (small inputs), --inject summary|hash|duplicate (make one
correctness gate fire), --tables DIR (read the analyst tables from DIR
instead of perfbench/data/sf0.001) and --per-query planned|q1,q2,...
(instead of a workload: each query's hash, job count and cold and warm
wall time, one tab-separated line per query).
"""
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
PROGRAM = ROOT / "src" / "main" / "scala" / "graft"
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "sbt" / "scala-2.13" / "classes"
STAMP = BUILD / "build.stamp"
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars() -> Path:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution found (set SPARK_HOME)", 2)
    return Path(home) / "jars"


def fingerprint() -> str:
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build() -> None:
    stamp = fingerprint()
    if STAMP.is_file() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return
    env = dict(os.environ, SPARK_JARS_DIR=str(spark_jars()))
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    print("perfbench: compiling (sbt, offline)", file=sys.stderr)
    try:
        done = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
            cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if done.returncode != 0:
        fail(f"build failed with exit code {done.returncode}", 3)
    STAMP.write_text(stamp)


def java_cmd(args: list) -> list:
    java = Path(os.environ.get("JAVA_HOME", "/usr")) / "bin" / "java"
    jars = spark_jars()
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return [str(java if java.exists() else "java"), *opens, "-Xmx3g",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{jars}/*", "perfbench.Main", *args]


def main() -> int:
    args = sys.argv[1:]
    if not PROGRAM.is_dir() or not (BENCH / "build.sbt").is_file():
        fail(f"program sources not found under {ROOT}; run from the repo root", 2)
    build()
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(BUILD / "tmp")
    proc = subprocess.Popen(java_cmd(args), cwd=ROOT, env=env,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        fail(f"harness exited with code {proc.returncode}", 5)
    if "--per-query" not in args:
        try:
            keys = set(json.loads(lines[-1]))
        except ValueError:
            keys = set()
        if keys != {"correct", "attempted", "failed", "metrics"}:
            sys.stderr.write(out)
            fail("harness printed no result line", 5)
    print("\n".join(lines), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
