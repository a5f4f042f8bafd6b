#!/usr/bin/env python3
"""The extraction engine's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload extract_steady --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first call compiles the engine's
sources (src/main/scala) together with the benchmark's own (perfbench/src)
into .bench_build/, using the Scala compiler and Spark jars the repo's
build.sbt points at; later calls reuse the classes while the sources are
unchanged. The run itself is one JVM on local[nproc]; it writes only under
.bench_work/ (scratch, removed at exit) and .bench_results/ (one JSON file per
run, plus the spans of traced runs). The last line of standard output is the
result object {correct, attempted, failed, metrics}.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
RESULTS = ROOT / ".bench_results"
WORKLOADS = ("extract_steady", "extract_skewed", "ingest_skewed", "query_suite")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase,
    else the one beside spark-submit on PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if list(c.glob("spark-sql_*.jar")):
            return c
    fail("no Spark jars found (set SPARK_HOME)")


def sources():
    if not (ENGINE_SRC / "graft").is_dir():
        fail(f"engine sources missing: {ENGINE_SRC.relative_to(ROOT)}/graft")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        fail("no sources to build")
    return files


def build(jars):
    """Compile into BUILD/classes unless the stamp of the sources matches."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in sorted(p.name for p in jars.glob("*.jar")):
        h.update(j.encode())
    stamp = h.hexdigest()
    BUILD.mkdir(parents=True, exist_ok=True)
    classes = BUILD / "classes"
    with open(BUILD / ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = BUILD / "stamp"
        if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
            return classes
        out = Path(tempfile.mkdtemp(prefix="classes-", dir=BUILD))
        scalac = ":".join(str(jars / n) for n in (
            next(jars.glob("scala-compiler-*.jar")).name,
            next(jars.glob("scala-library-*.jar")).name,
            next(jars.glob("scala-reflect-*.jar")).name))
        argfile = BUILD / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        t0 = time.time()
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", scalac, "scala.tools.nsc.Main",
             "-nowarn", "-classpath", str(jars / "*"), "-d", str(out), f"@{argfile}"],
            stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            fail("build failed")
        shutil.rmtree(classes, ignore_errors=True)
        out.rename(classes)
        stamp_file.write_text(stamp)
        print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
        return classes


def java_cmd(classes, jars, tmp, main_class, args):
    """The benchmark JVM: fixed heap, scratch files under `tmp`."""
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{jars}/*", main_class] + args


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor; below 1 only for the smoke tests")
    ap.add_argument("--pin", help="write the query_suite result digests to this file")
    a = ap.parse_args()
    if not (0 < a.scale <= 1):
        fail("--scale must be in (0, 1]")

    jars = spark_jars()
    classes = build(jars)
    run_dir = WORK / f"{a.workload}-{a.seed}-{os.getpid()}"
    cmd = java_cmd(classes, jars, run_dir / "tmp", "graftbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--scale", str(a.scale), "--root", str(HERE),
        "--work", str(run_dir / "w"), "--results", str(RESULTS)])
    if a.pin:
        cmd += ["--pin", str(Path(a.pin).resolve())]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            cwd=run_dir, start_new_session=True)
    lines = []
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    for ln in lines[:-1]:
        print(ln)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")
    if a.pin:
        return
    try:
        last = json.loads(lines[-1])
    except (IndexError, ValueError):
        last = None
    if not isinstance(last, dict) or set(last) != {"correct", "attempted", "failed", "metrics"}:
        fail("no result line")
    print(json.dumps(last))


if __name__ == "__main__":
    main()
