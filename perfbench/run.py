#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark from source,
runs one workload in a fresh JVM and prints its result as the last line.

Usage (from the repository root):
    python3 perfbench/run.py --workload medallion --seed 1 --seconds 12 --trace 0

Build outputs, run records and scratch data go under .bench_build/ in the
repository root. Nothing is written outside the checkout, and nothing is read
outside it but the JDK and the Spark jars the engine's build names.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"
WORKLOADS = ("medallion", "query_mix")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = ["-Xms2g", "-Xmx2g"]
# the module opens Spark needs on JDK 17, as the engine's build.sbt passes them
ADD_OPENS = [a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
             for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
# keeps the JVMs from writing their performance counters outside the checkout
NO_PERF_DATA = ["-XX:-UsePerfData"]


def fail(msg, log=None):
    """Exits with code 2 and no result line; ends stderr with the log's tail."""
    if log is not None and log.exists():
        sys.stderr.writelines(log.read_text(errors="replace").splitlines(keepends=True)[-40:])
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, cwd, timeout, stderr):
    """Runs cmd in its own process group and kills the group on timeout or
    when this script is stopped. Returns (exit code or None on timeout, stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
        return proc.returncode, stdout
    except subprocess.TimeoutExpired:
        return None, ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()


def spark_jars():
    """The Spark jar directory the engine compiles and runs against: the
    unmanagedBase its build.sbt names, else $SPARK_HOME/jars."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    d = Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"
    jars = sorted(d.glob("*.jar"))
    if not jars:
        fail(f"no Spark jars in {d}")
    return jars


def sources():
    """Every Scala source of the engine and the benchmark, in a stable order."""
    return [p for d in (ROOT / "src" / "main" / "scala", HERE / "src" / "main" / "scala")
            for p in sorted(d.rglob("*.scala"))]


def build():
    """Compiles the engine and the benchmark with the Scala compiler among the
    Spark jars when a source changed; returns the run classpath. The build
    needs only the JDK and the Spark jars, no sbt or dependency cache."""
    jars = spark_jars()
    files = sources()
    stamp = hashlib.sha256()
    for f in files:
        stamp.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp.update("\0".join(str(j) for j in jars).encode())
    stamp = stamp.hexdigest()
    classes = OUT / "classes"
    classpath = ":".join([str(classes)] + [str(j) for j in jars])
    cache = OUT / "build.json"
    if cache.exists() and json.loads(cache.read_text()).get("stamp") == stamp:
        return classpath
    cache.unlink(missing_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    compiler = [j for j in jars if j.name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail("the Spark jars hold no Scala compiler")
    argfile = OUT / "sources.txt"
    argfile.write_text("".join(f"{f}\n" for f in files))
    log = OUT / "build.log"
    with open(log, "w") as out:
        code, stdout = run_group(
            ["java", *NO_PERF_DATA, "-Xss8m", "-Xmx2g", "-cp", ":".join(map(str, compiler)),
             "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
             "-classpath", ":".join(map(str, jars)), f"@{argfile}"],
            ROOT, BUILD_TIMEOUT_S, out)
        out.write(stdout)
    if code != 0:
        fail(f"build failed (exit {code}), see {log}", log)
    cache.write_text(json.dumps({"stamp": stamp}))
    return classpath


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    # a stop signal unwinds through run_group, which then kills the JVM's group
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, _: sys.exit(128 + signum))

    for needed in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft"):
        if not needed.exists():
            fail(f"{needed.relative_to(ROOT)} is missing: run from a full checkout of the repository")

    classpath = build()
    work = OUT / "work"
    shutil.rmtree(work, ignore_errors=True)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    out = OUT / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    cmd = (["java"] + ADD_OPENS + HEAP + NO_PERF_DATA + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--bench", str(HERE), "--work", str(work), "--out", str(out)])
    log = OUT / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    t0 = time.monotonic()
    with open(log, "w") as err:
        code, stdout = run_group(cmd, ROOT, RUN_TIMEOUT_S, err)
    lines = stdout.strip().splitlines()
    if code != 0 or not lines:
        sys.stdout.write(stdout)
        fail(f"run failed (exit {code}), see {log}", log)
    result = json.loads(lines[-1])
    print("\n".join(lines[:-1]))
    print(f"[perfbench] jvm wall {time.monotonic() - t0:.1f} s")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
