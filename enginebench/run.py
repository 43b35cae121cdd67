#!/usr/bin/env python3
"""Run one engine benchmark run from the root of a repository checkout.

    python3 enginebench/run.py --workload query_indexed --seed 1 --seconds 10 --trace 0

Builds the benchmark (the engine's sources plus enginebench/src) with sbt
when the sources changed since the last build, then starts one JVM with
local[N] Spark, N = the number of available processors. The JVM's last
stdout line is the run's result; the line before it is the run record.
Scratch data lives under enginebench/target/work and is wiped per run.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
CLASSPATH = TARGET / "bench-classpath.txt"
STAMP = TARGET / "bench-stamp.txt"
WORK = TARGET / "work"
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"enginebench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (ROOT / "src" / "main" / "scala", BENCH / "src"):
        files += sorted(base.rglob("*.scala"))
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == digest:
        return
    print("enginebench: building", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
        cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if proc.returncode != 0 or not CLASSPATH.exists():
        fail(f"build failed (sbt exit {proc.returncode})")
    STAMP.write_text(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["query_indexed", "write_feed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources under {ROOT / 'src/main/scala/graft'}; "
             "run from the root of a repository checkout")
    if not os.environ.get("SPARK_HOME"):
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME to a Spark 4 distribution")
        os.environ["SPARK_HOME"] = str(Path(submit).resolve().parent.parent)
    build()

    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={WORK / 'tmp'}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-cp", CLASSPATH.read_text().strip(), "enginebench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(WORK)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(5)))
    deadline = time.monotonic() + RUN_TIMEOUT_S
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        stop()
        proc.wait()
        shutil.rmtree(WORK, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", code=4)
    finally:
        stop()
    shutil.rmtree(WORK, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
