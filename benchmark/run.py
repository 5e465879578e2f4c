#!/usr/bin/env python3
"""Run one graft benchmark workload.

    python3 benchmark/run.py --workload ingest|query|curate --seed N \
        --seconds S --trace 0|1

Builds the engine together with the benchmark (once per checkout: the
build is redone only when a source file changes), then runs
graftbench.Main in a single JVM. The result is the last line of standard
output; progress, the human-readable report and Spark's logs go to
standard error, and the full artifact (checks, host evidence and, when
traced, spans and jobs) is written under benchmark/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
TARGET = HERE / "target"
STAMP = TARGET / "bench-build.json"
WORKLOADS = ("ingest", "query", "curate")
BUILD_TIMEOUT_S = 840
# A run's backstop: start-up, set-up, warm-up and checks take about a
# minute, and each measured phase --seconds plus the overrun of its last
# operation.
RUN_BASE_S = 120
RUN_PHASE_FACTOR = 2.5

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    files = [f for d in (ENGINE_SRC, ENGINE_SRC.parent / "resources", HERE / "src" / "main")
             for f in sorted(d.rglob("*")) if f.is_file()]
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the stamp says the classes are current;
    return the runtime classpath."""
    digest = source_digest()
    if STAMP.is_file():
        stamp = json.loads(STAMP.read_text())
        if stamp.get("digest") == digest:
            return stamp["classpath"]
    log("building the engine and the benchmark with sbt")
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    proc = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr,
                          text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(proc.stdout)
    if proc.returncode != 0:
        raise SystemExit(f"[bench] build failed with exit code {proc.returncode}")
    lines = [l.strip() for l in proc.stdout.splitlines()
             if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not lines:
        raise SystemExit("[bench] build printed no classpath")
    TARGET.mkdir(parents=True, exist_ok=True)
    STAMP.write_text(json.dumps({"digest": digest, "classpath": lines[-1]}))
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not (ENGINE_SRC / "graft").is_dir():
        raise SystemExit(f"[bench] engine sources not found under {ENGINE_SRC}: "
                         "run from a full checkout of the repository")

    classpath = build()
    work = TARGET / "work"
    out = HERE / "out"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = shutil.which("java")
    if os.environ.get("JAVA_HOME"):
        java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java")
    # Serial GC with a fixed young generation and no pre-touch: the old
    # generation grows only with what survives young collections, so the
    # peak resident set follows the engine's memory, not a fixed heap or
    # the pause-time ergonomics of a concurrent collector.
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms384m", "-Xmn256m", "-Xmx2560m", "-XX:+UseSerialGC", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
        "-cp", classpath, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--work", str(work / "run"), "--out", str(out)]
    child = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stdout, stderr=sys.stderr)

    def stop(signum, _frame):
        child.terminate()
        try:
            child.wait(timeout=20)
        except subprocess.TimeoutExpired:
            child.kill()
            child.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    phases = 2 if args.trace == "1" else 1
    timeout_s = RUN_BASE_S + phases * args.seconds * RUN_PHASE_FACTOR
    try:
        code = child.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {timeout_s:.0f} s; stopping it")
        child.kill()
        child.wait()
        code = 124
    shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
