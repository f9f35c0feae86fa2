#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload build|serve --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run compiles graft and the
benchmark driver with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. The driver (perfbench.Main) runs
in one JVM with Spark local[min(4, nproc)], generates the seeded corpus,
runs the workload's closed loop for about S seconds (a fixed number of
whole cycles per S), checks every response, and prints a "report" line
followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
Everything it writes goes under perfbench/target/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
CLASSPATH = TARGET / "perfbench-classpath.txt"
STAMP = TARGET / "perfbench-sources.sha256"
WORKLOADS = ("build", "serve")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

# Spark on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources match the last build; returns
    the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"graft sources not found under {ROOT}; run from a repository checkout", 2)
    want = digest()
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == want:
        return CLASSPATH.read_text().strip()
    TARGET.mkdir(parents=True, exist_ok=True)
    log = TARGET / "sbt-build.log"
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            die(f"sbt build timed out; see {log}")
    lines = log.read_text().splitlines()
    if proc.returncode != 0 or not lines:
        die(f"sbt build failed ({proc.returncode}); see {log}")
    cp = lines[-1].strip()
    entries = cp.split(os.pathsep)
    if not all(Path(e).exists() for e in entries):
        die(f"sbt did not print a usable classpath; see {log}")
    CLASSPATH.write_text(cp)
    STAMP.write_text(want)
    return cp


def declared_metrics(workload, trace):
    """The metric names BENCHMARK.json declares for this run, or None when
    the file is absent or does not list the workload."""
    spec = ROOT / "BENCHMARK.json"
    if not spec.exists():
        return None
    b = json.loads(spec.read_text())
    if workload not in [w["name"] for w in b["workloads"]]:
        return None
    return [m["name"] for m in b["per_layer" if trace else "end_to_end"]]


def run_driver(cp, args, deadline):
    work = TARGET / "work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # C1 only: under tiered C2 request latency kept falling for ~40 s of
    # serving (JIT warm-up), longer than a run; C1 code is steady from
    # the first timed cycle. A fixed heap and young generation with the
    # parallel collector made run-to-run figures steadier than G1.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
           "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work)]
    log = TARGET / f"perfbench-{args.workload}.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"{args.workload} did not finish in time; see {log}")
    if proc.returncode != 0:
        die(f"{args.workload} failed ({proc.returncode}); see {log}")
    return [json.loads(l) for l in out.splitlines() if l.startswith("{")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    cp = build()
    lines = run_driver(cp, args, time.monotonic() + RUN_LIMIT_S)
    if len(lines) < 2 or "report" not in lines[-2]:
        die("the driver printed no result")
    report, result = lines[-2], lines[-1]
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        die(f"malformed result: {result}")
    names = declared_metrics(args.workload, args.trace)
    if names is not None and list(result["metrics"]) != names:
        die(f"metrics {list(result['metrics'])} differ from BENCHMARK.json {names}")
    print(json.dumps(report))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
