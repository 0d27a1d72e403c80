#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <ingest|analytics|retrieval> \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and the
harness from source with sbt (offline) into target/ and .bench_build/;
later runs reuse the build while the sources are unchanged. Each run gets a
fresh directory under .bench_build/runs/ for java.io.tmpdir, Spark's local
dir and graft.index.root, and deletes it at exit. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "classpath.stamp")
HEAP = "3g"
RUN_LIMIT_S = 175
WORKLOADS = ("ingest", "analytics", "retrieval")
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
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
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, in a stable order."""
    out = []
    for base in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for d, dirs, files in os.walk(os.path.join(ROOT, base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return out + [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    log("building the library and the harness with sbt (offline)")
    # the launcher's and the build's temporary files stay in the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    t0 = time.time()
    r = subprocess.run(cmd + ["writeClasspath"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit(f"[perfbench] build failed (exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")


def fixture_dir():
    """The analytics fixture, shared by the runs of a checkout and keyed on
    its generator's source."""
    with open(os.path.join(HERE, "src", "main", "scala", "graftbench", "Fixture.scala"), "rb") as f:
        return os.path.join(BUILD, "fixture-" + hashlib.sha256(f.read()).hexdigest()[:16])


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, or None."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def steal_seconds():
    """CPU time the hypervisor gave to other guests since boot (Linux), the
    likeliest cause of a run that is slow from end to end."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    started = time.time()
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda signum, _frame: sys.exit(128 + signum))

    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("[perfbench] no library sources next to perfbench/: "
                         "run from the root of a full checkout")
    load1 = os.getloadavg()[0]
    steal0 = steal_seconds()
    nproc = len(os.sched_getaffinity(0))
    digest = source_digest()
    t_build = time.time()
    build(digest)
    # a run has RUN_LIMIT_S besides the build (only a checkout's first run builds)
    started += time.time() - t_build
    with open(CLASSPATH) as f:
        classpath = f.read().strip()

    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "index", "data"):
        os.makedirs(os.path.join(run_dir, sub))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", run_dir, "--oracle", os.path.join(HERE, "oracle", "analytics.tsv"),
        "--fixture", fixture_dir(), "--nproc", str(nproc),
        "--commit", git_commit(), "--load1", f"{load1:.2f}", "--heap", HEAP,
    ]
    log_path = os.path.join(BUILD, "logs", f"{args.workload}-{args.seed}-t{args.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    result = None
    try:
        with open(log_path, "w") as jvm_log:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                    stderr=jvm_log, text=True)
            try:
                out, _ = proc.communicate(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                raise SystemExit(f"[perfbench] run exceeded {RUN_LIMIT_S} s; log: {log_path}")
            finally:
                # also on SIGTERM/SIGINT: never leave the JVM behind
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        for line in out.splitlines():
            if line.startswith("GRAFTBENCH "):
                result = json.loads(line[len("GRAFTBENCH "):])
        if result is None:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit(f"[perfbench] the JVM printed no result (exit {proc.returncode})")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    record = dict(result["record"], source_digest=digest,
                  steal_s=round(steal_seconds() - steal0, 2))
    problems = list(record.get("failures", []))
    declared = declared_metrics(args.trace == 1)
    if declared is not None:
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != declared:
            problems.append(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(declared))}")
    unmeasured = [k for k, v in result["metrics"].items()
                  if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
    if unmeasured:
        problems.append(f"metrics without a measured value: {unmeasured}")
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(dict(record, spans=result["spans"]), f)
    correct = bool(result["correct"]) and not problems
    for p in problems:
        log(f"FAILED: {p}")
    print("run_record: " + json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": result["metrics"]}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
