#!/usr/bin/env python3
"""Benchmark of the graft engine: the CDC daemon as `cli.Main -c` ships it,
and the batch query inventory.

    python3 perfbench/run.py --workload <cdc_trickle|batch_sweep>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from the checkout's sources (sbt, offline); later runs reuse the
build while the sources are unchanged. Each run gets a fresh directory under
`.bench_run/`, removed when it ends; its full record (basis, every metric,
spans) is kept in `.bench_out/`. The last line of standard output is the
run's result as one JSON object.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
STAMP = os.path.join(TARGET, "perfbench.stamp")
WORKLOADS = ("cdc_trickle", "batch_sweep")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def data_dir():
    """The sf0.1 tables: PERFBENCH_DATA, or else where TESTDATA.md says."""
    if os.environ.get("PERFBENCH_DATA"):
        return os.environ["PERFBENCH_DATA"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"`([^`]*/sf0\.1)/?`", f.read())
    except OSError:
        return ""
    return m.group(1) if m else ""


def sources_digest():
    """Digest of every file the build reads, to tell a stale build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    log("building the program and the benchmark (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
        + " -Dsbt.offline=true -Xmx2g"))
    p = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, start_new_session=True)
    out = wait(p, BUILD_LIMIT_S, "build")
    cp = [l for l in out.splitlines() if l.startswith("/")]
    if p.returncode != 0 or not cp:
        sys.stderr.write(out[-4000:])
        raise SystemExit("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1])
    with open(STAMP, "w") as f:
        f.write(digest)


def wait(p, limit, what):
    """Standard output of `p` once it ends; on timeout or interrupt the
    whole process group is killed and reaped."""
    try:
        out, _ = p.communicate(timeout=limit)
        return out
    except BaseException as e:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            raise SystemExit(f"{what} exceeded {limit} s")
        raise


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return ""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True).stdout.strip()
    except OSError:
        return ""


def run_jvm(args, run_dir, record, digest, data):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))
    cmd = ["java"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    # a fixed heap ceiling, the heap pre-touched as it is committed and
    # never given back, so resident memory beyond the committed heap lies
    # outside it (Memory)
    cmd += ["-Xmx4g", "-XX:+AlwaysPreTouch", "-XX:MaxHeapFreeRatio=100",
            "-Dspark.ui.enabled=false",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--dir", run_dir, "--data", data,
            "--fingerprints", os.path.join(BENCH, "fingerprints.tsv"),
            "--out", record]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               PERFBENCH_SOURCES=digest, PERFBENCH_COMMIT=git_commit())
    env.pop("SPARK_MASTER", None)
    p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                         stderr=sys.stderr, text=True, start_new_session=True)
    out = wait(p, RUN_LIMIT_S, "run")
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"benchmark process failed (exit {p.returncode})")
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        raise SystemExit("malformed result line")
    return result


def overhead(args, record):
    """Traced minus untraced end-to-end metrics, when this checkout holds
    an untraced record of the same workload and seed."""
    plain = os.path.join(os.path.dirname(record),
                         f"{args.workload}-seed{args.seed}-trace0.json")
    if not os.path.exists(plain):
        return
    with open(plain) as f:
        base = json.load(f)["metrics"]
    with open(record) as f:
        rec = json.load(f)
    rec["tracing_overhead"] = {
        k: rec["metrics"][k]["value"] - v["value"]
        for k, v in base.items() if k in rec["metrics"]
        and k in ("setup_s", "latency_p50_ms", "latency_mean_ms", "mem_peak_mb")}
    for k, v in sorted(rec["tracing_overhead"].items()):
        log(f"tracing overhead {k}: {v:+.4f}")
    with open(record, "w") as f:
        json.dump(rec, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no program sources beside the benchmark")
    data = data_dir()
    if args.workload == "batch_sweep" and not os.path.isdir(data):
        raise SystemExit("batch_sweep needs the sf0.1 tables (TESTDATA.md)")
    digest = sources_digest()
    build(digest)
    run_dir = os.path.join(ROOT, ".bench_run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    record = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result = run_jvm(args, run_dir, record, digest, data)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        overhead(args, record)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
