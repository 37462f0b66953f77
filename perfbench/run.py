#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. The first run builds the program
and the harness with sbt (offline), later runs reuse the build while the
sources are unchanged. Each run starts one fresh JVM for its workload,
writes a full record (metrics, per-query detail, environment stamp) to
.bench_out/records/, and prints the last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1).

Input data: the sf0.1 and sf0.01 table directories under
$GRAFT_BENCH_DATA (default: ~/testdata), read-only.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_out")
TARGET = os.path.join(HERE, "target")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
HEAP = "4g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    pats = ["build.sbt", "project/*.sbt", "project/*.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/main/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit_s, env=None):
    """Run cmd in its own process group, output to stderr; kill the
    whole group at the limit. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(stamp):
    stamp_file = os.path.join(TARGET, "bench.stamp")
    cp_file = os.path.join(TARGET, "bench.classpath")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return
    log("building the program and the harness (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "benchClasspath"],
                       HERE, BUILD_LIMIT_S, env)
    if code != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {code})", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 and r.stdout.strip() else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def cpu_times():
    """(steal, total) jiffies over all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f[:8])
    except (OSError, ValueError, IndexError):
        return None


def jvm_options(work):
    with open(os.path.join(TARGET, "bench.jvmopts")) as fh:
        opts = [l for l in fh.read().splitlines() if l and not l.startswith("-Xmx")]
    return opts + [f"-Xmx{HEAP}", "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={work}/tmp",
                   f"-Dspark.local.dir={work}/spark-local"]


def main():
    # a terminated run still stops its JVM: SystemExit reaches run_bounded
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["curate", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--record-fingerprints", help="write observed result fingerprints here "
                    "instead of checking the committed ones")
    args = ap.parse_args()

    for need in ["build.sbt", "src/main/scala", "BENCHMARK.json", "perfbench/build.sbt"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a graft checkout: {need} is missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    data = os.path.expanduser(os.environ.get("GRAFT_BENCH_DATA", "~/testdata"))
    for scale in ["sf0.1", "sf0.01"]:
        if not os.path.isdir(os.path.join(data, scale)):
            fail(f"input data missing: {os.path.join(data, scale)}")

    files = source_files()
    stamp = source_hash(files)
    build(stamp)
    start = time.monotonic()

    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record = os.path.join(OUT, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                          f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    with open(os.path.join(TARGET, "bench.classpath")) as fh:
        classpath = fh.read().strip()
    cpus = min(4, os.cpu_count() or 4)
    cmd = ["java"] + jvm_options(work) + ["-cp", classpath, "graftbench.Run",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--out", record, "--work", work, "--cpus", str(cpus),
           "--fingerprints", os.path.join(HERE, "fingerprints.json"),
           "--stamp", f"commit={commit()};sources={stamp[:16]};heap={HEAP};cpus={cpus}"]
    if args.record_fingerprints:
        cmd += ["--record-fingerprints", os.path.abspath(args.record_fingerprints)]
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    java_home = env.get("JAVA_HOME")
    if java_home and os.path.exists(os.path.join(java_home, "bin", "java")):
        cmd[0] = os.path.join(java_home, "bin", "java")
    cpu0 = cpu_times()
    try:
        code = run_bounded(cmd, ROOT, RUN_LIMIT_S - (time.monotonic() - start), env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    cpu1 = cpu_times()
    if code is None:
        fail(f"run exceeded {RUN_LIMIT_S} s", 4)
    if code != 0 or not os.path.exists(record):
        fail(f"run failed (exit {code})", 5)

    with open(record) as fh:
        rec = json.load(fh)
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        # time the hypervisor gave this machine's CPUs to others: a run
        # with a high share was slowed by its neighbours, not by graft
        rec["stamp"]["cpu_steal_pct"] = f"{100 * (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]):.1f}"
        with open(record, "w") as fh:
            json.dump(rec, fh)
    section, names = ("layers", [m["name"] for m in spec["per_layer"]]) if args.trace \
        else ("metrics", [m["name"] for m in spec["end_to_end"]])
    missing = [n for n in names if n not in rec[section]]
    if missing:
        fail(f"record lacks metrics: {', '.join(missing)}", 6)
    print(json.dumps({
        "correct": rec["correct"],
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {n: rec[section][n] for n in names},
    }))


if __name__ == "__main__":
    main()
