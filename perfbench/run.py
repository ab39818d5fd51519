#!/usr/bin/env python3
"""Benchmark launcher.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload cow_bulk --seed 1 --seconds 12 --trace 0

The first run builds the engine and the harness from source with sbt (the
harness is its own sbt build in this directory), caches the launch classpath
and trains a class-data-sharing archive; later runs start the JVM directly.
All outputs -- launch files, generated inputs, workspaces and traces -- stay
inside the checkout. The last line of standard output is the result object.
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
WORKLOADS = ("cow_bulk", "wal_stream")
# the training run loads nearly every class the workloads use; the few it
# misses (the copy-on-write merge) load from the jars as usual
TRAIN_WORKLOAD = "wal_stream"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"
ARCHIVE = "classes.jsa"


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every file the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(root, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            inputs += [os.path.join(d, f) for f in sorted(os.listdir(d))
                       if f.endswith((".sbt", ".properties", ".scala"))]
    for d in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, dirnames, files in os.walk(d):
            dirnames.sort()
            inputs += [os.path.join(dirpath, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, out):
    """Compile engine + harness once per source state; return the launch dir."""
    launch = os.path.join(HERE, "target", "launch")
    stamp_file = os.path.join(launch, "stamp")
    stamp = source_stamp(root)
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return launch
    if shutil.which("sbt") is None:
        raise SystemExit("sbt not found: the benchmark builds the engine from source")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt (first run in this checkout)")
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    train_archive(launch, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.0f} s")
    return launch


def train_archive(launch, out):
    """One short run of TRAIN_WORKLOAD, dumping the classes it loaded into a
    class-data-sharing archive. Measured runs map the archive
    instead of loading and verifying Spark's classes one by one; without it
    each run spends several seconds more on class loading. A failed
    training leaves no archive, and runs go on without one."""
    archive = os.path.join(launch, ARCHIVE)
    if os.path.exists(archive):
        os.remove(archive)
    work = os.path.join(out, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(launch, work, [f"-XX:ArchiveClassesAtExit={archive}"],
                   [TRAIN_WORKLOAD, "0", "1", "0", os.path.join(out, "inputs"),
                    os.path.join(work, "trace.jsonl")])
    log("training the class-data-sharing archive")
    with open(os.path.join(out, "train.log"), "w") as logf:
        try:
            code, _ = run_group(cmd, work, logf, subprocess.STDOUT, BUILD_TIMEOUT_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(archive):
        log(f"no class-data-sharing archive (training exit {code}); see {logf.name}")
        if os.path.exists(archive):
            os.remove(archive)


def java_cmd(launch, work, extra, run_args):
    with open(os.path.join(launch, "classpath.txt")) as f:
        classpath = [l.strip() for l in f if l.strip()]
    with open(os.path.join(launch, "javaopts.txt")) as f:
        # the engine's JVM flags, minus heap size and scratch placement,
        # which the benchmark sets itself to stay small and inside the checkout
        jopts = [l.strip() for l in f if l.strip()
                 and not l.startswith(("-Xmx", "-Dspark.local.dir="))]
    workload, seed, seconds, trace, cache, trace_out = run_args
    return (["java", HEAP, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             # JVM messages (class sharing included) go to stderr, not the result stream
             "-Xlog:disable", "-Xlog:all=warning:stderr"] + extra + jopts
            + ["-cp", os.pathsep.join(classpath), "perfbench.Main",
               "--workload", workload, "--seed", seed, "--seconds", seconds,
               "--trace", trace, "--work", os.path.join(work, "ws"),
               "--cache", cache, "--trace-out", trace_out])


def run_group(cmd, cwd, stdout, stderr, timeout):
    """Run `cmd` in its own process group and wait for it; on timeout kill
    the whole group. Returns (exit code or None on timeout, captured stdout)."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "GRAFT_PHASE_TIMING", "GRAFT_EXTRA_OPTS")}
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out or ""
    except subprocess.TimeoutExpired:
        log(f"run exceeded {timeout} s")
        return None, ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def fs_type(path):
    """Filesystem type of the mount holding `path` (tmpfs or a disk fs)."""
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                if len(parts) >= 3 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                    best, kind = parts[1], parts[2]
    except OSError:
        pass
    return kind


def expected_metrics(root, trace):
    """Metric names BENCHMARK.json promises for this kind of run, if present."""
    spec = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec):
        return None
    with open(spec) as f:
        b = json.load(f)
    return {m["name"] for m in b["per_layer" if trace else "end_to_end"]}


def valid_result(line, expected):
    try:
        r = json.loads(line)
    except ValueError:
        return None
    if not isinstance(r, dict) or set(r) != {"correct", "attempted", "failed", "metrics"}:
        return None
    for m in r["metrics"].values():
        v = m.get("value")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            return None
    if expected is not None and set(r["metrics"]) != expected:
        log(f"metrics differ from BENCHMARK.json: {sorted(set(r['metrics']) ^ expected)}")
        return None
    return r


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log("no engine sources here: run from the root of a repository checkout")
        return 2

    out = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    for d in os.listdir(out):
        if d.startswith("run-"):  # left by an interrupted run
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    launch = build(root, out)

    work = os.path.join(out, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(out, "traces", f"{a.workload}-s{a.seed}-{int(time.time())}.jsonl")
    kind = fs_type(work)
    print(f"# workspace on {kind} ({'tmpfs' if kind == 'tmpfs' else 'disk'})", flush=True)
    archive = os.path.join(launch, ARCHIVE)
    extra = [f"-XX:SharedArchiveFile={archive}"] if os.path.isfile(archive) else []
    cmd = java_cmd(launch, work, extra,
                   [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                    os.path.join(out, "inputs"), trace_out])
    try:
        code, stdout = run_group(cmd, work, subprocess.PIPE, sys.stderr, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, flush=True)
    result = valid_result(lines[-1], expected_metrics(root, a.trace == 1)) if lines else None
    if code != 0 or result is None:
        log(f"no valid result (harness exit {code})")
        return 1
    if a.trace == 1:
        print(f"# trace written to {os.path.relpath(trace_out, root)}", flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
