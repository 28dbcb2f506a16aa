#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: extract_resumable, query_suite (see
perfbench/README.md). The first run in a checkout builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build until a source file changes. The harness JVM is sized from the host:
all cores (`local[nproc]`) and half of RAM as heap, clamped to 2-8 GB.

Stdout ends with one JSON line: {"correct", "attempted", "failed",
"metrics"}. Exit status 0 means every output check passed, 1 that one
failed; any other status means the benchmark could not run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("extract_resumable", "query_suite")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_cores():
    return len(os.sched_getaffinity(0))


def host_heap_mb():
    """Half of MemTotal, clamped to 2-8 GB (the tier-1 verify rule)."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                gb = int(line.split()[1]) // 2097152
                return max(2, min(8, gb)) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def source_stamp(root):
    """Digest of every input of the build: path, size and mtime."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in sorted(os.walk(d)):
            files += [os.path.join(base, n) for n in sorted(names)]
    for p in files:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, root)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root):
    """Compiles engine + harness; returns the runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "bench-classpath.txt")
    stamp_file = os.path.join(target, "bench-stamp.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(proc.stdout)
    if proc.returncode != 0:
        raise RuntimeError(f"sbt build failed with status {proc.returncode}")
    lines = [l for l in proc.stdout.splitlines() if os.path.join("target", "scala-") in l and ":" in l]
    if not lines:
        raise RuntimeError("sbt printed no classpath")
    classpath = lines[-1].strip()
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--inject", default="",
                    help="test-only faults: throw_query, bad_fingerprint, throw_writer")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        log(f"no engine sources under {root}/src/main/scala/graft; run from the root of a checkout")
        return 2
    if args.seconds < 1:
        log("--seconds must be at least 1")
        return 2
    try:
        classpath = build(root)
    except (RuntimeError, OSError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return 2

    out = os.path.join(HERE, "out")
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in (out, os.path.join(work, "tmp"), os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    cores, heap_mb = host_cores(), host_heap_mb()
    spawn_ms = int(time.time() * 1000)
    cmd = (["java"] + [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xmx{heap_mb}m", f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--work", work, "--out", out, "--cores", str(cores),
            "--heap-mb", str(heap_mb), "--spawn-ms", str(spawn_ms),
            "--expected", os.path.join(HERE, "expected", "query_fingerprints.tsv")])
    if args.inject:
        cmd += ["--inject", args.inject]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"harness did not finish within {RUN_TIMEOUT_S} s")
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = stdout.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if proc.returncode not in (0, 1) or not isinstance(result, dict):
        sys.stderr.write(stdout)
        log(f"harness exited with status {proc.returncode} and no result")
        return 3
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
