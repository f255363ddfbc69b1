#!/usr/bin/env python3
"""Served, layer-split benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve_point --seed 1 --seconds 10 --trace 0

Workloads: serve_point, suite (see perfbench/README.md).
The first run builds the engine and the benchmark from the checkout's
sources with sbt (offline); later runs reuse the build while no source
changed. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.

Environment: PERFBENCH_DATA names the sf0.1 parquet directory (default
~/testdata/sf0.1, where the project's test data lives; see TESTDATA.md).
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
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("serve_point", "suite")
BUILD_DIR = ".bench_build"
JDK_OPENS = (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the build reads, relative to root, sorted."""
    out = []
    for top in ("build.sbt", "project", "src/main", "perfbench"):
        p = os.path.join(root, top)
        if os.path.isfile(p):
            out.append(top)
        for d, dirs, files in os.walk(p):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    out.append(os.path.relpath(os.path.join(d, f), root))
    return sorted(out)


def digest(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir):
    """Compiles engine + benchmark once per source digest; returns the classpath."""
    stamp = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    want = digest(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    if not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        sys.stderr.write(proc.stdout[-4000:])
        die("build did not print a classpath")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(want)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def heap_mb():
    """A quarter of physical memory, clamped to [2, 6] GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        kb = 8 << 20
    return max(2048, min(6144, kb // 4096))


def git_commit(root):
    """HEAD of the checkout, or None when the checkout is not a git repository."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10, env=env).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        die("run from the root of a graft checkout (no build.sbt or src/main/scala here)")
    data = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.isfile(os.path.join(data, "orders.parquet")):
        die(f"no sf0.1 data at {data} (set PERFBENCH_DATA)")

    build_dir = os.path.join(root, BUILD_DIR, "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    cp = build(root, build_dir)

    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(build_dir, "work", tag)
    out = os.path.join(build_dir, "raw", tag + ".json")
    os.makedirs(work, exist_ok=True)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = heap_mb()
    cmd = ["java", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work, "--out", out,
            "--cpus", str(cpus),
            "--programs", os.path.join(HERE, "suite_programs.txt")]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    env.pop("SPARK_GRAFT_LOCAL_DIR", None)
    log = os.path.join(build_dir, "raw", tag + ".log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=fh, stderr=subprocess.STDOUT, timeout=170).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"benchmark JVM failed (exit {rc}); log in {log}")
    with open(out) as fh:
        raw = json.load(fh)

    res = metrics.result(raw, a.trace == 1)
    info = dict(raw["info"], git_commit=git_commit(root), source_digest=digest(root)[:16],
                heap_mb=heap, spans=work + "-spans.json" if a.trace else None)
    print(json.dumps({"info": info}))
    print(json.dumps({"details": metrics.summarize(raw, tail=not a.trace)[1]}))
    for c in raw["checks"]:
        if not c["ok"]:
            print(json.dumps({"check_failed": c}))
    for f in raw["failures"][:10]:
        print(json.dumps({"failure": f}))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
