#!/usr/bin/env python3
"""Runs one workload of the OSM pipeline benchmark and prints its result.

    python3 osmbench/run.py --workload osm_query --seed 1 --seconds 1 --trace 0
    python3 osmbench/run.py --selftest --seed 1

Builds the benchmark (and through it the library) with sbt when the
sources changed since the last build, then starts one JVM for the
workload. A run's inputs and outputs live in osmbench/.work (removed when
the run ends); a traced run leaves its spans in osmbench/.spans. The last
stdout line is the JSON result.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
SPANS = os.path.join(BENCH, ".spans")
LAUNCH = os.path.join(BENCH, "target", "launch.txt")
STAMP = os.path.join(BENCH, "target", "launch.stamp")
WORKLOADS = ("osm_query", "osm_append")
HEAP = "3g"
# C1 only: with C2 on, op times kept falling through the first minute of a
# run (osm_query's op_p50_ms went from ~280 ms after one warm-up round to
# ~180 ms after three) and which methods C2 had reached differed from run
# to run. With C1, osm_append's timed ops no longer trend (second half of
# the round / first half = 1.00 over ten runs).
JIT = "-XX:TieredStopAtLevel=1"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[osmbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads: the library's and the benchmark's."""
    h = hashlib.sha256()
    for top in (ROOT, BENCH):
        for rel in ("build.sbt", "project", "src"):
            start = os.path.join(top, rel)
            files = [start] if os.path.isfile(start) else []
            for d, dirs, fs in os.walk(start):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                files += [os.path.join(d, f) for f in sorted(fs)]
            for p in files:
                if p.endswith((".scala", ".java", ".sbt", ".properties")):
                    h.update(p.encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills what is left of the group
    when it ends or times out. Returns (exit code or None on timeout, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def build():
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    log("building the benchmark and the library with sbt")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    code, _ = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                         "writeLaunch"], BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if code != 0 or not os.path.exists(LAUNCH):
        sys.exit(f"osmbench: build failed (sbt exit {code})")
    with open(STAMP, "w") as f:
        f.write(stamp)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        sys.exit("osmbench: the library's sources are not beside the benchmark; nothing to measure")

    build()
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    classpath, jvm_opts = lines[0], lines[1:]

    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.makedirs(SPANS, exist_ok=True)
    cores = min(4, os.cpu_count() or 1)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_CPUS=str(cores))
    cmd = [java_bin(), f"-Xms{HEAP}", f"-Xmx{HEAP}", JIT, f"-Djava.io.tmpdir={tmp}", *jvm_opts,
           "-cp", classpath, "osmbench.Main",
           "--workload", a.workload or "", "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", WORK, "--spans", SPANS, "--cores", str(cores),
           "--selftest", "1" if a.selftest else "0"]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                              text=True)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    if code is None:
        sys.exit(f"osmbench: run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(f"osmbench: workload exited {code} without a result")
    print(lines[-1], flush=True)

if __name__ == "__main__":
    main()
