#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as JSON.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload <ifcb_feed|query_mix|corpus_dedup>
        --seed <n> --seconds <s> --trace <0|1>
        [--size tiny] [--curve <ops>] [--perturb 1] [--record-fingerprints 1]

The first run in a checkout compiles graft's sources together with the
harness in perfbench/src into .bench_build/ (sbt, offline). Every run is
one JVM with pinned settings (see SETTINGS below) that sets up the
workload, warms it up, runs a closed loop of ops for --seconds, checks
the outputs against the ground truth its inputs were generated with, and
prints one JSON line. This script passes that line through as the last
line of its output, after a line of diagnostics (host sentinels, the op
count, the tail percentile and every setting). It exits 1 when an output
check failed and 2 when the run itself failed.

--size tiny shrinks every workload for the smoke test; --curve N runs N
ops with no warm-up and prints each op's latency (the warm-up curve in
NOTES.md); --perturb 1 corrupts one expectation so the checks must fail;
--record-fingerprints 1 prints the query_mix result fingerprints.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
TARGET = os.path.join(BUILD, "perfbench")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "source.sha256")
WORKLOADS = ("ifcb_feed", "query_mix", "corpus_dedup")

# Pinned JVM settings: a fixed heap (-Xms = -Xmx), not touched up front, so
# that the peak RSS follows the heap the program really uses; the
# parallel collector with fixed generation sizes, and survivor spaces
# (256 MB each) larger than what an op keeps live across a young
# collection: with the default 128 MB they overflowed at random moments
# and promoted 100-200 MB at a time, which swung the peak RSS of
# corpus_dedup by 25% from run to run; a code cache large enough for 112
# codegen-heavy queries; JIT compile thresholds at a quarter of the
# default, so that hot code reaches the optimising compiler within the
# warm-up (NOTES.md, "Warm-up"); Spark's memory page size, which Spark
# otherwise derives from the heap and the core count (64 MB at 2 cores);
# and the module openings Spark needs on JDK 17 (as in the repo's
# build.sbt).
HEAP = "3g"
SETTINGS = [
    f"-Xms{HEAP}", f"-Xmx{HEAP}",
    "-XX:+UseParallelGC",
    "-XX:-UseAdaptiveSizePolicy",
    "-Xmn1280m", "-XX:SurvivorRatio=3",
    "-XX:ReservedCodeCacheSize=512m",
    "-XX:CompileThresholdScaling=0.25",
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.buffer.pageSize=32m",
    "-Dfile.encoding=UTF-8",
    "-Duser.language=en", "-Duser.country=US",
]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# A run of a workload listed in BENCHMARK.json must end within 180 s;
# ifcb_feed is not listed (one op takes 6-10 s, see NOTES.md) and gets
# longer.
RUN_TIMEOUT_S = {"ifcb_feed": 600}
BUILD_TIMEOUT_S = 840


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles graft plus the harness unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources next to perfbench/ (src/main/scala/graft); "
             "run from the root of a graft checkout")
    digest = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
        "-XX:-UsePerfData"])
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed; see {log}")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def java_command(args, work):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + SETTINGS + opens +
            [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.perfbench.Main"] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--curve", type=int)
    ap.add_argument("--perturb", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    # Spark gets half of the host's cores: the other half is left to the
    # JIT compiler, the collector and whatever else shares the host. With
    # every core given to Spark, a co-tenant busy on two of four cores
    # spread corpus_dedup's op_p50_s by 0.25 over runs; with half, by 0.08.
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(HERE, "data", "sf0.001")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--size", a.size, "--cores", str(cores), "--work", work,
            "--data", data, "--perturb", str(a.perturb),
            "--record", str(a.record_fingerprints)]
    if a.curve:
        args += ["--curve", str(a.curve)]
    log_path = os.path.join(BUILD, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    timeout = RUN_TIMEOUT_S.get(a.workload, 170) if not a.curve else 900
    t0_ms = time.time() * 1000.0
    cmd = java_command(args + ["--t0-ms", repr(t0_ms)], work)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {timeout} s; see {log_path}")
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-2000:])
        fail(f"run failed (exit {proc.returncode}); see {log_path}")
    res = json.loads(lines[-1])
    if a.curve or a.record_fingerprints:
        print(lines[-1])
        return 0
    diag = res.pop("diagnostics")
    print(json.dumps({"diagnostics": diag}, sort_keys=False))
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
