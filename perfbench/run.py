#!/usr/bin/env python3
"""Benchmark runner: builds the program from source, runs one workload in
one JVM, checks its outputs and prints one JSON result line.

Usage, from the repository root:
    python3 perfbench/run.py --workload <etl_ticks|llm_ops> \
        --seed <n> --seconds <s> --trace <0|1>

With --trace 0 the result carries the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics (and the spans go to
.bench_build/traces/). See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

import gendata

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
WORKLOADS = ("etl_ticks", "llm_ops")
# Sized for a 4-core host: local[N] with N = min(CORES, nproc), a fixed heap
# well under half of RAM (no pre-touch), and the confs of graft.Bench. One
# conf differs: Spark's generated-code cache holds 1000 classes, not 100.
# One llm_ops pass generates ~140 classes; with 100 slots every pass
# recompiled ~100 of them and the JIT compiled them again, which took about
# half of the process CPU and hid the operators' own cost.
CORES = 4
HEAP = "3g"
# A fixed young generation: G1 otherwise sizes it from measured pause
# times, so how much of the heap a run touches, and so its peak RSS, varied
# by a third between identical runs.
JVM_FLAGS = ["-XX:+UseG1GC", "-Xmn512m"]
SPARK_CONFS = {
    "spark.master": "local[{cores}]",
    "spark.sql.shuffle.partitions": "{cores}",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.sql.codegen.cache.maxEntries": "1000",
}
# A run must end within 180 s; the JVM is stopped before that.
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                               recursive=True))
    if not program:
        fail(f"no program sources under {ROOT}/src/main/scala")
    return program + sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"),
                                      recursive=True))


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    that build.sbt compiles the program against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("Spark not found: set SPARK_HOME")
    return m.group(1)


def build():
    """Compiles the program and the benchmark harness with the Scala
    compiler that ships with Spark; reuses the classes while no source
    changed. Returns the runtime classpath."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    jar_dir = spark_jars()
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        fail(f"no Spark jars in {jar_dir}")
    cp = os.pathsep.join([classes] + jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    scalac = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    proc = subprocess.run(
        ["java", "-Xss16m", "-Xmx3g", "-cp", os.pathsep.join(scalac),
         "scala.tools.nsc.Main", "-nowarn", "-d", classes,
         "-classpath", os.pathsep.join(jars), "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()

    cores = min(CORES, os.cpu_count() or 1)
    work = os.path.join(ROOT, ".bench_build", "work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.monotonic()
        data = os.path.join(work, "data")
        os.makedirs(data)
        if args.workload == "etl_ticks":
            gendata.write_totesys(args.seed, data)
        else:
            gendata.write(gendata.GATE_DATA_SEED, data)
        gen_s = time.monotonic() - t0

        confs = [f"conf.{k}={v.format(cores=cores)}"
                 for k, v in SPARK_CONFS.items()]
        out = os.path.join(work, "result.json")
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + JVM_FLAGS
               + [a for p in ADD_OPENS for a in
                  ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + [f"-Djava.io.tmpdir={work}/tmp",
                  f"-Dderby.stream.error.file={work}/derby.log",
                  "-cp", cp, "graft.perfbench.Main",
                  f"workload={args.workload}", f"seed={args.seed}",
                  f"seconds={args.seconds}", f"trace={args.trace}",
                  f"cores={cores}", f"data={data}", f"work={work}",
                  f"out={out}"] + confs)
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as logf:
            proc = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                  timeout=RUN_TIMEOUT_S)
        if proc.returncode != 0 or not os.path.exists(out):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"benchmark JVM exited with {proc.returncode}")
        with open(out) as f:
            res = json.load(f)

        # One failure per failed operation, plus one per gate whose
        # checked output the oracle rejects.
        failures = list(res["failures"])
        failed = res["failed"]
        if res["outputs"]:
            import oracle  # duckdb and pandas load only for the gate checks
            rejected = oracle.check(data, res["outputs"])
            failures += rejected
            failed += len(rejected)
        for msg in failures:
            print(f"perfbench: FAILED {msg}", file=sys.stderr)
        if args.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            traces = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                traces, f"{args.workload}-seed{args.seed}.jsonl"))

        measured = dict(res["metrics"])
        measured["setup_s"] = measured.get("setup_s", 0.0) + gen_s
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        metrics = {m["name"]: {"value": measured.get(m["name"], 0.0),
                               "unit": m["unit"]} for m in wanted}
        print(json.dumps({
            "correct": not failures,
            "attempted": res["attempted"],
            "failed": failed,
            "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
