#!/usr/bin/env python3
"""Benchmark entry point for graft: build once, generate seeded inputs, run one
workload in a fresh JVM, check its outputs outside Spark, and print one
JSON line.

    python3 perfbench/run.py --workload denorm_json --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
harness (perfbench/Makefile) into .bench_build/; inputs, outputs and
traces go under .bench_data/. The last line of stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1).
"""

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True   # keep perfbench/ free of generated files

import check  # noqa: E402
import gen    # noqa: E402

TIME_LIMIT_S = 170          # the whole run, build and generation excluded
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """The Spark jars directory that the project's build.sbt compiles against."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no Spark jars directory (unmanagedBase); run from the repository root")
    return m.group(1)


def build(root, out):
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    with open(log, "a") as f:
        r = subprocess.run(["make", "-s", "-C", HERE, f"ROOT={root}", f"OUT={out}",
                            f"SPARK_JARS={spark_jars(root)}"], stdout=f, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail("build failed")


def inputs(data, workload, seed):
    """Generated inputs for (workload, seed), reused while they exist;
    inputs of other seeds are removed to bound disk use."""
    base = os.path.join(data, "inputs", workload)
    d = os.path.join(base, f"seed-{seed}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(base, ignore_errors=True)
        gen.generate(workload, seed, d)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no program sources (src/main/scala); run from the repository root")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    jars = spark_jars(root)
    classes = os.path.join(root, ".bench_build", "perfbench")
    build(root, classes)
    data = os.path.join(root, ".bench_data")
    in_dir = inputs(data, a.workload, a.seed)
    out_dir = os.path.join(data, "runs", a.workload)
    for sub in ("tmp", "spark-local", "traces", "runs"):
        os.makedirs(os.path.join(data, sub), exist_ok=True)
    result = os.path.join(data, "runs", f"{a.workload}.result.json")
    trace_file = os.path.join(data, "traces", f"{a.workload}-seed{a.seed}.json")
    if os.path.exists(result):
        os.remove(result)

    cpus = min(4, len(os.sched_getaffinity(0)))
    cp = os.pathsep.join([os.path.join(classes, "harness"), os.path.join(classes, "program"),
                          os.path.join(jars, "*")])
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", "-XX:-UsePerfData", "-cp", cp,
            f"-Djava.io.tmpdir={data}/tmp", f"-Dspark.local.dir={data}/spark-local",
            f"-Dspark.sql.warehouse.dir={data}/warehouse", f"-Dspark.hadoop.hadoop.tmp.dir={data}/tmp",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["perfbench.Harness", f"workload={a.workload}", f"input={in_dir}",
              f"output={out_dir}", f"seconds={a.seconds}", f"trace={a.trace}", f"cpus={cpus}",
              f"result={result}", f"trace_file={trace_file}"])
    log = os.path.join(data, "runs", f"{a.workload}.log")
    with open(log, "w") as f:
        launch = time.time_ns()
        proc = subprocess.Popen(cmd + [f"launch_ns={launch}"], stdout=f, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=TIME_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {TIME_LIMIT_S}s (log: {log})", 1)
    if rc != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {rc} (log: {log})", 1)
    with open(result) as f:
        res = json.load(f)

    with open(os.path.join(in_dir, "expected.json")) as f:
        exp = json.load(f)
    exp["_dir"] = in_dir
    failed_checks = check.run_checks(a.workload, exp, out_dir)
    for msg in failed_checks:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)

    metrics = {}
    for m in wanted:
        if m["name"] not in res["metrics"]:
            fail(f"harness reported no {m['name']}", 1)
        metrics[m["name"]] = {"value": res["metrics"][m["name"]], "unit": m["unit"]}
    print(json.dumps({"correct": not failed_checks, "attempted": res["attempted"],
                      "failed": 0, "metrics": metrics}))


if __name__ == "__main__":
    main()
