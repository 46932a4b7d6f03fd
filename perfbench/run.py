#!/usr/bin/env python3
"""Seeded serving / admission / curation benchmark for graft.

    python3 perfbench/run.py --workload <search|curate> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine
(`src/main/scala`) together with the benchmark (`perfbench/src/main/scala`)
with the Scala compiler shipped in the Spark distribution, into
`.bench_build/perfbench/`; later runs reuse the classes while the sources
are unchanged. The benchmark JVM generates its inputs from the seed,
drives the engine in-process, checks the outputs and prints one line per
metric and check; this script prints those lines and, as the last line of
standard output, the JSON record:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the record holds the `end_to_end` metrics of
BENCHMARK.json, with `--trace 1` the `per_layer` ones. Each record metric
is read from the workload's own metric named in RECORD below (see
perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("search", "curate")
# The compile of a fresh checkout, and the benchmark JVM, each end
# within these many seconds.
BUILD_S = 800.0
RUN_S = 170.0

# record metric -> {workload: metric the benchmark JVM prints}; "*" is
# every workload.
RECORD = {
    "end_to_end": {
        "setup_s": {"*": "setup_s"},
        "p50_ms": {"search": "search_p50_ms",
                   "curate": "curate_pass_p50_ms"},
        "work_per_s": {"search": "search_rps",
                       "curate": "curate_docs_per_s"},
        "cached_mb": {"*": "cached_mb"},
    },
    "per_layer": {
        "jobs_per_op": {"search": "search.jobs_per_req",
                        "curate": "curate.jobs_per_pass"},
        "stages_per_op": {"search": "search.stages_per_req",
                          "curate": "curate.stages_per_pass"},
        "tasks_per_op": {"search": "search.tasks_per_req",
                         "curate": "curate.tasks_per_pass"},
        "in_job_ms_per_op": {"search": "search.in_job_ms",
                             "curate": "curate.in_job_ms"},
        "driver_ms_per_op": {"search": "search.driver_ms",
                             "curate": "curate.driver_ms"},
        "exec_cpu_ms_per_op": {"search": "search.exec_cpu_ms",
                               "curate": "curate.exec_cpu_ms"},
        "shuffle_bytes_per_op": {"search": "search.shuffle_bytes_per_req",
                                 "curate": "curate.shuffle_bytes_per_pass"},
        "spark.jobs": {"*": "spark.jobs"},
        "spark.stages": {"*": "spark.stages"},
        "spark.tasks": {"*": "spark.tasks"},
        "spark.in_job_s": {"*": "spark.in_job_s"},
        "spark.driver_gap_s": {"*": "spark.driver_gap_s"},
        "spark.executor_cpu_s": {"*": "spark.executor_cpu_s"},
        "spark.gc_s": {"*": "spark.gc_s"},
        "spark.shuffle_read_bytes": {"*": "spark.shuffle_read_bytes"},
        "spark.shuffle_write_bytes": {"*": "spark.shuffle_write_bytes"},
        "spark.task_skew": {"*": "spark.task_skew"},
        "host.control_ms": {"*": "host.control_ms"},
        "trace.overhead_ratio": {"*": "trace.overhead_ratio"},
    },
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars directory the repository's own
    build.sbt names as `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        jars = ""
        build_sbt = os.path.join(ROOT, "build.sbt")
        if os.path.isfile(build_sbt):
            with open(build_sbt) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
            jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        fail("no Spark jars found: set SPARK_HOME")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main", "scala")]
    files = []
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    if not any(f.startswith(roots[0]) for f in files):
        fail("no engine sources under src/main/scala; run from the "
             "repository root")
    return sorted(files)


def build(jars):
    """Compile engine + benchmark once per source state; returns the
    class directory."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "@" + argfile]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_S)
    except subprocess.TimeoutExpired:
        fail("compilation did not finish in time")
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    os.rename(tmp, out)
    return out


def jvm_cmd(classes, jars, args, cpus, work):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds),
            "--trace", "1" if args.trace else "0",
            "--work", work, "--cpus", str(cpus)]
    return cmd


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("run from the repository root (no BENCHMARK.json here)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    kind = "per_layer" if args.trace else "end_to_end"
    wanted = {m["name"]: m["unit"] for m in bench[kind]}

    jars = spark_jars()
    classes = build(jars)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(BUILD, "last-run.log")
    metrics, counts = {}, None
    try:
        with open(log, "w") as errf:
            proc = subprocess.Popen(jvm_cmd(classes, jars, args, cpus, work),
                                    stdout=subprocess.PIPE, stderr=errf,
                                    text=True, cwd=work)
            try:
                out, _ = proc.communicate(timeout=RUN_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"benchmark JVM timed out (log: {log})")
        for line in out.splitlines():
            f = line.split("\t")
            if f[0] == "metric" and len(f) == 4:
                metrics[f[1]] = (float(f[2]), f[3])
                print(f"{f[1]} = {f[2]} {f[3]}")
            elif f[0] == "check" and len(f) == 3:
                print(f"check {f[1]}: {f[2]}")
            elif f[0] == "counts" and len(f) == 3:
                counts = (int(f[1]), int(f[2]))
        if proc.returncode != 0 or counts is None:
            fail(f"benchmark JVM failed with code {proc.returncode} "
                 f"(log: {log})")
    finally:
        # keep the traced run's span file; drop the rest of the work dir
        traces = os.path.join(BUILD, "traces")
        for f in os.listdir(work) if os.path.isdir(work) else []:
            if f.startswith("trace-") and f.endswith(".jsonl"):
                os.makedirs(traces, exist_ok=True)
                shutil.move(os.path.join(work, f), os.path.join(traces, f))
        shutil.rmtree(work, ignore_errors=True)

    record, missing = {}, []
    for name, unit in wanted.items():
        src = RECORD[kind].get(name, {})
        src = src.get(args.workload, src.get("*"))
        if src is None or src not in metrics:
            missing.append(name)
            continue
        record[name] = {"value": metrics[src][0], "unit": unit}
    attempted, failed = counts
    correct = failed == 0 and not missing
    if missing:
        print(f"missing metrics: {', '.join(missing)}")
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed, "metrics": record}))
    sys.exit(0)


if __name__ == "__main__":
    main()
