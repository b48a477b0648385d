#!/usr/bin/env python3
"""graft benchmark: one seeded workload, end to end or traced.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Steps, all inside the checkout:
  1. build   compiles src/main/scala and perfbench/src with the Scala
             compiler of the Spark distribution the build names
             (build.sbt `unmanagedBase`), into $CARGO_TARGET_DIR (default
             .bench_build)/perfbench, once per source tree;
  2. input   perfbench/gen.py writes the seeded input in its own process
             (plus the stored-cell table for snapshot_full, built by the
             program's KvModel in its own JVM);
  3. oracle  the registry query's DuckDB oracle runs once on that input and
             is reduced to an order-independent digest;
  4. measure fresh JVMs (graft.perfbench.BenchMain) time their set-up; the
             last of them then runs the workload as a closed loop with one
             client: a cold iteration, S/3 seconds of warm-up, S seconds
             measured. Every iteration's output digest is checked against
             the oracle's.
The last stdout line is the JSON result; the line before it holds the
input's measured properties. Each run works in a unique directory that is
deleted at exit; a traced run keeps its span file under the build dir.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

# workload → registry query whose DuckDB oracle checks it
WORKLOADS = {
    "snapshot_full": "jsonl_snapshot",
    "incremental_latest": "incremental_export",
    "curate_dedup": "dedup_minhash",
}
# setup_s is the median over this many JVM starts: the measuring JVM and
# SETUP_SAMPLES - 1 that stop once set up
SETUP_SAMPLES = 2
HEAP = "3g"
CELL_FILES = 16
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def read(path):
    with open(path) as f:
        return f.read()


def cpus():
    return len(os.sched_getaffinity(0))


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT if not os.path.isabs(d) else "", d, "perfbench")


def spark_jars():
    """The jar directory build.sbt compiles and runs against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BenchError("no build.sbt in the checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', read(sbt))
    if not m or not os.path.isdir(m.group(1)):
        raise BenchError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise BenchError("no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def classpath(bdir, jars):
    return ":".join([os.path.join(bdir, "classes"), os.path.join(ROOT, "src/main/resources"),
                     os.path.join(jars, "*")])


def java(bdir, jars, main, args, tmp, heap=HEAP):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xms{heap}", f"-Xmx{heap}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath(bdir, jars), main, *args]


def run_proc(cmd, log, timeout, **kw):
    """Runs a child to completion (killed and reaped on timeout); raises
    with the tail of its log on a non-zero exit."""
    with open(log, "ab") as err:
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, timeout=timeout, **kw)
        except subprocess.TimeoutExpired:
            raise BenchError(f"{os.path.basename(cmd[-1] if cmd else '?')}: timed out after {timeout}s")
    if p.returncode != 0:
        with open(log, "rb") as f:
            tail = f.read()[-3000:].decode("utf-8", "replace")
        raise BenchError(f"{' '.join(cmd[:1] + cmd[-4:])} exited {p.returncode}\n{tail}")
    return p.stdout.decode()


def build(bdir, jars):
    """Compiles program + benchmark once per source tree."""
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.isfile(stamp_file) and read(stamp_file) == stamp:
        return
    os.makedirs(bdir, exist_ok=True)
    tmp = os.path.join(bdir, f"classes.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(bdir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log = os.path.join(bdir, "build.log")
    open(log, "w").close()
    try:
        run_proc(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
                  "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"), f"@{argfile}"],
                 log, timeout=800)
    except BenchError:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(os.path.join(bdir, "classes"), ignore_errors=True)
    os.rename(tmp, os.path.join(bdir, "classes"))
    run_proc(java(bdir, jars, "graft.perfbench.OracleSql",
                  [os.path.join(bdir, "oracle_sql.json"), *sorted(set(WORKLOADS.values()))],
                  bdir, heap="512m"), log, timeout=120)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def generate(workload, seed, input_dir, scale, bdir, jars, tmp, log, env):
    out = run_proc([sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
                    "--seed", str(seed), "--out", input_dir, "--scale", scale], log, timeout=120)
    props = json.loads(out.strip().splitlines()[-1])
    if workload == "snapshot_full":
        run_proc(java(bdir, jars, "graft.perfbench.Cells", [input_dir, str(CELL_FILES)], tmp),
                 log, timeout=150, env=env, cwd=tmp)
    return props


def oracle_digest(workload, input_dir, bdir, props):
    import oracle
    sqls = json.loads(read(os.path.join(bdir, "oracle_sql.json")))
    con = oracle.connect(input_dir, cpus())
    try:
        d = oracle.oracle_digest(con, sqls[WORKLOADS[workload]], manifest=workload == "snapshot_full")
        if workload == "curate_dedup":
            props["largest_band_bucket"] = oracle.largest_band_bucket(con, sqls["dedup_minhash"])
        props["oracle_rows"] = int(d.split(":")[0])
        return d
    finally:
        con.close()


def bench_jvm(args, bdir, jars, run_dir, env, expected, mode, trace_file):
    tmp = os.path.join(run_dir, "tmp")
    result = os.path.join(run_dir, f"result-{time.time_ns()}.json")
    jargs = ["--workload", args.workload, "--input", os.path.join(run_dir, "input"),
             "--work", os.path.join(run_dir, "work"), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--oracle", expected, "--result", result,
             "--trace-file", trace_file, "--mode", mode]
    cmd = java(bdir, jars, "graft.perfbench.BenchMain", jargs, tmp)
    t0 = time.time_ns()
    run_proc(cmd + ["--t0-ns", str(t0)], os.path.join(run_dir, "jvm.log"), timeout=170,
             env=env, cwd=os.path.join(run_dir, "work"))
    return json.loads(read(result))


def measure(args, bdir, jars, run_dir, scale):
    for d in ("input", "work", "tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    log = os.path.join(run_dir, "jvm.log")
    input_dir = os.path.join(run_dir, "input")
    clock = [("start", time.monotonic())]
    props = generate(args.workload, args.seed, input_dir, scale, bdir, jars,
                     os.path.join(run_dir, "tmp"), log, env)
    clock.append(("input", time.monotonic()))
    expected = oracle_digest(args.workload, input_dir, bdir, props)
    clock.append(("oracle", time.monotonic()))

    traces = os.path.join(bdir, "traces")
    os.makedirs(traces, exist_ok=True)
    trace_file = os.path.join(traces, f"{args.workload}-s{args.seed}-{os.getpid()}.jsonl")
    setups = [] if args.trace else [
        bench_jvm(args, bdir, jars, run_dir, env, expected, "setup", trace_file)
        for _ in range(SETUP_SAMPLES - 1)]
    clock.append(("setup JVMs", time.monotonic()))
    r = bench_jvm(args, bdir, jars, run_dir, env, expected, "run", trace_file)
    clock.append(("measure", time.monotonic()))
    print("perfbench: phase seconds " + ", ".join(
        f"{name} {t - prev:.1f}" for (_, prev), (name, t) in zip(clock, clock[1:])), file=sys.stderr)
    props["oracle_digest"] = expected
    table = {"snapshot_full": "cells", "incremental_latest": "events.parquet"}.get(args.workload)
    if table:
        path = os.path.join(input_dir, table)
        props["table_bytes"] = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    return props, r, setups, trace_file


def result_line(args, props, r, setups):
    attempted, failed = int(r["attempted"]), int(r["failed"])
    if "cold_run_s" not in r:
        raise BenchError(f"the cold iteration failed: {r['errors']}")
    if not r["run_s"]:
        raise BenchError(f"no successful warm iteration: {r['errors']}")
    if args.trace:
        layers = dict(r["layers"])
        layers["queries.versions_per_key"] = props.get("versions_per_key_mean", 0.0)
        # Spark's input byte counter misses vectored parquet reads: price
        # the rows the scan read at the table's stored bytes per row
        if "table_bytes" in props:
            layers["kv.mb_read"] = layers.get("kv.rows_read", 0.0) * props["table_bytes"] / props["rows"] / 2**20
        values = {name: (layers.get(name, 0.0), unit) for name, unit in metrics.PER_LAYER}
    else:
        run_s = statistics.median(r["run_s"])
        values = {
            "setup_s": (statistics.median(x["setup_s"] for x in [r, *setups]), "s"),
            "cold_run_s": (r["cold_run_s"], "s"),
            "run_s": (run_s, "s"),
            "rows_per_s": (props["rows"] / run_s, "rows/s"),
            "cpu_s": (statistics.median(r["cpu_s"]), "s"),
            "peak_rss_mb": (r["peak_rss_mb"], "MB"),
            "ok_frac": ((attempted - failed) / attempted, "ratio"),
        }
        assert [n for n, _ in metrics.END_TO_END] == list(values)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default="full", choices=["full", "smoke"],
                    help="input size; smoke is for the benchmark's own tests")
    args = ap.parse_args(argv)
    bdir = build_dir()
    try:
        jars = spark_jars()
        build(bdir, jars)
        run_dir = os.path.join(bdir, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}-{time.time_ns()}")
        try:
            props, r, setups, trace_file = measure(args, bdir, jars, run_dir, args.scale)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        line = result_line(args, props, r, setups)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print("perfbench: iterations (s): warm-up " + " ".join(f"{x:.3f}" for x in r["warmup_s"]) +
          ", measured " + " ".join(f"{x:.3f}" for x in r["run_s"]), file=sys.stderr)
    for err in r["errors"]:
        print(f"perfbench: {err}", file=sys.stderr)
    if args.trace:
        print(f"perfbench: spans written to {trace_file}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "input": props}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
