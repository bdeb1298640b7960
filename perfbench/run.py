#!/usr/bin/env python3
"""Deployment benchmark for the OLTP -> star-warehouse pipeline.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the library and the benchmark from
source (once per source state, under `.bench_build/`), generates the
workload's inputs from the seed, runs the workload in a fresh JVM
(`local[N]`, N = available cores), checks every output (DuckDB oracles
for the dashboard visuals and the curation table), and prints the
workload's named metrics followed by one JSON result line:

    {"correct": true, "attempted": .., "failed": .., "metrics": {..}}

With `--trace 0` the metrics are the end-to-end metrics of
`BENCHMARK.json`; with `--trace 1` its per-layer metrics. The exit code is
0 only when every check passed. `--negative-control` plants a wrong
expected CDC state (the check must then fail); `--scale` overrides the
input size (the smoke test uses it). The run's `result.json` and, when
traced, `trace_spans.jsonl` are kept in `.bench_build/last/<workload>/`.
See perfbench/README.md.
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
BUILD = os.path.join(ROOT, ".bench_build")
# the input tables each workload reads (cdc_upsert generates its own events)
WORKLOADS = {
    "etl_daily": ("etl",),
    "bi_refresh": ("star",),
    "cdc_upsert": (),
    "curation": ("documents",),
}
# input size, in the TPC-H convention (datagen.py): 15k orders, 500 documents
SCALE = 0.01
# The workload JVM's flags, pinned. The code cache is sized as in the root
# build: the workloads JIT-compile many generated classes, and a full cache
# stops the compiler mid-run. The heap is fixed and only the C1 compiler
# runs, so that a window's operations are flat and its median does not
# follow how far the JVM's warm-up happened to get: a run's JVM lives under
# a minute, and with C2 the timed operations kept falling by up to 40% from
# first to last; a heap that started small grew through each window (and
# the heap samples' full collections shrank it again), and operations fell
# by up to 25%. See perfbench/README.md.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=2g", "-XX:TieredStopAtLevel=1"]
# Spark on JDK 17 outside spark-submit needs these (the root build's list)
ADD_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
        + glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
        + [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the library and the benchmark; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building library and benchmark (sbt)")
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def frame_equal(got, want, sort_by=None):
    """The repository's oracle comparison: same columns, same rows, values
    equal as strings, in order (after `sort_by`, when given)."""
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc or len(got) != len(want):
        return False
    g, w = got[gc], want[wc]
    if sort_by:
        g, w = g.sort_values(sort_by), w.sort_values(sort_by)
    return g.reset_index(drop=True).astype(str).equals(w.reset_index(drop=True).astype(str))


def oracle_checks(workload, work, data, result):
    """DuckDB oracles, run untimed after the JVM exits: each dashboard
    visual's checked result and the final curation table."""
    if workload not in ("bi_refresh", "curation"):
        return
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

    def spark_frame(d):
        files = sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))
        return con.execute(f"SELECT * FROM read_parquet({files!r}, hive_partitioning = true)").fetchdf()

    checks = result["checks"]
    if workload == "bi_refresh":
        oracle = json.load(open(os.path.join(work, "bi_oracle.json")))
        runs = result["named"].get("bi_query_samples", {}).get("value", 0)
        for visual, sql in sorted(oracle.items()):
            ok = frame_equal(spark_frame(os.path.join(work, "bi_expected", visual)),
                             con.execute(sql).fetchdf())
            checks[f"oracle_{visual}"] = ok
            if not ok:  # every timed run of this visual returned a wrong result
                result["failed"] += max(1, int(runs // len(oracle)))
    if workload == "curation":
        ok = frame_equal(spark_frame(os.path.join(work, "curation_out")),
                         con.execute(open(os.path.join(work, "k7_oracle.sql")).read()).fetchdf(),
                         sort_by=["doc_id"])
        checks["oracle_k7_curation_pipeline"] = ok
        if not ok:
            result["failed"] += 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float)
    ap.add_argument("--negative-control", action="store_true")
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"the library's sources are not beside the benchmark (looked in {ROOT})")
        return 2
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    classpath = build()

    tables = WORKLOADS[args.workload]
    scale = args.scale or SCALE
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    sys.path.insert(0, HERE)
    import datagen
    try:
        t0 = time.perf_counter()
        datagen.generate(data, args.seed, scale, tables)
        gen_s = time.perf_counter() - t0
        out_file = os.path.join(work, "result.json")
        cmd = (["java", *JVM_FLAGS, *ADD_OPENS,
                f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
                f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
                "-cp", classpath, "perfbench.Main",
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--data", data, "--work", work, "--out", out_file,
                "--gen-seconds", repr(gen_s), "--scale", repr(scale)]
               + (["--negative-control"] if args.negative_control else []))
        return report(args, bench, cmd, work, data, out_file)
    finally:
        # keep the result and the spans; drop the bulky inputs and tables
        last = os.path.join(BUILD, "last", args.workload)
        shutil.rmtree(last, ignore_errors=True)
        os.makedirs(last)
        for name in ("result.json", "trace_spans.jsonl"):
            if os.path.exists(os.path.join(work, name)):
                shutil.copy(os.path.join(work, name), last)
        shutil.rmtree(work, ignore_errors=True)


def report(args, bench, cmd, work, data, out_file):
    """Run the workload JVM, add the oracle checks, print the result."""
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=sys.stderr)
    try:
        rc = proc.wait(timeout=args.seconds + 150)
    except subprocess.TimeoutExpired:
        log("workload timed out")
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0 or not os.path.exists(out_file):
        log(f"workload JVM failed (exit {rc})")
        return 3
    log(f"workload JVM exited after {time.perf_counter() - t0:.1f}s")
    result = json.load(open(out_file))
    t0 = time.perf_counter()
    oracle_checks(args.workload, work, data, result)
    log(f"oracle checks took {time.perf_counter() - t0:.1f}s")

    for name, m in list(result["named"].items()) + list(result["layer"].items()):
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    for name, v in result["checks"].items():
        print(f"{args.workload} check {name}: {'ok' if v else 'FAILED'}")
    print(f"{args.workload} settings {json.dumps(result['settings'], sort_keys=True)}")
    if args.trace:
        declared = bench["per_layer"]
        metrics = {m["name"]: {"value": result["layer"][m["name"]]["value"], "unit": m["unit"]}
                   for m in declared}
    else:
        metrics = {m["name"]: {"value": result["e2e"][m["name"]]["value"], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    attempted = max(1, int(result["attempted"]))
    correct = int(result["failed"]) == 0 and all(result["checks"].values())
    failed = int(result["failed"]) if correct else max(1, int(result["failed"]))
    print(f"{args.workload} failed_frac = {failed / attempted:.6g} (failed {failed} of {attempted})")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
