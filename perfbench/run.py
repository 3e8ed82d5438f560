#!/usr/bin/env python3
"""Benchmark of the graft log router and operator suite.

Usage, from the repository root:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source (sbt, offline) on first
use, runs workload W in one JVM at local[nproc], checks every timed
operation's output, prints each metric by name with its unit, and ends
with one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end list; with --trace 1
its per_layer list (0 for a layer the workload does not measure), and the
spans go to .bench_work/traces/.

The program keeps shard spills and ingest re-layouts under /tmp; the JVM
purges this run's entries (graft.ColdStart.purge) before each cold build
and when it ends.

Workloads (see BENCHMARK.json for why each exists): backfill_mixed,
shard_tail, operator_mix. End-to-end metrics on each: setup_s is session
start + the median cold-cache build + the warm-up until timings are flat;
records_per_s is records handled / timed wall time; batch_p50_ms is the
median runBatch (backfill_mixed), data-carrying micro-batch (shard_tail)
or pass over all rows (operator_mix); ops_total_s and ops_geomean_s are
the sum and geometric mean of each timed operation's median: one
operation on the product workloads, so both equal its median there, one
per row on operator_mix.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("backfill_mixed", "shard_tail", "operator_mix")
RUN_LIMIT_S = 175
# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the root build.sbt passes the same list).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program + benchmark once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("program sources (src/main/scala/graft) not found; run from the repository root")
    stamp, cp_file = os.path.join(TARGET, "bench.stamp"), os.path.join(TARGET, "bench.classpath")
    digest = source_digest()
    if os.path.isfile(stamp) and os.path.isfile(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", "compile", "export Runtime/fullClasspath"]
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=850)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def run_jvm(cp, work, args, cpus, deadline, log_name, jvm_flags=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, log_name + ".json")
    cmd = [
        "java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", *jvm_flags, *ADD_OPENS,
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main", *args, "--work", work, "--result", result]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    with open(os.path.join(work, log_name + ".log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(5, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None
    if not os.path.isfile(result):
        return None
    with open(result) as f:
        return json.load(f)


def same(a, b):
    """Values equal; floats within a relative 1e-9. A double sum depends on
    the order it is added in, so a rounded sum that lies on a half-cent tie
    may differ by one cent between two engines (seen: 28407183.36 against
    28407183.35, 3.5e-10 apart)."""
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b or str(a) == str(b)


def oracle_failures(res):
    """Compares each operator row's dumped output with its DuckDB oracle:
    columns by name, rows sorted, values equal (see same()). Returns
    {row: reason}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    tdir = res["extra"]["tables_dir"]
    for f in glob.glob(f"{tdir}/*.parquet"):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    dump = os.path.join(os.path.dirname(tdir), "dump")
    bad = {}
    for row, spec in res["extra"]["oracle"].items():
        files = glob.glob(f"{dump}/{row}/*.parquet")
        if not files:
            bad[row] = "no output"
            continue
        try:
            got = con.sql(f"SELECT * FROM '{dump}/{row}/*.parquet'").df()
            want = con.sql(spec["sql"]).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[row] = f"oracle error {e}"[:200]
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        want = want.reindex(sorted(want.columns), axis=1)
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            bad[row] = f"shape {list(got.columns)}x{len(got)} != {list(want.columns)}x{len(want)}"
            continue
        g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
        w = want.sort_values(by=list(want.columns)).reset_index(drop=True)
        for col in g.columns:
            for a, b in zip(g[col], w[col]):
                if not same(a, b):
                    bad[row] = f"column {col}: {a!r} != {b!r}"
                    break
            if row in bad:
                break
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + RUN_LIMIT_S
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_file):
        die("BENCHMARK.json not found")
    with open(spec_file) as f:
        spec = json.load(f)
    cp = build()
    deadline = max(deadline, time.monotonic() + 150)  # a first-run build is not charged

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        # The operator rows are bound by driver-side planning and scheduling
        # code. With C2, when its background compiles of that code land
        # differs from run to run, and row times moved up to 1.6x between
        # runs on a 4-vCPU box; with C1 only they settle within the warm-up.
        jvm_flags = ["-XX:TieredStopAtLevel=1"] if a.workload == "operator_mix" else []
        res = run_jvm(cp, work, args, cpus, deadline, "run", jvm_flags)
        if res is None:
            die(f"benchmark JVM failed; see .bench_work/logs/{os.path.basename(work)}-run.log")
        if a.trace and a.workload == "backfill_mixed":
            # single-thread baseline of the same job, in its own local[1] JVM
            base = run_jvm(cp, os.path.join(work, "baseline"), args + ["--baseline", "1"], 1,
                           deadline, "baseline")
            if base is None:
                base = {"metrics": {}, "attempted": 1, "failed": 1,
                        "errors": ["local[1] baseline JVM failed"]}
            res["metrics"].update({k: v for k, v in base["metrics"].items()
                                   if k.startswith("baseline.")})
            res["attempted"] += base["attempted"]
            res["failed"] += base["failed"]
            res["errors"] += base["errors"]
        if a.workload == "operator_mix":
            for row, why in oracle_failures(res).items():
                runs = res["extra"]["oracle"][row]["runs"]
                res["failed"] += runs
                res["errors"].append(f"{row} output != oracle: {why}")
        if a.trace:
            traces = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(work, "spans.jsonl")
            if os.path.isfile(spans):
                shutil.copy(spans, os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        logs = os.path.join(ROOT, ".bench_work", "logs")
        os.makedirs(logs, exist_ok=True)
        for f in glob.glob(os.path.join(work, "*.log")) + glob.glob(os.path.join(work, "*", "*.log")):
            shutil.copy(f, os.path.join(logs, f"{os.path.basename(work)}-{os.path.basename(f)}"))
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got and not a.trace]
    metrics = {m["name"]: {"value": got.get(m["name"], {}).get("value", 0.0), "unit": m["unit"]}
               for m in wanted}
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:.6g} {m['unit']}")
    for name, m in got.items():  # measured, but not a declared metric of this mode
        if name not in metrics and (a.trace or "." not in name):
            print(f"{name:40s} {m['value']:.6g} {m['unit']} (also measured)")
    extra = res.get("extra", {})
    if "setup" in extra:
        print(f"setup_s is {extra['setup']} (median cold-cache build counted)")
    if "input_mix" in extra:
        print(f"input mix (assumed shares, see Gen.Mix): {extra['input_mix']}")
    if a.workload == "shard_tail" and "records_per_s_per_shard" in extra:
        print(f"per shard: {float(extra['records_per_s_per_shard']):.1f} records/s "
              f"(BASELINE.md envelope: <= 1000 records/s per shard); "
              f"measured micro-batches: {extra.get('batches')}; "
              f"median batch {got['batch_p50_ms']['value'] / 1000:.3f} s (deadline 60 s)")
        print(f"drain: {extra.get('drain')}")
    if a.trace and "self_s" in extra:
        for name, s in sorted(extra["self_s"].items()):
            print(f"self time {name:34s} {s:.4f} s")
    for e in res["errors"]:
        print(f"error: {e}")
    for name in missing:
        print(f"error: metric {name} was not measured")
    correct = res["failed"] == 0 and res["attempted"] > 0 and not missing
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"] + len(missing), "metrics": metrics}))


if __name__ == "__main__":
    main()
