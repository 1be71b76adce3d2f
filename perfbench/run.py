#!/usr/bin/env python3
"""Benchmark of the Spark ETL and analytics engine.

    python3 perfbench/run.py --workload olap|llm_prep|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the harness (an sbt
project in perfbench/harness that compiles the engine's sources with the
harness); later runs reuse the build while the sources are unchanged. One
JVM runs the workload on `local[4]`, one operation at a time, and writes
what it measured to perfbench/.work; this script checks the outputs,
computes the metrics and prints them. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones from a
traced pass. A run times exactly one pass over the workload's ops, however
long that takes; --seconds is accepted for the command line's sake and
does not change what is measured. See perfbench/README.md for the
workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import stats

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HARNESS = os.path.join(BENCH, "harness")
BUILD = os.path.join(HARNESS, "target")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HARNESS, "src")]
DATA = os.path.join(BENCH, "data", "sf0.01")
EXPECTED = os.path.join(BENCH, "expected")
WORKLOADS = ("olap", "llm_prep", "ingest")
CC_QUERIES = ("d55_dup_clusters", "d59_dedup_apply")
DEADLINE_S = 165
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for d in SOURCES:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the harness with the engine unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    cp_file = os.path.join(BUILD, "perfbench.classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log("perfbench: building the harness")
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HARNESS, env=env,
                           capture_output=True, text=True, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"sbt did not run: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        log(p.stdout[-4000:] + p.stderr[-4000:])
        fail("harness build failed")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def run_jvm(classpath, args, work, budget_s):
    """Runs the harness; returns the JSON document it wrote."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap, so the resident set does not depend on when the
    # collector chose to grow it; the parallel collector and two JIT
    # compiler threads, so fewer background threads compete with the four
    # task threads for the four cores.
    cmd = ["java", "-Xms1536m", "-Xmx1536m", "-XX:+UseParallelGC",
           "-XX:CICompilerCount=2", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--trace", str(args.trace),
            "--data", DATA, "--work", work, "--out", out]
    # the JVM's stdout goes to stderr: the result line must be the last
    # line this script prints
    try:
        p = subprocess.run(cmd, stdout=sys.stderr, stderr=subprocess.PIPE,
                           text=True, timeout=budget_s)
    except subprocess.TimeoutExpired:
        fail(f"the harness did not finish within {budget_s:.0f} s")
    if p.returncode != 0 or not os.path.exists(out):
        log(p.stderr[-6000:])
        fail(f"the harness exited with code {p.returncode}")
    with open(out) as f:
        return json.load(f)


def check_queries(res, work):
    """Names of the ops whose output differs from the stored oracle result,
    compared as tools/local_verify.py does: columns sorted by name, rows
    sorted, values exact."""
    import duckdb
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        if len(df):
            df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
        return df

    con = duckdb.connect()
    bad = {}
    for w in res["check"]["outputs"]:
        name = w["name"]
        if w["error"]:
            bad[name] = w["error"]
            continue
        want_path = os.path.join(EXPECTED, f"{name}.parquet")
        files = glob.glob(os.path.join(work, "check", f"{name}.parquet", "*.parquet"))
        if not os.path.exists(want_path) or not files:
            bad[name] = "no stored result" if not files else "no oracle result stored"
            continue
        got = canon(con.execute(f"SELECT * FROM read_parquet({files!r})").df())
        want = canon(con.execute(f"SELECT * FROM read_parquet('{want_path}')").df())
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            bad[name] = f"shape {list(got.columns)}x{len(got)} != {list(want.columns)}x{len(want)}"
            continue
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        except AssertionError as e:
            bad[name] = str(e)[:300]
    return bad


def check_ingest(res):
    """Names of the ops (`<output>.<sink>`) whose landed files, read back,
    hold another row count than the generator made for that output, or,
    for the recap tables, other counts than the generator's."""
    check = res["check"]
    want_rows, want_recap = check["expected_rows"], check["expected_recap"]
    bad = {}
    for op in (o["name"] for o in res["pass"]["ops"]):
        out = op.split(".")[0]
        got = check["landed"].get(op, {"error": "not read back"})
        if "error" in got:
            bad[op] = got["error"]
        elif got["rows"] != want_rows[out]:
            bad[op] = f"landed {got['rows']} rows, the generator made {want_rows[out]}"
        elif out in want_recap and got["recap"] != want_recap[out]:
            bad[op] = f"recap {got['recap']} != the generator's {want_recap[out]}"
    return bad


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(res):
    p = res["pass"]
    latencies = [o["latency_s"] for o in p["ops"]]
    tail_v, tail_pct, n = stats.tail(latencies)
    log(f"perfbench: op_tail_s is p{tail_pct:.1f} over {n} ops (10 ops beyond it)")
    return {
        "setup_s": metric(res["setup_s"], "s"),
        "wall_s": metric(p["wall_s"], "s"),
        "op_p50_s": metric(stats.quantile(latencies, 0.5), "s"),
        "op_tail_s": metric(tail_v, "s"),
        "cpu_s": metric(p["cpu_s"], "s"),
        "peak_rss_mb": metric(res["peak_rss_mb"], "MB"),
    }


def per_layer(res):
    traced = res["pass"]
    spans = stats.attach_orphans(res["spans"])
    by_id = {s["id"]: s for s in spans}
    jobs = [s for s in spans if s["name"] == "job"]

    def parent_name(s):
        p = by_id.get(s["parent"])
        return p["name"] if p else ""

    def total(ss, key=None):
        return sum((s["attrs"].get(key, 0.0) if key else s["end_ms"] - s["start_ms"])
                   for s in ss)

    construct = [s for s in spans if s["name"] == "queries.construct"]
    construct_jobs = [j for j in jobs if parent_name(j) == "queries.construct"]
    schema_jobs = [j for j in construct_jobs if "Tables.scala" in j["attrs"].get("call_site", "")]
    cc = [s for s in construct if s["op"] in CC_QUERIES]
    cc_jobs = [j for j in construct_jobs if j["op"] in CC_QUERIES]
    paged_ops = [s for s in spans if s["name"] == "op" and s["op"].startswith("paged_artists.")]
    paged_ids = {s["id"] for s in paged_ops}

    def under(s, ids):
        while s is not None:
            if s["id"] in ids:
                return True
            s = by_id.get(s["parent"])
        return False

    paged_jobs = [j for j in jobs if under(j, paged_ids)]
    paged_plan_ms = sum(
        min((j["start_ms"] for j in paged_jobs if under(j, {o["id"]})), default=o["end_ms"])
        - o["start_ms"] for o in paged_ops)
    stages = total(jobs, "stages")
    run_s = total(jobs, "run_ms") / 1e3
    extra = lambda k: traced["extra"].get(k, 0.0)
    pairs = res["overhead_pairs"]
    overhead, first, second = stats.paired_overhead(pairs)
    log(f"perfbench: trace.overhead from {len(pairs)} traced/untraced op pairs; "
        f"median ratio {first:.3f} with the traced run first, {second:.3f} second")
    selfs = stats.self_by_layer(spans)
    for layer in sorted(selfs, key=lambda k: -selfs[k]):
        log(f"perfbench: self time {layer:22s} {selfs[layer]:9.3f} s")
    m = {
        "queries.construct_s": (total(construct) / 1e3, "s"),
        "queries.construct_jobs": (len(construct_jobs), "count"),
        "tables.schema_jobs": (len(schema_jobs), "count"),
        "tables.schema_job_s": (total(schema_jobs) / 1e3, "s"),
        "cc.construct_s": (total(cc) / 1e3, "s"),
        "cc.construct_jobs": (len(cc_jobs), "count"),
        "catalyst.analysis_s": (total(s for s in spans if s["name"] == "catalyst.analysis") / 1e3, "s"),
        "catalyst.optimization_s": (total(s for s in spans if s["name"] == "catalyst.optimization") / 1e3, "s"),
        "catalyst.planning_s": (total(s for s in spans if s["name"] == "catalyst.planning") / 1e3, "s"),
        "scheduler.jobs": (len(jobs), "count"),
        "scheduler.stages": (stages, "count"),
        "scheduler.tasks": (total(jobs, "tasks"), "count"),
        "scheduler.delay_s": (total(jobs, "sched_delay_ms") / 1e3, "s"),
        "executor.run_s": (run_s, "s"),
        "executor.cpu_s": (total(jobs, "cpu_ns") / 1e9, "s"),
        "executor.gc_s": (total(jobs, "gc_ms") / 1e3, "s"),
        "shuffle.write_bytes": (total(jobs, "shuffle_write_bytes"), "bytes"),
        "shuffle.read_bytes": (total(jobs, "shuffle_read_bytes"), "bytes"),
        "shuffle.fetch_wait_s": (total(jobs, "fetch_wait_ms") / 1e3, "s"),
        "shuffle.spill_bytes": (total(jobs, "spill_bytes"), "bytes"),
        "paged.plan_s": (paged_plan_ms / 1e3, "s"),
        "paged.task_s": (total(paged_jobs, "run_ms") / 1e3, "s"),
        "pipelines.build_s": (total(s for s in spans if s["name"] == "pipelines.build") / 1e3, "s"),
        "sinks.write_s": (total(s for s in spans if s["name"].startswith("sinks.")) / 1e3, "s"),
        "trace.unattributed_s": ((selfs.get("op", 0.0) + selfs.get("execute", 0.0)), "s"),
    }
    out = {k: metric(v, u) for k, (v, u) in m.items()}
    per_op = max(len(paged_ops), 1)
    out.update({
        "scheduler.one_task_stage_share": metric(total(jobs, "one_task_stages") / stages if stages else 0.0, "ratio"),
        "executor.core_util": metric(run_s / (traced["wall_s"] * res["cores"]), "ratio"),
        "paged.partitions": metric(total(paged_jobs, "tasks") / per_op, "count"),
        "paged.rows": metric(total(paged_jobs, "records_read") / per_op, "count"),
        "sinks.files": metric(extra("sinks.files"), "count"),
        "sinks.bytes": metric(extra("sinks.bytes"), "bytes"),
        "sinks.out_bytes_per_in_byte": metric(
            extra("sinks.bytes") / extra("in_bytes") if extra("in_bytes") else 0.0, "ratio"),
        "trace.overhead": metric(overhead, "ratio"),
    })
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    t0 = time.time()
    work = os.path.join(BENCH, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(classpath, args, work, DEADLINE_S - (time.time() - t0))

    bad = check_ingest(res) if args.workload == "ingest" else check_queries(res, work)
    for name, why in sorted(bad.items()):
        log(f"perfbench: FAILED {name}: {why}")
    attempted, failed = stats.count_failures(res["pass"]["ops"], set(bad))
    if args.trace:
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump(res["spans"], f)
    metrics = per_layer(res) if args.trace else end_to_end(res)
    for k, v in metrics.items():
        log(f"perfbench: {k:32s} {v['value']:14.4f} {v['unit']}")
    print(json.dumps({"correct": not bad, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
