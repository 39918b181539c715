#!/usr/bin/env python3
"""Benchmark of the CDC stream processor: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the
application and the harness with sbt (offline) into `.bench_build/`; later
runs reuse the build while the sources are unchanged. Inputs are generated
from the seed, the harness JVM runs the workload, the outputs are checked
against DuckDB, and the last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 1` the
metrics are the per-layer ones and the spans are written to
`.bench_build/trace/`.

Workloads: app_backlog, pipeline_trickle (see README.md).
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

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")

WORKLOADS = ("app_backlog", "pipeline_trickle")
# input sizes: events in the backlog / stream, rows per trickle file. The
# trickle stream is sparser than sf0.1 (60 s mean gap) so that a file spans
# ~17 h of event time and the 48 h dormancy sessions close within a run.
# A run lands 6-10 of the 30 trickle files; the rest leaves room for code
# that commits a file several times faster.
BACKLOG_EVENTS = 15000
# app_backlog's warm-up replay reads a small corpus of the same tables
WARMUP_EVENTS = 2000
WARMUP_CUSTOMERS = 2000
TRICKLE_EVENTS = 30000
TRICKLE_GAP_S = 60.0
TRICKLE_CHUNK_ROWS = 1000
HEAP = "3g"

# GraftApp's streaming queries, by query name (or checkpoint directory for
# the unnamed ones); the first five are the reference's pipelines
APP_QUERIES = ["high_value_alerts", "fraud_alerts", "balance_updates",
               "dormancy_alerts", "daily_spend", "rolling_spend",
               "twab_updates", "acct_store", "cust_store",
               "high_value_two_hop", "funnel_conversions", "pattern3_matches"]

E2E_UNITS = {"setup_s": "s", "rows_per_s": "rows/s", "batch_p50_s": "s",
             "alloc_mb": "MB"}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "project", "*.properties"))
    for base in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the application and the harness; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail(f"no application sources under {ROOT}: run from a source checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building application and harness with sbt (offline)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=840)
        out.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed (exit {p.returncode}); see .bench_build/build.log")
    lines = [ln for ln in p.stdout.splitlines()
             if ".jar" in ln and not ln.startswith("[")]
    if not lines:
        fail("build printed no classpath; see .bench_build/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def make_inputs(workload, seed):
    """Generate the workload's inputs from the seed (cached per seed and
    generator version); return (data dir, input files in hash order)."""
    h = hashlib.sha256(repr((BACKLOG_EVENTS, WARMUP_EVENTS, WARMUP_CUSTOMERS, TRICKLE_EVENTS, TRICKLE_GAP_S,
                             TRICKLE_CHUNK_ROWS)).encode())
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        h.update(f.read())
    version = h.hexdigest()[:8]
    data = os.path.join(BUILD, "data", f"{workload}-{seed}-{version}")
    done = os.path.join(data, ".done")
    if not os.path.exists(done):
        shutil.rmtree(data, ignore_errors=True)
        if workload == "app_backlog":
            gen.corpus(seed, data, BACKLOG_EVENTS, with_analytic=True)
            gen.corpus(seed, os.path.join(data, "warmup"), WARMUP_EVENTS,
                       customers=WARMUP_CUSTOMERS)
        else:
            gen.corpus(seed, data)
            chunks = gen.chunk_events(gen.events(seed, TRICKLE_EVENTS, TRICKLE_GAP_S),
                                      TRICKLE_CHUNK_ROWS)
            for i, c in enumerate(chunks):
                gen.write(c, os.path.join(data, "chunks", f"chunk-{i:05d}.parquet"))
        with open(os.path.join(data, "manifest.tsv"), "w") as f:
            for p in input_files(data):
                n = pq.ParquetFile(p).metadata.num_rows
                f.write(f"{os.path.relpath(p, data)}\t{n}\n")
        open(done, "w").close()
    return data, input_files(data)


def input_files(data):
    return sorted(glob.glob(os.path.join(data, "**", "*.parquet"), recursive=True))


def run_harness(cp, workload, data, seconds, trace, seed):
    work = os.path.join(BUILD, "work", workload)
    out = os.path.join(BUILD, "work", f"{workload}.result.json")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(BUILD, "work"), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=os.path.join(BUILD, "spark-local"),
               GRAFT_MEDIA_PATH=os.path.join(ROOT, "testdata", "media", "media.parquet"))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", workload, data, work,
            str(seconds), "1" if trace else "0", out]
    logf = os.path.join(BUILD, "work", f"{workload}.log")
    with open(logf, "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=os.path.join(BUILD, "work"), env=env,
                               stdout=lf, stderr=subprocess.STDOUT, timeout=170)
        except subprocess.TimeoutExpired:
            fail("harness did not finish within 170 s")
    if p.returncode != 0 or not os.path.exists(out):
        with open(logf) as lf:
            tail = lf.read()[-3000:]
        fail(f"harness exited {p.returncode}; log tail:\n{tail}")
    with open(out) as f:
        result = json.load(f)
    if trace:
        tdir = os.path.join(BUILD, "trace")
        os.makedirs(tdir, exist_ok=True)
        shutil.copy(out + ".spans.json",
                    os.path.join(tdir, f"{workload}-seed{seed}.spans.json"))
    return result


def check_outputs(workload, data, result):
    """Problems found in the run's outputs (empty when all are correct)."""
    chk = result["check"]
    names = ["customer", "nation", "lineitem", "documents", "embeddings"]
    tables = check.tables_in(data, names)
    if workload == "pipeline_trickle":
        chunks = sorted(glob.glob(os.path.join(data, "chunks", "*.parquet")))
        tables["events"] = chunks[:chk["landed"]]
    else:
        tables["events"] = [os.path.join(data, "events.parquet")]
    con = check.connect(tables)
    problems = check.check_streams(con, chk["out"], chk["oracles"], chk["sinks"])
    if "batch_out" in chk:
        problems.update(check.check_batch(con, chk["batch_out"], chk["batch_oracles"]))
    return [f"{k}: {v}" for k, v in problems.items()] + check.check_properties(result)


def per_layer_names(batch_queries):
    """Every per-layer metric, in BENCHMARK.json order. A layer a workload
    does not exercise reads 0 there (no GraftApp start in the trickle, no
    batch query in either untraced workload)."""
    names = [f"{q}.{m}" for q in APP_QUERIES
             for m in ("trigger_ms", "add_batch_ms", "planning_ms")]
    names += ["engine.latest_offset_ms", "engine.wal_commit_ms",
              "engine.commit_offsets_ms", "engine.batches",
              "state.rows", "state.mem_mb", "state.commit_ms", "state.update_ms",
              "state.dropped_by_watermark", "app.start_s", "app.drain_s",
              "sink.files", "sink.write_mb",
              "cdc.parse_s", "cdc.wire_decode_s", "cdc.accounts_dim_s"]
    names += [f"pipeline.{p}.batch_s" for p in APP_QUERIES[:5]]
    names += [f"query.{q}_s" for q in batch_queries]
    names += ["batch.cache_entries_left", "spark.jobs", "spark.tasks",
              "spark.shuffle_write_mb", "spark.spill_mb", "spark.executor_cpu_s",
              "jvm.gc_s", "jvm.gc_count"]
    return names


def layer_unit(name):
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t0 = time.time()
    cp = build()
    data, files = make_inputs(a.workload, a.seed)
    t1 = time.time()
    print(f"inputs {a.workload} seed={a.seed} files={len(files)} "
          f"sha256={gen.content_hash(files)}", flush=True)
    result = run_harness(cp, a.workload, data, a.seconds, a.trace, a.seed)
    t2 = time.time()
    problems = check_outputs(a.workload, data, result)
    log(f"build+inputs {t1 - t0:.1f} s, harness {t2 - t1:.1f} s, "
        f"check {time.time() - t2:.1f} s")
    for p in problems:
        log(f"CHECK FAILED {p}")
    e2e = {k: {"value": v, "unit": E2E_UNITS[k]}
           for k, v in result["metrics"].items()}
    lat = result["check"].get("latencies")
    if lat:
        print(f"batches n={len(lat)} p50={stats.percentile(lat, 50)} "
              f"p90={stats.percentile(lat, 90)}", flush=True)
    print(f"ops {json.dumps(result['ops'])}", flush=True)
    if a.trace:
        print(f"traced_e2e {json.dumps(e2e)}", flush=True)
        layer = result["layer"]
        names = per_layer_names(result["check"]["batch_queries"])
        unlisted = sorted(set(layer) - set(names))
        if unlisted:
            log(f"measured but not listed: {unlisted}")
        metrics = {k: {"value": layer.get(k, 0.0), "unit": layer_unit(k)}
                   for k in names}
    else:
        metrics = e2e
    print(json.dumps({"correct": not problems, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
