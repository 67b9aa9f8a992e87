#!/usr/bin/env python3
"""The repo benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload batch_daily --seed 1 --seconds 10 \
        --trace 0

Run from the root of a checkout. It builds the library and the benchmark
from source into .bench_build/ (skipped while the sources are unchanged),
generates the workload's inputs from --seed into a per-run directory under
.bench_run/, runs one JVM with Spark as local[<nproc>], checks the outputs
outside the timed region, removes the run directory, and prints one JSON
line last: {"correct", "attempted", "failed", "metrics"}. --trace 0 prints
the end-to-end metrics, --trace 1 the per-layer ones. The full record (host
facts, samples, every check; spans for a traced run) goes to .bench_out/.
Exit code 0 only when every check passed and no operation failed.

See README.md in this directory for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import time

import numpy as np

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["batch_daily", "stream_ingest", "corpus_build", "query_mix"]

# Input sizes; the reason for each is in BENCHMARK.json and README.md.
BATCH_POSTS = 20000
STREAM_BACKLOG_POSTS = 30000
STREAM_FILE_POSTS = 200
STREAM_FILES = 40
STREAM_INTERVAL_MS = 150
CORPUS_DOCS = 1500
TABLES_SF = 0.01
QUERIES = ["r_market_basket", "r_pit_join", "r_revenue_by_tier",
           "r_window_funcs", "ev_gap_fill", "ev_sliding_quantile",
           "ev_asof_native", "ev_sessionize", "graph_pagerank",
           "graph_label_prop", "graph_hits", "graph_triangles",
           "emb_topk_ivf_seeded", "emb_semantic_dedup"]
HEAP = "3g"
YOUNG = "1g"
# a hang guard: the BENCHMARK.json workloads end well inside 180 s, while a
# by-hand query_mix run (three artifact-building set-ups) takes longer
JVM_TIMEOUT_S = 600

E2E = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = (
    ["sources.json_read_s", "sources.json_read_mb_per_s",
     "sources.Sinks.write_s", "sources.Sinks.files_written",
     "sources.Sinks.write_amp",
     "ops.Cleaners.pin_s", "ops.Cleaners.geo_s", "ops.Cleaners.user_s",
     "ops.Cleaners.pin_keep_ratio"]
    + [f"ops.ReferenceQueries.q{i}_s" for i in range(1, 10)]
    + ["streaming." + m for m in [
        "batches", "rows_per_batch", "trigger_ms_p50", "add_batch_ms_p50",
        "query_planning_ms_p50", "wal_commit_ms_p50",
        "commit_offsets_ms_p50", "latest_offset_ms_p50", "state_rows",
        "state_mb", "checkpoint_mb", "lag_end_s", "generator_late_ms",
        "drain_pin_s", "drain_geo_s", "drain_user_s", "drain_rows_per_s",
        "write_amp", "latency_p50_ms", "latency_tail_ms"]]
    + [f"CorpusPipeline.{s}_s" for s in [
        "1_total", "2_survivors", "3_boilerplate", "4_quality", "5_gate",
        "6_balance", "7_decontam", "8_chunks", "9_packed", "10_shuffled"]]
    + ["CorpusPipeline.write_amp", "ops.DedupOps.keep_ratio",
       "ops.CorpusOps.boilerplate_keep_ratio",
       "ops.TextOps.quality_keep_ratio", "ops.TextOps.gate_keep_ratio",
       "ops.CorpusOps.decontam_keep_ratio",
       "functions.shingle_hashes_s", "functions.minhash_signature_s",
       "functions.simhash64_s"]
    + [f"query.{q}_{m}" for q in QUERIES for m in ("s", "shuffle_mb")]
    + ["sources.Artifact.build_s", "Caches.entries"]
    + ["spark." + m for m in [
        "task_s", "busy_share", "shuffle_read_mb", "shuffle_write_mb",
        "spill_mb", "gc_s", "jobs", "stages", "tasks"]]
    + ["trace.overhead_ratio"])


def unit_of(name):
    if name in E2E:
        return E2E[name]
    for suffix, unit in (("_mb_per_s", "MB/s"), ("_rows_per_s", "1/s"),
                         ("_ms_p50", "ms"), ("_ms", "ms"),
                         ("_s", "s"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    if name.endswith(("_ratio", "_share", "write_amp")):
        return "ratio"
    return "count"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# --- build ------------------------------------------------------------------

def spark_jars():
    """$SPARK_HOME/jars, else the jars of the install whose spark-submit is on
    the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        fail("no Spark install: set SPARK_HOME")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark distribution with a Scala compiler under {home}")
    return jars


def build():
    """Compile src/main/scala and perfbench/src into .bench_build/perfbench
    with the Scala compiler that ships in the Spark distribution; returns the
    class directory. Reused while the source digest is unchanged."""
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                           recursive=True))
    mine = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not lib:
        fail(f"no library sources under {ROOT}/src/main/scala")
    jars = spark_jars()
    digest = hashlib.sha256()
    for p in lib + mine:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    for srcs, extra in ((lib, ""), (mine, os.pathsep + classes)):
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-classpath", cp + extra, "-d", classes] + srcs,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, stamp


# --- inputs -----------------------------------------------------------------

def make_inputs(run_dir, workload, seed, trace, scale):
    """Generate the inputs each workload of this run needs (all four in a
    traced run, which reports every layer), `scale` times the standard
    sizes. Returns (JVM args, expected row counts)."""
    need = WORKLOADS if trace else [workload]
    args, expected = {}, {}

    def n(size):
        return max(int(size * scale), 50)
    for i, w in enumerate(WORKLOADS):
        if w not in need:
            continue
        rng = np.random.RandomState([seed, i])
        d = os.path.join(run_dir, "in", w)
        if w == "batch_daily":
            topics, exp = gen.pinterest(rng, n(BATCH_POSTS))
            gen.write_topics(d, topics, 4)
            args["batchInput"], expected[w] = d, exp
        elif w == "stream_ingest":
            topics, exp = gen.pinterest(rng, n(STREAM_BACKLOG_POSTS))
            gen.write_topics(os.path.join(d, "backlog"), topics, 4)
            # open-loop files: other posts, same generator
            live, _ = gen.pinterest(rng, n(STREAM_FILE_POSTS) * STREAM_FILES)
            gen.write_topics(os.path.join(d, "pending"), live, STREAM_FILES)
            args["streamInput"], expected[w] = d, exp
            args["streamIntervalMs"] = STREAM_INTERVAL_MS
        elif w == "corpus_build":
            docs = gen.corpus(rng, n(CORPUS_DOCS))
            gen.write_parquet(d, {"documents": docs})
            args["corpusInput"] = d
        elif w == "query_mix":
            gen.write_parquet(d, gen.tables(rng, TABLES_SF * max(scale, 0.1)))
            args["tablesInput"] = d
            args["queries"] = ",".join(QUERIES)
    return args, expected


# --- checks -----------------------------------------------------------------

def check(workload, res, expected, run_dir):
    """Correctness checks on the JVM's outputs: [(name, ok, detail)]."""
    out = []
    if workload == "batch_daily":
        exp = expected[workload]
        for t in ("pin", "geo", "user"):
            out.append((f"{t}_rows", res[f"check.{t}_rows"] == exp[t],
                        f"{res[f'check.{t}_rows']} vs {exp[t]}"))
            out.append((f"{t}_read", res[f"check.{t}_read"] == exp[t + "_read"],
                        f"{res[f'check.{t}_read']} vs {exp[t + '_read']}"))
    elif workload == "stream_ingest":
        exp = expected[workload]
        for t in ("pin", "geo", "user"):
            out.append((f"{t}_rows", res[f"check.{t}_rows"] == exp[t],
                        f"{res[f'check.{t}_rows']} vs {exp[t]}"))
            for phase in ("drain", "open"):
                k = f"check.{phase}_{t}_equals_batch"
                out.append((k[6:], res[k] is True, str(res[k])))
    elif workload == "corpus_build":
        out += oracle.recount_stages(res["check.corpus_out"],
                                     res["check.stage_counts"])
    elif workload == "query_mix":
        out += oracle.compare_queries(res["check.query_out"],
                                      res["check.oracle_sql"],
                                      os.path.join(run_dir, "in", workload))
    return out


# --- run --------------------------------------------------------------------

def host_facts(stamp, seed, cores):
    jv = subprocess.run(["java", "-version"], stderr=subprocess.PIPE,
                        text=True).stderr.splitlines()
    spark = [os.path.basename(p) for p in
             glob.glob(os.path.join(spark_jars(), "spark-core_*.jar"))]
    commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                            text=True).stdout.strip() or None
    return {"nproc": cores, "heap": HEAP, "jdk": jv[0] if jv else None,
            "spark": spark[0] if spark else None, "commit": commit,
            "source_digest": stamp, "seed": seed,
            "python": platform.python_version()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fail-op", default=None,
                    help="make the named operation fail once (self-test)")
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (self-test only; changes what "
                         "is measured)")
    a = ap.parse_args()

    classes, stamp = build()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".bench_run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        args, expected = make_inputs(run_dir, a.workload, a.seed, a.trace,
                                     a.scale)
        res = run_jvm(classes, run_dir, cores, a, args)
        checks = check(a.workload, res, expected, run_dir) \
            if "error" not in res else []
        spans = os.path.join(run_dir, "spans.jsonl")
        record_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(record_dir, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(record_dir, tag + ".spans.jsonl"))
        shutil.copy(os.path.join(run_dir, "jvm.log"),
                    os.path.join(record_dir, tag + ".log"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    names = list(PER_LAYER) if a.trace else list(E2E)
    metrics = {n: {"value": res.get(n), "unit": unit_of(n)} for n in names}
    missing = [n for n, m in metrics.items()
               if not isinstance(m["value"], (int, float))
               or not math.isfinite(m["value"])]
    failed_checks = [c for c in checks if not c[1]]
    attempted = res.get("attempted", 0) + len(checks)
    failed = res.get("failed", 0) + len(failed_checks)
    correct = ("error" not in res and not failed_checks and failed == 0
               and not missing)
    record = {"host": host_facts(stamp, a.seed, cores), "workload": a.workload,
              "seconds": a.seconds, "trace": a.trace, "jvm": res,
              "checks": checks, "missing_metrics": missing}
    with open(os.path.join(record_dir, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for c in failed_checks:
        print(f"perfbench: check {c[0]} failed: {c[2]}", file=sys.stderr)
    if missing:
        print(f"perfbench: metrics without a value: {missing}", file=sys.stderr)
    if "error" in res:
        print(f"perfbench: {res['error']}", file=sys.stderr)
    print(json.dumps(record["host"]), file=sys.stderr)
    if "error" in res:
        sys.exit(1)
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed,
                      "metrics": {n: m for n, m in metrics.items()
                                  if n not in missing}}))
    sys.exit(0 if correct else 1)


def cpu_ticks():
    """Host-wide /proc/stat cpu ticks: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def run_jvm(classes, run_dir, cores, a, args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    conf = dict(args, workload=a.workload, seed=a.seed, seconds=a.seconds,
                trace=a.trace, runDir=run_dir, cores=cores)
    if a.fail_op:
        conf["failOp"] = a.fail_op
    # a fixed-size heap and young generation under the parallel collector
    # keep the resident-set high-water mark from following GC heuristics
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            "-XX:+UseParallelGC", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false"]
           + [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(spark_jars(), "*")]),
              "perfbench.Main"])
    log_path = os.path.join(run_dir, "jvm.log")
    ticks0 = cpu_ticks()
    with open(log_path, "w") as log:
        conf["launchEpochMs"] = int(time.time() * 1000)
        p = subprocess.Popen(cmd + [f"{k}={v}" for k, v in conf.items()],
                             stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    d = [b - a for a, b in zip(ticks0, cpu_ticks())]
    host = {"host_" + k: d[i] / max(sum(d), 1) for i, k in
            ((2, "system_share"), (4, "iowait_share"), (7, "steal_share"))}
    result = os.path.join(run_dir, "result.json")
    if p.returncode != 0 or not os.path.exists(result):
        return dict(host, error=f"JVM exited with {p.returncode} and no result")
    with open(result) as f:
        return dict(json.load(f), **host)


if __name__ == "__main__":
    main()
