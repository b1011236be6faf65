#!/usr/bin/env python3
"""graft benchmark: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload microbatch_load --seed 1 --seconds 5 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark's JVM program from source (sbt, offline); later runs reuse the build
while the sources are unchanged. Each run generates its inputs from
--seed, runs the workload in one Spark JVM (local[nproc], one caller
thread, closed loop), checks every output against a DuckDB oracle, and
prints a human summary line followed by the result as the last line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs the same
workload with a SparkListener recording jobs, stages and tasks, and
reports the per-layer metrics (and writes the spans and raw figures to
perfbench/out/trace-<workload>.json). See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
JVM_HEAP = "2g"
RUN_LIMIT_S = 175
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# One query per operator module of SparkEntry.modules, every one with an
# oracleSql, except queries.Bpe: each of its oracles takes 15-18 s in
# DuckDB, more than a run can spend on its check.
QUERIES = [
    "dv_source_table_status", "q18_large_orders", "events_funnel", "orders_rfm",
    "graph_triangles", "text_tfidf", "corpus_health", "dedup_minhash_lsh",
    "dedup_span_mask", "search_hybrid", "dedup_embed_cosine_prod", "ann_l2_pq", "mm_dedup"]

# Per workload: source scale factor and the workload's own knobs.
WORKLOADS = {
    "microbatch_load": {"sf": 0.005, "batch_rows": 1000, "max_batches": 30, "warmup": 3,
                        "erasure_every": 5, "erasure_first": 3},
    "query_mix": {"sf": 0.01, "max_rounds": 40},
}
# The percentile the summary line reports as the tail.
TAIL = 0.9

END_TO_END = [("setup_s", "s"), ("peak_rss_mb", "MB"), ("op_p50_s", "s"),
              ("ops_per_min", "1/min")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build
def source_files():
    main = os.path.join(ROOT, "src", "main", "scala")
    files = glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """$SPARK_HOME, else the first Spark installation (a bin/spark-submit
    beside a jars/ directory) on PATH."""
    bins = [os.path.join(os.environ["SPARK_HOME"], "bin")] if "SPARK_HOME" in os.environ else []
    for d in bins + os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("[perfbench] no Spark installation with a jars/ directory: set SPARK_HOME")


def sbt_env():
    """Offline sbt: resolution only from the local caches, through the
    user's repository config when there is one."""
    opts = os.environ.get("SBT_OPTS", "")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts += f" -Dsbt.offline=true -Dsbt.server.autostart=false -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=opts.strip(), SPARK_HOME=spark_home())


def build():
    """Compiles graft + the benchmark with sbt unless the stamp is current."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("[perfbench] no graft sources under src/main/scala: "
                         "run from the root of a graft checkout")
    stamp = source_stamp()
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return
    log("building graft + perfbench (sbt compile)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        raise SystemExit("[perfbench] build failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


# ----------------------------------------------------------- statistics
def percentile(xs, p):
    """Nearest-rank percentile."""
    v = sorted(xs)
    return v[max(0, min(len(v) - 1, int(-(-p * len(v) // 1)) - 1))]


def table_bytes(d, tables):
    return sum(os.path.getsize(os.path.join(d, f"{t}.parquet")) for t in tables)


GO_SCOPE = ["customer", "part", "orders", "lineitem"]


# ---------------------------------------------------------------- checks
def duck():
    import duckdb
    return duckdb.connect()


def oracle_counts(con, sql):
    return {o: int(n) for o, n in con.execute(sql).fetchall()}


def check_build(res):
    """The set-up build's per-object counts against DvGo.goSummarySql in
    DuckDB over the directory it built."""
    b = res["build"]
    con = duck()
    for t in GO_SCOPE:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(b['dir'], t + '.parquet')}'")
    want = oracle_counts(con, res["oracle_sql"])
    got = {k: int(v) for k, v in b["counts"].items()}
    if got != want:
        log(f"build: counts {got} != oracle {want}")
        return False
    return True


def check_microbatch(res, src, plan):
    """Final per-object counts against a DuckDB count over everything
    delivered: distinct keys + 2 ghosts per hub, distinct (key,
    descriptors) per satellite, erased customers absent from the
    sensitive satellite."""
    con = duck()
    delivered = plan["batches"][:res["delivered"]]

    def view(t, where=""):
        files = [os.path.join(src, f"{t}.parquet")] + [b["path"] for b in delivered if b["table"] == t]
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet({files!r}) {where}")

    for t in GO_SCOPE:
        view(t)
    want = oracle_counts(con, res["oracle_sql"])
    erased = sorted({k for b in delivered for k in b["erase"]})
    if erased:
        view("customer", f"WHERE c_custkey NOT IN ({', '.join(map(str, erased))})")
        want["sat_customer_sensitive"] = oracle_counts(con, res["oracle_sql"])["sat_customer_sensitive"]
    got = {k: int(v) for k, v in res["final_counts"].items()}
    if got != want:
        log(f"microbatch_load: final counts {got} != oracle {want}")
        return False
    return True


def check_query_mix(res, src, work):
    """Every query's result against its SparkEntry.oracleSql with
    tools/verify_local.py's canonical hash; returns the failing names."""
    verdicts = os.path.join(work, "verdicts.json")
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "verify_local.py"), src,
                        res["results_dir"], "--json", verdicts],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    if not os.path.isfile(verdicts):
        log("verify_local.py wrote no verdicts:\n" + r.stdout[-2000:])
        return set(QUERIES)
    got = json.load(open(verdicts))["queries"]
    bad = {q for q in QUERIES if not str(got.get(q, "")).startswith("OK")}
    if bad:
        log("query_mix check failures: " + ", ".join(f"{q}={got.get(q)}" for q in sorted(bad)))
    return bad


# ------------------------------------------------------------------ main
def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cfg = WORKLOADS[a.workload]

    build()
    t_start = time.time()
    # hygiene: a killed earlier run may have left its work dir behind
    shutil.rmtree(os.path.join(HERE, ".work"), ignore_errors=True)
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    src = os.path.join(work, "src")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen.gen_sources(src, a.seed, cfg["sf"])
        if a.workload == "microbatch_load":
            plan = {"warmup": cfg["warmup"],
                    "batches": gen.gen_batches(src, os.path.join(work, "batches"), a.seed,
                                               cfg["max_batches"], cfg["batch_rows"],
                                               cfg["erasure_every"], cfg["erasure_first"])}
        else:
            plan = {"queries": QUERIES,
                    "order": gen.query_order(a.seed, QUERIES, cfg["max_rounds"])}
        plan_path = os.path.join(work, "plan.json")
        json.dump(plan, open(plan_path, "w"))
        out_path = os.path.join(work, "result.json")
        cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", "-XX:-UsePerfData", *ADD_OPENS,
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               "-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars')}/*",
               "graft.perfbench.PerfBench",
               "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--src", src, "--work", work, "--plan", plan_path,
               "--out", out_path]
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "w") as lf:
            budget = RUN_LIMIT_S - (time.time() - t_start)
            try:
                r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, timeout=budget)
                rc = r.returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.isfile(out_path):
            sys.stderr.write(open(jvm_log).read()[-4000:])
            raise SystemExit(f"[perfbench] JVM run failed ({rc})")
        res = json.load(open(out_path))
        for line in open(jvm_log):
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)

        # ---- checks (untimed)
        attempted, failed = res["attempted"], res["failed"]
        walls = res["op_walls"]
        e2e = {
            "setup_s": res["setup_s"],
            "peak_rss_mb": res["rss_hwm_kb"] / 1024.0,
            # the median round's mean operation wall: every round holds the
            # same operations (one batch of each table, or every query), so
            # the figure does not depend on which one lands in the middle
            "op_p50_s": statistics.median(res["rounds"]),
            "ops_per_min": 60.0 * len(walls) / res["measured_s"],
        }
        if a.workload == "microbatch_load":
            # a wrong vault cannot say which batch went wrong: count all
            if not (check_build(res) and check_microbatch(res, src, plan)):
                failed = attempted
            delivered = plan["batches"][:res["delivered"]]
            src_b = table_bytes(src, GO_SCOPE) + sum(os.path.getsize(b["path"]) for b in delivered)
            res["layers"]["microbatch_load.store_amp"] = res["vault_bytes"] / src_b
        else:
            bad = check_query_mix(res, src, work)
            failed += sum(1 for q in res["op_names"] if q in bad)
        summary = summarize(a.workload, cfg, res, e2e, percentile(walls, TAIL), attempted, failed)
        print("[perfbench] " + json.dumps(summary))
        if a.trace:
            metrics = {name: {"value": float(res["layers"].get(name, 0.0)), "unit": unit}
                       for name, unit, _ in PER_LAYER}
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            with open(os.path.join(HERE, "out", f"trace-{a.workload}.json"), "w") as fh:
                json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                           "summary": summary, "layers": res["layers"], "spans": res["spans"]},
                          fh, indent=1)
        else:
            units = dict(END_TO_END)
            metrics = {k: {"value": float(v), "unit": units[k]} for k, v in e2e.items()}
        print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                          "failed": int(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def summarize(workload, cfg, res, e2e, tail, attempted, failed):
    """The workload's metrics under their workload-specific names."""
    s = {"workload": workload, "samples": len(res["op_walls"]),
         "tail_percentile": f"p{int(TAIL * 100)}",
         "setup_s": round(e2e["setup_s"], 4), "peak_rss_mb": round(e2e["peak_rss_mb"], 1),
         "failed_ratio": failed / max(1, attempted)}
    if workload == "microbatch_load":
        s.update(build_s=res["build"]["wall_s"],
                 batch_p50_s=e2e["op_p50_s"], batch_tail_s=tail,
                 load_rows_per_s=e2e["ops_per_min"] / 60.0 * cfg["batch_rows"],
                 store_amp=res["layers"]["microbatch_load.store_amp"])
    else:
        s.update(query_p50_s=e2e["op_p50_s"], query_tail_s=tail,
                 queries_per_min=e2e["ops_per_min"])
    return s


# Per-layer metrics of a traced run: (name, unit, better). Every traced
# run reports all of them; a layer the workload does not reach reads 0.
# Modules that run jobs inside the operations (batches, queries) and inside
# the set-up build. dv.Catalog, dv.CatalogScd2, dv.Classify and dv.DvBuild
# are in neither list: they build plans that their callers' jobs run, so no
# job's first graft frame is theirs.
MODULES = ["Tables", "dv.DvLoader", "dv.DvMaintenance", "dv.ContinuousPipeline", "perfbench"]
BUILD_MODULES = ["Tables", "queries.SessionCache", "dv.DvPlanner", "dv.DvGo"]
QUERY_MODULES = ["Analytics", "Analytics2", "Analytics3", "Analytics4", "DataVault", "Text",
                 "Curate", "Dedup", "Spans", "Rank", "Similarity", "Pq", "Multimodal"]
WINDOW = [("jobs", "count", "lower"), ("tasks", "count", "lower"), ("job_s", "s", "lower"),
          ("core_util", "ratio", "higher"), ("input_mb", "MB", "lower"),
          ("shuffle_read_mb", "MB", "lower"), ("shuffle_write_mb", "MB", "lower"),
          ("spill_mb", "MB", "lower"), ("gc_s", "s", "lower"), ("failed_tasks", "count", "lower")]
PER_LAYER = [
    ("dv.DvPlanner.plan_s", "s", "lower"),
    ("queries.SessionCache.classify_stats_s", "s", "lower"),
    ("dv.DvGo.write_s", "s", "lower"),
    ("dv.DvGo.jobs", "count", "lower"),
    ("dv.DvGo.tasks", "count", "lower"),
    ("dv.DvGo.core_util", "ratio", "higher"),
    ("dv.DvGo.shuffle_write_mb", "MB", "lower"),
    ("dv.DvGo.spill_mb", "MB", "lower"),
    ("dv.DvGo.gc_s", "s", "lower"),
    ("dv.DvGo.failed_tasks", "count", "lower"),
    ("dv.DvGo.files_written", "count", "lower"),
    ("dv.DvGo.vault_mb", "MB", "lower"),
    ("Tables.scan_amp", "ratio", "lower"),
    ("dv.ContinuousPipeline.jobs_per_batch", "count", "lower"),
    ("spark.driver_s", "s", "lower"),
    *[(f"{m}.busy_s", "s", "lower") for m in MODULES],
    *[(f"{m}.build_busy_s", "s", "lower") for m in BUILD_MODULES],
    ("dv.DvLoader.read_bytes_per_novel_row", "B/row", "lower"),
    ("dv.DvLoader.files_per_batch", "count", "lower"),
    ("dv.DvMaintenance.compact_s", "s", "lower"),
    ("dv.DvMaintenance.compact_mb_rewritten", "MB", "lower"),
    ("dv.DvMaintenance.files_before", "count", "lower"),
    ("dv.DvMaintenance.files_after", "count", "lower"),
    ("dv.DvMaintenance.purge_s", "s", "lower"),
    ("microbatch_load.vault_files", "count", "lower"),
    ("microbatch_load.store_amp", "ratio", "lower"),
    *[(f"microbatch_load.{n}", u, b) for n, u, b in WINDOW],
    *[(f"queries.{m}.p50_s", "s", "lower") for m in QUERY_MODULES],
    ("queries.SessionCache.memo_build_s", "s", "lower"),
    ("queries.SessionCache.memo_builds", "count", "lower"),
    ("queries.SessionCache.memo_builds_timed", "count", "lower"),
    ("queries.SessionCache.cached_mb", "MB", "lower"),
    *[(f"query_mix.{n}", u, b) for n, u, b in WINDOW],
    ("trace.overhead_s", "s", "lower"),
]

if __name__ == "__main__":
    main()
