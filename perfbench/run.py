#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload bi_dashboard --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the root of a checkout.  The first run compiles the engine and the
harness into .bench_build/ (see build.py).  A run generates its inputs from
the seed, computes the expected answers with DuckDB, times the workload in
one JVM, checks every checked output and prints, as the last stdout line,
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1.  The line before it is the
full report, host-noise evidence included.  See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import noise  # noqa: E402

WORK = ".bench_build"
CORES = os.cpu_count()
# a fixed heap and young generation keep the JVM's heap sizing out of peak_rss_mb
JVM_HEAP = "3g"
JVM_YOUNG = "1g"
SETUP_REPS = 3
TPCH = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
FACTS = [["lineitem", "l_orderkey"], ["orders", "o_orderkey"]]

# Fixed Spark session configuration per workload.  The measure workloads use
# the measure family's scan and shuffle sizing (bi_dashboard also the
# product's default layout: facts bucketed on the order key into 32 buckets,
# co-partitioned joins); the curation pass uses the pipeline family's
# CPU-parallel sizing.
MEASURE_CONF = {
    "spark.sql.shuffle.partitions": str(CORES),
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(20 * 1024 * 1024),
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(1024 * 1024),
    "spark.sql.sources.bucketing.autoBucketedScan.enabled": "true",
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
}
CURATION_CONF = {
    "spark.sql.shuffle.partitions": str(4 * CORES),
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(20 * 1024 * 1024),
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(2 * 1024 * 1024),
}
COMMON_CONF = {"spark.ui.enabled": "false", "spark.sql.session.timeZone": "UTC"}

CURATION_OPS = [("exact", "d_exact"), ("minhash", "d_minhash"), ("simhash", "d_simhash"),
                ("nb", "t_nb_score"), ("lm", "t_lm_score"), ("analyze", "t_analysis"),
                ("kmeans", "c_kmeans"), ("bpe", "t_bpe")]
BI_SF = 0.01
MODELING_SF = 0.001
# seconds one round of fixed work takes on the reference host: a dashboard
# refresh, a modeling block (one DDL and its 3-4 queries), a curation pass
NOMINAL_S = {"bi_dashboard": 10, "semantic_modeling": 1, "curation_pass": 20}
MODELING_CONF = {"spark.sql.shuffle.partitions": "1"}
CORPUS = {"base_docs": 1000, "copies": 10, "embeddings": 4000}
MINHASH_MIN_RECALL = 0.95

END_TO_END = [("setup_s", "s"), ("query_p50_ms", "ms"), ("query_p90_ms", "ms"),
              ("ops_per_s", "1/s"), ("peak_rss_mb", "MB")]
LAYER_METRICS = [
    ("rewrite.ms", "ms"), ("rewrite.sql_chars", "count"), ("ddl.ms", "ms"), ("ddl.p90_ms", "ms"),
    ("setup.register_ms", "ms"), ("setup.ingest_ms", "ms"), ("setup.views_ms", "ms"),
    ("analysis.ms", "ms"), ("optimize.ms", "ms"), ("physplan.ms", "ms"), ("plan.nodes", "count"),
    ("build.ms", "ms"), ("build.self_ms", "ms"), ("build.jobs", "count"), ("build.job_ms", "ms"),
    ("exec.ms", "ms"), ("exec.self_ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_wait_ms", "ms"), ("exec.core_util", "ratio"), ("exec.task_ms", "ms"),
    ("exec.cpu_ms", "ms"), ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.gc_ms", "ms"), ("exec.failed_tasks", "count"),
    ("docs_per_s", "1/s"), ("failed_ratio", "ratio"), ("ops.repeat_share", "ratio"),
    ("trace.overhead_ms", "ms"), ("trace.unaccounted_ms", "ms"),
    ("noise.calib_ratio", "ratio"), ("noise.steal_pct", "%"), ("noise.loadavg_1m", "count"),
]
PER_OPERATOR = [("build.ms", "ms", "build_ms"), ("build.jobs", "count", "build_jobs"),
                ("build.job_ms", "ms", "build_job_ms"), ("exec.ms", "ms", "exec_ms"),
                ("exec.cpu_ms", "ms", "cpu_ms"),
                ("exec.shuffle_write_bytes", "bytes", "shuffle_write_bytes")]
LAYER_METRICS += [(f"{m}.{op}", u) for m, u, _ in PER_OPERATOR for op, _ in CURATION_OPS]

WORKLOADS = ["bi_dashboard", "semantic_modeling", "curation_pass"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    # linear interpolation between the order statistics; the default
    # "exclusive" method extrapolates towards the extremes at small sample sizes
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) >= 2 else median(xs)


def rounds(seconds, nominal):
    """Rounds of fixed work that take about `seconds` on the reference host.

    A run measures a fixed amount of work, not a fixed time, so a faster
    program is timed on the same operations as its parent.
    """
    return max(1, round(seconds / nominal))


def plan_workload(name, seed, seconds, trace, data):
    """Generate the inputs; return (plan, expected answers, LSH twin inputs)."""
    base = {"workload": name, "cores": CORES, "data_dir": data, "setup_reps": SETUP_REPS,
            "buckets": 32, "tables": TPCH, "bucketed": [], "views": [], "warmup": []}
    if name == "bi_dashboard":
        gen.write_tpch(data, BI_SF, seed)
        qs = gen.dashboard(seed)
        con = check.connect(data, TPCH)
        oracle = build.oracle_sql()
        exp = {q["name"]: check.expected(con, oracle[q["oracle"]] if "oracle" in q else q["twin"])
               for q in qs}
        ops = [{"id": q["name"], "name": q["name"], "key": q["name"], "kind": "query", "text": q["text"]}
               for q in qs]
        n = rounds(seconds, NOMINAL_S[name]) * (2 if trace else 1)
        timed = [dict(o, round=r) for r in range(n) for o in ops]
        plan = dict(base, bucketed=FACTS, views=gen.DASHBOARD_VIEWS,
                    conf={**COMMON_CONF, **MEASURE_CONF}, ops=timed,
                    warmup=[dict(o, check=True) for o in ops])
        return plan, exp, {}
    if name == "semantic_modeling":
        gen.write_tpch(data, MODELING_SF, seed)
        warm_blocks = 2
        setup, script = gen.modeling_script(seed, warm_blocks + rounds(seconds, NOMINAL_S[name]))
        con = check.connect(data, TPCH)
        exp, ops = {}, []
        for i, o in enumerate(script):
            op = {"id": f"s{i}", "name": o["kind"], "key": o["kind"], "kind": o["kind"], "text": o["text"]}
            if "twin" in o:
                exp[op["id"]] = check.expected(con, o["twin"])
                op["check"] = True
            ops.append(op)
        n_warm = sum(o["block"] < warm_blocks for o in script)
        plan = dict(base, views=setup, conf={**COMMON_CONF, **MEASURE_CONF, **MODELING_CONF},
                    warmup=ops[:n_warm], ops=ops[n_warm:])
        return plan, exp, {}
    if name == "curation_pass":
        planted, texts = gen.write_corpus(data, CORPUS["base_docs"], CORPUS["copies"],
                                          CORPUS["embeddings"], seed)
        con = check.connect(data, ["documents", "embeddings"])
        oracle = build.oracle_sql()
        exp = {op: check.expected(con, oracle[cell]) for op, cell in CURATION_OPS
               if cell not in ("d_minhash", "d_simhash")}
        # the untraced run times a cold pass, checked after timing; the traced
        # run checks in a warm-up pass and times an untraced and a traced pass
        n = rounds(seconds, NOMINAL_S[name]) * (2 if trace else 1)
        cells = [{"id": op, "name": cell, "key": op, "kind": "cell", "check": True}
                 for op, cell in CURATION_OPS]
        warm = [{"id": "simhash_sig", "name": "simhash_sig", "key": "twin", "kind": "twin", "check": True}]
        timed = [dict(c, round=r) for r in range(n) for c in cells]
        plan = dict(base, tables=["documents", "embeddings"], conf={**COMMON_CONF, **CURATION_CONF},
                    ops=timed, warmup=warm + (cells if trace else []))
        return plan, exp, {"planted": planted, "texts": texts}
    raise SystemExit(f"unknown workload {name!r}; choose from {', '.join(WORKLOADS)}")


def run_jvm(plan, work):
    plan_path, out_path = f"{work}/plan.json", f"{work}/out.json"
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.abspath(f"{work}/tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}", *build.ADD_OPENS,
           "-cp", build.classpath(), "graftbench.Harness", "run", plan_path, out_path]
    with open(f"{work}/jvm.log", "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=140)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("benchmark JVM did not finish within 140 s")
    if rc != 0:
        with open(f"{work}/jvm.log") as log:
            sys.stderr.write(log.read()[-4000:])
        raise SystemExit(f"benchmark JVM failed with exit code {rc}")
    with open(out_path) as f:
        return json.load(f)


def verify(name, out, exp, twins, work):
    """Compare every checked output; returns {op id: reason} for failures."""
    dumps = {}
    with open(f"{work}/checks.jsonl") as f:
        for line in f:
            d = json.loads(line)
            dumps.setdefault(d["id"], []).append(d)
    wrong, info = {}, {}
    for op_id, e in exp.items():
        for d in dumps.get(op_id, []):
            why = check.compare(e, d["cols"], d["rows"])
            if why:
                wrong[op_id] = why
    if name == "curation_pass":
        if "minhash" in dumps:
            why, recall = check.check_minhash(dumps["minhash"][0]["rows"], twins["texts"],
                                              twins["planted"], 0.7, MINHASH_MIN_RECALL)
            info["minhash_recall"] = recall
            if why:
                wrong["minhash"] = why
        if "simhash" in dumps and "simhash_sig" in dumps:
            why = check.check_simhash(dumps["simhash"][0]["rows"], dumps["simhash_sig"][0]["rows"],
                                      max_hamming=12, max_bucket=1000)
            if why:
                wrong["simhash"] = why
        for k in ("minhash", "simhash", "simhash_sig"):
            if k not in dumps:
                wrong[k] = "no output to check"
    ran_ok = {s["id"] for s in out["samples"] if s["ok"]}
    for op_id in exp:
        if op_id in ran_ok and op_id not in dumps:
            wrong.setdefault(op_id, "no output to check")
    return wrong, info


def self_times(spans_path, ops):
    """Per traced operation in `ops`, the build and exec spans' self time: the
    span minus the part of it that its child job spans cover."""
    by_op = {}
    with open(spans_path) as f:
        for line in f:
            sp = json.loads(line)
            if sp["op"] in ops:
                by_op.setdefault(sp["op"], []).append(sp)
    out = {"build": [], "exec": []}
    for sps in by_op.values():
        for phase in out:
            parent = next((p for p in sps if p["name"] == phase), None)
            if parent is None:
                continue
            covered, end = 0.0, parent["start"]
            for c in sorted((max(c["start"], parent["start"]), min(c["end"], parent["end"]))
                            for c in sps if c["parent"] == phase):
                if c[1] > end:
                    covered += c[1] - max(c[0], end)
                    end = c[1]
            out[phase].append(parent["end"] - parent["start"] - covered)
    return out


def layer_metrics(name, out, traced, timed, cores):
    def col(rows, k):
        return [r[k] for r in rows if k in r]
    q = [s for s in traced if s["kind"] in ("query", "cell")]
    m = {}
    m["rewrite.ms"] = median(col(q, "rewrite_ms"))
    m["rewrite.sql_chars"] = median(col(q, "sql_chars"))
    ddl = [s["wall_ms"] for s in timed if s["kind"] == "ddl" and s["ok"]]
    m["ddl.ms"], m["ddl.p90_ms"] = median(ddl), (p90(ddl) if ddl else 0.0)
    for k in ("register", "ingest", "views"):
        m[f"setup.{k}_ms"] = median([r[f"{k}_ms"] for r in out["setup"]])
    for k, src in [("analysis.ms", "analysis_ms"), ("optimize.ms", "optimize_ms"),
                   ("physplan.ms", "physplan_ms"), ("plan.nodes", "plan_nodes"),
                   ("build.ms", "build_ms"), ("build.jobs", "build_jobs"),
                   ("build.job_ms", "build_job_ms"), ("exec.ms", "exec_ms"),
                   ("exec.jobs", "exec_jobs"), ("exec.stages", "exec_stages"),
                   ("exec.tasks", "exec_tasks"), ("exec.task_wait_ms", "task_wait_ms"),
                   ("exec.task_ms", "task_ms"), ("exec.cpu_ms", "cpu_ms"),
                   ("exec.shuffle_write_bytes", "shuffle_write_bytes"),
                   ("exec.spill_bytes", "spill_bytes"), ("exec.gc_ms", "gc_ms")]:
        m[k] = median(col(q, src))
    m["exec.failed_tasks"] = sum(col(traced, "failed_tasks"))
    wall = sum(s["wall_ms"] for s in traced)
    m["exec.core_util"] = sum(col(traced, "task_ms")) / (wall * cores) if wall else 0.0
    selfs = self_times(out["spans_path"], {s["span"] for s in q})
    m["build.self_ms"], m["exec.self_ms"] = median(selfs["build"]), median(selfs["exec"])
    m["trace.unaccounted_ms"] = median([s["wall_ms"] - s["build_ms"] - s["exec_ms"] for s in traced])
    diffs, last = [], {}
    for s in timed:
        if s["traced"] and s["key"] in last:
            diffs.append(s["wall_ms"] - last[s["key"]])
        elif not s["traced"]:
            last[s["key"]] = s["wall_ms"]
    m["trace.overhead_ms"] = median(diffs)
    for metric, _, src in PER_OPERATOR:
        for op, _ in CURATION_OPS:
            m[f"{metric}.{op}"] = median([s[src] for s in traced if s["id"] == op and src in s])
    return m


T0 = time.time()


def log(msg):
    sys.stderr.write(f"[perfbench {time.time() - T0:7.1f}s] {msg}\n")


def run_all(args):
    """Runs every workload in turn; prints each metric by name with its unit.
    Returns non-zero if any workload failed or gave a wrong answer."""
    bad = 0
    for w in WORKLOADS:
        p = subprocess.run([sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
                            "--seconds", str(args.seconds), "--trace", str(args.trace)],
                           capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"{w}: run failed\n{p.stderr[-2000:]}")
            bad += 1
            continue
        res = json.loads(lines[-1])
        print(f"{w}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
        for k, v in res["metrics"].items():
            print(f"  {k:36s} {v['value']:14.4f} {v['unit']}")
        bad += not res["correct"]
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.workload == "all":
        sys.exit(run_all(args))

    build.ensure_built()
    work = os.path.abspath(f"{WORK}/run-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    data = f"{work}/data"
    os.makedirs(data)
    log("built")
    plan, exp, twins = plan_workload(args.workload, args.seed, args.seconds, args.trace, data)
    log("inputs and expected answers ready")
    plan.update(trace=bool(args.trace), warehouse_dir=f"{work}/warehouse",
                check_out=f"{work}/checks.jsonl", spans_out=f"{work}/spans.jsonl")

    stat0, calib0 = noise.cpu_stat(), noise.calibrate(reps=1)
    log("calibrated")
    out = run_jvm(plan, work)
    out["spans_path"] = plan["spans_out"]
    log("workload done")
    calib1, stat1 = noise.calibrate(reps=1), noise.cpu_stat()
    host = noise.summary(calib0, calib1, stat0, stat1)
    log("calibrated again")
    wrong, info = verify(args.workload, out, exp, twins, work)
    log("outputs checked")
    samples = out["samples"]
    attempted = len(samples)
    failed = sum(1 for s in samples if not s["ok"] or s["id"] in wrong)
    timed = [s for s in samples if s["timed"] and s["ok"]]
    traced = [s for s in timed if s["traced"]]
    reads = [s["wall_ms"] for s in timed if s["kind"] in ("query", "cell") and not s["traced"]]
    e2e = {
        "setup_s": median([r["total_ms"] for r in out["setup"]]) / 1e3,
        "query_p50_ms": median(reads),
        "query_p90_ms": p90(reads),
        "ops_per_s": len(timed) / max(1e-9, sum(s["wall_ms"] for s in timed) / 1e3),
        "peak_rss_mb": out["peak_rss_mb"],
    }
    layers = layer_metrics(args.workload, out, traced, timed, CORES)
    texts = [s for s in samples if s["timed"] and s["kind"] != "cell"]
    layers["ops.repeat_share"] = (sum(s["repeat"] for s in texts) / len(texts)) if texts else 0.0
    layers["failed_ratio"] = failed / attempted
    passes = {}
    if args.workload == "curation_pass":
        for s in timed:
            passes[s["round"]] = passes.get(s["round"], 0.0) + s["wall_ms"]
        for s in traced:
            passes.pop(s["round"], None)
    passes = list(passes.values())
    layers["docs_per_s"] = (CORPUS["base_docs"] * CORPUS["copies"] / (median(passes) / 1e3)
                            if passes else 0.0)
    layers["noise.calib_ratio"] = host["calib_ratio"]
    layers["noise.steal_pct"] = host["steal_pct"]
    layers["noise.loadavg_1m"] = host["loadavg_1m"]

    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "timed_ops": len(timed), "reads": len(reads), "passes_ms": passes,
              "end_to_end": e2e, "per_layer": layers, "host_noise": host,
              "wrong": wrong, **info}
    with open(f"{WORK}/last-{args.workload}.json", "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    units = dict(END_TO_END + LAYER_METRICS)
    chosen = e2e if args.trace == 0 else layers
    metrics = {k: {"value": float(v), "unit": units[k]} for k, v in chosen.items()}
    print(json.dumps({"correct": not wrong and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    shutil.rmtree(f"{work}/warehouse", ignore_errors=True)
    shutil.rmtree(f"{work}/tmp", ignore_errors=True)
    shutil.rmtree(data, ignore_errors=True)


if __name__ == "__main__":
    main()
