"""One benchmark workload in one process: start Spark, set up, warm up,
measure for a fixed time, check every answer, report metrics.

Started by ``perfbench/run.py``, which owns the environment (PYTHONPATH for
Spark's Python workers, temp/local/warehouse dirs inside the checkout) and
captures this process's stdout/stderr in a side log. The result is written
as one JSON object to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time

from perfbench.harness import (
    SCALE, TABLES, Ctx, Recorder, data_path, expected_path, percentile, vm_hwm_mb,
)

END_TO_END = {
    "setup_s": "s",
    "p50_ms": "ms",
    "tail_ms": "ms",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# the tail percentile each workload reports: interactive_sql's has ten of
# the 46 statements of two cycles beyond it; kb_curation's 11 operations
# are too few for that, so it reports the slowest, the curation pass (see
# perfbench/README.md)
TAIL_PCT = {"interactive_sql": 78, "kb_curation": 100}

# every per-layer metric, with its unit; a traced run reports all of them,
# 0 where the workload does not exercise the layer
PER_LAYER = {
    "server.queue_ms": "ms",
    "server.lock_wait_ms": "ms",
    "engine.sql_ms": "ms",
    "engine.sql_calls_per_stmt": "count",
    "dialect.rewrite_ms": "ms",
    "session.collect_ms": "ms",
    "session.jobs_per_stmt": "count",
    "session.stages_per_stmt": "count",
    "session.tasks_per_stmt": "count",
    "session.failed_tasks": "count",
    "model.rows_scored_per_stmt": "count",
    "vector.cosine_topk_calls_per_read": "count",
    "search.hybrid_topk_calls_per_read": "count",
    "kb.embed_calls_per_stmt": "count",
    "kb.store_rows": "count",
    "kb.read_ms": "ms",
    "kb.write_ms": "ms",
    "dedup.exact_dedup_s": "s",
    "text.text_quality_s": "s",
    "dedup.minhash_signatures_s": "s",
    "dedup.lsh_candidate_pairs_s": "s",
    "dedup.connected_components_s": "s",
    "kb.hash_embed_tfidf_s": "s",
    "curation.docs_per_s": "1/s",
    "session.tasks_per_pass": "count",
    "dedup.lsh_pair_yield": "ratio",
    "dedup.cc_rounds": "count",
    "session.start_s": "s",
    "catalog.register_s": "s",
    "kb.build_s": "s",
    "trace.p50_ms": "ms",
}

CURATION_STAGES = ("dedup.exact_dedup", "text.text_quality", "dedup.minhash_signatures",
                   "dedup.lsh_candidate_pairs", "dedup.connected_components",
                   "kb.hash_embed_tfidf")


def layer_metrics(ctx: Ctx, rec: Recorder, start_s: float) -> dict:
    """Per-layer metrics from the spans, counters and the status tracker:
    times are means per statement, or per curation pass for the stage
    times; statements and passes of the measured window only."""
    from perfbench.trace import job_stats

    tr = ctx.tracer
    out = {name: 0.0 for name in PER_LAYER}
    out["session.start_s"] = start_s
    for name in ("catalog.register_s", "kb.build_s", "kb.store_rows",
                 "dedup.cc_rounds", "dedup.lsh_pair_yield"):
        out[name] = float(ctx.layer.get(name, 0.0))
    ids = {s[4] for s in rec.samples}
    lat = [s[2] for s in rec.samples]
    out["trace.p50_ms"] = statistics.median(lat) * 1000

    passes = {s[4] for s in rec.samples if s[0] == "pass"}
    if passes:
        n = len(passes)
        for name in CURATION_STAGES:
            out[name + "_s"] = sum(
                s["end"] - s["start"] for s in tr.spans
                if s["name"] == name and s["stmt"] in passes
            ) / n
        tasks = failed = 0
        for i in passes:
            _j, _s, t, f = job_stats(ctx.sc, f"pass-{i}")
            tasks, failed = tasks + t, failed + f
        out["session.tasks_per_pass"] = tasks / n
        out["session.failed_tasks"] += failed
        out["curation.docs_per_s"] = ctx.layer["curation.docs"] * n / sum(
            s[2] for s in rec.samples if s[0] == "pass"
        )

    stmts = ids - passes
    if not stmts:
        return out
    stmt_lat = [s[2] for s in rec.samples if s[4] in stmts]
    n = len(stmts)
    jobs = stages = tasks = failed = 0
    for i in stmts:
        j, s_, t, f = job_stats(ctx.sc, f"stmt-{i}")
        jobs, stages, tasks, failed = jobs + j, stages + s_, tasks + t, failed + f
    out["session.jobs_per_stmt"] = jobs / n
    out["session.stages_per_stmt"] = stages / n
    out["session.tasks_per_stmt"] = tasks / n
    out["session.failed_tasks"] += failed
    selft = tr.layer_self_s(stmts)
    out["engine.sql_ms"] = selft.get("engine.sql", 0.0) * 1000 / n
    out["engine.sql_calls_per_stmt"] = tr.span_count("engine.sql", stmts) / n
    out["dialect.rewrite_ms"] = selft.get("dialect.rewrite", 0.0) * 1000 / n
    out["session.collect_ms"] = selft.get("session.collect", 0.0) * 1000 / n
    out["server.lock_wait_ms"] = selft.get("server.lock_wait", 0.0) * 1000 / n
    # client latency minus the time inside engine.sql and collect called
    # by the door: lock wait + HTTP + JSON, everything the door adds
    by_id = {s["id"]: s for s in tr.spans}
    inner = sum(
        s["end"] - s["start"] for s in tr.spans
        if s["stmt"] in stmts and s["name"] in ("engine.sql", "session.collect")
        and by_id.get(s["parent"], {}).get("name") == "server.request"
    )
    out["server.queue_ms"] = (sum(stmt_lat) - inner) * 1000 / n
    kb_reads = [s for s in rec.samples if s[0] == "read" and s[1].startswith("kb_")]
    writes = [s for s in rec.samples if s[0] == "write"]
    n_model = sum(1 for s in rec.samples if s[1] == "model_join")
    if n_model:
        out["model.rows_scored_per_stmt"] = ctx.layer["model.rows_scored"] / n_model
    if kb_reads:
        out["vector.cosine_topk_calls_per_read"] = (
            tr.counted("vector.cosine_topk", stmts) / len(kb_reads))
        out["search.hybrid_topk_calls_per_read"] = (
            tr.counted("search.hybrid_topk", stmts) / len(kb_reads))
        out["kb.read_ms"] = statistics.fmean(s[2] for s in kb_reads) * 1000
    out["kb.embed_calls_per_stmt"] = tr.counted("kb.embed", stmts) / n
    if writes:
        out["kb.write_ms"] = statistics.fmean(s[2] for s in writes) * 1000
    return out


def _exit() -> None:
    """End the process without stopping Spark: run.py kills this
    process's group (the JVM and Spark's Python workers are in it) and
    waits for it, and a clean Spark shutdown would only add seconds to
    every run."""
    import sys

    sys.stdout.flush()
    os._exit(0)


def _spark(args):
    """local[4] Spark with its scratch directories in the run's temp dir.
    The heap is fixed and touched at JVM start (2 GB,
    SPARK_GRAFT_DRIVER_MEM from run.py): with a heap that G1 grows on
    demand, peak_rss_mb spread 0.27 (quartile distance over median) across
    runs of the same code. So the metric moves with the Python driver and
    the JVM's memory outside the heap, not with the program's heap use."""
    from mindsdb_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(
        app_name=f"perfbench-{args.workload}", cpus=4,
        extra_confs={
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Dderby.system.home={tmp} -Xms2g -XX:+AlwaysPreTouch",
        },
    )


def fixtures(args, spark) -> None:
    """The run's tables (generate_sf, in this JVM) and the workload's
    expected answers (workloads.PREPARE, in a process of its own without
    Spark, so that neither its memory nor its imports land in this
    process). Both are outside every metric."""
    import subprocess
    import sys

    from mindsdb_spark.fixtures import generate_sf

    generate_sf(spark, data_path(), scale=args.scale or SCALE[args.workload], seed=args.seed,
                files=8, tables=set(TABLES[args.workload]))
    subprocess.run([sys.executable, "-m", "perfbench.worker", *sys.argv[1:], "--prepare"],
                   check=True)


def prepare(args) -> None:
    from perfbench.workloads import PREPARE

    d = data_path()
    with open(expected_path(d, args.workload), "w") as f:
        json.dump(PREPARE[args.workload](d, args.seed), f)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--scale", type=float, default=None)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out")
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--prepare", action="store_true",
                    help="only compute the expected answers of the run's fixtures")
    args = ap.parse_args()

    if args.prepare:
        prepare(args)
        return
    spark = _spark(args)
    start_s = time.time() - args.t0
    t = time.time()
    fixtures(args, spark)
    fixtures_s = time.time() - t
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer, install

        tracer = Tracer()
        install(tracer)
    ctx = Ctx(args, spark, tracer)
    ctx.fixtures_s = fixtures_s
    ctx.phase(f"spark ready {start_s:.2f}s, fixtures {fixtures_s:.2f}s")
    from perfbench.workloads import WORKLOADS

    rec = WORKLOADS[args.workload](ctx)
    ctx.phase("report")

    lat = [s[2] for s in rec.samples]
    failed = sum(1 for s in rec.samples if not s[3])
    print("samples", json.dumps([[s[1], round(s[2], 4), s[3]] for s in rec.samples]), flush=True)
    result = {
        "correct": failed == 0 and len(lat) > 0,
        "attempted": len(lat),
        "failed": failed,
    }
    if args.trace:
        metrics = layer_metrics(ctx, rec, start_s)
        units = PER_LAYER
        os.makedirs(os.path.join(args.work, "spans"), exist_ok=True)
        tracer.write(os.path.join(
            args.work, "spans", f"{args.workload}_s{args.seed}.jsonl"
        ))
    else:
        jvm = spark.sparkContext._gateway.proc.pid
        metrics = {
            "setup_s": ctx.setup_s,
            "p50_ms": statistics.median(lat) * 1000,
            "tail_ms": percentile(lat, TAIL_PCT[args.workload]) * 1000,
            "throughput_per_s": len(lat) / rec.window_s,
            "peak_rss_mb": vm_hwm_mb("self") + vm_hwm_mb(jvm),
        }
        units = END_TO_END
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    result["errors"] = rec.errors
    with open(args.out, "w") as f:
        json.dump(result, f)
    ctx.phase("done")
    _exit()


if __name__ == "__main__":
    main()
