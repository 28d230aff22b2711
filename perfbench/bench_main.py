"""Benchmark process body: session, set-up, timed closed loop, metrics.

Started by run.py, which prepares the environment (import path for Spark's
Python workers, scratch directories inside the checkout) and enforces the
time limit. Prints one informational JSON line with the workload-specific
metric names, then the result line, which is always the last line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import resources
from workloads import WORKLOADS

#: Inputs are generated this many times during set-up; set-up time counts
#: the median generation (session start and warm-up happen once per JVM).
GENERATE_REPEATS = 3

#: Workload-specific names of the wall-clock latency metrics.
LATENCY_NAMES = {
    "etl_daily": ("etl_day_p50_s", "etl_day_p90_s", "etl_days_per_min"),
    "analytics": ("query_p50_s", "query_p90_s", "queries_per_min"),
}

QUERY_MODULES = ("reference", "corpus", "extras", "llm_ops", "vectors", "curation", "multimodal")

LAYER_SPANS = {
    "sources.read_nbu_json": ("self_s", "files"),
    "sources.table": ("self_s",),
    "transforms.transform_rates": ("self_s",),
    "warehouse.merge_upsert": ("self_s", "spark_jobs", "spark_tasks"),
    "warehouse.read": ("self_s",),
    "currency_queries.run_queries": ("self_s", "spark_jobs"),
    "reports.write_reports": ("self_s",),
    "forecast.forecast_rates": ("self_s",),
    "pipeline.run_pipeline": ("self_s", "spark_jobs"),
    "pipeline.backfill": ("self_s", "spark_jobs", "files"),
}
#: Spans measured on their set-up calls: the history load is the only
#: backfill (one call per run, over every history file).
SETUP_SPANS = {"pipeline.backfill"}


def install_tracer(tracer) -> None:
    """Wrap the program's public layer functions (trace runs only)."""
    from currency_etl_spark import (
        currency_queries,
        forecast,
        pipeline,
        reports,
        sources,
        transforms,
        warehouse,
    )

    def count_files(rec, df):
        rec["attr_files"] = len(df.inputFiles())

    tracer.patch_function(sources, "read_nbu_json", "sources.read_nbu_json", count_files)
    tracer.patch_function(sources, "table", "sources.table")
    tracer.patch_function(transforms, "transform_rates", "transforms.transform_rates")
    tracer.patch_function(currency_queries, "run_queries", "currency_queries.run_queries")
    tracer.patch_function(reports, "write_reports", "reports.write_reports")
    tracer.patch_function(forecast, "forecast_rates", "forecast.forecast_rates")
    tracer.patch_function(pipeline, "run_pipeline", "pipeline.run_pipeline")
    tracer.patch_function(pipeline, "backfill", "pipeline.backfill")
    tracer.patch_method(warehouse.ParquetUpsertTable, "merge_upsert", "warehouse.merge_upsert")
    tracer.patch_method(warehouse.ParquetUpsertTable, "read", "warehouse.read")


def _error(e: Exception) -> str:
    return f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"


def measure(wl, seconds: float, tracer):
    """Closed loop, one client: the next operation starts when the previous
    one (and its untimed check) is done. Operations run in whole passes
    (three days for ETL, the whole pinned list for analytics), and the loop ends
    at the pass boundary nearest to ``seconds``, after two passes at least.
    Returns per-operation latencies, process-tree CPU seconds and JIT
    compiler CPU seconds, the failures, and the number of passes."""
    latencies: list[float] = []
    cpu: list[float] = []
    jit: list[float] = []
    failures: list[str] = []
    passes = 0
    t_start = time.perf_counter()
    while True:
        pass_time = 0.0
        for _ in range(wl.pass_size):
            op = wl.next_op()
            if tracer is not None:
                tracer.op_id = len(latencies)
            result, problems = None, []
            c0 = resources.cpu_snapshot()
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    result = op.run()
                else:
                    with tracer.span("op"):
                        result = op.run()
            except Exception as e:  # counted as a failed operation
                traceback.print_exc()
                problems = [_error(e)]
            dt = time.perf_counter() - t0
            op_cpu, op_jit = resources.cpu_s(c0, resources.cpu_snapshot())
            if not problems:
                try:
                    problems = op.check(result)
                except Exception as e:
                    traceback.print_exc()
                    problems = [_error(e)]
            latencies.append(dt)
            cpu.append(op_cpu)
            jit.append(op_jit)
            pass_time += dt
            if problems:
                failures.append(f"{op.label}: {problems[0]}")
        passes += 1
        # at least two passes: on analytics the CPU of a pass depends on the
        # seeded entry order (by up to a fifth), and two orders average it
        if passes >= 2 and time.perf_counter() - t_start + pass_time / 2 > seconds:
            return latencies, cpu, jit, failures, passes


def per_layer(wl, tracer, session_s, warmup_s, latencies, cpu, jit, passes) -> dict:
    summ, setup = tracer.summary(), tracer.summary(setup=True)
    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (session_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
    }
    units = {"self_s": "s", "files": "count", "spark_jobs": "count", "spark_tasks": "count"}
    for span, fields in LAYER_SPANS.items():
        agg = (setup if span in SETUP_SPANS else summ).get(span, {})
        calls = agg.get("calls", 0)
        for f in fields:
            # per call of the span (0 when the workload never calls it)
            m[f"{span}.{f}"] = (agg.get(f, 0.0) / calls if calls else 0.0, units[f])
    for mod in QUERY_MODULES:
        b, e = summ.get(f"queries.{mod}.build", {}), summ.get(f"queries.{mod}.exec", {})
        calls = b.get("calls", 0)
        m[f"queries.{mod}.build_s"] = (b.get("dur_s", 0.0) / calls if calls else 0.0, "s")
        m[f"queries.{mod}.exec_s"] = (e.get("dur_s", 0.0) / calls if calls else 0.0, "s")
        tasks = b.get("spark_tasks", 0) + e.get("spark_tasks", 0)
        m[f"queries.{mod}.spark_tasks"] = (tasks / calls if calls else 0.0, "count")
    log = getattr(wl, "write_log", [])
    rows_in = sum(r for _, r, _ in log)
    m["warehouse.bytes_written_per_ingested_row"] = (
        sum(b for b, _, _ in log) / rows_in if rows_in else 0.0,
        "B/row",
    )
    m["warehouse.files"] = (statistics.mean(f for _, _, f in log) if log else 0.0, "count")
    memo = getattr(wl, "memo", {"builds": 0, "touches": 0, "build_s": 0.0})
    m["ckpt.memo_builds"] = (memo["builds"] / passes, "count")
    m["ckpt.memo_touches"] = (memo["touches"] / passes, "count")
    m["ckpt.memo_hit_ratio"] = (
        (memo["touches"] - memo["builds"]) / memo["touches"] if memo["touches"] else 0.0,
        "ratio",
    )
    m["ckpt.memo_build_s"] = (memo["build_s"] / passes, "s")
    m["jvm.jit_cpu_s_per_op"] = (statistics.mean(jit), "s")
    m["tracer.cpu_s_per_op"] = (statistics.mean(cpu), "s")
    m["tracer.op_p50_s"] = (statistics.median(latencies), "s")
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from currency_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    session_s = time.perf_counter() - t0
    tracer = None
    try:
        if args.trace:
            from tracer import Tracer

            tracer = Tracer(spark.sparkContext)
            install_tracer(tracer)
        wl = WORKLOADS[args.workload](spark, args.work, args.seed, tracer)
        gen_s = []
        for i in range(GENERATE_REPEATS):
            t0 = time.perf_counter()
            sizes = wl.generate(os.path.join(args.work, f"inputs{i}"))
            gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm_problems = wl.warmup()
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(gen_s) + warmup_s

        steal0, total0 = resources.host_ticks()
        latencies, cpu, jit, failures, passes = measure(wl, args.seconds, tracer)
        steal1, total1 = resources.host_ticks()
        failures = [f"warm-up {label}: {p[0]}" for label, p in warm_problems if p] + failures
        rss_parts = resources.peak_rss_mb()
        if tracer is not None:
            m = per_layer(wl, tracer, session_s, warmup_s, latencies, cpu, jit, passes)
            tracer.write(os.path.join(args.out, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            m = {
                "setup_s": (setup_s, "s"),
                "cpu_s_per_op": (statistics.mean(cpu), "s"),
                "peak_rss_mb": (sum(rss_parts.values()), "MB"),
            }
    finally:
        resources.stop_spark(spark)

    attempted = len(warm_problems) + len(latencies)
    failed = len(failures)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": sizes,
        "setup_parts_s": {
            "session": round(session_s, 3),
            "generate": [round(x, 3) for x in gen_s],
            "warmup": round(warmup_s, 3),
        },
        "operations": attempted,
        "passes": passes,
        "failed_ops": failures,
        "latencies_s": [round(x, 3) for x in latencies],
        "cpu_s": [round(x, 2) for x in cpu],
        "jit_cpu_s": [round(x, 2) for x in jit],
        "host_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        "peak_rss_parts_mb": {k: round(v, 1) for k, v in rss_parts.items()},
    }
    p50, p90, per_min = LATENCY_NAMES[args.workload]
    unbounded = {
        p50: (statistics.median(latencies), "s"),
        p90: (statistics.quantiles(latencies, n=10)[-1] if len(latencies) > 1 else latencies[0], "s"),
        per_min: (60.0 * len(latencies) / sum(latencies), "1/min"),
        "failed_op_share": (failed / attempted, "ratio"),
        "jit_cpu_s_per_op": (statistics.mean(jit), "s"),
    }
    log = getattr(wl, "write_log", [])
    if log:
        unbounded["warehouse_bytes_per_row"] = (
            sum(b for b, _, _ in log) / sum(r for _, r, _ in log),
            "B/row",
        )
    info["unbounded_metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in unbounded.items()}
    print(json.dumps(info), flush=True)
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
