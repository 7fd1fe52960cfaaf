"""Lakehouse benchmark entry point.

    python3 lakebench/run.py --workload daily_batch --seed 1 --seconds 12 --trace 0

Runs one seeded workload against the engine in this checkout, checks
its outputs and prints, as the last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` wraps the engine's layer
entry points in spans, turns on the Spark event log and reports the
per-layer metrics instead. See ``lakebench/README.md``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = (
    ("setup_s", "s"),
    ("op_cpu_mean_s", "s"),
    ("op_cpu_tail_s", "s"),
    ("peak_rss_mb", "MB"),
)

# Layers whose spans get the full set of span metrics.
SPAN_LAYERS = (
    "plans.stock_pipeline.stg", "plans.stock_pipeline.dims", "operators.scd2",
    "operators.temporal", "plans.relational", "plans.tpch_extra", "plans.extended",
    "plans.star",
)
OPERATOR_LAYERS = ("dedup", "similarity", "search", "text", "corpus", "semantic")
OPERATOR_METRICS = ("wall_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes")
STREAMING = (
    ("streaming.jobs.batch_s", "s"), ("streaming.jobs.query_planning_s", "s"),
    ("streaming.jobs.add_batch_s", "s"), ("streaming.jobs.wal_commit_s", "s"),
    ("streaming.jobs.state_rows", "rows"), ("streaming.jobs.state_bytes", "bytes"),
    ("streaming.sources.files_per_batch", "files"),
)
OP_SPANS = ("daily_batch.day", "daily_batch.dash", "serving.query", "serving.curation",
            "streaming.jobs")


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric == "core_util":
        return "ratio"
    return "count"


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric, in output order, with its unit."""
    from lakebench.trace import SPAN_METRICS

    names = [("session.wall_s", "s")]
    names += [(f"{layer}.{m}", _unit(m)) for layer in SPAN_LAYERS for m in SPAN_METRICS]
    names += [("sources.readers.wall_s", "s"), ("sources.readers.input_bytes", "bytes"),
              ("sources.readers.input_records", "count"),
              ("sources.writer.wall_s", "s"), ("sources.writer.files_written", "count"),
              ("sources.writer.output_bytes", "bytes"), ("sources.writer.write_amp", "ratio"),
              ("registry.build_s", "s"), ("registry.eager_jobs", "count")]
    names += [(f"operators.{op}.{m}", _unit(m))
              for op in OPERATOR_LAYERS for m in OPERATOR_METRICS]
    names += list(STREAMING)
    names += [("trace.setup_s", "s"), ("trace.op_cpu_mean_s", "s"), ("trace.overhead_s", "s")]
    return names


def install_wrappers(tracer) -> None:
    """Wrap the engine entry points that ``run_pipeline``, the streaming
    sink and the benchmark resolve through module globals."""
    from pyspark.sql import DataFrameWriter

    from lambda_lakehouse_spark.plans import stock_pipeline
    from lambda_lakehouse_spark.sources import readers
    from lambda_lakehouse_spark.streaming import jobs

    def files_since(span, _result, *args, **kwargs):
        path = kwargs.get("path") or args[1]
        n = 0
        for base, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            n += sum(1 for f in files if not f.startswith(("_", "."))
                     and os.stat(os.path.join(base, f)).st_mtime >= span.start)
        span.counters["files_written"] = n

    def pipeline_write(df, path, *a, **k):
        table = os.path.basename(path.rstrip("/"))
        return "plans.stock_pipeline.stg" if table == "stg_stock" else "operators.temporal"

    def dim_write(writer, path, *a, **k):
        table = os.path.basename(str(path).rstrip("/"))
        if table == "dim_company":
            return "operators.scd2"
        return "plans.stock_pipeline.dims" if table.startswith("dim_") else None

    tracer.wrap(jobs, "write_partitioned", lambda *a, **k: "sources.writer", files_since)
    # write_partitioned inside a pipeline stage: stage span around a writer span
    tracer.wrap(stock_pipeline, "write_partitioned", lambda *a, **k: "sources.writer",
                files_since)
    tracer.wrap(stock_pipeline, "write_partitioned", pipeline_write)
    tracer.wrap(stock_pipeline, "build_scd2", lambda *a, **k: "operators.scd2")
    tracer.wrap(stock_pipeline, "pit_join", lambda *a, **k: "operators.temporal")
    tracer.wrap(readers, "read_csv_raw", lambda *a, **k: "sources.readers")
    tracer.wrap(DataFrameWriter, "parquet", dim_write, files_since)


def event_log_lines(log_dir: str) -> list[str]:
    """The run's rolling event log: the ``events_<n>_<app>`` parts of
    its one ``eventlog_v2_<app>`` directory, joined in part order."""
    (app_dir,) = glob.glob(os.path.join(log_dir, "eventlog_v2_*"))
    parts = glob.glob(os.path.join(app_dir, "events_*"))
    lines: list[str] = []
    for path in sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as f:
            lines.extend(f)
    return lines


def layer_values(ctx, tracer, session_s: float, setup_s: float,
                 event_log_dir: str) -> dict[str, float]:
    from lakebench.harness import CORES
    from lakebench.trace import SPAN_METRICS, fold, layer_metrics, read_event_log

    t0 = time.perf_counter()
    job_group, tasks = read_event_log(event_log_lines(event_log_dir))
    by_id = {s.sid: s for s in tracer.spans}

    def root(s):
        while s.parent is not None and s.parent in by_id:
            s = by_id[s.parent]
        return s

    spans = [s for s in tracer.spans if root(s).name in OP_SPANS]
    folded = fold(spans, job_group, tasks)
    rows = layer_metrics(spans, folded, CORES)
    fold_s = time.perf_counter() - t0

    def get(layer, metric):
        return float(rows.get(layer, {}).get(metric, 0.0))

    out = {"session.wall_s": session_s}
    for layer in SPAN_LAYERS:
        for m in SPAN_METRICS:
            out[f"{layer}.{m}"] = get(layer, m)
    out["sources.readers.wall_s"] = get("sources.readers", "wall_s")
    for m in ("input_bytes", "input_records"):
        out[f"sources.readers.{m}"] = (get("sources.readers", m)
                                       + get("plans.stock_pipeline.stg", m))
    out["sources.writer.wall_s"] = get("sources.writer", "wall_s")
    out["sources.writer.files_written"] = sum(
        r.get("files_written", 0.0) for r in rows.values())
    roots = [s for s in spans if s.parent is None]
    written = sum(folded[s.sid]["output_bytes"] for s in roots)
    out["sources.writer.output_bytes"] = float(written)
    raw = ctx.layers.get("raw_bytes", 0)
    out["sources.writer.write_amp"] = written / raw if raw else 0.0
    out["registry.build_s"] = get("registry", "wall_s")
    out["registry.eager_jobs"] = get("registry", "jobs")
    for op in OPERATOR_LAYERS:
        for m in OPERATOR_METRICS:
            out[f"operators.{op}.{m}"] = get(f"operators.{op}", m)
    for name, _unit_ in STREAMING:
        out[name] = float(ctx.layers.get(name, 0.0))
    out["trace.setup_s"] = setup_s
    out["trace.op_cpu_mean_s"] = sum(ctx.cpu_samples) / len(ctx.cpu_samples)
    out["trace.overhead_s"] = tracer.bookkeeping_s + fold_s
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lambda_lakehouse_spark", "__init__.py")):
        print(f"engine package lambda_lakehouse_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from lakebench import harness
    from lakebench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    traced = bool(args.trace)
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.clean(run_dir)
    pinned = harness.pin_environment(run_dir)
    loadavg_start, steal_start = os.getloadavg()[0], harness.cpu_steal_s()

    c0, t0 = harness.tree_cpu_s(), time.perf_counter()
    spark = harness.start_session(run_dir, event_log=traced)
    session_s = time.perf_counter() - t0
    session_cpu_s = harness.tree_cpu_s() - c0
    try:
        tracer = None
        if traced:
            from lakebench.trace import Tracer

            tracer = Tracer(spark.sparkContext)
            install_wrappers(tracer)
        ctx = Ctx(spark=spark, run_dir=run_dir, seed=args.seed, seconds=args.seconds,
                  tracer=tracer)
        t_run = time.perf_counter()
        WORKLOADS[args.workload](ctx)
        wall = time.perf_counter() - t_run
        facts = harness.host_facts(spark)
        rss = harness.peak_rss_mb()
        if tracer is not None:
            tracer.restore()
    finally:
        harness.stop_session(spark)
    facts.update(loadavg_start=loadavg_start, loadavg_end=os.getloadavg()[0],
                 cpu_steal_s=round(harness.cpu_steal_s() - steal_start, 2),
                 **{k: pinned[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")})

    from lakebench import stats

    p, cpu_tail, n = stats.tail(ctx.cpu_samples)
    _, wall_tail, _ = stats.tail(ctx.samples)
    setup_s = session_cpu_s + ctx.setup_s
    e2e = {
        "setup_s": setup_s,
        "op_cpu_mean_s": sum(ctx.cpu_samples) / len(ctx.cpu_samples),
        "op_cpu_tail_s": cpu_tail,
        "peak_rss_mb": rss,
    }
    ctx.report("op_cpu_p50_s", stats.median(ctx.cpu_samples), "s")
    ctx.report("setup_wall_s", session_s + ctx.setup_wall_s, "s")
    ctx.report("op_p50_s", stats.median(ctx.samples), "s")
    ctx.report("op_tail_s", wall_tail, "s")
    ctx.report("ops_per_s", len(ctx.samples) / ctx.busy(), "1/s")
    ctx.report("failed_ratio", ctx.failed / ctx.attempted if ctx.attempted else 1.0, "ratio")
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} "
          f"trace {args.trace} wall {wall:.1f}s")
    print("env " + json.dumps(facts, sort_keys=True))
    print(f"tails are p{p:.3g} of n={n} samples")
    for name, (value, unit) in sorted(ctx.reported.items()):
        print(f"  {name:28s} {value:14.6g} {unit}")
    if traced:
        values = layer_values(ctx, tracer, session_s, setup_s,
                              os.path.join(run_dir, "eventlog"))
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit in per_layer_names()}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']:14.6g} {m['unit']}")
    harness.clean(run_dir)
    result = {"correct": ctx.failed == 0, "attempted": ctx.attempted,
              "failed": ctx.failed, "metrics": metrics}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
