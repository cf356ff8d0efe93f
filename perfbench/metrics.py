"""Turn one run's op records, pass times, counters and spans into the
named metrics ``BENCHMARK.json`` declares."""

from __future__ import annotations

import statistics

from perfbench.harness import quantile

# CPU seconds of the driver's process tree (README.md, "Metrics")
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}

# span names recorded around calls into the engine's layers, in call order
LAYERS = [
    "session.get_spark",
    "plans.adapter.derive",
    "sources.sinks.write_csv",
    "sources.readers.read_csv_glob",
    "plans.operational.build",
    "plans.operational.exec",
    "plans.mart.build",
    "plans.mart.exec",
    "streaming.ops.read_events_stream",
    "streaming.trigger",
    "streaming.upsert.merge_batch",
    "queries.build",
    "queries.order_stats.exec",
    "queries.pandas_udf.exec",
    "queries.local_checkpoint.exec",
    "queries.plain.exec",
    "op",
]
# layers called only while setting up: their times are the median over the
# run's set-ups; and only in the warm-up: their times are the warm-up's
SETUP_LAYERS = {"session.get_spark", "plans.adapter.derive", "sources.sinks.write_csv"}
WARMUP_LAYERS = {"streaming.ops.read_events_stream"}
STRATA = ["order_stats", "pandas_udf", "local_checkpoint", "plain"]

# wall times, op latencies and peak RSS are end-to-end figures that do not
# repeat within the bounds from run to run (README.md); the traced run
# reports them
PER_LAYER = {
    "pass_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "peak_rss_mb": "MB",
    "fail_ratio": "ratio",
    "setup.cold_s": "s",
    "setup.staging_s": "s",
    "setup.warmup_s": "s",
    "session.get_spark_s": "s",
    "plans.adapter.derive_ms": "ms",
    "sources.sinks.write_csv_s": "s",
    "sources.readers.read_csv_glob_ms": "ms",
    "plans.operational.build_ms": "ms",
    "plans.operational.exec_s": "s",
    "plans.operational.useful_ratio": "ratio",
    "plans.mart.build_ms": "ms",
    "plans.mart.exec_s": "s",
    "sources.sinks.bytes_written": "bytes",
    "sources.sinks.files_written": "count",
    "queries.build_ms": "ms",
    "queries.exec_ms": "ms",
    **{f"queries.{s}.exec_ms": "ms" for s in STRATA},
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "jvm.gc_ms_per_pass": "ms",
    "streaming.ops.read_events_stream_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.progress.query_planning_ms": "ms",
    "streaming.progress.add_batch_ms": "ms",
    "streaming.progress.wal_commit_ms": "ms",
    "streaming.progress.latest_offset_ms": "ms",
    "streaming.state.rows_total": "count",
    "streaming.state.rows_removed": "count",
    "streaming.state.memory_bytes": "bytes",
    "streaming.state.commit_ms": "ms",
    "streaming.upsert.merge_ms": "ms",
    "streaming.upsert.write_amp": "ratio",
    "trace.overhead_pct": "%",
    **{f"self.{name}_s": "s" for name in LAYERS},
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def end_to_end(setup_s: float, pass_cpu: list[float]) -> dict:
    values = {"setup_s": setup_s, "pass_cpu_s": statistics.median(pass_cpu)}
    return {k: (values[k], u) for k, u in END_TO_END.items()}


def per_layer(ctx, tracer, marks: list[int], passes: list[float], lat_ms: list[float], *,
              setups: list[float], warm_s: float, rss_mb: float, failed: int, attempted: int,
              gc_ms: float, overhead_s: float) -> dict:
    """Per-layer metrics of a traced run. ``marks`` are the span counts at
    the start of each set-up, of the warm-up and of the timed passes. Times
    of set-up layers are medians over the set-ups, of warm-up layers the
    warm-up's; times of pass layers are per pass, per call or per op as
    the name says. A layer the workload never calls reads 0."""
    n_pass = len(passes)
    c = ctx.counters
    ops = [o for o in ctx.ops if o.ok and not o.label.startswith("check:")]
    setup_spans = [tracer.totals(a, b) for a, b in zip(marks[:-2], marks[1:-1])]
    warm_spans = tracer.totals(marks[-2], marks[-1])
    timed_spans = tracer.totals(marks[-1])

    def tot(name, spans=timed_spans):
        return spans.get(name, {}).get("total_s", 0.0)

    def setup_tot(name, key="total_s"):
        return statistics.median(sp.get(name, {}).get(key, 0.0) for sp in setup_spans)

    def per_call_ms(name):
        t = timed_spans.get(name)
        return 1000.0 * t["total_s"] / t["n"] if t else 0.0

    def stratum_ms(s):
        return per_call_ms(f"queries.{s}.exec")

    def self_s(name):
        if name in SETUP_LAYERS:
            return setup_tot(name, "self_s")
        if name in WARMUP_LAYERS:
            return warm_spans.get(name, {}).get("self_s", 0.0)
        return timed_spans.get(name, {}).get("self_s", 0.0) / n_pass

    exec_n = sum(timed_spans.get(f"queries.{s}.exec", {}).get("n", 0) for s in STRATA)
    exec_s = sum(tot(f"queries.{s}.exec") for s in STRATA)
    batches = c["progress_batches"]
    v = {
        "pass_s": statistics.median(passes),
        "op_p50_ms": quantile(lat_ms, 0.5),
        "op_p90_ms": quantile(lat_ms, 0.9),
        "peak_rss_mb": rss_mb,
        "fail_ratio": _ratio(failed, attempted),
        "setup.cold_s": setups[0],
        "setup.staging_s": statistics.median(setups),
        "setup.warmup_s": warm_s,
        "session.get_spark_s": setup_tot("session.get_spark"),
        "plans.adapter.derive_ms": 1000.0 * setup_tot("plans.adapter.derive"),
        "sources.sinks.write_csv_s": setup_tot("sources.sinks.write_csv"),
        "sources.readers.read_csv_glob_ms": per_call_ms("sources.readers.read_csv_glob"),
        "plans.operational.build_ms": per_call_ms("plans.operational.build"),
        "plans.operational.exec_s": tot("plans.operational.exec") / n_pass,
        "plans.operational.useful_ratio": _ratio(c["rows_appended"], c["rows_staged"]),
        "plans.mart.build_ms": 1000.0 * tot("plans.mart.build") / n_pass,
        "plans.mart.exec_s": tot("plans.mart.exec") / n_pass,
        "sources.sinks.bytes_written": c["bytes_written"] / n_pass,
        "sources.sinks.files_written": c["files_written"] / n_pass,
        "queries.build_ms": per_call_ms("queries.build"),
        "queries.exec_ms": _ratio(1000.0 * exec_s, exec_n),
        **{f"queries.{s}.exec_ms": stratum_ms(s) for s in STRATA},
        "spark.jobs_per_op": _ratio(sum(o.jobs for o in ops), len(ops)),
        "spark.stages_per_op": _ratio(sum(o.stages for o in ops), len(ops)),
        "spark.tasks_per_op": _ratio(sum(o.tasks for o in ops), len(ops)),
        "jvm.gc_ms_per_pass": gc_ms / n_pass,
        "streaming.ops.read_events_stream_ms":
            1000.0 * tot("streaming.ops.read_events_stream", warm_spans),
        "streaming.trigger_ms": per_call_ms("streaming.trigger"),
        "streaming.progress.query_planning_ms": _ratio(c["query_planning_ms"], batches),
        "streaming.progress.add_batch_ms": _ratio(c["add_batch_ms"], batches),
        "streaming.progress.wal_commit_ms": _ratio(c["wal_commit_ms"], batches),
        "streaming.progress.latest_offset_ms": _ratio(c["latest_offset_ms"], batches),
        "streaming.state.rows_total": c["state_rows_total"],
        "streaming.state.rows_removed": c["state_rows_removed"] / n_pass,
        "streaming.state.memory_bytes": c["state_memory_bytes"],
        "streaming.state.commit_ms": _ratio(c["state_commit_ms"], batches),
        "streaming.upsert.merge_ms": per_call_ms("streaming.upsert.merge_batch"),
        "streaming.upsert.write_amp": _ratio(c["upsert_bytes_rewritten"], c["upsert_bytes_fresh"]),
        "trace.overhead_pct": 100.0 * overhead_s / sum(passes),
        **{f"self.{name}_s": self_s(name) for name in LAYERS},
    }
    return {k: (v[k], u) for k, u in PER_LAYER.items()}
