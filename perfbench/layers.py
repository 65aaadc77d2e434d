"""Which package calls the traced run wraps, and the per-layer metrics.

Layers are the package modules. Spans wrap calls into them from outside,
so a layer's time is the time of the calls the benchmark (or another
module) makes into it:

- ``plans``: the query builder, Catalyst planning and the action (spans
  opened in ``workloads.py``).
- ``operators``: the Yelp ETLs; the JVM operators and Python kernels are
  seen through the executor and plan-node counters.
- ``sources``: ``read_json_lines`` and the two writers.
- ``pipeline``: ``run_batch``, ``run_streaming`` and the unified rebuild.
- ``streaming``: ``stream_domain_etl`` and the wait on each stream, which
  holds its micro-batch planning and checkpoint commits.
"""

from __future__ import annotations

import statistics

import spans
from workloads import parquet_files, parquet_rows

SELF_LAYERS = ("plans", "operators", "sources", "pipeline", "streaming", "bench")


class _TracedQuery:
    """A streaming query whose ``awaitTermination`` is a streaming span."""

    def __init__(self, query, tracer: spans.Tracer) -> None:
        self._query, self._tracer = query, tracer

    def awaitTermination(self, *args):
        with self._tracer.span("streaming.await", "streaming"):
            return self._query.awaitTermination(*args)

    def __getattr__(self, name):
        return getattr(self._query, name)


def install(tracer: spans.Tracer) -> None:
    """Wrap the package functions the workloads reach. Both import sites
    of ``write_append_idempotent`` are wrapped: ``pipeline`` (batch) and
    ``streaming.pipeline`` (the ``foreachBatch`` sink)."""
    from yelp_business_data_pipeline_spark import pipeline
    from yelp_business_data_pipeline_spark.streaming import pipeline as streaming

    def append_before(args, kwargs):
        df = args[0] if args else kwargs["df"]
        path = args[1] if len(args) > 1 else kwargs["path"]
        return path, df.count(), parquet_files(path)

    def append_after(token, _result):
        path, offered, before = token
        new = {f: n for f, n in parquet_files(path).items() if f not in before}
        tracer.add("rows_offered", offered)
        tracer.add("rows_appended", parquet_rows(new))
        tracer.add("bytes_written", sum(new.values()))
        tracer.add("files_written", len(new))

    def overwrite_before(args, kwargs):
        return args[1] if len(args) > 1 else kwargs["path"]

    def overwrite_after(path, _result):
        files = parquet_files(path)
        rows = parquet_rows(files)
        tracer.add("bytes_written", sum(files.values()))
        tracer.add("files_written", len(files))
        tracer.counts["unified_rows"] = rows

    tracer.wrap(pipeline, "read_json_lines", "sources.read", "sources")
    for name in ("business_etl", "review_etl", "user_etl", "unified_analytics"):
        tracer.wrap(pipeline, name, f"operators.{name}", "operators")
    for module in (pipeline, streaming):
        tracer.wrap(module, "write_append_idempotent", "sources.append", "sources",
                    before=append_before, after=append_after)
    tracer.wrap(pipeline, "write_overwrite", "sources.overwrite", "sources",
                before=overwrite_before, after=overwrite_after)
    tracer.wrap(pipeline, "_rebuild_unified", "pipeline.unified", "pipeline")

    start = pipeline.stream_domain_etl

    def stream_domain_etl(*args, **kwargs):
        with tracer.span("streaming.start", "streaming"):
            return _TracedQuery(start(*args, **kwargs), tracer)

    tracer.replace(pipeline, "stream_domain_etl", stream_domain_etl)


def _drain_listener_bus(spark) -> None:
    """Status stores and streaming listeners are fed asynchronously; wait
    until every posted event has been delivered."""
    spark._jsc.sc().listenerBus().waitUntilEmpty()


def layer_metrics(spark, tracer, ops_by_pass, mark, progress, t0, t1) -> dict:
    """Per-layer metrics of the timed window, per pass."""
    _drain_listener_bus(spark)
    n = len(ops_by_pass)
    window = tracer.spans_between(t0, t1)
    selfs = spans.self_time_by_layer(window)
    c = spans.spark_counters(spark, mark, {"perfbench-build"})
    ops = [op for p in ops_by_pass for op in p]
    traced_wall = sum(op.seconds for op in ops)
    cores = spark.sparkContext.defaultParallelism

    def span_sum(*names) -> float:
        return sum(s.end - s.start for s in window if s.name in names) / n

    def layer_sum(layer) -> float:
        return sum(s.end - s.start for s in window if s.layer == layer) / n

    def op_median(name) -> float:
        xs = [op.seconds for op in ops if op.name == name]
        return statistics.median(xs) if xs else 0.0

    counts = tracer.counts
    offered = counts.get("rows_offered", 0.0)
    m = {
        "plans.build_s": (span_sum("plans.build"), "s"),
        "plans.build_jobs": (c["build_jobs"] / n, "count"),
        "plans.plan_s": (span_sum("plans.plan"), "s"),
        "plans.exec_s": (span_sum("plans.exec"), "s"),
        "plans.jobs": (c["jobs"] / n, "count"),
        "plans.stages": (c["stages"] / n, "count"),
        "plans.tasks": (c["tasks"] / n, "count"),
        "operators.python_nodes": (c["python_nodes"] / n, "count"),
        "operators.python_bytes_sent": (c["python_bytes_sent"] / n, "bytes"),
        "operators.executor_run_s": (c["executor_run_s"] / n, "s"),
        "operators.executor_cpu_s": (c["executor_cpu_s"] / n, "s"),
        "operators.gc_s": (c["gc_s"] / n, "s"),
        "operators.core_util": (c["executor_run_s"] / (traced_wall * cores), "ratio"),
        "operators.shuffle_write_bytes": (c["shuffle_write_bytes"] / n, "bytes"),
        "operators.spill_bytes": (c["spill_bytes"] / n, "bytes"),
        "operators.etl_build_s": (layer_sum("operators"), "s"),
        "sources.scan_rows": (c["scan_rows"] / n, "count"),
        "sources.scan_bytes": (c["scan_bytes"] / n, "bytes"),
        "sources.write_s": (span_sum("sources.append", "sources.overwrite"), "s"),
        "sources.rows_offered": (offered / n, "count"),
        "sources.rows_appended": (counts.get("rows_appended", 0.0) / n, "count"),
        "sources.append_yield": (counts.get("rows_appended", 0.0) / offered if offered else 0.0, "ratio"),
        "sources.bytes_written": (counts.get("bytes_written", 0.0) / n, "bytes"),
        "sources.files_written": (counts.get("files_written", 0.0) / n, "count"),
        "pipeline.batch_s": (span_sum("pipeline.batch"), "s"),
        "pipeline.drain_s": (span_sum("pipeline.drain"), "s"),
        "pipeline.unified_s": (span_sum("pipeline.unified"), "s"),
        "pipeline.unified_rows": (counts.get("unified_rows", 0.0), "count"),
        "pipeline.backfill_s": (op_median("backfill"), "s"),
        "pipeline.redelivery_s": (op_median("redelivery"), "s"),
        "streaming.batches": (progress.batches / n, "count"),
        "streaming.input_rows": (progress.input_rows / n, "count"),
        "streaming.add_batch_s": (progress.add_batch_s / n, "s"),
        "streaming.overhead_s": ((progress.trigger_s - progress.add_batch_s) / n, "s"),
    }
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = (selfs.get(layer, 0.0) / n, "s")
    overhead = selfs.get("trace", 0.0)
    covered = sum(selfs.get(layer, 0.0) for layer in SELF_LAYERS if layer != "bench")
    m["trace.overhead_s"] = (overhead / n, "s")
    m["trace.wall_s"] = (traced_wall / n, "s")
    m["trace.coverage"] = (covered / max(traced_wall - overhead, 1e-9), "ratio")
    return m
