"""Metric names and units, and the per-layer metrics of a traced run."""

from __future__ import annotations

# End-to-end metrics, printed for every workload. What the workload-
# specific ones mean on each workload:
#   round_s     bulk_table: ingest + merged reads + lookups + compaction;
#               dedup_vector: one pass of the dedup headline queries
#               + layout builds + probes
#   rows_per_s  bulk_table: upsert rows written per second of bulk_write;
#               dedup_vector: vectors indexed per second of layout build
#   op_p50_ms   bulk_table: a partition-key lookup; dedup_vector: one top-k
#               probe of one layout (each query vector probes both)
END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "rows_per_s": "rows/s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
    "ops_ok_frac": "fraction",
}

_LAYER_UNITS = {
    "session.start_s": "s",
    "bulk_writer.write_s": "s",
    "bulk_writer.jobs_per_write": "jobs",
    "bulk_writer.files_written": "count",
    "bulk_writer.bytes_written": "bytes",
    "bulk_writer.shuffle_write_bytes": "bytes",
    "bulk_writer.executor_run_s": "s",
    "bulk_writer.compact_s": "s",
    "bulk_writer.compact_rows_in": "rows",
    "bulk_writer.compact_rows_out": "rows",
    "tokens.rows_per_s": "rows/s",
    "merge.scan_s": "s",
    "merge.row_lww_s": "s",
    "merge.cell_lww_s": "s",
    "merge.versions_in": "rows",
    "merge.rows_out": "rows",
    "merge.read_amplification": "ratio",
    "merge.shuffle_write_bytes": "bytes",
    "merge.exchanges": "count",
    "python_datasource.plan_s": "s",
    "python_datasource.partitions": "count",
    "python_datasource.rows_scanned_per_row_returned": "ratio",
    "queries.build_s": "s",
    "queries.jobs_in_build": "jobs",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.wall_s": "s",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.input_records": "rows",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "ann_index.build_s": "s",
    "pq.build_s": "s",
    "ann_index.probe_ms": "ms",
    "pq.probe_ms": "ms",
    "ann_index.probe_input_records": "rows",
    "ann_index.recall_at_k": "fraction",
    "pq.recall_at_k": "fraction",
    "semantic_stream.bootstrap_s": "s",
    "semantic_stream.trigger_s": "s",
    "trace.overhead_frac": "fraction",
    "trace.span_coverage_min": "fraction",
}


# For each layer (metric-name prefix): the end-to-end metrics it should
# move, and on which workload.
SHOULD_MOVE = {
    "session.": ("setup_s", "every workload"),
    "bulk_writer.": ("rows_per_s, round_s", "bulk_table"),
    "tokens.": ("rows_per_s", "bulk_table"),
    "merge.": ("round_s, op_p50_ms", "bulk_table"),
    "python_datasource.": ("op_p50_ms", "bulk_table"),
    "queries.": ("round_s", "dedup_vector"),
    "catalyst.": ("round_s", "dedup_vector"),
    "exec.": ("round_s; failed_tasks moves ops_ok_frac", "every workload"),
    "ann_index.": ("rows_per_s, op_p50_ms, round_s", "dedup_vector"),
    "pq.": ("rows_per_s, op_p50_ms, round_s", "dedup_vector"),
    "semantic_stream.": ("none: the stream runs in traced runs only", "dedup_vector"),
    "trace.": ("none: the cost and coverage of the tracing itself", "every workload"),
}


def per_layer_units(headline: list[str]) -> dict[str, str]:
    units = dict(_LAYER_UNITS)
    for q in headline:
        units[f"queries.build_s.{q}"] = "s"
        units[f"exec.wall_s.{q}"] = "s"
    return units


def _stage_sum(counters: dict, field: str) -> float:
    return sum(v for k, v in counters.items() if k.endswith("." + field))


def layer_metrics(ctx, traced, session_s: float, headline: list[str]) -> dict[str, float]:
    """Every per-layer metric for a traced run. A layer the workload does
    not reach reports 0 (it did no work)."""
    c = ctx.counters
    totals = ctx.tracer.total_by_name()
    out = dict.fromkeys(per_layer_units(headline), 0.0)
    out["session.start_s"] = session_s
    writes = c.get("bulk_writer.writes", 0)
    out["bulk_writer.write_s"] = totals.get("bulk_writer.bulk_write", 0.0)
    out["bulk_writer.jobs_per_write"] = c.get("bulk_writer.jobs", 0) / writes if writes else 0.0
    for key in ("files_written", "bytes_written", "compact_s", "compact_rows_in", "compact_rows_out"):
        out[f"bulk_writer.{key}"] = c.get(f"bulk_writer.{key}", 0.0)
    out["bulk_writer.shuffle_write_bytes"] = c.get("bulk_writer.shuffle_write_bytes", 0)
    out["bulk_writer.executor_run_s"] = c.get("bulk_writer.executor_run_ms", 0) / 1000
    out["tokens.rows_per_s"] = c.get("tokens.rows_per_s", 0.0)
    for key in ("scan_s", "row_lww_s", "cell_lww_s", "versions_in", "rows_out", "exchanges"):
        out[f"merge.{key}"] = c.get(f"merge.{key}", 0.0)
    if out["merge.rows_out"]:
        out["merge.read_amplification"] = out["merge.versions_in"] / out["merge.rows_out"]
    out["merge.shuffle_write_bytes"] = (
        c.get("merge_row_lww.shuffle_write_bytes", 0) + c.get("merge_cell_lww.shuffle_write_bytes", 0)
    )
    out["python_datasource.plan_s"] = c.get("python_datasource.plan_s", 0.0)
    out["python_datasource.partitions"] = c.get("python_datasource.partitions", 0.0)
    returned = c.get("python_datasource.rows_returned", 0)
    if returned:
        out["python_datasource.rows_scanned_per_row_returned"] = (
            c.get("python_datasource.rows_scanned", 0) / returned
        )
    for key in ("queries.build_s", "queries.jobs_in_build", "catalyst.analysis_ms",
                "catalyst.optimization_ms", "catalyst.planning_ms"):
        out[key] = c.get(key, 0.0)
    out["exec.wall_s"] = sum(v for k, v in totals.items() if k.startswith("exec."))
    out["exec.executor_run_s"] = _stage_sum(c, "executor_run_ms") / 1000
    out["exec.executor_cpu_s"] = _stage_sum(c, "executor_cpu_ns") / 1e9
    out["exec.gc_s"] = _stage_sum(c, "gc_ms") / 1000
    for key in ("shuffle_write_bytes", "input_records", "tasks", "failed_tasks"):
        out[f"exec.{key}"] = _stage_sum(c, key)
    for key in ("ann_index.build_s", "pq.build_s", "ann_index.probe_ms", "pq.probe_ms",
                "ann_index.probe_input_records", "ann_index.recall_at_k", "pq.recall_at_k",
                "semantic_stream.bootstrap_s", "semantic_stream.trigger_s"):
        out[key] = c.get(key, 0.0)
    for q in headline:
        out[f"queries.build_s.{q}"] = c.get(f"queries.build_s.{q}", 0.0)
        out[f"exec.wall_s.{q}"] = c.get(f"exec.wall_s.{q}", 0.0)
    # traced minus untraced, over untraced: the tracer's own work (REST
    # snapshots, job groups, Catalyst phase reads) runs in its own spans,
    # so the untraced time is the traced time without them
    bookkeeping = c.get("trace.bookkeeping_s", 0.0)
    out["trace.overhead_frac"] = bookkeeping / (sum(traced.round_s) - bookkeeping)
    coverage = ctx.tracer.root_coverage()
    out["trace.span_coverage_min"] = min(coverage) if coverage else 0.0
    return out
