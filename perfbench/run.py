#!/usr/bin/env python3
"""Benchmark of the engine's bulk writer, bulk reader, near-duplicate
detection queries and vector indexes.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. Workloads (see BENCHMARK.json for why
each was chosen):

* ``bulk_table``: overlapping partial upserts with tombstones and TTLs
  and a partition delete through the bulk writer, full merge-on-read (row
  and cell last-write-wins), partition-key lookups through the
  ``cassandra_bulk`` source, then a major compaction.
* ``dedup_vector``: one pass of the ``dedup_*`` queries of
  ``bench.HEADLINE`` over a generated dataset, IVF-SQ8 and PQ layout
  builds, then a series of probes; traced runs add a streaming SemDeDup
  bootstrap and trigger.

Every input is generated from ``--seed`` under ``.perfbench_work/`` and
deleted when the run ends. One client runs a closed loop against Spark at
``local[N]``, N = the CPUs this process may use. The run shape (rounds and
operation counts) is a fixed function of ``--seconds``.

With ``--trace 0`` the last stdout line holds the end-to-end metrics. With
``--trace 1`` the timed rounds run with a span around every call into an
engine module, and the last line holds the per-layer metrics; the spans go
to ``.perfbench_traces/``. Earlier stdout lines echo the run conditions and
each workload's own metrics. Any failed operation or output check is
counted in ``failed``; an error outside the timed operations exits non-zero
without a result line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

PROCESS_START = time.perf_counter()

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, ROOT)

TRACE_DIR = ".perfbench_traces"


def _workloads() -> dict:
    from perfbench.wl_bulk import BulkTable
    from perfbench.wl_dedup_vector import DedupVector

    return {w.name: w for w in (BulkTable, DedupVector)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cassandra_analytics_spark", "__init__.py")):
        print("perfbench: run from the repository root (cassandra_analytics_spark/ not found)",
              file=sys.stderr)
        return 2
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)}",
              file=sys.stderr)
        return 2
    from perfbench.wl_dedup_vector import dedup_headline

    headline = dedup_headline()

    from perfbench.harness import BOOKKEEPING, RunContext
    from perfbench.metrics import END_TO_END, SHOULD_MOVE, layer_metrics, per_layer_units
    from perfbench.stats import percentile, tail_percentile

    wl = workloads[args.workload]()
    ctx = RunContext(ROOT, args.seed, bool(args.trace))
    try:
        session_s = ctx.start()
        session_ready = time.perf_counter() - PROCESS_START
        print(json.dumps({"run_conditions": ctx.conditions(), "workload": wl.name}), flush=True)
        t0 = time.perf_counter()
        repeats = wl.setup(ctx)
        once_s = time.perf_counter() - t0 - sum(repeats)
        t0 = time.perf_counter()
        wl.warmup(ctx)
        warmup_s = time.perf_counter() - t0
        if ctx.ops.failed:
            raise RuntimeError("warm-up failed:\n" + "\n".join(ctx.ops.errors))
        # the warm-up is not measured: start counting from zero
        ctx.reset()
        m = wl.measure(ctx, args.seconds, "m")
        peak_rss = ctx.peak_rss_mb()
        if ctx.traced:
            # the tracer's own work so far, before the untimed layer probes
            ctx.counters["trace.bookkeeping_s"] = ctx.tracer.total_by_name().get(BOOKKEEPING, 0.0)
            wl.layer_probes(ctx)
            os.makedirs(os.path.join(ROOT, TRACE_DIR), exist_ok=True)
            ctx.tracer.write(os.path.join(
                ROOT, TRACE_DIR, f"{wl.name}-seed{args.seed}-{ctx.tracer.run_id}.jsonl"))
        setup_s = session_ready + once_s + statistics.median(repeats) + warmup_s
        tail_p = tail_percentile(len(m.samples))
        workload_metrics = {
            name: {"value": statistics.median(v), "unit": wl.extra_units[name]}
            for name, v in m.extras.items()
        }
        workload_metrics.update({
            name: {"value": value, "unit": unit} for name, (value, unit) in wl.detail().items()
        })
        print(json.dumps({
            "workload_metrics": workload_metrics,
            "samples": len(m.samples),
            "op": wl.op_name,
            "op_p50_ms": statistics.median(m.samples) * 1000,
            # the tail percentile has at least 10 samples beyond it
            "op_tail": (None if tail_p is None else
                        {"percentile": tail_p, "ms": percentile(m.samples, tail_p) * 1000}),
            "rounds": len(m.round_s),
            "setup_parts_s": {"session_ready": session_ready, "session_start": session_s,
                              "repeatable_median": statistics.median(repeats),
                              "repeats": len(repeats), "once": once_s,
                              "warmup": warmup_s},
            "errors": ctx.ops.errors[:5],
        }), flush=True)
        if ctx.traced:
            print(json.dumps({"should_move": SHOULD_MOVE,
                              "self_time_s": ctx.tracer.self_time_by_name()}), flush=True)
            values = layer_metrics(ctx, m, session_s, headline)
            units = per_layer_units(headline)
        else:
            values = {
                "setup_s": setup_s,
                "round_s": statistics.median(m.round_s),
                "rows_per_s": statistics.median(m.rates),
                "op_p50_ms": statistics.median(m.samples) * 1000,
                "peak_rss_mb": peak_rss,
                "ops_ok_frac": ctx.ops.ok_frac,
            }
            units = END_TO_END
        result = {
            "correct": ctx.ops.failed == 0,
            "attempted": ctx.ops.attempted,
            "failed": ctx.ops.failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }
    finally:
        ctx.close()
    for err in ctx.ops.errors:
        print(err, file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
