"""Self-tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gen_table as G
from perfbench.stats import Ops, percentile, stage_delta, stage_map, tail_percentile
from perfbench.trace import Span, Tracer, covered_length, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- the tail percentile: at least 10 samples beyond it -----------------------

@pytest.mark.parametrize("n,p", [(20, 50), (31, 67), (40, 75), (100, 90), (1000, 99)])
def test_tail_percentile_leaves_ten_beyond(n, p):
    assert tail_percentile(n) == p
    values = list(range(n))
    cut = percentile(values, p)
    assert sum(v > cut for v in values) >= 10
    # one percentile higher would leave fewer than ten beyond
    if p < 99:
        assert sum(v > percentile(values, p + 1) for v in values) < 10


def test_tail_percentile_needs_enough_samples():
    assert tail_percentile(10) is None
    assert tail_percentile(11) is not None


def test_percentile_is_nearest_rank():
    assert percentile([5, 1, 3, 2, 4], 50) == 3
    assert percentile([1, 2, 3, 4], 75) == 3
    assert percentile([7], 90) == 7


# -- span self time -----------------------------------------------------------

def test_covered_length_merges_overlaps():
    assert covered_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered_length([]) == 0


def test_self_time_subtracts_what_children_cover():
    spans = [
        Span(0, "root", 0.0, 10.0, None, "r"),
        Span(1, "a", 1.0, 4.0, 0, "r"),
        Span(2, "b", 3.0, 6.0, 0, "r"),  # overlaps a: covered 1..6 = 5
        Span(3, "a.child", 1.5, 2.0, 1, "r"),
        Span(4, "late", 9.0, 12.0, 0, "r"),  # clipped to the parent: 9..10
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)
    assert st[1] == pytest.approx(3 - 0.5)
    assert st[2] == pytest.approx(3)


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x"):
        pass
    assert t.spans == []


def test_tracer_nests_and_reports_coverage():
    t = Tracer(True)
    with t.span("op"):
        with t.span("layer"):
            pass
    op, = (s for s in t.spans if s.name == "op")
    layer, = (s for s in t.spans if s.name == "layer")
    assert layer.parent == op.span_id and op.parent is None
    cov, = t.root_coverage()
    assert 0 < cov <= 1


# -- the REST stage delta -----------------------------------------------------

def _stage(sid, run_ms, tasks, attempt=0):
    return {"stageId": sid, "attemptId": attempt, "executorRunTime": run_ms,
            "numCompleteTasks": tasks, "shuffleWriteBytes": 10 * tasks}


def test_stage_delta_counts_new_and_grown_stages():
    before = stage_map([_stage(1, 100, 2), _stage(2, 50, 1)])
    after = stage_map([_stage(1, 100, 2), _stage(2, 80, 3), _stage(3, 40, 4)])
    d = stage_delta(before, after)
    assert d["executor_run_ms"] == 30 + 40
    assert d["tasks"] == 2 + 4


def test_stage_delta_ignores_evicted_stages():
    """The UI evicted stages 1-2 between the snapshots: a cumulative diff
    would go negative, the per-stage diff counts only stage 3."""
    before = stage_map([_stage(1, 100, 2), _stage(2, 50, 1)])
    after = stage_map([_stage(3, 40, 4)])
    d = stage_delta(before, after)
    assert d["executor_run_ms"] == 40
    assert all(v >= 0 for v in d.values())


def test_stage_map_keeps_max_over_attempts():
    per = stage_map([_stage(7, 100, 4, attempt=0), _stage(7, 30, 1, attempt=1)])
    assert per[7]["executor_run_ms"] == 100 and per[7]["tasks"] == 4


# -- operation accounting -----------------------------------------------------

def test_ops_counts_a_raising_operation_as_failed():
    ops = Ops()

    def boom():
        raise RuntimeError("engine error")

    ok, res = ops.run("boom", boom)
    assert (ok, res) == (False, None)
    ok, res = ops.run("fine", lambda: 42)
    assert (ok, res) == (True, 42)
    ops.check("fine", False, "wrong rows")
    assert ops.attempted == 2 and ops.failed == 2
    assert ops.ok_frac == 0.0
    assert "engine error" in ops.errors[0]


def test_ops_ok_frac():
    ops = Ops()
    for _ in range(3):
        ops.run("x", lambda: None)
    ops.run("y", lambda: 1 / 0)
    assert ops.ok_frac == pytest.approx(0.75)


# -- the generator's expected merge results ------------------------------------

def _vals(**kw):
    return {c: kw.get(c) for c in G.VALUE_COLUMNS}


def test_expected_merge_row_and_cell_lww():
    k = ("t00", 1, 1)
    versions = [
        (k, 10, None, None, _vals(name="old", qty=1)),
        (k, 30, None, None, _vals(name="new")),  # partial upsert: qty unwritten
        (k, 20, None, "cell:name", _vals()),  # older than "new": no effect
    ]
    row, cell = G.expected_merge(versions, {})
    assert row[k][3] == "new" and row[k][6] is None  # row LWW keeps the winner's NULL
    assert cell[k][3] == "new" and cell[k][6] == 1  # cell LWW keeps the older qty


def test_expected_merge_tombstones_and_ttl():
    a, b, c = ("t00", 1, 1), ("t00", 1, 2), ("t01", 2, 1)
    now = G.NOW_MICROS
    versions = [
        (a, 10, None, None, _vals(qty=1)),
        (a, 20, None, "row", _vals()),  # row delete shadows wt <= 20
        (b, 15, None, None, _vals(qty=2)),  # partition delete at 16 shadows it
        (b, 40, None, None, _vals(qty=3)),  # newer than the partition delete
        (c, 50, 1, None, _vals(qty=4)),  # expired TTL acts as a row delete
        (c, now - 10, 3600, None, _vals(qty=5)),  # live TTL, newer
    ]
    row, _ = G.expected_merge(versions, {("t00", 1): 16})
    assert a not in row
    assert row[b][6] == 3
    assert row[c][6] == 5


def test_digest_is_order_independent():
    rows = [("t00", 1, i, "x", None, "1.5", i, True, "2.0", "n", (("a", 1),)) for i in range(5)]
    assert G.digest_rows(rows) == G.digest_rows(reversed(rows))
    assert G.digest_rows(rows) != G.digest_rows(rows[:-1])


def test_generator_is_seeded_and_writetimes_unique():
    shape = G.TableShape(tenants=2, buckets=4, seqs=5, batches=3, rows_per_batch=30,
                         partial=True, row_tombstones=0.1, cell_tombstones=0.1)
    g1, g2 = G.generate(5, shape), G.generate(5, shape)
    assert g1.row_lww == g2.row_lww and g1.cell_lww == g2.cell_lww
    assert G.generate(6, shape).row_lww != g1.row_lww
    wts = [wt for b in g1.batches for wt in b.column("writetime").to_pylist()]
    assert len(wts) == len(set(wts)) and g1.delete_writetime not in set(wts)


def test_canonical_matches_spark_and_arrow_map_forms():
    assert G.canonical({"b": 2, "a": 1}) == G.canonical([("a", 1), ("b", 2)])
    assert G.canonical(0.1) == repr(0.1)


# -- BENCHMARK.json agrees with the code ----------------------------------------

def test_benchmark_json_lists_what_the_runner_prints():
    from perfbench.metrics import END_TO_END, per_layer_units
    from perfbench.wl_dedup_vector import dedup_headline

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units(dedup_headline())
    from perfbench.run import _workloads

    assert [w["name"] for w in spec["workloads"]] == list(_workloads())
