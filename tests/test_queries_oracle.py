"""Every registered query with an oracle must match DuckDB exactly at
sf0.001 — the same comparison the driver runs at sf0.01."""

from __future__ import annotations

import tempfile
from types import SimpleNamespace

import pytest

from cassandra_analytics_spark.queries import REGISTRY, _ensure_loaded
from cassandra_analytics_spark.testing import compare_query

_ensure_loaded()
ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is None)


@pytest.fixture
def no_scratch_left(tmp_path, monkeypatch):
    """Points the driver's temp dir at a fresh directory for one query
    run and asserts the run left nothing in it: a query that writes a
    scratch layout, stream or table must remove all of it, sidecars
    included."""
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    yield
    left = sorted(p.name for p in scratch.iterdir())
    assert not left, f"scratch files left behind: {left}"


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(name: str, spark, sf_dir: str, no_scratch_left) -> None:
    result = compare_query(name, spark, sf_dir)
    assert result.ok, str(result)
    assert result.spark_rows > 0, f"{name}: empty result"


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(name: str, spark, sf_dir: str, no_scratch_left) -> None:
    df = REGISTRY[name].fn(spark, sf_dir)
    rows = df.count()
    assert rows >= 0
    assert df.schema is not None


def test_pq_rescore_window_margin(spark, sf_dir, monkeypatch):
    """Round 16 (VERDICT r15 item 5): the persisted-PQ queries ride an
    EMPIRICAL rescore window (PQ_RESCORE_FACTOR=24, widened from 8 when
    the r14 id-salted training sample moved the codebooks and two
    boundary swaps surfaced at k*8). This pins the safety margin as a
    number instead of a mid-round surprise: every dependent query must
    still pass the full driver compare at HALF the shipped window — if
    a codebook-moving change erodes the margin below 2x, this test
    reds up before the driver does."""
    import cassandra_analytics_spark.queries.llm as llm

    dependents = [
        "ann_pq_index_topk",
        "ann_ivf_pq_topk",
        "ann_pq_append_topk",
        "ann_ivf_pq_append_topk",
        "ann_ivf_pq_residual_topk",
        "ann_pq_compact_topk",
        "ann_ivf_pq_compact_topk",
        "ann_ivf_pq_residual_append_compact_topk",
        "ann_ivf_pq_knn_join",
    ]
    # the list must stay in sync with the table rows whose probe reads
    # the constant
    assert {
        row.name
        for row in llm.LAYOUT_QUERIES
        if "PQ_RESCORE_FACTOR" in row.probe.__code__.co_names
    } == set(dependents)

    monkeypatch.setattr(llm, "PQ_RESCORE_FACTOR", llm.PQ_RESCORE_FACTOR // 2)
    for name in dependents:
        result = compare_query(name, spark, sf_dir)
        assert result.ok, f"margin < 2x for {name}: {result}"


@pytest.mark.parametrize(
    "name, operator",
    [
        ("ann_pq_index_topk", "query_pq_index"),
        ("ann_ivf_pq_topk", "query_ivf_pq_index"),
    ],
)
def test_pq_probes_read_rescore_factor_when_they_run(name, operator, monkeypatch):
    """The half-window compare above reaches the probes only if they
    read ``PQ_RESCORE_FACTOR`` when called, not when the table is
    built: a patched value must arrive at the operator call."""
    import cassandra_analytics_spark.queries.llm as llm
    from cassandra_analytics_spark.operators import pq

    seen = {}
    monkeypatch.setattr(pq, operator, lambda *a, **kw: seen.update(kw))
    monkeypatch.setattr(llm, "PQ_RESCORE_FACTOR", 7)
    row = next(r for r in llm.LAYOUT_QUERIES if r.name == name)
    row.probe(SimpleNamespace(spark=None, path="layout", query=[1.0]))
    assert seen["rescore_factor"] == 7
