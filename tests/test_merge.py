"""compaction_merge semantics vs the reference's CompactionStreamScanner
(FIXTURES.md §B4/B5/B6 shapes, built inline)."""

from __future__ import annotations

from pyspark.sql import Row

from cassandra_analytics_spark.operators.merge import (
    compaction_merge,
    last_modified_timestamp,
    latest_by_key,
    propagate_static_columns,
)

NOW = 10_000_000_000  # micros "now" for TTL checks

MV_SCHEMA = (
    "pk string, ck int, val string, writetime long, ttl int, "
    "tombstone string, replica_id int"
)


def _mv_row(pk, ck, val, wt, ttl=None, tombstone=None, replica=1):
    return (pk, ck, val, wt, ttl, tombstone, replica)


def test_lww_max_writetime_wins(spark):
    rows = [
        _mv_row("a", 1, "v1", 100, replica=1),
        _mv_row("a", 1, "v2", 200, replica=2),
        _mv_row("a", 1, "v3", 150, replica=3),
        _mv_row("b", 1, "only", 50),
    ]
    df = spark.createDataFrame(rows, MV_SCHEMA)
    out = compaction_merge(df, ["pk"], ["ck"], now_micros=NOW)
    got = {(r.pk, r.ck): r.val for r in out.collect()}
    assert got == {("a", 1): "v2", ("b", 1): "only"}


def test_lww_tie_greater_value_wins(spark):
    # equal writetime → greater value wins (Cassandra cell reconciliation)
    rows = [
        _mv_row("a", 1, "apple", 100, replica=1),
        _mv_row("a", 1, "zebra", 100, replica=2),
    ]
    df = spark.createDataFrame(rows, MV_SCHEMA)
    out = compaction_merge(df, ["pk"], ["ck"], now_micros=NOW)
    assert out.collect()[0].val == "zebra"


def test_partition_tombstone_purges_older_rows(spark):
    rows = [
        _mv_row("a", 1, "old", 100),
        _mv_row("a", 2, "old2", 150),
        _mv_row("a", None, None, 200, tombstone="partition"),
        _mv_row("a", 3, "newer", 300),  # written after the delete → survives
        _mv_row("b", 1, "keep", 100),
    ]
    df = spark.createDataFrame(rows, MV_SCHEMA)
    out = compaction_merge(df, ["pk"], ["ck"], now_micros=NOW)
    got = {(r.pk, r.ck): r.val for r in out.collect()}
    assert got == {("a", 3): "newer", ("b", 1): "keep"}


def test_row_tombstone(spark):
    rows = [
        _mv_row("a", 1, "dead", 100),
        _mv_row("a", 1, None, 200, tombstone="row"),
        _mv_row("a", 2, "alive", 100),
    ]
    df = spark.createDataFrame(rows, MV_SCHEMA)
    out = compaction_merge(df, ["pk"], ["ck"], now_micros=NOW)
    got = {(r.pk, r.ck): r.val for r in out.collect()}
    assert got == {("a", 2): "alive"}


def test_row_tombstone_older_than_data_is_ignored(spark):
    rows = [
        _mv_row("a", 1, None, 100, tombstone="row"),
        _mv_row("a", 1, "rewritten", 200),
    ]
    df = spark.createDataFrame(rows, MV_SCHEMA)
    out = compaction_merge(df, ["pk"], ["ck"], now_micros=NOW)
    assert out.collect()[0].val == "rewritten"


def test_cell_tombstone_nulls_column_keeps_row(spark):
    rows = [
        _mv_row("a", 1, "visible", 100),
        _mv_row("a", 1, None, 200, tombstone="cell:val"),
    ]
    df = spark.createDataFrame(rows, MV_SCHEMA)
    out = compaction_merge(df, ["pk"], ["ck"], now_micros=NOW)
    result = out.collect()
    assert len(result) == 1
    assert result[0].pk == "a" and result[0].ck == 1
    assert result[0].val is None


def test_ttl_expiry(spark):
    rows = [
        _mv_row("a", 1, "expired", 100, ttl=1),  # 100 + 1e6 <= NOW → gone
        _mv_row("b", 1, "fresh", NOW - 10, ttl=3600),
    ]
    df = spark.createDataFrame(rows, MV_SCHEMA)
    out = compaction_merge(df, ["pk"], ["ck"], now_micros=NOW)
    got = {r.pk: r.val for r in out.collect()}
    assert got == {"b": "fresh"}


def test_latest_by_key(spark):
    df = spark.createDataFrame(
        [Row(k="a", ts=1, v="x"), Row(k="a", ts=2, v="y"), Row(k="b", ts=1, v="z")]
    )
    out = latest_by_key(df, ["k"], "ts")
    got = {r.k: r.v for r in out.collect()}
    assert got == {"a": "y", "b": "z"}


def test_last_modified_timestamp(spark):
    df = spark.createDataFrame(
        [Row(k="a", writetime=5), Row(k="a", writetime=9), Row(k="b", writetime=2)]
    )
    out = last_modified_timestamp(df, ["k"])
    got = {(r.k, r.writetime): r.last_modified_timestamp for r in out.collect()}
    assert got == {("a", 5): 9, ("a", 9): 9, ("b", 2): 2}


def test_static_column_propagation(spark):
    df = spark.createDataFrame(
        [
            Row(pk=1, ck=1, s="S", v=10),
            Row(pk=1, ck=2, s=None, v=11),
            Row(pk=2, ck=1, s=None, v=20),  # partition never sets s → stays null
        ]
    )
    out = propagate_static_columns(df, ["pk"], ["s"])
    got = {(r.pk, r.ck): r.s for r in out.collect()}
    assert got == {(1, 1): "S", (1, 2): "S", (2, 1): None}


# ---------------------------------------------------------------------------
# Per-cell LWW (cell_lww=True): partial-row upserts, SparkCellIterator.java
# :204-231 / EndToEndTests.java:789,831 testPartialRows + upsert suites.
# ---------------------------------------------------------------------------

MC_SCHEMA = (
    "pk string, ck int, a string, b string, writetime long, ttl int, "
    "tombstone string, replica_id int"
)


def _mc_row(pk, ck, a, b, wt, ttl=None, tombstone=None, replica=1):
    return (pk, ck, a, b, wt, ttl, tombstone, replica)


def test_cell_lww_partial_upsert_preserves_older_columns(spark):
    # B4 shape: v1 writes (a, b) at t1; v2 upserts ONLY b at t2.
    # Whole-row LWW would null out a — per-cell LWW must keep a=t1 value.
    rows = [
        _mc_row("k", 1, "a1", "b1", 100),
        _mc_row("k", 1, None, "b2", 200),  # partial upsert: only b written
    ]
    df = spark.createDataFrame(rows, MC_SCHEMA)
    out = compaction_merge(df, ["pk"], ["ck"], now_micros=NOW, cell_lww=True)
    r = out.collect()[0]
    assert (r.a, r.b) == ("a1", "b2")


def test_cell_lww_vs_row_lww_divergence(spark):
    # The same fixture under row-mode LWW loses column a — documents the
    # semantic difference rather than leaving it implicit.
    rows = [
        _mc_row("k", 1, "a1", "b1", 100),
        _mc_row("k", 1, None, "b2", 200),
    ]
    df = spark.createDataFrame(rows, MC_SCHEMA)
    row_mode = compaction_merge(df, ["pk"], ["ck"], now_micros=NOW).collect()[0]
    assert row_mode.a is None  # whole-row winner drops the older cell
    cell_mode = compaction_merge(
        df, ["pk"], ["ck"], now_micros=NOW, cell_lww=True
    ).collect()[0]
    assert cell_mode.a == "a1"


def test_cell_lww_tie_greater_value_wins(spark):
    rows = [
        _mc_row("k", 1, "apple", None, 100),
        _mc_row("k", 1, "zebra", None, 100),
    ]
    df = spark.createDataFrame(rows, MC_SCHEMA)
    out = compaction_merge(df, ["pk"], ["ck"], now_micros=NOW, cell_lww=True)
    assert out.collect()[0].a == "zebra"


def test_cell_lww_cell_tombstone_shadows_older_cells_only(spark):
    rows = [
        _mc_row("k", 1, "a1", "b1", 100),
        _mc_row("k", 1, None, None, 200, tombstone="cell:a"),
        _mc_row("k", 1, "a3", None, 300),  # re-written after the delete
    ]
    df = spark.createDataFrame(rows, MC_SCHEMA)
    r = compaction_merge(
        df, ["pk"], ["ck"], now_micros=NOW, cell_lww=True
    ).collect()[0]
    assert (r.a, r.b) == ("a3", "b1")
    # without the re-write the tombstone nulls a but keeps the row + b
    df2 = spark.createDataFrame(
        [
            _mc_row("k", 1, "a1", "b1", 100),
            _mc_row("k", 1, None, None, 200, tombstone="cell:a"),
        ],
        MC_SCHEMA,
    )
    r2 = compaction_merge(
        df2, ["pk"], ["ck"], now_micros=NOW, cell_lww=True
    ).collect()[0]
    assert (r2.a, r2.b) == (None, "b1")


def test_cell_lww_row_tombstone_then_partial_rewrite(spark):
    # row tombstone at t2 kills both t1 cells; a partial write at t3
    # resurrects ONLY the written column.
    rows = [
        _mc_row("k", 1, "a1", "b1", 100),
        _mc_row("k", 1, None, None, 200, tombstone="row"),
        _mc_row("k", 1, None, "b3", 300),
    ]
    df = spark.createDataFrame(rows, MC_SCHEMA)
    r = compaction_merge(
        df, ["pk"], ["ck"], now_micros=NOW, cell_lww=True
    ).collect()[0]
    assert (r.a, r.b) == (None, "b3")


def test_cell_lww_keep_writetime_is_max_surviving_version(spark):
    rows = [
        _mc_row("k", 1, "a1", None, 100),
        _mc_row("k", 1, None, "b2", 250),
    ]
    df = spark.createDataFrame(rows, MC_SCHEMA)
    r = compaction_merge(
        df, ["pk"], ["ck"], now_micros=NOW, cell_lww=True, keep_writetime=True
    ).collect()[0]
    assert r.writetime == 250


def test_orderable_type_allowlist():
    """ADVICE r6: unknown/unorderable ATOMIC types (VariantType,
    CalendarIntervalType) must be excluded from sort-tiebreak selection,
    not defaulted to orderable (which would AnalysisException the
    writer's sortWithinPartitions)."""
    from pyspark.sql import types as T

    from cassandra_analytics_spark.operators.merge import orderable_type

    for dt in (
        T.IntegerType(), T.LongType(), T.DoubleType(), T.DecimalType(10, 2),
        T.StringType(), T.BinaryType(), T.BooleanType(), T.DateType(),
        T.TimestampType(), T.TimestampNTZType(), T.NullType(),
        T.DayTimeIntervalType(), T.YearMonthIntervalType(),
        T.ArrayType(T.IntegerType()),
        T.StructType([T.StructField("a", T.StringType())]),
    ):
        assert orderable_type(dt), dt

    unorderable = [
        T.MapType(T.StringType(), T.IntegerType()),
        T.ArrayType(T.MapType(T.StringType(), T.IntegerType())),
        T.StructType(
            [T.StructField("m", T.MapType(T.StringType(), T.IntegerType()))]
        ),
    ]
    if hasattr(T, "VariantType"):
        unorderable += [T.VariantType(), T.ArrayType(T.VariantType())]
    if hasattr(T, "CalendarIntervalType"):
        unorderable.append(T.CalendarIntervalType())
    for dt in unorderable:
        assert not orderable_type(dt), dt


def test_equal_writetime_ttl_resolves_greatest(spark):
    """Row-level TTL of equal-writetime versions resolves greatest-wins
    (deterministic), matching the value columns' LWW tiebreak instead of
    task order (round-7 hostile pass)."""
    df = spark.createDataFrame(
        [(1, "a", 100, 5), (1, "b", 100, None), (2, "x", 100, None), (2, "y", 100, 9)],
        "pk INT, v STRING, writetime LONG, ttl INT",
    )
    # whole-row path: TTL travels with the winning ROW (value tiebreak),
    # so pk=1's winner ("b") carries its own null ttl — already
    # deterministic via the row ordering
    row = {
        r.pk: (r.v, r.ttl)
        for r in compaction_merge(
            df, ["pk"], for_compaction=True, now_micros=0
        ).collect()
    }
    assert row == {1: ("b", None), 2: ("y", 9)}
    # per-cell path: ttl resolves independently — greatest (wt, ttl) wins
    cell = {
        r.pk: (r.v, r.ttl)
        for r in compaction_merge(
            df, ["pk"], for_compaction=True, now_micros=0, cell_lww=True
        ).collect()
    }
    assert cell == {1: ("b", 5), 2: ("y", 9)}


def test_static_propagation_conflict_is_deterministic(spark):
    """Conflicting static values in one partition (divergent replicas)
    resolve to the GREATEST value, not task order (round-7 pass)."""
    df = spark.createDataFrame(
        [(1, 1, "aa"), (1, 2, None), (1, 3, "zz"), (2, 1, None)],
        "pk INT, ck INT, s STRING",
    )
    out = {
        (r.pk, r.ck): r.s
        for r in propagate_static_columns(df, ["pk"], ["s"]).collect()
    }
    assert out == {(1, 1): "zz", (1, 2): "zz", (1, 3): "zz", (2, 1): None}


def test_empty_key_lists_rejected(spark):
    """Round-8 continuation probe: with an empty partition-key list the
    LWW windows partition over nothing — compaction_merge / latest_by_key
    / cell_pivot silently collapsed the WHOLE table to one row; a
    non-positive range-join gap threw DIVIDE_BY_ZERO mid-job (0) or
    silently returned no pairs (negative)."""
    import pytest

    from cassandra_analytics_spark.operators.asof import range_join_pairs
    from cassandra_analytics_spark.operators.cell_pivot import cell_pivot
    from cassandra_analytics_spark.operators.merge import (
        compaction_merge,
        latest_by_key,
    )

    df = spark.createDataFrame(
        [(1, 1, "a", 100)], "pk long, ck long, v string, writetime long"
    )
    with pytest.raises(ValueError, match="at least one partition key"):
        compaction_merge(df, [], [])
    with pytest.raises(ValueError, match="at least one key column"):
        latest_by_key(df, [], "writetime")
    with pytest.raises(ValueError, match="at least one partition key"):
        cell_pivot(df.selectExpr("pk", "ck", "'c' as column", "v as value", "writetime"), [], [])
    ts_df = df.selectExpr("pk as k", "timestamp_micros(writetime) as ts", "ck as id")
    for bad in (0, -5):
        with pytest.raises(ValueError, match="max_gap_seconds"):
            range_join_pairs(ts_df, "k", "ts", "id", bad)
