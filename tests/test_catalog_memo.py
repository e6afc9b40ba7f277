"""Round-16/17 optimization tests: catalog metadata memo + spread_scan.

The memo caches the RESOLVED DataFrame (file listing + footer schema),
never data — so identity of the returned object is the contract, plus
mtime invalidation so regenerated fixtures are never served stale.
spread_scan's r17 contract (cost-gated — VERDICT r16 item 1): the
round-robin repartition appears ONLY when (a) the layout cannot feed
the cluster (row groups * 2 <= parallelism) AND (b) the footer row
count clears the rows-per-task floor at >= the minimum spread width;
the repartition is sized to rows // floor (capped at parallelism) and
projects to the requested columns BEFORE the exchange; results are
row-identical to the raw table either way.
"""

from __future__ import annotations

import os
import shutil

from cassandra_analytics_spark.catalog import (
    _SPREAD_MIN_WIDTH,
    _scan_meta,
    load_table,
    spread_scan,
)


def test_load_table_memoized_same_object(spark, sf_dir):
    a = load_table(spark, sf_dir, "nation")
    b = load_table(spark, sf_dir, "nation")
    assert a is b


def test_load_table_mtime_invalidation(spark, sf_dir, tmp_path):
    src = os.path.join(sf_dir, "nation.parquet")
    dst = str(tmp_path / "nation.parquet")
    shutil.copyfile(src, dst)
    a = load_table(spark, str(tmp_path), "nation")
    # touch with a different mtime -> new resolution, not the stale entry
    os.utime(dst, (os.path.getmtime(dst) + 10, os.path.getmtime(dst) + 10))
    b = load_table(spark, str(tmp_path), "nation")
    assert a is not b
    assert a.count() == b.count()


def test_spread_scan_below_floor_is_untouched(spark, sf_dir):
    """The r16 regression case: a corpus below the rows-per-task floor
    must come back as the RAW memoized table — no exchange at all."""
    raw = load_table(spark, sf_dir, "documents")
    n_rows = raw.count()
    floor = max(1, (n_rows // max(_SPREAD_MIN_WIDTH - 1, 1)) + 1)
    spread = spread_scan(
        spark, sf_dir, "documents", min_rows_per_task=floor
    )
    assert spread is raw


def test_spread_scan_sizes_repartition_to_work(spark, sf_dir):
    """Above the floor: the repartition is rows // floor (never the
    blanket parallelism), projected to the requested columns BEFORE the
    exchange, and row-identical to the raw table."""
    raw = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    n_rows = raw.count()
    # pick a floor that yields a width in [MIN_WIDTH, par): exercises
    # the sized (non-blanket) branch on any fixture SF
    width = max(_SPREAD_MIN_WIDTH, min(par, 8))
    floor = max(1, n_rows // width)
    spread = spread_scan(
        spark, sf_dir, "documents",
        columns=("doc_id", "text"), min_rows_per_task=floor,
    )
    expect = min(par, n_rows // floor)
    assert spread.rdd.getNumPartitions() == expect
    analyzed = spread._jdf.queryExecution().analyzed().toString()
    assert "Repartition" in analyzed
    # pruned BEFORE the exchange: only the requested columns survive
    assert set(spread.columns) == {"doc_id", "text"}
    assert spread.count() == n_rows
    raw_ids = {r[0] for r in raw.select("doc_id").collect()}
    spread_ids = {r[0] for r in spread.select("doc_id").collect()}
    assert raw_ids == spread_ids


def test_spread_scan_memoized(spark, sf_dir):
    a = spread_scan(spark, sf_dir, "documents")
    b = spread_scan(spark, sf_dir, "documents")
    assert a is b
    # distinct (columns, floor) configurations memoize separately
    c = spread_scan(spark, sf_dir, "documents", min_rows_per_task=1)
    d = spread_scan(spark, sf_dir, "documents", min_rows_per_task=1)
    assert c is d


def test_spread_scan_schema_is_independent_of_the_gate(spark, sf_dir):
    """The same ``columns`` request yields the same schema whether the
    cost gate spreads (floor 1 row per task) or keeps the raw scan (a
    floor no corpus clears): the projection is not a side effect of the
    exchange."""
    cols = ("doc_id", "text")
    spread = spread_scan(
        spark, sf_dir, "documents", columns=cols, min_rows_per_task=1
    )
    raw = spread_scan(
        spark, sf_dir, "documents", columns=cols, min_rows_per_task=10**12
    )
    assert "Repartition" in spread._jdf.queryExecution().analyzed().toString()
    assert "Repartition" not in raw._jdf.queryExecution().analyzed().toString()
    assert spread.schema == raw.schema
    assert spread.columns == list(cols)


def test_scan_meta_counts_hive_partitioned_rows(spark, tmp_path):
    """A ``k=v/part.parquet`` table reports its true footer row count
    (it reported 0, which pinned ``spread_scan`` to the raw scan), and
    files Spark's listing skips (``_``/``.``-prefixed) are not counted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = tmp_path / "parted"
    for k, n in ((1, 30), (2, 12)):
        (table / f"k={k}").mkdir(parents=True)
        pq.write_table(pa.table({"v": list(range(n))}), str(table / f"k={k}" / "part.parquet"))
    (table / "_temporary").mkdir()
    pq.write_table(pa.table({"v": [0] * 5}), str(table / "_temporary" / "part.parquet"))
    pq.write_table(pa.table({"v": [0] * 7}), str(table / "k=1" / ".hidden.parquet"))
    rows, splits = _scan_meta(spark, str(table), "test-mtime")
    assert rows == 42 == spark.read.parquet(str(table)).count()
    assert splits == 2
