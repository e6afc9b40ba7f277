"""Map-typed payloads in deterministic tiebreaks (VERDICT r7 what's-
missing #3): Spark cannot compare maps, so map columns used to fall out
of every LWW / as-of / static-column / writer-sort tiebreak — the one
remaining "same input, two possible outputs" surface. order_key_sql
canonicalizes a map as its entry array sorted by key, which IS
comparable; these tests pin the winner for every site that previously
documented the exception.

The canonical order is checked where it matters: {"b": 2} beats
{"a": 1} (first sorted entry key "b" > "a"), and {"a": 9} beats
{"a": 1} (equal first key, greater value).
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from cassandra_analytics_spark.operators.merge import (
    compaction_merge,
    order_key_sql,
    propagate_static_columns,
)

NOW = 10_000_000_000

MAP_MV_SCHEMA = (
    "pk string, ck int, payload map<string,int>, writetime long, ttl int, "
    "tombstone string, replica_id int"
)


def _rows(spark, rows):
    return spark.createDataFrame(rows, MAP_MV_SCHEMA)


def test_order_key_expr_sorts_maps_canonically(spark):
    df = spark.createDataFrame(
        [
            Row(i=1, m={"b": 1, "a": 2}),
            Row(i=2, m={"a": 2, "b": 1}),  # same map, other insert order
            Row(i=3, m={"a": 2, "b": 3}),
            Row(i=4, m=None),
        ],
        "i int, m map<string,int>",
    )
    key = F.expr(order_key_sql("m", df.schema["m"].dataType))
    got = df.select("i", key.alias("k")).orderBy("i").collect()
    # equal maps project equal regardless of insertion order
    assert got[0].k == got[1].k
    assert got[0].k != got[2].k
    assert got[3].k is None  # NULL map stays NULL (nulls_first/last works)


def test_order_key_expr_nested_map_in_struct_and_array(spark):
    df = spark.createDataFrame(
        [Row(i=1, s=Row(x=1, m={"k": 1}), a=[{"z": 5}])],
        "i int, s struct<x:int, m:map<string,int>>, a array<map<string,int>>",
    )
    skey = F.expr(order_key_sql("s", df.schema["s"].dataType))
    akey = F.expr(order_key_sql("a", df.schema["a"].dataType))
    assert skey is not None and akey is not None
    row = df.select(skey.alias("s"), akey.alias("a")).collect()[0]
    assert row.s.m == [Row(k="k", v=1)]
    assert row.a == [[Row(k="z", v=5)]]


def test_lww_tie_map_payload_greater_canonical_wins(spark):
    # equal writetime, conflicting map payloads: {"b": 2} > {"a": 1}
    # under the sorted-entries order — deterministic, not task order
    df = _rows(
        spark,
        [
            ("p", 1, {"a": 1}, 100, None, None, 1),
            ("p", 1, {"b": 2}, 100, None, None, 2),
        ],
    )
    for _ in range(3):
        out = compaction_merge(df, ["pk"], ["ck"], now_micros=NOW)
        assert out.collect()[0].payload == {"b": 2}


def test_lww_tie_map_same_keys_greater_value_wins(spark):
    df = _rows(
        spark,
        [
            ("p", 1, {"a": 1}, 100, None, None, 1),
            ("p", 1, {"a": 9}, 100, None, None, 2),
        ],
    )
    out = compaction_merge(df, ["pk"], ["ck"], now_micros=NOW)
    assert out.collect()[0].payload == {"a": 9}


def test_cell_lww_tie_map_payload_deterministic(spark):
    df = _rows(
        spark,
        [
            ("p", 1, {"a": 1}, 100, None, None, 1),
            ("p", 1, {"b": 2}, 100, None, None, 2),
        ],
    )
    out = compaction_merge(df, ["pk"], ["ck"], now_micros=NOW, cell_lww=True)
    assert out.collect()[0].payload == {"b": 2}


def test_static_map_column_resolves_greatest_canonical(spark):
    df = spark.createDataFrame(
        [
            Row(pk="p", ck=1, st={"a": 1}),
            Row(pk="p", ck=2, st={"b": 2}),
            Row(pk="q", ck=1, st=None),
        ],
        "pk string, ck int, st map<string,int>",
    )
    out = propagate_static_columns(df, ["pk"], ["st"])
    got = {(r.pk, r.ck): r.st for r in out.collect()}
    assert got[("p", 1)] == {"b": 2}
    assert got[("p", 2)] == {"b": 2}
    assert got[("q", 1)] is None  # never set in its partition → stays null


def test_asof_duplicate_right_map_payload_deterministic(spark):
    from cassandra_analytics_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [Row(k="k", lts=100)], "k string, lts long"
    )
    right = spark.createDataFrame(
        [
            Row(k="k", rts=50, tags={"a": 1}),
            Row(k="k", rts=50, tags={"b": 2}),
        ],
        "k string, rts long, tags map<string,int>",
    )
    for _ in range(3):
        out = asof_join(
            left, right, ["k"], "lts", "rts", right_value_cols=["tags"]
        )
        assert out.collect()[0].tags_asof == {"b": 2}


def test_cell_pivot_writetime_tie_map_value_deterministic(spark):
    from cassandra_analytics_spark.operators.cell_pivot import cell_pivot

    cells = spark.createDataFrame(
        [
            Row(pk="p", column="c", value={"a": 1}, writetime=100),
            Row(pk="p", column="c", value={"b": 2}, writetime=100),
        ],
        "pk string, column string, value map<string,int>, writetime long",
    )
    out = cell_pivot(cells, ["pk"], columns=["c"])
    assert out.collect()[0].c == {"b": 2}


def test_writer_sorts_rows_differing_only_in_map_value(spark, tmp_path):
    """Rows identical in key + system columns but differing in a map
    payload must serialize in ONE deterministic order: the staged files'
    digests are the bundle transport's retry-safety contract."""
    import json
    import os

    from cassandra_analytics_spark.sinks.bulk_writer import bulk_write

    def write_once(sub: str) -> dict[str, str]:
        df = spark.createDataFrame(
            [
                Row(pk=1, ck=1, m={"b": 2}, writetime=100),
                Row(pk=1, ck=1, m={"a": 1}, writetime=100),
                Row(pk=1, ck=1, m={"a": 9}, writetime=100),
            ],
            "pk int, ck int, m map<string,int>, writetime long",
        ).repartition(4)  # scatter so sort order, not input order, decides
        path = str(tmp_path / sub)
        res = bulk_write(df, path, partition_keys=["pk"], clustering_keys=["ck"])
        manifest = json.load(open(res.manifest_path))
        # part-file names carry a random write UUID; the CONTENT digests
        # (in name order = token order) are the determinism contract
        return sorted(
            meta[manifest["digest_algorithm"]]
            for meta in manifest["files"].values()
        )

    d1, d2 = write_once("w1"), write_once("w2")
    assert d1 and d1 == d2


def test_latest_by_key_map_tiebreaker(spark):
    from cassandra_analytics_spark.operators.merge import latest_by_key

    df = spark.createDataFrame(
        [("k", 100, {"a": 1}), ("k", 100, {"b": 2})],
        "k string, wt long, m map<string,int>",
    )
    out = latest_by_key(df, ["k"], "wt", tiebreakers=["m"]).collect()
    assert len(out) == 1 and out[0].m == {"b": 2}


def test_canonical_tiebreak_adds_no_exchange(spark):
    """The map projection is a pure expression inside the existing window
    sort — the merge plan must keep the SAME number of exchanges as the
    orderable-payload plan (scale guard: a new Exchange here would
    double the shuffle bill of every LWW read at 100 TB)."""
    from cassandra_analytics_spark.operators.merge import compaction_merge

    base = [("p", 1, 100, None, None, 1)]
    plain = spark.createDataFrame(
        base, "pk string, ck int, writetime long, ttl int, tombstone string, "
        "replica_id int",
    ).withColumn("v", F.lit("s"))
    mapped = spark.createDataFrame(
        base, "pk string, ck int, writetime long, ttl int, tombstone string, "
        "replica_id int",
    ).withColumn("v", F.create_map(F.lit("k"), F.lit(1)))

    def n_exchanges(df):
        plan = compaction_merge(df, ["pk"], ["ck"], now_micros=NOW)
        return plan._jdf.queryExecution().executedPlan().toString().count(
            "Exchange"
        )

    assert n_exchanges(mapped) == n_exchanges(plain)
