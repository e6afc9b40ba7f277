"""The merge plan is built from SQL expression text: identifiers and
string literals that need quoting must survive it."""

from __future__ import annotations

import pytest

from cassandra_analytics_spark.operators.merge import compaction_merge

NOW = 10_000_000_000  # micros "now" for TTL checks
LIVE_TTL = 1_000_000  # seconds: far past NOW
EXPIRED_TTL = 1

# value columns whose names need backtick quoting in SQL text (a space,
# a quote, a backslash, an embedded backtick, a dot); the 'cell:<col>'
# tombstones carry the same characters inside a string literal. The
# "pinned" set already merged before the plan became SQL text; with an
# embedded backtick or a dot, ``F.col(name)`` raised (it parses the name
# as an attribute path).
PINNED = ["a b", "o'k", "back\\slash", "x_y", "dotted_name"]
ODD = ["a b", "o'k", "back\\slash", "x`y", "dotted.name"]
VALUE_TYPES = ["int", "int", "string", "string", "int"]


def _schema(names):
    value_cols = ", ".join(
        f"`{n.replace('`', '``')}` {t}" for n, t in zip(names, VALUE_TYPES)
    )
    return (
        f"pk string, ck int, {value_cols}, m map<string,int>, writetime long, "
        "ttl int, tombstone string, replica_id int"
    )


def _v(ck, vals, m, wt, ttl=None):
    return ("p", ck, *vals, m, wt, ttl, None, 1)


def _t(ck, wt, tombstone):
    return ("p", ck, None, None, None, None, None, None, wt, None, tombstone, 1)


ROWS = [
    # (p,1): an equal-writetime tie decided by the map column alone
    # ({"b": 2} > {"a": 1} in the canonical sorted-entries order), then a
    # newer 'cell:o'k' tombstone that nulls o'k in both modes
    _v(1, (1, 5, "s1", "u", 7), {"a": 1}, 100),
    _v(1, (1, 5, "s1", "u", 7), {"b": 2}, 100),
    _t(1, 150, "cell:o'k"),
    # (p,2): a partial upsert at 300 over a full write at 200, and a
    # 'cell:back\slash' tombstone between them: it shadows the older
    # back\slash cell (cell mode) but not the newer row version (row mode)
    _v(2, (2, 6, "s2", "v", 8), {"c": 3}, 200),
    _v(2, (None, None, None, "z", None), None, 300),
    _t(2, 250, "cell:back\\slash"),
    # (p,3): TTL expired at NOW → the row is gone
    _v(3, (3, 7, "s3", "w", 9), {"d": 4}, 100, ttl=EXPIRED_TTL),
    # (p,4): a live TTL travels with the winner
    _v(4, (4, 8, "s4", "q", 10), {"e": 5}, 400, ttl=LIVE_TTL),
]

# expected merged rows: ck → (value columns..., m, writetime, ttl)
EXPECTED = {
    False: {  # row-level LWW
        1: ((1, None, "s1", "u", 7), {"b": 2}, 100, None),
        2: ((None, None, None, "z", None), None, 300, None),
        4: ((4, 8, "s4", "q", 10), {"e": 5}, 400, LIVE_TTL),
    },
    True: {  # per-cell LWW
        1: ((1, None, "s1", "u", 7), {"b": 2}, 100, None),
        2: ((2, 6, None, "z", 8), {"c": 3}, 300, None),
        4: ((4, 8, "s4", "q", 10), {"e": 5}, 400, LIVE_TTL),
    },
}


# compaction output's shields: the newest deletion per (ck, kind) scope,
# as (ck, writetime, kind) — the expired TTL row of (p,3) is a 'row' one
SHIELDS = {(1, 150, "cell:o'k"), (2, 250, "cell:back\\slash"), (3, 100, "row")}


@pytest.mark.parametrize("names", [PINNED, ODD], ids=["pinned", "odd"])
@pytest.mark.parametrize("keep", [False, True], ids=["plain", "keep_wt_ttl"])
@pytest.mark.parametrize("cell_lww", [False, True], ids=["row", "cell"])
def test_merge_quotes_identifiers_and_literals(spark, cell_lww, keep, names):
    df = spark.createDataFrame(ROWS, _schema(names))
    out = compaction_merge(
        df, ["pk"], ["ck"], now_micros=NOW, cell_lww=cell_lww,
        for_compaction=keep,
    )
    tail = ["writetime", "ttl", "tombstone"] if keep else []
    assert out.columns == ["pk", "ck", *names, "m", *tail]
    # every merged column stays nullable, whatever its name
    assert all(f.nullable for f in out.schema.fields[2:])
    rows = out.collect()
    if keep:
        shields = [r for r in rows if r["tombstone"] is not None]
        rows = [r for r in rows if r["tombstone"] is None]
        assert {(r["ck"], r["writetime"], r["tombstone"]) for r in shields} == SHIELDS
        assert len(shields) == len(SHIELDS)
        for r in shields:
            assert r["ttl"] is None and r["m"] is None
            assert all(r[c] is None for c in names)
    got = {r["ck"]: r for r in rows}
    assert len(got) == len(rows)
    want = EXPECTED[cell_lww]
    assert sorted(got) == sorted(want)
    for ck, (vals, m, wt, ttl) in want.items():
        row = got[ck]
        assert tuple(row[c] for c in names) == vals, ck
        assert row["m"] == m, ck
        if keep:
            assert (row["writetime"], row["ttl"]) == (wt, ttl), ck


# bulk_table-shaped: composite partition key, a clustering key, 8 value
# columns (one a map), TTLs and row/cell/partition tombstones
BULK_SCHEMA = (
    "tenant string, bucket int, seq int, name string, city string, "
    "score double, qty int, active boolean, price double, note string, "
    "attrs map<string,int>, writetime long, ttl int, tombstone string"
)
BULK_ROWS = [
    ("t", 1, 1, "n", "c", 1.0, 1, True, 2.0, "x", {"a": 1}, 100, None, None),
    ("t", 1, 1, None, None, None, None, None, None, None, None, 150, None, "cell:note"),
    ("t", 1, 2, "m", "d", 3.0, 2, False, 4.0, "y", {"b": 2}, 200, 60, None),
    ("t", 1, 2, None, None, None, None, None, None, None, None, 250, None, "row"),
    ("t", 2, None, None, None, None, None, None, None, None, None, 300, None, "partition"),
]


@pytest.mark.parametrize(
    "cell_lww, max_calls", [(False, 100), (True, 400)], ids=["row", "cell"]
)
def test_merge_build_py4j_round_trips(spark, py4j_calls, cell_lww, max_calls):
    """Building one merge (no action) is a few dozen JVM round trips.
    The Column-DSL build made 2,073 (row) and 3,107 (cell) here."""
    df = spark.createDataFrame(BULK_ROWS, BULK_SCHEMA)
    df.schema  # the input's own schema fetch is not part of the merge
    with py4j_calls() as n:
        out = compaction_merge(
            df, ["tenant", "bucket"], ["seq"], now_micros=NOW, cell_lww=cell_lww
        )
    assert n.count <= max_calls, n.count
    assert len(out.collect()) == 1


def test_tombstone_merge_plan_shape(spark):
    """The tombstone-bearing row merge keeps ONE hash exchange (on the
    partition key) for every window, computes the whole-group deletion
    windows in at most two Window operators beside the LWW rank, and
    keeps the top-1 rank filter pushed into the sort (WindowGroupLimit)."""
    df = spark.createDataFrame(BULK_ROWS, BULK_SCHEMA)
    out = compaction_merge(df, ["tenant", "bucket"], ["seq"], now_micros=NOW)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window [") <= 3
    assert "WindowGroupLimit" in plan
