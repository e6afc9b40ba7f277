"""Table maintenance: snapshot (as-of) reads and major compaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from cassandra_analytics_spark.sinks.bulk_writer import (
    WriteMode,
    bulk_write,
    committed_batches,
    compact_table,
    read_bulk_table,
)


def test_as_of_batch_time_travel(spark, tmp_path):
    path = str(tmp_path / "tbl")
    r1 = bulk_write(
        spark.createDataFrame([Row(k=1, v="v1")]), path, ["k"],
        write_timestamp_micros=1_000,
    )
    batch1 = os.path.basename(r1.batch_dir)
    bulk_write(
        spark.createDataFrame([Row(k=1, v="v2")]), path, ["k"],
        write_timestamp_micros=2_000,
    )
    now = read_bulk_table(spark, path, ["k"]).collect()
    assert now[0].v == "v2"
    then = read_bulk_table(spark, path, ["k"], as_of_batch=batch1).collect()
    assert then[0].v == "v1"  # snapshot before the second commit


def test_compaction_preserves_semantics(spark, tmp_path):
    path = str(tmp_path / "tbl")
    bulk_write(
        spark.createDataFrame([Row(k=i, v=f"old{i}") for i in range(100)]),
        path, ["k"], write_timestamp_micros=1_000,
    )
    bulk_write(
        spark.createDataFrame([Row(k=i, v=f"new{i}") for i in range(0, 100, 2)]),
        path, ["k"], write_timestamp_micros=2_000,
    )
    bulk_write(
        spark.createDataFrame([Row(k=99)]), path, ["k"],
        mode=WriteMode.DELETE_PARTITION, write_timestamp_micros=3_000,
    )
    before = {r.k: r.v for r in read_bulk_table(spark, path, ["k"]).collect()}
    assert len(committed_batches(path)) == 3

    compact_table(spark, path, ["k"], num_partitions=2)
    assert len(committed_batches(path)) == 1  # old batches retired
    after = {r.k: r.v for r in read_bulk_table(spark, path, ["k"]).collect()}
    assert after == before
    assert 99 not in after and after[0] == "new0" and after[1] == "old1"

    # LWW still works after compaction: writetimes were preserved, so an
    # old-writetime write loses against compacted data
    bulk_write(
        spark.createDataFrame([Row(k=0, v="stale")]), path, ["k"],
        write_timestamp_micros=1_500,
    )
    assert {
        r.v for r in read_bulk_table(spark, path, ["k"]).filter("k=0").collect()
    } == {"new0"}


def test_compaction_preserves_live_ttl(spark, tmp_path):
    """A row whose TTL has not yet expired must keep its TTL through
    compaction and still expire afterwards (ADVICE r1)."""
    import time as _time

    from pyspark.sql import functions as F

    path = str(tmp_path / "tbl")
    now_us = int(_time.time() * 1_000_000)
    bulk_write(
        spark.createDataFrame([Row(k=1, v="ttl'd"), Row(k=2, v="forever")]),
        path, ["k"], write_timestamp_micros=now_us, ttl_seconds=3600,
    )
    # give k=2 no ttl by rewriting it without one, newer
    bulk_write(
        spark.createDataFrame([Row(k=2, v="forever")]),
        path, ["k"], write_timestamp_micros=now_us + 1,
    )
    compact_table(spark, path, ["k"])
    raw = read_bulk_table(spark, path, ["k"], merge=False)
    ttls = {r.k: r.ttl for r in raw.select("k", "ttl").collect()}
    assert ttls[1] == 3600  # live TTL survived compaction
    # and the TTL still takes effect: read "as of" a future now
    from cassandra_analytics_spark.operators.merge import compaction_merge

    future = now_us + 7200 * 1_000_000
    rows = {
        r.k
        for r in compaction_merge(raw, ["k"], now_micros=future).collect()
    }
    assert rows == {2}  # k=1 expired after compaction


def test_compaction_keeps_tombstone_shield(spark, tmp_path):
    """A batch ingested after compaction with a writetime below the
    purged tombstone's must NOT resurrect deleted data (gc_grace)."""
    path = str(tmp_path / "tbl")
    bulk_write(
        spark.createDataFrame([Row(k=1, v="dead"), Row(k=2, v="alive")]),
        path, ["k"], write_timestamp_micros=1_000,
    )
    bulk_write(
        spark.createDataFrame([Row(k=1)]), path, ["k"],
        mode=WriteMode.DELETE_PARTITION, write_timestamp_micros=5_000,
    )
    compact_table(spark, path, ["k"])  # default: tombstones carried over
    # late-arriving batch with an OLDER writetime than the delete
    bulk_write(
        spark.createDataFrame([Row(k=1, v="zombie")]),
        path, ["k"], write_timestamp_micros=2_000,
    )
    got = {r.k: r.v for r in read_bulk_table(spark, path, ["k"]).collect()}
    assert got == {2: "alive"}  # no resurrection

    # purge_tombstones=True is the explicit gc_grace-elapsed escape hatch
    compact_table(spark, path, ["k"], purge_tombstones=True)
    raw_cols = read_bulk_table(spark, path, ["k"], merge=False)
    assert raw_cols.filter("tombstone IS NOT NULL").count() == 0


def test_delete_partition_validates_with_clustered_table(spark, tmp_path):
    """DELETE_PARTITION rows carry only pk columns; validation must not
    demand the table's clustering keys (ADVICE r1)."""
    from cassandra_analytics_spark.schema import parse_create_table

    ddl = (
        "CREATE TABLE ks.t (pk bigint, ck int, v text, "
        "PRIMARY KEY (pk, ck))"
    )
    table = parse_create_table(ddl)
    path = str(tmp_path / "tbl")
    bulk_write(
        spark.createDataFrame([Row(pk=1, ck=1, v="x")]), path, ["pk"], ["ck"],
        table=table, write_timestamp_micros=1_000,
    )
    # pk-only delete batch against the clustered table: must validate
    bulk_write(
        spark.createDataFrame([Row(pk=1)]), path, ["pk"], ["ck"],
        table=table, mode=WriteMode.DELETE_PARTITION,
        write_timestamp_micros=2_000,
    )
    got = read_bulk_table(spark, path, ["pk"], ["ck"]).collect()
    assert got == []


def test_compaction_with_cell_lww_preserves_upsert_cells(spark, tmp_path):
    """compact_table must reconcile with the same mode the table is READ
    with: compacting an upsert-style table with whole-row LWW would
    persist the newest row's NULLs over older cells — permanent loss."""
    path = str(tmp_path / "tbl")
    bulk_write(
        spark.createDataFrame([Row(k=1, a=1, b=2)], "k int, a int, b int"),
        path, ["k"], write_timestamp_micros=1_000,
    )
    # partial upsert: only column a written at t2
    bulk_write(
        spark.createDataFrame([Row(k=1, a=5, b=None)], "k int, a int, b int"),
        path, ["k"], write_timestamp_micros=2_000,
    )
    before = read_bulk_table(spark, path, ["k"], cell_lww=True).collect()[0]
    assert (before.a, before.b) == (5, 2)

    compact_table(spark, path, ["k"], cell_lww=True)
    after = read_bulk_table(spark, path, ["k"], cell_lww=True).collect()[0]
    assert (after.a, after.b) == (5, 2)  # b survived the compaction


@pytest.mark.xfail(
    strict=True, raises=AssertionError,
    reason="cell-mode compaction keeps one row-level TTL per merged row "
    "(compaction_merge's max_by(ttl, (wt, ttl))), so a TTL'd cell under a "
    "newer TTL-less upsert stops expiring once compacted",
)
def test_cell_mode_compaction_keeps_a_cells_own_ttl(spark, tmp_path):
    """A cell written with a TTL must still expire after a cell-mode
    compaction merged it with a newer TTL-less upsert of another cell."""
    path = str(tmp_path / "tbl")
    schema = "k int, a int, b int"
    bulk_write(
        spark.createDataFrame([Row(k=1, a=1, b=None)], schema), path, ["k"],
        write_timestamp_micros=10_000_000, ttl_seconds=100,
    )
    bulk_write(
        spark.createDataFrame([Row(k=1, a=None, b=2)], schema), path, ["k"],
        write_timestamp_micros=20_000_000,
    )

    def read():
        rows = read_bulk_table(
            spark, path, ["k"], cell_lww=True, now_micros=500_000_000
        ).collect()
        return [(r.k, r.a, r.b) for r in rows]

    assert read() == [(1, None, 2)]
    compact_table(spark, path, ["k"], cell_lww=True, now_micros=50_000_000)
    assert read() == [(1, None, 2)]


def test_compaction_preserves_expired_ttl_shield(spark, tmp_path):
    """An expired-TTL row acts as a row tombstone at its own writetime;
    its shield must survive compaction — otherwise an older-timestamped
    write that was shadowed before the compaction resurrects after it."""
    path = str(tmp_path / "tbl")
    bulk_write(
        spark.createDataFrame([Row(k=1, v="short-lived")]), path, ["k"],
        write_timestamp_micros=100, ttl_seconds=1,
    )
    import time as _t

    _t.sleep(1.1)  # let the TTL expire
    assert read_bulk_table(spark, path, ["k"]).count() == 0

    compact_table(spark, path, ["k"])

    # a write with an OLDER timestamp must stay shadowed after compaction
    bulk_write(
        spark.createDataFrame([Row(k=1, v="stale-resurrection")]), path, ["k"],
        write_timestamp_micros=50,
    )
    assert read_bulk_table(spark, path, ["k"]).count() == 0


def test_compaction_single_clock_for_purge_and_shield(spark, tmp_path):
    """compact_table must evaluate TTL expiry with ONE clock for both the
    merge's purge and the shield re-emission (ADVICE r5: a driver-time
    shield filter + an execution-time merge clock lets a row whose TTL
    expires between plan build and execution be purged UNSHIELDED)."""
    path = str(tmp_path / "tbl")
    # writetime 1s (epoch micros), ttl 10s → expires at t=11s epoch
    bulk_write(
        spark.createDataFrame([Row(k=1, v="ephemeral")]), path, ["k"],
        write_timestamp_micros=1_000_000, ttl_seconds=10,
    )

    # clock BEFORE expiry: the row must survive the compaction with its
    # TTL intact, even though wall-clock time is decades past 11s epoch —
    # proving the merge uses the passed clock, not current_timestamp()
    compact_table(spark, path, ["k"], now_micros=5_000_000)
    live = read_bulk_table(spark, path, ["k"], now_micros=5_000_000).collect()
    assert [r.v for r in live] == ["ephemeral"]

    # clock AFTER expiry: the row is purged AND its shield persists — an
    # older-timestamped re-ingest stays shadowed
    compact_table(spark, path, ["k"], now_micros=20_000_000)
    assert read_bulk_table(spark, path, ["k"]).count() == 0
    bulk_write(
        spark.createDataFrame([Row(k=1, v="stale-resurrection")]), path, ["k"],
        write_timestamp_micros=500_000,
    )
    assert read_bulk_table(spark, path, ["k"]).count() == 0


def test_compaction_to_empty_table_stays_readable(spark, tmp_path):
    """A table compacted down to nothing must read back as EMPTY, not
    crash with an un-inferable-schema error from a file-less batch."""
    path = str(tmp_path / "tbl")
    bulk_write(
        spark.createDataFrame([Row(k=1, v="doomed")]), path, ["k"],
        write_timestamp_micros=1_000,
    )
    bulk_write(
        spark.createDataFrame([Row(k=1)]), path, ["k"],
        mode=WriteMode.DELETE_PARTITION, write_timestamp_micros=2_000,
    )
    compact_table(spark, path, ["k"], purge_tombstones=True)
    assert len(committed_batches(path)) == 1
    assert read_bulk_table(spark, path, ["k"]).count() == 0


def test_compaction_preserves_quantized_code_consistency(spark, tmp_path):
    """Quantized-layout x compaction interaction (VERDICT r12 item 9):
    a bulk table carrying int8 code columns (qvec/embedding_min/
    embedding_scale next to the float vector) compacts under whole-row
    LWW with each winner row's codes INTACT and still consistent with
    its own vector — dequantization stays within scale/2 per element
    after the old batches retire. Per-CELL LWW over derived code
    columns is the documented caller contract (COVERAGE.md): cells
    reconcile independently, so mixed-write codes must be re-derived."""
    from pyspark.sql import functions as F

    from cassandra_analytics_spark.operators.quantize import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    def _vecs(seed, n=50):
        import random

        rng = random.Random(seed)
        return spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(n)],
            "vec_id long, embedding array<double>",
        )

    path = str(tmp_path / "tbl")
    q1 = quantize_embeddings(_vecs(1), keep_vec=True)
    bulk_write(q1, path, ["vec_id"], write_timestamp_micros=1_000)
    # newer vectors for the even ids — codes re-derived WITH them
    q2 = quantize_embeddings(
        _vecs(2).filter(F.col("vec_id") % 2 == 0), keep_vec=True
    )
    bulk_write(q2, path, ["vec_id"], write_timestamp_micros=2_000)

    a = {
        r.vec_id: r
        for r in read_bulk_table(spark, path, ["vec_id"]).collect()
    }
    compact_table(spark, path, ["vec_id"], num_partitions=2)
    assert len(committed_batches(path)) == 1
    after = read_bulk_table(spark, path, ["vec_id"])
    b = {r.vec_id: r for r in after.collect()}
    assert a.keys() == b.keys() and len(b) == 50
    for k in a:
        assert list(a[k].qvec) == list(b[k].qvec)
        assert a[k].embedding == b[k].embedding

    # every surviving row's codes reconstruct ITS OWN vector (winner
    # row rode LWW whole — no cross-write vec/code mixing)
    rec = dequantize_embeddings(
        after, code_col="qvec", out_col="__rec"
    ).select(
        F.max(
            F.aggregate(
                F.zip_with(
                    "embedding", "__rec", lambda x, y: F.abs(x - y)
                ),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            )
            / (F.col("embedding_scale") / 2)
        ).alias("worst")
    ).collect()[0]["worst"]
    assert rec <= 1.0 + 1e-9  # within the scheme's per-element bound


# -- one-pass compaction: invisible to readers, one scan, gate-flip arm --

T = 200_000_000  # micros: the one clock of every compaction and read below
HISTORY_SCHEMA = (
    "pk int, ck int, a int, b string, m map<string,int>, "
    "writetime long, ttl int, tombstone string"
)


def _history(seed, n=60):
    """A seeded table history over 3 partitions x 3 rows in 3 batches:
    full and partial upserts (NULL = cell not written), live and expired
    TTLs, and partition, row, ``cell:a`` and ``cell:m`` tombstones, each
    version with its own writetime. Partitions 3 and 4 hold deletions
    only (a ``cell:a`` tombstone, an expired row, a partition delete), so
    each of those shields alone decides what a later stale write shows."""
    import random

    rng = random.Random(seed)
    batches = [[], [], [
        (3, 0, None, None, None, 5_000, None, "cell:a"),
        (3, 1, 1, "e", None, 6_000, 1, None),
        (4, None, None, None, None, 7_000, None, "partition"),
    ]]
    for wt in rng.sample(range(1_000, 150_000_000, 1_000), n):
        pk, ck, r = rng.randrange(3), rng.randrange(3), rng.random()
        if r < 0.06:
            row = (pk, None, None, None, None, wt, None, "partition")
        elif r < 0.14:
            row = (pk, ck, None, None, None, wt, None, "row")
        elif r < 0.26:
            row = (pk, ck, None, None, None, wt, None, rng.choice(["cell:a", "cell:m"]))
        else:
            def maybe(v):
                return v if rng.random() < 0.7 else None

            # 1 s TTLs are long expired at T, 1e6 s TTLs are live
            ttl = rng.choice([None, None, None, 1, 1_000_000])
            row = (pk, ck, maybe(rng.randrange(100)), maybe(f"s{rng.randrange(9)}"),
                   maybe({"x": rng.randrange(5)}), wt, ttl, None)
        rng.choice(batches).append(row)
    return batches


def _write_history(spark, path, batches):
    for rows in batches:
        bulk_write(spark.createDataFrame(rows, HISTORY_SCHEMA), path, ["pk"], ["ck"])


def _rows(df):
    """A frame's rows as a sorted list of plain tuples (maps as sorted
    item tuples)."""
    def plain(v):
        return tuple(sorted(v.items())) if isinstance(v, dict) else v

    return sorted((tuple(plain(v) for v in r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("cell_lww", [False, True], ids=["row", "cell"])
def test_compaction_is_invisible_to_readers(spark, tmp_path, cell_lww):
    """Compacting (shields kept) changes nothing a reader sees at the
    compaction's clock, even after a stale re-ingest at writetime 0 to
    every row: each deletion kind's newest shield still shadows it."""
    import shutil

    stale = spark.createDataFrame(
        [(pk, ck, 7, "stale", {"x": 9}) for pk in range(6) for ck in range(3)],
        "pk int, ck int, a int, b string, m map<string,int>",
    )
    for seed in (1, 2):
        plain, compacted = str(tmp_path / f"plain{seed}"), str(tmp_path / f"compacted{seed}")
        _write_history(spark, plain, _history(seed))
        shutil.copytree(plain, compacted)
        compact_table(spark, compacted, ["pk"], ["ck"], cell_lww=cell_lww, now_micros=T)
        for path in (plain, compacted):
            bulk_write(stale, path, ["pk"], ["ck"], write_timestamp_micros=0)

        def read(path):
            return _rows(read_bulk_table(spark, path, ["pk"], ["ck"],
                                         cell_lww=cell_lww, now_micros=T))

        assert read(compacted) == read(plain), seed


@pytest.mark.parametrize("cell_lww", [False, True], ids=["row", "cell"])
def test_compaction_scans_the_table_once(
    spark, tmp_path, monkeypatch, py4j_calls, spark_jobs, cell_lww
):
    """The frame compact_table hands bulk_write reads every batch file
    once, shuffles once and unions nothing: the shields are rows of the
    merge. One compaction is the schema-merging read plus one write's
    jobs. (The shield branch this replaced scanned 3 times, shuffled
    twice, ran 2 Unions and 6 jobs.)"""
    from cassandra_analytics_spark.sinks import bulk_writer

    path = str(tmp_path / "tbl")
    _write_history(spark, path, _history(3))
    seen = {}
    write = bulk_writer.bulk_write

    def spy(df, *args, **kwargs):
        seen["py4j"] = n.count
        seen["plan"] = df._jdf.queryExecution().executedPlan().toString()
        return write(df, *args, **kwargs)

    monkeypatch.setattr(bulk_writer, "bulk_write", spy)
    with spark_jobs() as jobs, py4j_calls() as n:
        compact_table(spark, path, ["pk"], ["ck"], cell_lww=cell_lww, now_micros=T)
    plan = seen["plan"]
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Union" not in plan, plan
    assert jobs.count <= 5, jobs.count
    assert seen["py4j"] <= 150, seen["py4j"]


def test_scan_paths_gate_flip_arm(spark, tmp_path, monkeypatch):
    """``_scan_paths`` hands Spark whole batch dirs when they hold
    exactly their listed files; forced to hand it the listed files
    instead, both readers' rows and the compacted batch are unchanged."""
    import shutil

    from cassandra_analytics_spark.sinks import bulk_writer

    path = str(tmp_path / "tbl")
    _write_history(spark, path, _history(4))
    copies = {arm: str(tmp_path / arm) for arm in ("dirs", "files")}
    for copy in copies.values():
        shutil.copytree(path, copy)

    def arm_rows(table):
        reads = [
            _rows(read_bulk_table(spark, table, ["pk"], ["ck"], cell_lww=cell, now_micros=T))
            for cell in (False, True)
        ]
        compact_table(spark, table, ["pk"], ["ck"], now_micros=T)
        return reads, _rows(read_bulk_table(spark, table, ["pk"], ["ck"], merge=False))

    assert bulk_writer._scan_paths(bulk_writer._data_files(path)) == committed_batches(path)
    default = arm_rows(copies["dirs"])
    monkeypatch.setattr(bulk_writer, "_scan_paths", lambda files: list(files))
    assert arm_rows(copies["files"]) == default
