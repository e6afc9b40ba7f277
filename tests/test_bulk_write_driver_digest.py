"""The bulk writer's driver-side digest and plan-build cost.

``_stage_batch`` digests and row-counts the staged files on the driver,
so a write runs the range-sampling, shuffle map and write jobs and
nothing else; a coordinated write copies and digests its replicas on the
driver too; ``_prepare_batch_df`` builds its plan from one SQL
statement.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.errors import AnalysisException

from cassandra_analytics_spark.functions.tokens import token_column, token_sql
from cassandra_analytics_spark.sinks.bulk_writer import (
    BulkWriteError,
    _prepare_batch_df,
    _staged_file_meta,
    bulk_write,
    committed_batches,
    coordinated_bulk_write,
    verify_digests,
)

# bulk_table-shaped: composite partition key, a clustering key, 8 value
# columns (one a map), per-row writetime, TTLs and tombstones
BULK_SCHEMA = (
    "tenant string, bucket int, seq int, name string, city string, "
    "score double, qty int, active boolean, price double, note string, "
    "attrs map<string,int>, writetime long, ttl int, tombstone string"
)


def _bulk_frame(spark, n=400):
    return spark.range(n).selectExpr(
        "concat('t', CAST(id % 7 AS STRING)) AS tenant",
        "CAST(id % 3 AS INT) AS bucket",
        "CAST(id AS INT) AS seq",
        "concat('n', CAST(id AS STRING)) AS name",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE 'c' END AS city",
        "id * 0.5D AS score",
        "CAST(id % 11 AS INT) AS qty",
        "id % 2 = 0 AS active",
        "id * 1.25D AS price",
        "CAST(NULL AS STRING) AS note",
        "map('a', CAST(id % 4 AS INT), 'b', 1) AS attrs",
        "1000 + id AS writetime",
        "CASE WHEN id % 9 = 0 THEN 60 END AS ttl",
        "CASE WHEN id % 13 = 0 THEN 'row' END AS tombstone",
    )


def test_manifest_lists_the_staged_files(spark, tmp_path):
    """The driver's manifest holds each committed file's size and digest,
    and its row count is the files' footer row counts summed."""
    res = bulk_write(
        _bulk_frame(spark), str(tmp_path / "tbl"), ["tenant", "bucket"], ["seq"],
        write_timestamp_micros=5_000, num_partitions=4,
    )
    assert verify_digests(res.batch_dir)
    paths = [
        os.path.join(res.batch_dir, f)
        for f in os.listdir(res.batch_dir)
        if f.endswith(".parquet")
    ]
    assert len(paths) > 1
    metas = [_staged_file_meta(p, "md5") for p in paths]
    with open(res.manifest_path) as f:
        manifest = json.load(f)
    assert manifest["files"] == {name: entry for name, entry, _ in metas}
    assert all(list(entry) == ["bytes", "md5"] for entry in manifest["files"].values())
    assert manifest["num_rows"] == res.num_rows == sum(rows for _, _, rows in metas) == 400


def test_bulk_write_runs_three_jobs(spark, tmp_path, spark_jobs):
    """Range sampling, the shuffle map stage and the parquet write, and
    no (Python-worker) digest job."""
    df = _bulk_frame(spark)
    with spark_jobs() as jobs:
        res = bulk_write(
            df, str(tmp_path / "tbl"), ["tenant", "bucket"], ["seq"],
            write_timestamp_micros=5_000,
        )
    assert res.num_rows == 400
    assert jobs.count <= 3


@pytest.mark.parametrize("gate", [{}, {"consistency": "QUORUM", "rf": 3}],
                         ids=["plain", "cl_gated"])
def test_coordinated_write_runs_one_writes_jobs(spark, tmp_path, spark_jobs, gate):
    """A 3-target coordinated write copies and digests its replicas on
    the driver: it runs the jobs of one bulk_write and no copy job."""
    df = _bulk_frame(spark)
    targets = [str(tmp_path / f"t{i}") for i in range(3)]
    with spark_jobs() as jobs:
        results = coordinated_bulk_write(
            df, targets, ["tenant", "bucket"], ["seq"],
            write_timestamp_micros=5_000, **gate,
        )
    assert len(results) == 3
    assert all(r.num_rows == 400 and verify_digests(r.batch_dir) for r in results)
    assert jobs.count <= 3


def _corrupt_copies_into(monkeypatch, bad_dir):
    """Make every parquet copy into ``bad_dir`` land one byte longer."""
    real = shutil.copyfile

    def copyfile(src, dst, *args, **kwargs):
        out = real(src, dst, *args, **kwargs)
        if dst.endswith(".parquet") and dst.startswith(bad_dir):
            with open(dst, "ab") as f:
                f.write(b"\0")
        return out

    monkeypatch.setattr(shutil, "copyfile", copyfile)


def test_replica_digest_mismatch_aborts_every_target(spark, tmp_path, monkeypatch):
    """Without a CL gate a replica whose digest differs aborts the write:
    no target publishes the batch."""
    targets = [str(tmp_path / f"t{i}") for i in range(3)]
    _corrupt_copies_into(monkeypatch, targets[2])
    with pytest.raises(BulkWriteError, match="replica digest mismatch"):
        coordinated_bulk_write(
            _bulk_frame(spark, 40), targets, ["tenant", "bucket"], ["seq"],
            write_timestamp_micros=5_000,
        )
    assert all(committed_batches(t) == [] for t in targets)
    assert all(os.listdir(t) == [] for t in targets if os.path.isdir(t))


def test_replica_digest_mismatch_is_an_instance_failure(spark, tmp_path, monkeypatch):
    """Under a CL gate a replica whose digest differs fails its target
    only: QUORUM of rf=3 commits on the other two."""
    targets = [str(tmp_path / f"t{i}") for i in range(3)]
    _corrupt_copies_into(monkeypatch, targets[1])
    results = coordinated_bulk_write(
        _bulk_frame(spark, 40), targets, ["tenant", "bucket"], ["seq"],
        write_timestamp_micros=5_000, consistency="QUORUM", rf=3,
    )
    assert sorted(os.path.dirname(r.batch_dir) for r in results) == [targets[0], targets[2]]
    assert all(verify_digests(r.batch_dir) for r in results)
    assert committed_batches(targets[1]) == []


def test_prepare_batch_df_py4j_round_trips(spark, py4j_calls):
    """Building the W1/W2 plan is a handful of JVM round trips; the
    Column-DSL build made ~300 here."""
    df = spark.createDataFrame([], BULK_SCHEMA)
    df.schema  # the input's own schema fetch is not part of the build
    with py4j_calls() as n:
        out, _, _ = _prepare_batch_df(
            df, ["tenant", "bucket"], ["seq"], "append", None, None, None, None, "append"
        )
    assert n.count <= 60, n.count
    assert out.columns == df.columns


def test_prepare_batch_df_leaves_no_temp_view(spark):
    """The plan's temporary view is dropped once the plan is built, and
    after a build that fails."""
    def views():
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("__bulk_write")}

    before = views()
    df = _bulk_frame(spark, 10)
    _prepare_batch_df(df, ["tenant"], ["seq"], "append", None, 1, None, 2, "append")
    bad = spark.range(3).selectExpr("id AS k", "map(id, id) AS m", "1 AS writetime")
    with pytest.raises(AnalysisException):
        # a map column cannot be hashed into a token nor sorted on
        _prepare_batch_df(bad, ["m"], [], "append", None, 1, None, 2, "append")
    assert views() == before


def test_bulk_write_keeps_the_callers_cache(spark, tmp_path):
    """Dropping the plan's temporary view leaves a cached input cached."""
    df = _bulk_frame(spark, 50).cache()
    try:
        df.count()
        bulk_write(df, str(tmp_path / "tbl"), ["tenant", "bucket"], ["seq"],
                   write_timestamp_micros=5_000)
        assert df.storageLevel.useMemory
    finally:
        df.unpersist()


def test_disabled_hints_are_refused(spark):
    """The token range exchange is a SQL hint, which
    spark.sql.optimizer.disableHints would drop without a word: the
    build refuses that setting instead of writing unranged files."""
    key = "spark.sql.optimizer.disableHints"
    old = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        with pytest.raises(BulkWriteError, match=key):
            _prepare_batch_df(
                _bulk_frame(spark, 10), ["tenant"], ["seq"], "append", None, 1, None, 3, "append"
            )
    finally:
        spark.conf.set(key, old)
    out, _, _ = _prepare_batch_df(
        _bulk_frame(spark, 10), ["tenant"], ["seq"], "append", None, 1, None, 3, "append"
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression [__token" in plan, plan


def test_token_sql_is_token_column(spark):
    df = spark.range(50).selectExpr("CAST(id AS STRING) AS a", "CAST(id % 3 AS INT) AS b")
    via_sql = df.selectExpr(f"{token_sql('a', 'b')} AS t").collect()
    via_col = df.select(token_column(df["a"], df["b"]).alias("t")).collect()
    assert via_sql == via_col
