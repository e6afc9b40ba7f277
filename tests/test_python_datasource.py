"""Pluggable-format source: spark.read.format("cassandra_bulk")."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cassandra_analytics_spark.operators.merge import compaction_merge
from cassandra_analytics_spark.sinks.bulk_writer import bulk_write
from cassandra_analytics_spark.sources.python_datasource import register


@pytest.fixture(scope="module")
def bulk_table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ds") / "tbl")
    df = spark.createDataFrame(
        [Row(pk=i % 20, ck=i, val=f"v{i}") for i in range(500)]
    )
    bulk_write(df, path, ["pk"], ["ck"], write_timestamp_micros=1_000)
    bulk_write(
        spark.createDataFrame([Row(pk=0, ck=0, val="updated")]),
        path, ["pk"], ["ck"], write_timestamp_micros=2_000,
    )
    register(spark)
    return path


def _load(spark, path, **options):
    reader = spark.read.format("cassandra_bulk").option("path", path).option(
        "partition_keys", "pk"
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def test_format_read_all(spark, bulk_table):
    df = _load(spark, bulk_table)
    assert df.count() == 501  # raw multi-version rows across batches
    assert {"pk", "ck", "val", "writetime"} <= set(df.columns)


def test_format_plus_merge(spark, bulk_table):
    raw = _load(spark, bulk_table)
    merged = compaction_merge(raw, ["pk"], ["ck"])
    assert merged.count() == 500
    assert merged.filter("pk = 0 and ck = 0").collect()[0].val == "updated"


def test_full_pk_filter_pushdown(spark, bulk_table):
    df = _load(spark, bulk_table).filter(F.col("pk") == 3)
    rows = df.collect()
    assert len(rows) == 25  # 500/20 per pk
    assert all(r.pk == 3 for r in rows)


def test_in_list_pushdown(spark, bulk_table):
    df = _load(spark, bulk_table).filter(F.col("pk").isin(1, 2))
    assert df.count() == 50


def test_format_write_then_read(spark, tmp_path):
    register(spark)
    path = str(tmp_path / "wtbl")
    df = spark.createDataFrame([Row(pk=i, val=f"v{i}") for i in range(100)])
    (
        df.write.format("cassandra_bulk")
        .mode("append")
        .option("path", path)
        .option("write_timestamp_micros", "1000")
        .save()
    )
    # second append updates a key; LWW merge resolves on read
    (
        spark.createDataFrame([Row(pk=5, val="updated")])
        .write.format("cassandra_bulk")
        .mode("append")
        .option("path", path)
        .option("write_timestamp_micros", "2000")
        .save()
    )
    from cassandra_analytics_spark.sinks.bulk_writer import (
        read_bulk_table,
        verify_digests,
        committed_batches,
    )

    out = read_bulk_table(spark, path, ["pk"])
    got = {r.pk: r.val for r in out.collect()}
    assert len(got) == 100 and got[5] == "updated"
    for b in committed_batches(path):
        assert verify_digests(b)


def test_format_write_overwrite_rejected(spark, tmp_path):
    register(spark)
    df = spark.createDataFrame([Row(pk=1, val="x")])
    with pytest.raises(Exception, match="append-only"):
        (
            df.write.format("cassandra_bulk")
            .mode("overwrite")
            .option("path", str(tmp_path / "t"))
            .save()
        )


def test_partial_pk_guard(spark, bulk_table):
    strict = _load(spark, bulk_table, require_full_pk="true")
    with pytest.raises(Exception, match="partition-key"):
        strict.filter(F.col("ck") == 1).collect()


def test_orphan_task_file_not_published(spark, tmp_path):
    """A speculative/retried task's orphan file (present in staging,
    absent from every WriterCommitMessage) must not reach the published
    batch nor be read back."""
    import json
    import os

    from cassandra_analytics_spark.sinks.bulk_writer import _data_files
    from cassandra_analytics_spark.sources.python_datasource import (
        CassandraBulkWriter,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("k", LongType()), StructField("v", StringType())]
    )
    path = str(tmp_path / "tbl")
    os.makedirs(path)
    writer = CassandraBulkWriter(
        {"path": path, "write_timestamp_micros": "1000"}, schema
    )

    from pyspark.sql import Row

    msg = writer.write(iter([Row(k=1, v="a"), Row(k=2, v="b")]))
    # simulate the zombie attempt: an extra parquet lands in staging but
    # its commit message is lost
    orphan = os.path.join(writer.staging, "part-orphan.parquet")
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": [1], "v": ["dup"], "writetime": [999]}), orphan)
    writer.commit([msg])

    batch_dir = os.path.join(path, writer.batch_id)
    assert not os.path.exists(os.path.join(batch_dir, "part-orphan.parquet"))
    with open(os.path.join(batch_dir, "_manifest.json")) as f:
        manifest = json.load(f)
    assert list(manifest["files"]) == [msg.file_name]
    assert [os.path.basename(p) for p in _data_files(path)] == [msg.file_name]


def test_snapshot_option_point_in_time(spark, bulk_table):
    """snapshot=<first batch id> hides the second batch (snapshotName
    analog: read a fixed point in time)."""
    from cassandra_analytics_spark.sinks.bulk_writer import committed_batches
    import os

    first = os.path.basename(committed_batches(bulk_table)[0])
    df = _load(spark, bulk_table, snapshot=first)
    assert df.count() == 500  # the pk=0 update batch is invisible
    assert df.filter("pk = 0 and ck = 0").collect()[0].val == "v0"


def test_last_modified_column_name(spark, bulk_table):
    df = _load(spark, bulk_table, last_modified_column_name="lmt")
    assert dict(df.dtypes)["lmt"] == "timestamp"
    import datetime as dt

    rows = df.filter("pk = 0 and ck = 0").collect()
    got = {(r.val, r.lmt) for r in rows}
    epoch = dt.datetime(1970, 1, 1)
    assert got == {
        ("v0", epoch + dt.timedelta(microseconds=1_000)),
        ("updated", epoch + dt.timedelta(microseconds=2_000)),
    }


def test_parallelism_options_split_row_groups(spark, bulk_table):
    """default_parallelism × num_cores above the file count splits scan
    partitions at row-group boundaries without changing results."""
    base = _load(spark, bulk_table)
    split = _load(
        spark, bulk_table, default_parallelism="8", num_cores="2"
    )
    assert split.count() == base.count()
    assert sorted(r.ck for r in split.filter("pk = 3").collect()) == sorted(
        r.ck for r in base.filter("pk = 3").collect()
    )
    assert split.rdd.getNumPartitions() >= base.rdd.getNumPartitions()


def test_parallelism_options_pack_files(spark, bulk_table):
    """Target below the file count packs token-adjacent files together."""
    packed = _load(spark, bulk_table, default_parallelism="2", num_cores="1")
    assert packed.rdd.getNumPartitions() <= 2
    assert packed.count() == 501


def test_format_write_ttl_option(spark, tmp_path):
    """ttl_seconds on the format writer: expired rows vanish on merged
    read (W6 parity with bulk_write's ttl_seconds)."""
    register(spark)
    path = str(tmp_path / "ttl_tbl")
    (
        spark.createDataFrame([Row(pk=1, val="ephemeral")])
        .write.format("cassandra_bulk")
        .mode("append")
        .option("path", path)
        .option("write_timestamp_micros", "1000000")  # t = 1s epoch
        .option("ttl_seconds", "10")
        .save()
    )
    (
        spark.createDataFrame([Row(pk=2, val="durable")])
        .write.format("cassandra_bulk")
        .mode("append")
        .option("path", path)
        .option("write_timestamp_micros", "1000000")
        .save()
    )
    from cassandra_analytics_spark.sinks.bulk_writer import read_bulk_table

    # read "now" (far after 1s + 10s TTL): the TTL'd row is gone
    out = read_bulk_table(spark, path, ["pk"])
    assert {r.pk: r.val for r in out.collect()} == {2: "durable"}
    # read before expiry: both visible
    early = read_bulk_table(spark, path, ["pk"], now_micros=5_000_000)
    assert {r.pk for r in early.collect()} == {1, 2}


def test_read_table_with_tombstone_batch(spark, bulk_table):
    """A DELETE_PARTITION batch carries only pk + system columns; reading
    the table must null-fill those rows to the unified schema instead of
    yielding record batches narrower than the declared source schema."""
    from cassandra_analytics_spark.sinks.bulk_writer import WriteMode

    bulk_write(
        spark.createDataFrame([Row(pk=19)]), bulk_table, ["pk"],
        mode=WriteMode.DELETE_PARTITION, write_timestamp_micros=3_000,
    )
    df = _load(spark, bulk_table)
    rows = df.filter("tombstone is not null").collect()
    assert len(rows) == 1
    assert rows[0].pk == 19 and rows[0].ck is None and rows[0].val is None


def test_empty_table_reads_empty_via_manifest_schema(spark, tmp_path):
    """A table whose only batch holds zero data files (compaction of a
    fully-deleted table) reads back EMPTY through the format — schema
    reconstructed from the manifest, no parquet inference failure."""
    from cassandra_analytics_spark.sinks.bulk_writer import (
        WriteMode,
        compact_table,
    )

    path = str(tmp_path / "t")
    bulk_write(
        spark.createDataFrame([Row(pk=1, v="x")]), path, ["pk"],
        write_timestamp_micros=1_000,
    )
    bulk_write(
        spark.createDataFrame([Row(pk=1)]), path, ["pk"],
        mode=WriteMode.DELETE_PARTITION, write_timestamp_micros=2_000,
    )
    compact_table(spark, path, ["pk"], purge_tombstones=True)
    register(spark)
    df = _load(spark, path, partition_keys="pk")
    assert df.count() == 0
    assert "pk" in df.columns and "v" in df.columns


def test_reference_spelled_options_are_honored(spark, bulk_table):
    """Spark lowercases option keys; the reference's camelCase spellings
    (ClientConfig.java:48-83) must resolve through the alias table — a
    silently-ignored snapshotName would read the WHOLE table instead of
    the requested snapshot (round-6 adversarial review)."""
    import os

    from cassandra_analytics_spark.sinks.bulk_writer import committed_batches

    first_batch = os.path.basename(committed_batches(bulk_table)[0])
    snap = _load(spark, bulk_table, snapshotName=first_batch)
    assert snap.count() == 500  # second batch (the update) not visible

    lmt = _load(spark, bulk_table, lastModifiedColumnName="lm")
    assert "lm" in lmt.columns

    split = _load(spark, bulk_table, defaultParallelism="4", numCores="2")
    # same rows as the default-options read (other tests may have
    # appended batches to the module-scoped table), just more partitions
    assert split.count() == _load(spark, bulk_table).count()
    assert split.rdd.getNumPartitions() > 2


def test_format_writer_normalizes_system_column_types(spark, tmp_path):
    """A caller-supplied int-typed writetime (or long-typed ttl) through
    the format writer must land as long/int parquet, exactly like the
    JVM path — otherwise the first later batch makes the table
    unreadable (mergeSchema and unify_schemas both refuse INT vs
    BIGINT; reproduced before the fix)."""
    from cassandra_analytics_spark.sinks.bulk_writer import read_bulk_table

    path = str(tmp_path / "t")
    # ttl stays NULL: an int32 writetime is necessarily ancient (micros
    # don't fit), so any live TTL would mark the row expired at read
    df = spark.createDataFrame(
        [(1, "a", 100, None)], "id int, v string, writetime int, ttl long"
    )
    df.write.format("cassandra_bulk").option("path", path).mode("append").save()
    bulk_write(
        spark.createDataFrame([(2, "b")], "id int, v string"),
        path, ["id"], write_timestamp_micros=200,
    )
    register(spark)
    rows = {r.id: r.v for r in read_bulk_table(spark, path, ["id"]).collect()}
    assert rows == {1: "a", 2: "b"}
    ds = spark.read.format("cassandra_bulk").option("path", path).load()
    assert ds.count() == 2
    wt_field = {f.name: f.dataType.simpleString() for f in ds.schema.fields}
    assert wt_field["writetime"] == "bigint"
    assert wt_field["ttl"] == "int"


def test_format_writer_manifest_carries_schema(spark, tmp_path):
    """The format writer's manifest records the physical schema (system
    columns normalized), matching the JVM manifest contract that keeps
    file-less batches readable."""
    import json
    import os

    from cassandra_analytics_spark.sinks.bulk_writer import committed_batches

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id int, v string").write.format(
        "cassandra_bulk"
    ).option("path", path).option("ttl", "60").mode("append").save()
    batch = committed_batches(path)[0]
    with open(os.path.join(batch, "_manifest.json")) as f:
        manifest = json.load(f)
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(manifest["schema"])
    fields = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert fields == {"id": "int", "v": "string", "writetime": "bigint", "ttl": "int"}


def test_writer_ttl_alias_and_require_full_pk_guard(spark, tmp_path, bulk_table):
    """WriterOptions TTL/TIMESTAMP spellings reach the writer; and
    require_full_pk without partition_keys is a config error, not a
    silent no-op."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id int, v string").write.format(
        "cassandra_bulk"
    ).option("path", path).option("timestamp", "12345").option(
        "ttl", "60"
    ).mode("append").save()
    register(spark)
    row = spark.read.format("cassandra_bulk").option("path", path).load().first()
    assert row.writetime == 12345 and row.ttl == 60

    with pytest.raises(Exception, match="require_full_pk"):
        (
            spark.read.format("cassandra_bulk")
            .option("path", bulk_table)
            .option("require_full_pk", "true")
            .load()
            .count()
        )


def test_writer_per_row_timestamp_and_ttl_columns(spark, tmp_path):
    """WriterOptions parity (TTLOption/TimestampOption.from): a
    non-integer option value names a per-row source COLUMN, which is
    consumed into the system column instead of written as table data;
    per-row ttl 0 means forever (NULL), not instant expiry."""
    from cassandra_analytics_spark.sinks.bulk_writer import read_bulk_table

    path = str(tmp_path / "t")
    now_us = 1_700_000_000_000_000  # far in the past, so any live TTL expired
    df = spark.createDataFrame(
        [
            (1, "old", now_us - 10, 0),   # per-row ttl 0 -> forever
            (1, "new", now_us, 0),
            (2, "dead", now_us, 1),       # 1s ttl, long expired
        ],
        "id int, v string, event_wt long, row_ttl int",
    )
    (
        df.write.format("cassandra_bulk")
        .option("path", path)
        .option("timestamp", "event_wt")
        .option("ttl", "row_ttl")
        .mode("append")
        .save()
    )
    raw = read_bulk_table(spark, path, ["id"], merge=False)
    # source columns consumed, system columns present
    assert "event_wt" not in raw.columns and "row_ttl" not in raw.columns
    assert {"writetime", "ttl"} <= set(raw.columns)
    merged = {r.id: r.v for r in read_bulk_table(spark, path, ["id"]).collect()}
    # LWW honored per-row timestamps; ttl-0 row lives, 1s-ttl row expired
    assert merged == {1: "new"}


def test_writer_constant_ttl_zero_means_forever(spark, tmp_path):
    from cassandra_analytics_spark.sinks.bulk_writer import read_bulk_table

    path = str(tmp_path / "t")
    (
        spark.createDataFrame([(1, "x")], "id int, v string")
        .write.format("cassandra_bulk")
        .option("path", path)
        .option("timestamp", "100")  # ancient writetime
        .option("ttl", "0")
        .mode("append")
        .save()
    )
    out = read_bulk_table(spark, path, ["id"]).collect()
    assert [r.v for r in out] == ["x"]  # alive: TTL 0 = no expiry
    assert "ttl" not in read_bulk_table(spark, path, ["id"], merge=False).columns


def test_writer_option_naming_missing_column_fails(spark, tmp_path):
    path = str(tmp_path / "t")
    with pytest.raises(Exception, match="not in the DataFrame schema"):
        (
            spark.createDataFrame([(1, "x")], "id int, v string")
            .write.format("cassandra_bulk")
            .option("path", path)
            .option("timestamp", "no_such_column")
            .mode("append")
            .save()
        )


def test_ttl_zero_in_dataframe_column_means_forever_on_format_path(spark, tmp_path):
    """Parity with the JVM path: a DataFrame's own ttl column value of 0
    means forever (NULL), not instant expiry, with NO ttl option given."""
    from cassandra_analytics_spark.sinks.bulk_writer import read_bulk_table

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "forever", 100, 0), (2, "dead", 100, 1)],
        "id int, v string, writetime long, ttl int",
    )
    df.write.format("cassandra_bulk").option("path", path).mode("append").save()
    rows = {r.id: r.v for r in read_bulk_table(spark, path, ["id"]).collect()}
    assert rows == {1: "forever"}  # ttl-0 row lives; 1s-ttl row expired


def test_explicit_constant_timestamp_overrides_writetime_column(spark, tmp_path):
    """Parity with the JVM path: an EXPLICIT constant timestamp option
    wins over a DataFrame writetime column (the column is used only
    when no constant is given)."""
    from cassandra_analytics_spark.sinks.bulk_writer import read_bulk_table

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "x", 999_999)], "id int, v string, writetime long"
    )
    (
        df.write.format("cassandra_bulk")
        .option("path", path)
        .option("timestamp", "123456")
        .mode("append")
        .save()
    )
    raw = read_bulk_table(spark, path, ["id"], merge=False)
    assert [r.writetime for r in raw.collect()] == [123456]


def test_degenerate_options_fail_loudly(spark, bulk_table):
    """Round-8 continuation probe batch: every degenerate option used to
    fail deep inside the source with a context-free error — or worse,
    silently change what was read (a malformed snapshot id read the WHOLE
    table because the lexicographic cut sorts above 'batch-'; a negative
    constant TTL instant-expired every row at merge time)."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    # missing path: named error, not KeyError('path')
    with pytest.raises(Exception, match="needs .option\\('path'"):
        spark.read.format("cassandra_bulk").load().count()
    # malformed snapshot: loud, names the expected shape
    with pytest.raises(Exception, match="starting with 'batch-'"):
        _load(spark, bulk_table, snapshot="zzz").count()
    # negative constant TTL: rejected at writer construction
    with pytest.raises(Exception, match="ttl must be >= 0"):
        (
            spark.createDataFrame([Row(pk=1, ck=1, val="x")])
            .write.format("cassandra_bulk")
            .option("path", bulk_table)
            .option("ttl", "-5")
            .mode("append")
            .save()
        )
    # non-integer parallelism: names the option
    with pytest.raises(Exception, match="'default_parallelism' must be an integer"):
        _load(spark, bulk_table, default_parallelism="lots").count()


def test_spaced_partition_keys_still_push_down(spark, bulk_table):
    """'pk1, pk2' with a space used to disable pushdown silently AND make
    require_full_pk reject fully-pinned scans (round-8 continuation
    probe): option values are now stripped."""
    from pyspark.sql import functions as F

    df = (
        spark.read.format("cassandra_bulk")
        .option("path", bulk_table)
        .option("partition_keys", " pk ")
        .option("require_full_pk", "true")
        .load()
        .filter(F.col("pk") == 3)
    )
    assert df.count() == 25


def test_read_bulk_table_as_of_batch_validated(spark, bulk_table):
    """The JVM path shares the snapshot-shape check (a bogus id used to
    silently read everything)."""
    from cassandra_analytics_spark.sinks.bulk_writer import read_bulk_table

    with pytest.raises(ValueError, match="starting with 'batch-'"):
        read_bulk_table(spark, bulk_table, ["pk"], ["ck"], as_of_batch="zzz")
    # a prefix cut above every batch still works and equals the unfiltered
    # read (the module fixture accumulates batches across tests, so the
    # comparison is relative, not an absolute row count)
    n_all = read_bulk_table(spark, bulk_table, ["pk"], ["ck"]).count()
    n = read_bulk_table(
        spark, bulk_table, ["pk"], ["ck"], as_of_batch="batch-9999999999999"
    ).count()
    assert n == n_all


def test_orphan_parquet_read_by_neither_reader(spark, tmp_path):
    """Both readers follow the one file-list rule (the manifest): an
    unlisted parquet copied into a committed batch — a newer version of a
    row, so reading it would change the merged result — changes the rows
    of neither ``read_bulk_table`` nor the ``cassandra_bulk`` source, and
    ``verify_digests`` still reports the batch as tampered."""
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from cassandra_analytics_spark.sinks.bulk_writer import (
        committed_batches,
        read_bulk_table,
        verify_digests,
    )

    path = str(tmp_path / "tbl")
    bulk_write(
        spark.createDataFrame([Row(pk=i % 3, ck=i, val=f"v{i}") for i in range(12)]),
        path, ["pk"], ["ck"], write_timestamp_micros=1_000,
    )
    register(spark)

    def snapshot():
        return (
            sorted(read_bulk_table(spark, path, ["pk"], ["ck"]).collect()),
            sorted(read_bulk_table(spark, path, ["pk"], ["ck"], merge=False).collect()),
            sorted(_load(spark, path).collect()),
        )

    before = snapshot()
    (batch,) = committed_batches(path)
    data = sorted(f for f in os.listdir(batch) if f.endswith(".parquet"))[0]
    table = pq.read_table(os.path.join(batch, data))
    table = table.set_column(
        table.schema.get_field_index("val"), "val",
        pc.binary_join_element_wise(table["val"], "-orphan", ""),
    ).set_column(
        table.schema.get_field_index("writetime"), "writetime",
        pc.add(table["writetime"], 1_000),
    )
    pq.write_table(table, os.path.join(batch, "part-orphan.parquet"))

    assert snapshot() == before
    assert before[0] and len(before[1]) == 12
    assert verify_digests(batch) is False
