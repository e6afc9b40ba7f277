"""Queries exercising the reference's own operators (SURVEY §2.1) over the
driver fixtures: LWW merge (M1), last-modified-timestamp (M5), partition-size
analytics (S3), token-range planning (M4/F2).

The ``events`` table plays the multi-version cell store: (user_id,
event_type) is the primary key, ``ts`` the write-timestamp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_analytics_spark.catalog import load_table
from cassandra_analytics_spark.functions.tokens import token_column
from cassandra_analytics_spark.operators.merge import (
    last_modified_timestamp,
    latest_by_key,
)
from cassandra_analytics_spark.operators.partition_stats import partition_sizes
from cassandra_analytics_spark.queries import query
from cassandra_analytics_spark.queries._util import dsum, dsum_sql, scratch_dir


@query(
    "lww_latest_events",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value FROM (
        SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    doc="M1 compaction-merge analog: last-write-wins row per primary key "
    "(CompactionStreamScanner.java:117-131 semantics, one window shuffle).",
)
def lww_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return latest_by_key(
        e, keys=["user_id", "event_type"], order_col="ts", tiebreakers=["event_id"]
    ).select("user_id", "event_type", "event_id", "ts", "value")


@query(
    "lww_partial_upsert",
    oracle="""
    SELECT user_id, event_type,
           arg_max(amount, event_id) FILTER (WHERE amount IS NOT NULL) AS amount,
           arg_max(tag, event_id) FILTER (WHERE tag IS NOT NULL) AS tag,
           MAX(event_id) AS wt
    FROM (
        SELECT user_id, event_type, event_id,
               CASE WHEN event_id % 3 <> 0 THEN value END AS amount,
               CASE WHEN event_id % 2 = 0
                    THEN event_type || '-' || CAST(event_id % 7 AS VARCHAR) END AS tag
        FROM events
    ) v
    GROUP BY user_id, event_type
    """,
    doc="M1 per-CELL last-write-wins (partial-row upserts): each version "
    "writes a subset of columns (NULL = not written); every column "
    "independently keeps its max-writetime cell, so an upsert that wrote "
    "only `tag` at t2 does not null out `amount` from t1 "
    "(SparkCellIterator.java:204-231, EndToEndTests.java:789,831). "
    "Physically a single hash aggregation of max_by — one shuffle with "
    "map-side combine; versions collapse before the exchange at 100 TB.",
)
def lww_partial_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_spark.operators.merge import compaction_merge

    e = load_table(spark, sf_dir, "events")
    # Derive a deterministic multi-version fixture: event_id is the unique
    # write-timestamp; each version writes `amount` only when id%3!=0 and
    # `tag` only when id%2==0 — partial upserts by construction.
    versions = e.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("wt"),
        F.when(F.col("event_id") % 3 != 0, F.col("value")).alias("amount"),
        F.when(
            F.col("event_id") % 2 == 0,
            F.concat_ws("-", "event_type", (F.col("event_id") % 7).cast("string")),
        ).alias("tag"),
    )
    return compaction_merge(
        versions,
        partition_keys=["user_id"],
        clustering_keys=["event_type"],
        writetime_col="wt",
        ttl_col=None,
        tombstone_col=None,
        cell_lww=True,
        keep_writetime=True,
    )


@query(
    "lmt_last_modified",
    oracle="""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
           MAX(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id)
               AS last_modified_timestamp
    FROM events
    """,
    doc="M5 lastModifiedColumnName feature: max write-timestamp per partition "
    "appended as a column (LastModifiedTimestampDecorator.java:27-67).",
)
def lmt_last_modified(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return last_modified_timestamp(
        e, partition_keys=["user_id"], writetime_col="ts"
    ).select("event_id", "user_id", "ts", "last_modified_timestamp")


@query(
    "bulk_write_roundtrip",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="S4/W1-W4 + S2 end-to-end: orders flow through the full bulk-write "
    "pipeline (validate -> token -> repartitionByRange+sort -> sized files "
    "-> md5 manifest -> atomic rename commit) into a scratch table dir, "
    "read back through the committed-batch reader + LWW merge, then "
    "aggregated; the oracle aggregates the source directly, so any row "
    "lost, duplicated, or corrupted by the writer/reader breaks the hash "
    "(the reference's write-then-read-back Tester.java pattern).",
)
def bulk_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_spark.sinks.bulk_writer import (
        bulk_write,
        read_bulk_table,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("cas_bulk_roundtrip_") as path:
        bulk_write(
            o,
            path,
            partition_keys=["o_orderkey"],
            write_timestamp_micros=1_000_000,
            num_partitions=8,
        )
        back = read_bulk_table(spark, path, partition_keys=["o_orderkey"])
        return (
            back.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                dsum(F.col("o_totalprice")).alias("total_price"),
            )
            .orderBy("o_orderstatus")
            # materialize the tiny aggregate so the scratch table can be
            # deleted now instead of leaking a full orders copy per run
            .localCheckpoint(eager=True)
        )


@query(
    "coordinated_write_roundtrip",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="Coordinated multi-target write end-to-end "
    "(bulkwriter/coordinatedwrite/CassandraCoordinatedBulkWriterContext.java, "
    "CoordinatedWriteConf.java): one DataFrame bulk-written to TWO table "
    "paths in a single job with an all-or-nothing joint commit, both "
    "replicas read back through the committed-batch reader, aggregated "
    "independently, and inner-joined on every aggregate column — a row "
    "survives only where the replicas agree, so any divergence between "
    "targets (or from the source) breaks the row count and hash.",
)
def coordinated_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_spark.sinks.bulk_writer import (
        coordinated_bulk_write,
        read_bulk_table,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("cas_coord_roundtrip_") as root:
        targets = [f"{root}/cluster_a", f"{root}/cluster_b"]
        coordinated_bulk_write(
            o,
            targets,
            partition_keys=["o_orderkey"],
            write_timestamp_micros=1_000_000,
            num_partitions=8,
        )

        def agg(path: str) -> DataFrame:
            back = read_bulk_table(spark, path, partition_keys=["o_orderkey"])
            return back.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n_orders"),
                dsum(F.col("o_totalprice")).alias("total_price"),
            )

        return (
            agg(targets[0])
            .join(agg(targets[1]), ["o_orderstatus", "n_orders", "total_price"])
            .orderBy("o_orderstatus")
            # materialize so both replica copies can be deleted now
            .localCheckpoint(eager=True)
        )


@query(
    "cell_pivot_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority
    FROM orders
    """,
    doc="M2 cell->row pivot end-to-end: rows explode into the sparse "
    "timestamped cell stream (one cell per non-null column + row marker, "
    "rows_to_cells) and pivot back via groupBy+pivot with per-cell "
    "max_by LWW (SparkCellIterator.java:182-298, FullRowBuilder.java). "
    "The oracle is the identity projection, so the pivot must "
    "reconstruct every row exactly.",
)
def cell_pivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_spark.operators.cell_pivot import (
        cell_pivot,
        rows_to_cells,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    cells = rows_to_cells(
        o.withColumn("writetime", F.lit(1_000)),
        partition_keys=["o_orderkey"],
        value_columns=["o_orderstatus", "o_orderpriority"],
    )
    return cell_pivot(
        cells,
        partition_keys=["o_orderkey"],
        columns=["o_orderstatus", "o_orderpriority"],
    )


@query(
    "replica_read_all",
    oracle="""
    SELECT o_orderkey, o_totalprice + 1.0 AS price
    FROM orders
    """,
    doc="M3 multi-replica read at CL=ALL: the fixture fans each order out "
    "to RF=3 replica copies where replica 2 carries a newer write "
    "(writetime 2000, price+1) and replicas 1/3 the stale original; "
    "replica selection keeps blockFor(ALL,3)=3 copies and the LWW merge "
    "must surface the newest write for every key "
    "(PartitionedDataLayer.java:244-305 + CompactionStreamScanner "
    "semantics). Oracle computes the healed value directly.",
)
def replica_read_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_spark.operators.replicas import (
        read_with_consistency,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    copies = o.select(
        "o_orderkey",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("replica_id"),
                        F.lit(2_000 if r == 2 else 1_000)
                        .cast("long")
                        .alias("writetime"),
                        (
                            F.col("o_totalprice") + (1.0 if r == 2 else 0.0)
                        ).alias("price"),
                    )
                    for r in (1, 2, 3)
                ]
            )
        ).alias("__c"),
    ).select(
        "o_orderkey",
        F.col("__c.replica_id").alias("replica_id"),
        F.col("__c.writetime").alias("writetime"),
        F.col("__c.price").alias("price"),
    )
    return read_with_consistency(
        copies, partition_keys=["o_orderkey"], consistency="ALL", rf=3
    )


@query(
    "replica_read_each_quorum",
    oracle="""
    SELECT o_orderkey, o_totalprice + 1.0 AS price
    FROM orders
    """,
    doc="M3 multi-DC read at CL=EACH_QUORUM (round 11, "
    "ConsistencyLevel.java:26-123 NetworkTopologyStrategy math): the "
    "fixture fans each order into two datacenters — dc1 (rf=3) holds "
    "only the STALE write (writetime 1000), dc2 (rf=2) only the newer "
    "one (writetime 2000, price+1) — so a correct EACH_QUORUM read must "
    "block for a quorum in EVERY DC (2+2 of 5 copies) and the LWW merge "
    "heal must surface dc2's write for every key; any selection that "
    "flattens to single-DC quorum math reads only stale dc1 copies and "
    "hash-mismatches. The oracle computes the healed value directly.",
)
def replica_read_each_quorum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_spark.operators.replicas import (
        read_with_consistency,
    )

    rf_map = {"dc1": 3, "dc2": 2}
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    copies = o.select(
        "o_orderkey",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("replica_id"),
                        F.lit(dc).alias("dc"),
                        F.lit(2_000 if dc == "dc2" else 1_000)
                        .cast("long")
                        .alias("writetime"),
                        (
                            F.col("o_totalprice")
                            + (1.0 if dc == "dc2" else 0.0)
                        ).alias("price"),
                    )
                    for dc, rf in rf_map.items()
                    for r in range(1, rf + 1)
                ]
            )
        ).alias("__c"),
    ).select(
        "o_orderkey",
        F.col("__c.replica_id").alias("replica_id"),
        F.col("__c.dc").alias("dc"),
        F.col("__c.writetime").alias("writetime"),
        F.col("__c.price").alias("price"),
    )
    return read_with_consistency(
        copies,
        partition_keys=["o_orderkey"],
        consistency="EACH_QUORUM",
        rf=rf_map,
        dc_col="dc",
    )


# Per-DC vnode token ownership (round 13, VERDICT r12 item 7 /
# CassandraRing.java:181-191): which instances hold a partition depends
# on WHERE its token falls between the cluster's vnode positions — two
# keys in adjacent token ranges can live on entirely different
# instances, which the uniform pmod ring-walk stand-in cannot express.
# The ring below is deliberately NON-round-robin (instance order is
# irregular per segment) so the stand-in and true ownership disagree on
# most keys. The oracle's segment table was derived BY HAND from the
# ring definition (first rf distinct instances clockwise per segment) —
# independent of the operator's walk code.
_VNODE_RING = [
    # dc1: 4 instances, 8 vnodes, irregular order
    (60, 2, "dc1"), (180, 1, "dc1"), (310, 4, "dc1"), (430, 2, "dc1"),
    (550, 3, "dc1"), (675, 1, "dc1"), (800, 4, "dc1"), (930, 3, "dc1"),
    # dc2: 3 instances, 6 vnodes
    (100, 2, "dc2"), (260, 3, "dc2"), (420, 1, "dc2"),
    (580, 3, "dc2"), (740, 2, "dc2"), (900, 1, "dc2"),
]


@query(
    "replica_read_vnode",
    oracle="""
    WITH seg(dc, lo, hi, replica_id) AS (VALUES
      ('dc1',   0,  60, 2), ('dc1',   0,  60, 1),
      ('dc1',  61, 180, 1), ('dc1',  61, 180, 4),
      ('dc1', 181, 310, 4), ('dc1', 181, 310, 2),
      ('dc1', 311, 430, 2), ('dc1', 311, 430, 3),
      ('dc1', 431, 550, 3), ('dc1', 431, 550, 1),
      ('dc1', 551, 675, 1), ('dc1', 551, 675, 4),
      ('dc1', 676, 800, 4), ('dc1', 676, 800, 3),
      ('dc1', 801, 930, 3), ('dc1', 801, 930, 2),
      ('dc1', 931, 999, 2), ('dc1', 931, 999, 1),
      ('dc2',   0, 100, 2), ('dc2',   0, 100, 3),
      ('dc2', 101, 260, 3), ('dc2', 101, 260, 1),
      ('dc2', 261, 420, 1), ('dc2', 261, 420, 3),
      ('dc2', 421, 580, 3), ('dc2', 421, 580, 2),
      ('dc2', 581, 740, 2), ('dc2', 581, 740, 1),
      ('dc2', 741, 900, 1), ('dc2', 741, 900, 2),
      ('dc2', 901, 999, 2), ('dc2', 901, 999, 3)
    ),
    tok AS (SELECT o_orderkey, o_orderkey % 1000 AS t FROM orders)
    SELECT tok.o_orderkey,
           seg.dc,
           CAST(seg.replica_id AS INTEGER) AS replica_id
    FROM tok JOIN seg ON tok.t >= seg.lo AND tok.t <= seg.hi
    """,
    doc="M3/M4 per-DC vnode ownership (CassandraRing.java:181-191): the "
    "fixture fans every order into a copy at EVERY instance (4 in dc1, "
    "3 in dc2); select_replicas_vnode must keep exactly the rows of the "
    "key's TRUE owners — the first rf distinct instances clockwise from "
    "its token's segment in that DC's vnode ring — at EACH_QUORUM "
    "(quorum(2)=2 per DC = the full owner set). The ring is irregular, "
    "so the uniform pmod ring-walk stand-in picks different instances "
    "and hash-mismatches. token = o_orderkey % 1000 (the pluggable-"
    "partitioner seam) so the DuckDB oracle computes ownership "
    "independently from a hand-derived segment table.",
)
def replica_read_vnode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_spark.operators.replicas import (
        select_replicas_vnode,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    copies = o.select(
        "o_orderkey",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dc).alias("dc"),
                        F.lit(i).cast("int").alias("replica_id"),
                    )
                    for dc, n_inst in (("dc1", 4), ("dc2", 3))
                    for i in range(1, n_inst + 1)
                ]
            )
        ).alias("__c"),
    ).select(
        "o_orderkey",
        F.col("__c.dc").alias("dc"),
        F.col("__c.replica_id").alias("replica_id"),
    )
    return select_replicas_vnode(
        copies,
        ["o_orderkey"],
        _VNODE_RING,
        consistency="EACH_QUORUM",
        rf={"dc1": 2, "dc2": 2},
        dc_col="dc",
        token_expr=F.pmod(F.col("o_orderkey"), F.lit(1000)),
    )


@query(
    "skew_salted_returnflag",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           {dsum_sql('l_quantity')} AS total_qty,
           MAX(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Salted two-phase aggregation on a 3-value (maximally hot) key: "
    "phase 1 aggregates on (key, salt) spreading each hot key over 16 "
    "reducers, phase 2 merges partials with exact merge semantics — the "
    "result must equal the plain GROUP BY, which is what the oracle "
    "computes (operators/skew.py salted_aggregate; the hand-rolled "
    "salting path for when AQE's runtime skew handling is not enough).",
)
def skew_salted_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_spark.operators.skew import salted_aggregate
    from cassandra_analytics_spark.queries._util import M

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "__q_fixed", F.floor(F.col("l_quantity") * M + F.lit(0.5))
    )
    out = salted_aggregate(
        li,
        keys=["l_returnflag"],
        aggs={
            "n_items": ("count", "l_returnflag"),
            "__q_sum": ("sum", "__q_fixed"),
            "max_price": ("max", "l_extendedprice"),
        },
        salt_buckets=16,
    )
    return out.select(
        "l_returnflag",
        "n_items",
        (F.col("__q_sum").cast("double") / M).alias("total_qty"),
        "max_price",
    ).orderBy("l_returnflag")


@query(
    "partition_size_orders",
    oracle="""
    SELECT o_custkey,
           CAST(SUM(8 + 8 + strlen(o_orderstatus) + 8 + 8
                    + strlen(o_orderpriority)) AS BIGINT) AS uncompressed,
           CAST(FLOOR(SUM(8 + 8 + strlen(o_orderstatus) + 8 + 8
                          + strlen(o_orderpriority)) * 0.6) AS BIGINT)
               AS compressed,
           COUNT(*) AS row_count
    FROM orders
    GROUP BY o_custkey
    """,
    doc="S3 partition-size scan analog: per-partition byte sizes from column "
    "widths (PartitionSizeIterator.java:39-84, IndexReader.java:185-220).",
)
def partition_size_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return partition_sizes(o, partition_keys=["o_custkey"])


@query(
    "token_range_histogram",
    oracle=None,  # Spark-internal hash — no portable SQL equivalent
    doc="M4/F2 token-range planning analog: rows per token bucket; verifies "
    "the token partitioner spreads partitions uniformly "
    "(TokenPartitioner.java:76-120).",
)
def token_range_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    tokens = token_column(F.col("o_custkey"))
    return (
        o.withColumn("bucket", F.pmod(tokens, F.lit(32)))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.countDistinct("o_custkey").alias("n_partitions"))
    )


@query(
    "static_column_propagation",
    oracle="""
    SELECT o_orderkey, o_custkey,
           MAX(o_orderpriority) FILTER (WHERE o_orderpriority IS NOT NULL)
               OVER (PARTITION BY o_custkey) AS static_priority
    FROM orders
    """,
    doc="Static-column semantics demo (SparkCellIterator.java:282-287): one "
    "value per partition replicated onto every row. Uses max as the "
    "deterministic per-partition representative.",
)
def static_column_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.lit(1))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.max("o_orderpriority").over(w).alias("static_priority"),
    )


@query(
    "bundle_write_restore",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="W4 S3-compat blob-upload transport end-to-end "
    "(SSTablesBundler.java:39-49, BundleManifest.java, "
    "BlobDataTransferApi.java): orders run the full write pipeline into "
    "token-ordered zip BUNDLES + manifest in an object-store dir "
    "(atomic-rename commit), then the restore-slice path verifies "
    "digests, unpacks every overlapping bundle into a committed batch, "
    "and the merged read-back is aggregated; the oracle aggregates the "
    "source directly, so any row lost or duplicated anywhere in "
    "bundle -> store -> restore breaks the hash.",
)
def bundle_write_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_spark.sinks.bulk_writer import read_bulk_table
    from cassandra_analytics_spark.sinks.bundles import (
        bundle_write,
        restore_bundles,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    with scratch_dir("cas_bundle_store_") as store, scratch_dir(
        "cas_bundle_tbl_"
    ) as table:
        res = bundle_write(
            o,
            store,
            partition_keys=["o_orderkey"],
            write_timestamp_micros=1_000_000,
            num_partitions=8,
        )
        restore_bundles(spark, res.job_dir, table)
        back = read_bulk_table(spark, table, partition_keys=["o_orderkey"])
        return (
            back.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                dsum(F.col("o_totalprice")).alias("total_price"),
            )
            .orderBy("o_orderpriority")
            # materialize so the bundle store + restored table (two full
            # serialized copies of orders) can be deleted now
            .localCheckpoint(eager=True)
        )


@query(
    "nested_struct_explode",
    oracle="""
    SELECT l_orderkey,
           CAST(ROW_NUMBER() OVER (
                    PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity, l_extendedprice
                ) - 1 AS INT) AS pos,
           CAST(n_lines AS INT) AS n_lines,
           l_linenumber, l_quantity, l_extendedprice
    FROM (
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
               COUNT(*) OVER (PARTITION BY l_orderkey) AS n_lines
        FROM lineitem
    )
    WHERE l_quantity > 45
    ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
    """,
    doc="Nested complex types round-trip (UDT/frozen-list semantics, "
    "EndToEndTests.java:1881-1921 testUdt/testListOfUdts posture): "
    "lineitems collect into an array<struct> per order (sort_array for "
    "deterministic element order), then posexplode + field access "
    "rebuilds the flat rows with their array position. The oracle "
    "recomputes position as a window rank over the raw table, so struct "
    "construction, array sorting, explode, and field extraction must all "
    "be exact. The array element filter runs as a FILTER higher-order "
    "function inside the array before exploding.",
)
def nested_struct_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    nested = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct("l_linenumber", "l_quantity", "l_extendedprice")
            )
        ).alias("lines")
    )
    # position BEFORE filtering would disagree with the oracle's
    # rank-over-filtered-rows; filter the array first (HOF), then explode.
    kept = nested.select(
        "l_orderkey",
        F.size("lines").alias("n_lines"),
        F.filter("lines", lambda x: x["l_quantity"] > 45).alias("kept"),
    )
    return (
        kept.select(
            "l_orderkey",
            "n_lines",
            F.posexplode("kept").alias("pos", "line"),
        )
        .select(
            "l_orderkey",
            F.col("pos").cast("int").alias("pos"),
            "n_lines",
            F.col("line.l_linenumber").alias("l_linenumber"),
            F.col("line.l_quantity").alias("l_quantity"),
            F.col("line.l_extendedprice").alias("l_extendedprice"),
        )
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


@query(
    "nested_map_clustering",
    oracle="""
    SELECT o_custkey AS custkey,
           CAST(COUNT(DISTINCT o_orderstatus) AS INT) AS n_statuses,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
               AS status_keys,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_open,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_filled,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_partial
    FROM orders
    GROUP BY o_custkey
    ORDER BY custkey
    """,
    doc="Map-typed column semantics (map<text,bigint> as a CQL collection, "
    "EndToEndTests map/clustering coverage): per-customer order counts "
    "build into a map keyed by order status (map_from_entries over "
    "sorted entries for deterministic key order), then map_keys / "
    "cardinality / element_at read it back. element_at on an absent key "
    "yields NULL, matching the oracle's no-ELSE SUM CASE. One shuffle "
    "(the count agg); map construction is a second map-side-only agg "
    "over the same keys.",
)
def nested_map_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    mapped = counts.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("o_orderstatus", "n")))
        ).alias("by_status")
    )
    return mapped.select(
        F.col("o_custkey").alias("custkey"),
        F.cardinality("by_status").cast("int").alias("n_statuses"),
        F.array_join(F.map_keys("by_status"), ",").alias("status_keys"),
        F.element_at("by_status", "O").alias("n_open"),
        F.element_at("by_status", "F").alias("n_filled"),
        F.element_at("by_status", "P").alias("n_partial"),
    ).orderBy("custkey")
