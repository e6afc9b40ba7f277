"""SparkSession factory tuned for this engine.

The reference plans its own parallelism (``TokenPartitioner.java:76-120``:
``numSplits = max(1, defaultParallelism, numCores)``). On Spark we instead
size shuffle partitions to the available cores and let AQE coalesce /
re-plan at runtime — the idiomatic equivalent at cluster scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "cassandra-analytics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    Defaults favour the 100 TB posture: AQE on (runtime partition
    coalescing + skew-join splitting), broadcast threshold generous enough
    to broadcast dimension tables, Arrow on for any pandas interchange,
    UTC session timezone so timestamps agree with external oracles.

    Python workers fork from :mod:`pyworker_daemon`, which keeps each
    task from re-reading every zip archive on the import path. Its
    package's parent directory leads ``spark.executorEnv.PYTHONPATH``,
    so workers import it from any working directory.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE (r16, measured dead end): lowering
        # spark.sql.adaptive.coalescePartitions.minPartitionSize (1 MB
        # default) to keep tiny-byte / big-compute AQE stages on >1 task
        # was A/B'd interleaved at sf0.1 and LOST on 6 of 8 hot queries
        # (q21 +0.49 s, dedup_simhash +0.32 s, dedup_minhash +0.18 s):
        # at local scale per-task scheduling overhead beats the extra
        # parallelism, and at cluster scale byte-based coalescing already
        # yields many partitions. Keep the default.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's empty-relation propagation ELIMINATES CollectMetrics nodes
        # when a downstream stage turns out empty at runtime, so every
        # DataFrame.observe()-based signal (stats.py instrumentation, the
        # dedup skew observations) would silently vanish exactly when the
        # result is empty — which for the hot-bucket cap is the
        # catastrophic all-work-skipped case the signal exists to expose
        # (measured round 9: Observation.get dies in toPyRow on a
        # schemaless empty row). Empty intermediates are rare in real
        # pipelines and cheap to execute unoptimized, so the trade is a
        # no-op in practice.
        .config(
            "spark.sql.adaptive.optimizer.excludedRules",
            "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # fixture `events.ts` is parquet TIMESTAMP(NANOS); Spark has no nanos
        # timestamp — read as long, the source layer converts to micros
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    package_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (package_root, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    conf.setdefault(
        "spark.python.daemon.module", "cassandra_analytics_spark.pyworker_daemon"
    )
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
