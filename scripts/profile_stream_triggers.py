"""Warm steady-state trigger wall for streaming_semantic_dedup (r17).

Mirrors the bench split's source/layout exactly but lands THREE
incremental files after the bootstrap, timing each trigger separately —
the steady-state (triggers 2-3) is the number VERDICT r16 item 4
targets (< 2.5 s warm). Run idle.

Usage: python scripts/profile_stream_triggers.py [n_triggers]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cassandra_analytics_spark.catalog import load_table
from cassandra_analytics_spark.session import get_session


def main() -> None:
    n_triggers = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from cassandra_analytics_spark.queries.llm import (
        _planted_corpus,
        _semantic_centroids,
    )
    from cassandra_analytics_spark.operators.similarity import removal_verdicts
    from cassandra_analytics_spark.streaming.semantic_stream import (
        collected_semantic_pairs,
        run_semantic_dedup_stream,
    )

    spark = get_session(app_name="stream_profile", master="local[32]",
                        shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = _planted_corpus(e)
    centroids = _semantic_centroids(e)
    tmp = tempfile.mkdtemp(prefix="cas_stream_prof_")
    src = os.path.join(tmp, "incoming")
    try:
        base = corpus.filter(F.col("vec_id") < 1_000_000)
        incr = corpus.filter(F.col("vec_id") >= 1_000_000)
        n_incr = incr.count()
        # split the incremental rows into n_triggers slices by row hash
        base.coalesce(1).write.mode("append").parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = run_semantic_dedup_stream(
            stream,
            index_path=os.path.join(tmp, "ivf"),
            pairs_out=os.path.join(tmp, "pairs"),
            centroids=centroids,
            threshold=0.9,
            checkpoint_dir=os.path.join(tmp, "ckpt"),
            math="decimal12",
        )
        t0 = time.time()
        q.processAllAvailable()
        print(f"bootstrap {time.time() - t0:6.2f}s", flush=True)
        for k in range(n_triggers):
            part = incr.filter(F.pmod(F.xxhash64("vec_id"), n_triggers) == k)
            part.coalesce(1).write.mode("append").parquet(src)
            t0 = time.time()
            q.processAllAvailable()
            print(f"trigger {k + 1} {time.time() - t0:6.2f}s "
                  f"({part.count()} rows)", flush=True)
        q.stop()
        pairs = collected_semantic_pairs(
            spark, os.path.join(tmp, "pairs")
        ).dropDuplicates(["a", "b"])
        t0 = time.time()
        n = removal_verdicts(pairs).count()
        print(f"verdicts {time.time() - t0:6.2f}s ({n} removals, "
              f"{n_incr} incr rows)", flush=True)
    finally:
        try:
            q.stop()
        except Exception:
            pass
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
