"""The 100x SemDeDup corpus through the STREAMING path — closing the
last untested combination of {one-shot, append, streaming} x {10x,
100x} (VERDICT r9 item 6).

Round 8 proved the one-shot k ∝ N path at 100x (200k vectors, ~99%
planted exact copies: removed exactly 198,000); round 9 proved the
append path removes the identical set. This script drives the SAME
corpus through `run_semantic_dedup_stream` — a ~20k seed file plus
three ~60k files as real foreachBatch micro-batches (vectorized
assignment against a k=2000 sampled codebook, the scale posture) — and
asserts the streamed removal set equals the corpus's EXACT-DUPLICATE
structure computed independently (group by embedding, remove all but
the min id per >1 group): the same 198,000, with zero set difference.

Usage: python scripts/measure_streaming_semdedup_100x.py [corpus_dir]
Needs .scale100/ (python scripts/make_scale.py .scale100 100).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> int:
    base = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale100"
    )
    src_parquet = os.path.join(base, "embeddings.parquet")

    from cassandra_analytics_spark.operators.similarity import (
        removal_verdicts,
        sample_centroids,
    )
    from cassandra_analytics_spark.session import get_session
    from cassandra_analytics_spark.streaming.semantic_stream import (
        collected_semantic_pairs,
        run_semantic_dedup_stream,
    )

    spark = get_session(app_name="measure-streaming-semdedup-100x")
    spark.sparkContext.setLogLevel("ERROR")

    corpus = spark.read.parquet(src_parquet).select("vec_id", "embedding")
    n = corpus.count()
    t0 = time.time()
    # the offline codebook fit stand-in: k ∝ N sampled once for the corpus
    cents = sample_centroids(corpus, 2000, "vec_id", "embedding", seed=42)
    print(f"corpus {n} rows; k={len(cents)} codebook sampled "
          f"in {time.time() - t0:.1f}s", flush=True)

    work = tempfile.mkdtemp(prefix="semdedup-stream-100x-")
    incoming = os.path.join(work, "incoming")
    try:
        # arrival order: ~10% seed file, then three ~30% files — the
        # ingest shape round 9 measured on the append path
        bucket = F.abs(F.xxhash64(F.col("vec_id"))) % 10
        t0 = time.time()
        for lo, hi in [(0, 0), (1, 3), (4, 6), (7, 9)]:
            corpus.filter(bucket.between(lo, hi)).coalesce(1).write.mode(
                "append"
            ).parquet(incoming)
            time.sleep(1.1)  # distinct mtimes -> stable file order
        print(f"staged 4 arrival files in {time.time() - t0:.1f}s", flush=True)

        stream = (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(incoming)
        )
        t0 = time.time()
        q = run_semantic_dedup_stream(
            stream,
            index_path=os.path.join(work, "ivf"),
            pairs_out=os.path.join(work, "pairs"),
            centroids=cents,
            threshold=0.95,
            checkpoint_dir=os.path.join(work, "ckpt"),
            assignment="vectorized",
        )
        try:
            q.processAllAvailable()
            progress = list(q.recentProgress)
        finally:
            q.stop()
        t_stream = time.time() - t0
        for p in progress:
            rows = p["numInputRows"]
            if rows:
                print(f"  batch {p['batchId']}: {rows} rows, "
                      f"{p['batchDuration'] / 1000.0:.1f}s", flush=True)
        print(f"stream drained in {t_stream:.1f}s", flush=True)

        t0 = time.time()
        pairs = collected_semantic_pairs(
            spark, os.path.join(work, "pairs")
        ).dropDuplicates(["a", "b"])
        removed = removal_verdicts(pairs).select("removed").distinct()

        # independent oracle: the exact-duplicate structure of the corpus
        groups = corpus.groupBy("embedding").agg(
            F.min("vec_id").alias("keep"), F.count(F.lit(1)).alias("c")
        ).filter("c > 1")
        expected = (
            corpus.join(groups, "embedding")
            .filter(F.col("vec_id") != F.col("keep"))
            .select(F.col("vec_id").alias("removed"))
        )
        n_removed = removed.count()
        n_expected = expected.count()
        missing = expected.exceptAll(removed).count()
        extra = removed.exceptAll(expected).count()
        print(f"verdicts in {time.time() - t0:.1f}s: removed={n_removed} "
              f"expected={n_expected} missing={missing} extra={extra}",
              flush=True)
        ok = n_removed == n_expected and missing == 0 and extra == 0
        print("PASS" if ok else "FAIL", flush=True)
        return 0 if ok else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
