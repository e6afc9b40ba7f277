"""Step-level wall attribution for the EXTENDED bench families (r16).

Breaks the build/probe walls of ann_ivf_quantized_topk, ann_pq_topk and
the streaming bootstrap into their constituent Spark actions so the
optimization round targets the real cost, not the aggregate number.
Run on an idle machine (guide §1: concurrent JVMs corrupt the numbers).

Usage: python scripts/profile_extended.py [sf_dir]
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


def step(label: str, fn):
    t0 = time.time()
    out = fn()
    print(f"{time.time() - t0:7.2f}s  {label}", flush=True)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_session()
    sc = spark.sparkContext

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    step("warm: count embeddings", lambda: e.count())

    # ---- ann_ivf_quantized_topk build ----
    from cassandra_analytics_spark.operators.ann_index import (
        build_ivf_index,
        query_ivf_index_quantized,
    )
    from cassandra_analytics_spark.operators.similarity import sample_centroids

    corpus = e.filter(F.col("vec_id") != 0)
    qrows = e.filter(F.col("vec_id") == 0).select("embedding").collect()
    qvec = [float(x) for x in qrows[0]["embedding"]]

    tmp = tempfile.mkdtemp(prefix="profile_ivf_")
    path = tmp + "/ivf"
    sc.setJobDescription("profile: sample_centroids")
    cents = step(
        "ivf: sample_centroids",
        lambda: sample_centroids(corpus, 16, "vec_id", "embedding", 42),
    )
    sc.setJobDescription("profile: build_ivf_index total")
    step(
        "ivf: build_ivf_index(quantize=True) TOTAL",
        lambda: build_ivf_index(
            corpus, path, num_centroids=16, quantize=True
        ),
    )
    sc.setJobDescription("profile: ivf probe")
    step(
        "ivf: query_ivf_index_quantized probe",
        lambda: query_ivf_index_quantized(
            spark, path, qvec, k=10, num_probes=16, rescore_factor=8
        ).write.mode("overwrite").format("noop").save(),
    )
    # second probe (warm plans)
    step(
        "ivf: probe again (warm)",
        lambda: query_ivf_index_quantized(
            spark, path, qvec, k=10, num_probes=16, rescore_factor=8
        ).write.mode("overwrite").format("noop").save(),
    )
    shutil.rmtree(tmp, ignore_errors=True)

    # ---- ann_pq_topk ----
    from cassandra_analytics_spark.operators.pq import (
        pq_adc_topk,
        pq_encode,
        train_pq_codebook,
    )

    sc.setJobDescription("profile: pq train")
    cb = step(
        "pq: train_pq_codebook",
        lambda: train_pq_codebook(
            corpus, m=16, ks=32, sample_size=5_000, iterations=10, seed=42
        ),
    )
    sc.setJobDescription("profile: pq probe")

    def pq_probe():
        enc = pq_encode(corpus, cb, keep_vec=True)
        return pq_adc_topk(
            enc, cb, qvec, k=10, vec_col="embedding", rescore_factor=8,
            math="decimal12",
        ).write.mode("overwrite").format("noop").save()

    step("pq: encode+adc+rescore probe", pq_probe)
    step("pq: probe again (warm)", pq_probe)

    # plan-build time only (no action)
    t0 = time.time()
    enc = pq_encode(corpus, cb, keep_vec=True)
    df = pq_adc_topk(
        enc, cb, qvec, k=10, vec_col="embedding", rescore_factor=8,
        math="decimal12",
    )
    print(f"{time.time() - t0:7.2f}s  pq: plan construction only", flush=True)

    sc.setJobDescription(None)


if __name__ == "__main__":
    main()
