"""Confirmed-pair LSH dedup variants (VERDICT r5 item 1).

The three raw LSH queries are rows-only by nature (seeded-hash bucket
structure has no SQL twin). Their *confirmed* variants pipe the LSH
candidates through the exact-Jaccard confirm, making the output equal a
pure-SQL pair set — oracle-exact — PROVIDED the candidate stage has full
recall at the confirm threshold on the fixture. These tests pin that
recall premise explicitly, so a fixture change that breaks it fails
loudly here instead of surfacing as an opaque driver hash mismatch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cassandra_analytics_spark.catalog import load_table
from cassandra_analytics_spark.operators.dedup import (
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    simhash_sketches,
)
from cassandra_analytics_spark.queries import REGISTRY, _ensure_loaded
from cassandra_analytics_spark.testing import compare_query


def _exact_pairs(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return {
        (r.a, r.b)
        for r in ngram_jaccard_pairs(d, shingle_n=3, threshold=0.9).collect()
    }


def test_minhash_candidates_have_full_recall_at_09(spark, sf_dir):
    """Recall premise of dedup_minhash_confirmed: every exact j>=0.9 pair
    band-collides under the (32 hashes, 8 bands) config."""
    d = load_table(spark, sf_dir, "documents")
    cands = {
        (r.a, r.b)
        for r in minhash_lsh_candidates(
            d, num_hashes=32, bands=8, shingle_n=3
        ).collect()
    }
    exact = _exact_pairs(spark, sf_dir)
    assert exact, "fixture lost its planted near-dups"
    assert exact <= cands, f"banding missed true pairs: {sorted(exact - cands)}"


def test_simhash_radius10_covers_true_pairs(spark, sf_dir):
    """Recall premise of dedup_simhash_confirmed, pinned in two parts:
    (a) every exact j>=0.9 pair sits within hamming 10 of the 63-bit
    frequency-weighted sketch on this fixture (observed max is 8 — the
    radius-10 config carries margin), and (b) the C(12,2) block keys
    actually surface all of them as candidates (the pigeonhole guarantee
    made concrete)."""
    d = load_table(spark, sf_dir, "documents")
    exact = _exact_pairs(spark, sf_dir)
    sk = simhash_sketches(d)
    exact_df = spark.createDataFrame(
        sorted(exact), "a long, b long"
    )
    h = (
        exact_df.join(sk.withColumnsRenamed({"id": "a", "sk": "ska"}), "a")
        .join(sk.withColumnsRenamed({"id": "b", "sk": "skb"}), "b")
        .select(F.bit_count(F.col("ska").bitwiseXOR(F.col("skb"))).alias("h"))
        .agg(F.max("h"))
        .first()[0]
    )
    assert h <= 10, f"fixture true-pair hamming grew to {h}: radius-10 premise broken"
    cands = {
        (r.a, r.b)
        for r in simhash_near_dup_pairs(
            d, max_hamming=10, num_blocks=12, blocks_per_key=2
        ).collect()
    }
    assert exact <= cands, f"block LSH missed true pairs: {sorted(exact - cands)}"


def test_confirmed_variants_match_oracle(spark, sf_dir):
    """End-to-end at sf0.001: the four confirmed-pair queries hash-match
    their DuckDB oracles (the driver re-proves this at sf0.01)."""
    _ensure_loaded()
    for name in (
        "dedup_minhash_confirmed",
        "dedup_simhash_confirmed",
        "dedup_incremental_lsh_confirmed",
        "embedding_near_dup_confirmed",
    ):
        assert name in REGISTRY and REGISTRY[name].oracle is not None
        res = compare_query(name, spark, sf_dir)
        assert res.ok, f"{name}: {res}"


def test_embedding_confirmed_equals_brute_force(spark, sf_dir):
    """Recall premise of embedding_near_dup_confirmed: the 3-table sign-
    LSH candidate stage surfaces EVERY portable-cosine >= 0.9 pair of the
    planted corpus — asserted against a brute-force (all-pairs, no LSH)
    computation of the same portable cosine."""
    from cassandra_analytics_spark.queries import REGISTRY, _ensure_loaded
    from cassandra_analytics_spark.operators.similarity import vector_math

    _ensure_loaded()
    confirmed = {
        (r.a, r.b)
        for r in REGISTRY["embedding_near_dup_confirmed"].fn(spark, sf_dir).collect()
    }

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = (
        e.filter(F.col("vec_id") < 8)
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x, i: x.cast("double")
                * (
                    F.lit(1.0)
                    + (
                        F.lit(0.05)
                        * (
                            ((i * F.lit(31) + F.col("vec_id")) % F.lit(7)).cast(
                                "double"
                            )
                            - F.lit(3.0)
                        )
                    )
                    / F.lit(3.0)
                ),
            ).alias("embedding"),
        )
        .withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
    )
    corpus = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    ).unionByName(planted)
    left = corpus.select(F.col("vec_id").alias("a"), F.col("embedding").alias("pa"))
    right = corpus.select(F.col("vec_id").alias("b"), F.col("embedding").alias("pb"))
    d12 = vector_math("decimal12")
    pcos = d12.dot(F.col("pa"), F.col("pb")) / (
        d12.norm(F.col("pa")) * d12.norm(F.col("pb"))
    )
    brute = {
        (r.a, r.b)
        for r in left.crossJoin(right)
        .filter(F.col("a") < F.col("b"))
        .filter(pcos >= 0.9)
        .collect()
    }
    assert brute, "fixture lost its planted embedding near-dups"
    assert confirmed == brute


def test_confirmed_output_equals_exact_pair_set(spark, sf_dir):
    """The whole point: confirmed LSH output IS the exact pair set (not
    merely hash-consistent with some other formulation)."""
    from cassandra_analytics_spark.operators.dedup_index import confirm_candidates

    d = load_table(spark, sf_dir, "documents")
    cands = minhash_lsh_candidates(d, num_hashes=32, bands=8, shingle_n=3)
    confirmed = {
        (r.a, r.b)
        for r in confirm_candidates(cands, d, shingle_n=3, threshold=0.9).collect()
    }
    assert confirmed == _exact_pairs(spark, sf_dir)


def test_embedding_near_dup_confirmed_empty_table(spark, tmp_path):
    """ADVICE r6: an empty embeddings table must yield an empty result
    frame with the contract schema, not IndexError from the dim probe."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    out = tmp_path / "embeddings.parquet"
    pq.write_table(schema.empty_table(), str(out))

    _ensure_loaded()
    df = REGISTRY["embedding_near_dup_confirmed"].fn(spark, str(tmp_path))
    assert df.schema.simpleString() == "struct<a:bigint,b:bigint,cosine_sim:double>"
    assert df.count() == 0


def test_simhash_radius14_covers_sf01(spark):
    """Recall premise of dedup_simhash_confirmed, pinned at sf0.1
    (VERDICT r6 item 3): every exact j>=0.9 pair sits within hamming 14
    of the radius-14 (16 blocks, 2 per key) config adopted in round 7,
    AND the r6 radius-10 scoping was real (a true pair beyond hamming
    10 exists here — the reason the config was widened). The candidate
    superset check runs end to end, so a bucket-cap drop would also
    fail loudly."""
    sf01 = "/root/testdata/sf0.1"
    d = load_table(spark, sf01, "documents")
    exact = _exact_pairs(spark, sf01)
    assert exact, "fixture lost its near-dup pairs"

    sk = simhash_sketches(d)
    ham = {
        (r.a, r.b): r.hamming
        for r in (
            spark.createDataFrame(
                [(a, b) for a, b in exact], "a BIGINT, b BIGINT"
            )
            .join(sk.select(F.col("id").alias("a"), F.col("sk").alias("ska")), "a")
            .join(sk.select(F.col("id").alias("b"), F.col("sk").alias("skb")), "b")
            .select(
                "a",
                "b",
                F.bit_count(F.col("ska").bitwiseXOR(F.col("skb"))).alias("hamming"),
            )
            .collect()
        )
    }
    assert len(ham) == len(exact)
    assert max(ham.values()) <= 14, (
        "fixture drifted: a true pair now exceeds the radius-14 "
        f"guarantee (max hamming {max(ham.values())}) — widen the "
        "dedup_simhash_confirmed config or re-scope its docstring"
    )
    assert max(ham.values()) > 10, (
        "fixture drifted: sf0.1 no longer has a pair past radius 10 — "
        "the round-7 widening rationale (PERF.md) is stale"
    )

    cands = {
        (r.a, r.b)
        for r in simhash_near_dup_pairs(
            d, max_hamming=14, num_blocks=16, blocks_per_key=2
        ).collect()
    }
    missed = exact - cands
    assert not missed, f"candidate stage missed true pairs: {sorted(missed)[:5]}"


def test_semantic_dedup_cap_premise(spark):
    """dedup_semantic's oracle brute-forces every within-cell pair with
    no size cap; the engine side caps clusters at max_cluster=10000. The
    comparison is sound only while no cell CAN reach the cap — pinned
    here by the stronger corpus-level bound (cells are subsets of the
    corpus). If fixtures ever grow past this, raise the query's
    max_cluster alongside."""
    import duckdb

    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        n = duckdb.sql(
            f"SELECT count(*) FROM '{sf}/embeddings.parquet'"
        ).fetchone()[0]
        assert n + 8 < 10_000, (
            f"{sf}: corpus {n}+8 planted >= max_cluster cap - "
            "dedup_semantic's oracle premise no longer holds"
        )
