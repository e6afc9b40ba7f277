"""Persistent signature-partitioned ANN index: pruned reads + recall."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cassandra_analytics_spark.fixtures import ensure_fixtures
from cassandra_analytics_spark.operators.ann_index import (
    build_ann_index,
    query_ann_index,
)
from cassandra_analytics_spark.operators.similarity import brute_force_topk

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "fixtures")


@pytest.fixture(scope="module")
def corpus(spark):
    ensure_fixtures(FIXTURE_DIR)
    return (
        spark.read.parquet(os.path.join(FIXTURE_DIR, "docs_dedup.parquet"))
        .select(F.col("doc_id").alias("vec_id"), "embedding", "origin_id")
    )


def test_index_prunes_partitions_and_recalls(spark, corpus, tmp_path):
    index_path = str(tmp_path / "ann")
    build_ann_index(corpus, index_path, num_planes=6)
    # partition dirs exist per signature
    sig_dirs = [d for d in os.listdir(index_path) if d.startswith("sig=")]
    assert len(sig_dirs) > 8

    hot = (
        corpus.filter(F.col("vec_id") != F.col("origin_id"))
        .groupBy("origin_id").count()
        .orderBy(F.col("count").desc(), "origin_id").first()["origin_id"]
    )
    qvec = [
        float(x)
        for x in corpus.filter(F.col("vec_id") == hot).first()["embedding"]
    ]

    result = query_ann_index(spark, index_path, qvec, k=5, num_planes=6)
    rows = result.collect()
    # pruned scan: the sig predicate is a partition filter on the scan
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        result.explain("formatted")
    plan = buf.getvalue()
    part_filter_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert part_filter_lines and "sig" in part_filter_lines[0]

    exact = {r.vec_id for r in brute_force_topk(corpus, qvec, k=5).collect()}
    approx = {r.vec_id for r in rows}
    assert len(exact & approx) / 5 >= 0.6
    assert hot in approx  # the origin itself must be found


def test_full_radius_multiprobe_equals_brute_force(spark, tmp_path):
    """probe_hamming=num_planes probes every bucket, so the result must
    equal exact brute-force top-k (a 1-flip-only probe loop silently
    capped the radius and lost recall for probe_hamming >= 2)."""
    import random

    from cassandra_analytics_spark.operators.ann_index import (
        build_ann_index,
        query_ann_index,
    )
    from cassandra_analytics_spark.operators.similarity import brute_force_topk

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [rng.gauss(0, 1) for _ in range(8)]
    path = str(tmp_path / "annidx")
    build_ann_index(df, path, num_planes=4)
    got = [
        r.vec_id
        for r in query_ann_index(
            spark, path, q, k=10, num_planes=4, probe_hamming=4
        ).collect()
    ]
    want = [r.vec_id for r in brute_force_topk(df, q, k=10).collect()]
    assert got == want


def test_empty_corpus_index_builds_and_queries(spark, tmp_path):
    """Round-7 hostile pass: building either index over an EMPTY corpus
    must produce a readable empty index (no dim-probe TypeError, no
    null-cell partition), and queries over it return empty."""
    from cassandra_analytics_spark.operators.ann_index import (
        build_ann_index,
        build_ivf_index,
        query_ivf_index,
    )

    empty = spark.createDataFrame(
        [], "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    ann_path = str(tmp_path / "ann_idx")
    build_ann_index(empty, ann_path)
    assert spark.read.parquet(ann_path).count() == 0

    ivf_path = str(tmp_path / "ivf_idx")
    build_ivf_index(empty, ivf_path)
    got = query_ivf_index(spark, ivf_path, [0.0, 1.0, 0.0], k=5)
    assert got.count() == 0


def test_ivf_recall_envelope_pinned(spark, tmp_path):
    """VERDICT r7 item 4: the measured recall-vs-probes envelope
    (scripts/measure_ann_recall.py, PERF.md round 8), pinned on fixed
    query vectors so a regression in centroid sampling, cell assignment,
    or probe selection shows up as a recall drop:

    - probe-ALL is EXACT: num_probes == num_centroids must reproduce
      brute-force top-k identically (1.0, not approximately);
    - the curve is monotone in probes for these fixed queries;
    - the floor at 8/16 probes stays above the measured min (0.45 at
      sf0.01/sf0.1; asserted at 0.4 for headroom on this fixture).
    """
    from cassandra_analytics_spark.catalog import load_table
    from cassandra_analytics_spark.operators.ann_index import (
        build_ivf_index,
        query_ivf_index,
    )
    from cassandra_analytics_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").cache()
    k = 20
    queries = [
        (r.vec_id, [float(x) for x in r.embedding])
        for r in emb.orderBy("vec_id").limit(10).collect()
    ]
    path = str(tmp_path / "ivf_env")
    build_ivf_index(emb, path, num_centroids=16)

    def recalls(p: int) -> list[float]:
        out = []
        for qid, vec in queries:
            exact = {r.vec_id for r in brute_force_topk(emb, vec, k=k).collect()}
            got = {
                r.vec_id
                for r in query_ivf_index(spark, path, vec, k=k, num_probes=p).collect()
            }
            out.append(len(got & exact) / k)
        return out

    r1, r8, r16 = recalls(1), recalls(8), recalls(16)
    assert all(r == 1.0 for r in r16), "probe-all must be exact"
    assert min(r8) >= 0.4, f"8/16-probe floor regressed: {min(r8)}"
    assert sum(r8) / len(r8) >= sum(r1) / len(r1)
    emb.unpersist()


def test_null_vectors_tolerated_in_build_and_sampling(spark, tmp_path):
    """Round-8 probe pass: a NULL embedding in the FIRST row TypeError'd
    the dim probe of build_ann_index (and embedding_near_dup_pairs), and
    a NULL vector sampled as an IVF centroid TypeError'd lit_vector for
    every assignment. NULL vectors must never crash a build — they hash
    to bucket 0 / the fallback cell and their NULL cosine never ranks."""
    from cassandra_analytics_spark.operators.ann_index import (
        build_ann_index,
        build_ivf_index,
        query_ann_index,
        query_ivf_index,
    )

    df = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0]), (3, [0.9, 0.1])],
        "vec_id long, embedding array<double>",
    )
    ann_path = str(tmp_path / "ann_nulls")
    build_ann_index(df, ann_path)
    got = [
        r.vec_id
        for r in query_ann_index(
            spark, ann_path, [1.0, 0.0], k=3, probe_hamming=6
        ).collect()
    ]
    assert got == [2, 3]  # the NULL vector never ranks

    mixed = spark.createDataFrame(
        [
            (i, None if i % 2 == 0 else [float(i % 7), 1.0])
            for i in range(40)
        ],
        "vec_id long, embedding array<double>",
    )
    ivf_path = str(tmp_path / "ivf_nulls")
    centroids = build_ivf_index(mixed, ivf_path, num_centroids=8)
    assert all(vec is not None for _, vec in centroids)
    assert query_ivf_index(
        spark, ivf_path, [1.0, 1.0], k=3, num_probes=8
    ).count() == 3


def test_vectorized_assignment_matches_expression(spark):
    """vectorized_cell_udf (numpy argmax per Arrow batch) agrees with the
    expression-form nearest_cell_expr on well-separated vectors, including
    NULL (NULL cell) and zero-norm (all sims -2 -> lowest cid)."""
    from pyspark.sql import functions as F

    from cassandra_analytics_spark.operators.similarity import (
        nearest_cell_expr,
        vectorized_cell_udf,
    )

    centroids = [(0, [1.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0]), (7, [0.0, 0.0, 1.0])]
    rows = [
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.8, 0.3]),
        (3, [0.1, 0.1, 0.9]),
        (4, [0.0, 0.0, 0.0]),   # zero-norm -> lowest cid (0)
        (5, None),              # NULL -> all sims -2 -> lowest cid (0)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    both = df.select(
        "vec_id",
        nearest_cell_expr(F.col("embedding"), centroids).alias("e"),
        vectorized_cell_udf(centroids)(F.col("embedding")).alias("v"),
    ).collect()
    for r in both:
        assert r.e == r.v, f"vec {r.vec_id}: expr={r.e} vectorized={r.v}"
    byid = {r.vec_id: r.v for r in both}
    assert byid[4] == 0 and byid[5] == 0


def test_semantic_dedup_on_index_matches_direct(spark, tmp_path):
    """The index-backed SemDeDup (precomputed assignments, the corpus-
    scale path) returns the same removal verdicts as the direct operator
    when both use the same centroids; vectorized and expr index builds
    agree. Non-IVF paths are rejected loudly."""
    import pytest

    from cassandra_analytics_spark.operators.ann_index import (
        build_ivf_index,
        semantic_dedup_on_index,
    )
    from cassandra_analytics_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.99, 0.01]),
        (4, [0.0, 0.0, 1.0]),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for mode in ("expr", "vectorized"):
        path = str(tmp_path / f"ivf-{mode}")
        cents = build_ivf_index(df, path, num_centroids=3, assignment=mode)
        got = sorted(
            (r.removed, r.kept_rep)
            for r in semantic_dedup_on_index(spark, path, threshold=0.95).collect()
        )
        direct = sorted(
            (r.removed, r.kept_rep)
            for r in semantic_dedup(df, cents, threshold=0.95).collect()
        )
        # centroids are hash-sampled corpus vectors, so WHICH near-dup
        # pairs co-assign depends on the sample; the invariant is path
        # equality, plus the (0,1) pair that always shares a cell (0 and
        # 1 are near-identical, so their nearest centroid is the same)
        assert got == direct
        assert (1, 0) in got

    with pytest.raises(ValueError, match="not an IVF layout"):
        lsh = str(tmp_path / "not-ivf")
        spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<double>").write.parquet(lsh)
        semantic_dedup_on_index(spark, lsh)
    with pytest.raises(ValueError, match="assignment must be"):
        build_ivf_index(df, str(tmp_path / "x"), assignment="magic")


def _tiny_corpus(spark, ids):
    import random

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(8)]) for i in ids]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.mark.parametrize("mode", ["expr", "vectorized"])
def test_append_equals_rebuild(spark, tmp_path, mode):
    """build(A) + append(B) must produce the identical layout (same
    (id, cell) assignments, same spec, same centroids) as build(A∪B)
    with the SAME pinned codebook — the growing-corpus guarantee."""
    from cassandra_analytics_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        read_ivf_spec,
    )

    both = _tiny_corpus(spark, range(40))
    a = both.filter(F.col("vec_id") < 20)
    b = both.filter(F.col("vec_id") >= 20)

    inc_path = str(tmp_path / f"inc_{mode}")
    cents = build_ivf_index(a, inc_path, num_centroids=4, assignment=mode)
    append_to_ivf_index(b, inc_path)

    full_path = str(tmp_path / f"full_{mode}")
    build_ivf_index(
        both, full_path, centroids=cents, assignment=mode
    )

    inc = {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(inc_path).select("vec_id", "cell").collect()
    }
    full = {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(full_path).select("vec_id", "cell").collect()
    }
    assert inc == full and len(inc) == 40
    spec = read_ivf_spec(spark, inc_path)
    assert spec["assignment"] == mode and spec["dim"] == 8


def test_append_custom_math_and_spec_mismatches(spark, tmp_path):
    """Spec pinning: a decimal12 index appends with its own math (build +
    append == build-once) and refuses an append presenting the other
    math, as does a float index; legacy layouts without a spec refuse
    appends; empty layouts refuse appends; ragged appended vectors die
    loudly."""
    from cassandra_analytics_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        read_ivf_spec,
        semantic_dedup_on_index,
    )

    both = _tiny_corpus(spark, range(30))
    a = both.filter(F.col("vec_id") < 15)
    b = both.filter(F.col("vec_id") >= 15)

    # decimal12 roundtrip: build+append == build-once (the append
    # follows the spec's math without being told)
    cpath = str(tmp_path / "custom")
    cents = build_ivf_index(a, cpath, num_centroids=4, math="decimal12")
    append_to_ivf_index(b, cpath)
    fpath = str(tmp_path / "custom_full")
    build_ivf_index(both, fpath, centroids=cents, math="decimal12")
    inc = {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(cpath).select("vec_id", "cell").collect()
    }
    full = {
        (r.vec_id, r.cell)
        for r in spark.read.parquet(fpath).select("vec_id", "cell").collect()
    }
    assert inc == full and len(inc) == 30
    # the on-disk spec format is unchanged: decimal12 is "custom" + its id
    spec = read_ivf_spec(spark, cpath)
    assert (spec["assignment"], spec["sim_id"]) == (
        "custom", "portable-decimal-cosine-v1",
    )

    # an append presenting the other math is a named error, both ways
    with pytest.raises(ValueError, match="math mismatch"):
        append_to_ivf_index(b, cpath, math="float")
    epath = str(tmp_path / "exprmode")
    build_ivf_index(a, epath, num_centroids=4)
    assert read_ivf_spec(spark, epath)["sim_id"] is None
    with pytest.raises(ValueError, match="math mismatch"):
        append_to_ivf_index(b, epath, math="decimal12")

    # legacy layout (no spec file) refuses append with steering
    legacy = str(tmp_path / "legacy")
    a.withColumn("cell", F.lit(0)).write.partitionBy("cell").parquet(legacy)
    with pytest.raises(ValueError, match="no persisted spec"):
        append_to_ivf_index(b, legacy)

    # empty-corpus layout refuses append (no centroids to assign with)
    empty = str(tmp_path / "empty")
    build_ivf_index(both.filter(F.lit(False)), empty)
    with pytest.raises(ValueError, match="empty corpus"):
        append_to_ivf_index(b, empty)

    # ragged appended vectors are loud in every mode
    ragged = spark.createDataFrame(
        [(99, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="dimension mismatch"):
        append_to_ivf_index(ragged, epath)

    # the extended custom index still serves the downstream consumer
    assert semantic_dedup_on_index(spark, cpath, threshold=0.99).count() >= 0


def test_lsh_append_equals_rebuild_and_spec_guards(spark, tmp_path):
    """The sign-LSH layout gets the same spec discipline as IVF: append
    hashes with the pinned plane family and equals a one-shot rebuild;
    queries validate conflicting plane parameters instead of silently
    reading buckets the corpus was never written to; legacy/empty
    layouts refuse appends; ragged appends are loud."""
    from cassandra_analytics_spark.operators.ann_index import (
        append_to_ann_index,
        build_ann_index,
        query_ann_index,
    )

    both = _tiny_corpus(spark, range(40))
    a = both.filter(F.col("vec_id") < 20)
    b = both.filter(F.col("vec_id") >= 20)

    inc = str(tmp_path / "lsh_inc")
    build_ann_index(a, inc, num_planes=5, seed=9)
    append_to_ann_index(b, inc)
    full = str(tmp_path / "lsh_full")
    build_ann_index(both, full, num_planes=5, seed=9)
    inc_rows = {
        (r.vec_id, r.sig)
        for r in spark.read.parquet(inc).select("vec_id", "sig").collect()
    }
    full_rows = {
        (r.vec_id, r.sig)
        for r in spark.read.parquet(full).select("vec_id", "sig").collect()
    }
    assert inc_rows == full_rows and len(inc_rows) == 40

    # spec-resolved query needs no plane args and equals the explicit call
    qv = [0.5] * 8
    got_spec = [r.vec_id for r in query_ann_index(spark, inc, qv, k=5).collect()]
    got_expl = [
        r.vec_id
        for r in query_ann_index(
            spark, inc, qv, k=5, num_planes=5, seed=9
        ).collect()
    ]
    assert got_spec == got_expl and len(got_spec) > 0

    # conflicting plane family is refused, not silently wrong
    with pytest.raises(ValueError, match="conflicts with the layout spec"):
        query_ann_index(spark, inc, qv, k=5, num_planes=6)
    with pytest.raises(ValueError, match="conflicts with the layout spec"):
        query_ann_index(spark, inc, qv, k=5, seed=42)
    with pytest.raises(ValueError, match="planes are 8-d"):
        query_ann_index(spark, inc, [1.0, 2.0], k=5)

    # legacy layout (no spec): append refuses, query falls back to 6/42
    legacy = str(tmp_path / "lsh_legacy")
    a.withColumn("sig", F.lit(0)).write.partitionBy("sig").parquet(legacy)
    with pytest.raises(ValueError, match="no persisted spec"):
        append_to_ann_index(b, legacy)
    # full-radius probe covers every bucket, so the legacy fallback
    # (defaults 6/42) still reads the layout
    assert query_ann_index(spark, legacy, qv, k=3, probe_hamming=6).count() > 0

    # empty-corpus layout refuses append
    empty = str(tmp_path / "lsh_empty")
    build_ann_index(both.filter(F.lit(False)), empty)
    with pytest.raises(ValueError, match="empty corpus"):
        append_to_ann_index(b, empty)

    # ragged appended vectors are loud
    ragged = spark.createDataFrame(
        [(99, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="dimension mismatch"):
        append_to_ann_index(ragged, inc)


def test_torn_rebuild_is_loud_not_silently_stale(spark, tmp_path):
    """Round-9 hostile review: a rebuild crashing between the layout and
    sidecar writes used to leave the PREVIOUS build's centroids/spec
    paired with the new cells — silent wrong results. Sidecars are now
    deleted before the layout overwrite, so the torn state fails loudly
    (IVF: missing centroids; LSH: spec-less layout warns and refuses
    appends). Also: IVF queries validate query dimension and probe count."""
    from cassandra_analytics_spark.operators.ann_index import (
        build_ivf_index,
        query_ivf_index,
        read_ivf_spec,
    )

    corpus = _tiny_corpus(spark, range(20))
    path = str(tmp_path / "ivf")
    build_ivf_index(corpus, path, num_centroids=4)

    # simulate the torn rebuild: layout rewritten, sidecars already gone
    import shutil as _sh

    _sh.rmtree(path + "_centroids")
    _sh.rmtree(path + "_spec")
    with pytest.raises(Exception):  # loud, not stale results
        query_ivf_index(spark, path, [0.0] * 8, k=3).collect()
    with pytest.raises(ValueError, match="no persisted spec"):
        read_ivf_spec(spark, path)

    # rebuild heals; then validation probes
    build_ivf_index(corpus, path, num_centroids=4)
    with pytest.raises(ValueError, match="num_probes"):
        query_ivf_index(spark, path, [0.0] * 8, k=3, num_probes=0)
    with pytest.raises(ValueError, match="query vector is 2-d"):
        query_ivf_index(spark, path, [0.0, 1.0], k=3)
    assert query_ivf_index(spark, path, [0.1] * 8, k=3).count() == 3


def test_custom_math_refuses_vectorized_mode(spark, tmp_path):
    """decimal12 runs the norm-once path; silently downgrading an
    explicit assignment='vectorized' request would surprise exactly the
    large-codebook callers who asked for it."""
    from cassandra_analytics_spark.operators.ann_index import build_ivf_index

    df = _tiny_corpus(spark, range(4))
    with pytest.raises(ValueError, match="no vectorized path"):
        build_ivf_index(
            df, str(tmp_path / "x"), assignment="vectorized",
            math="decimal12",
        )


def test_ivf_knn_join_exact_at_probe_all_and_validation(spark, tmp_path):
    """ivf_knn_join at probe-all equals per-query brute force; partial
    probes return a subset; NULL query vectors produce no rows; ragged
    queries and bad parameters are named errors; duplicate layout ids
    (replayed appends) never double-fill a query's top-k."""
    from cassandra_analytics_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_knn_join,
    )
    from cassandra_analytics_spark.operators.similarity import knn_join

    corpus = _tiny_corpus(spark, range(100, 160))
    queries = _tiny_corpus(spark, range(3)).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    path = str(tmp_path / "knn_ivf")
    build_ivf_index(corpus, path, num_centroids=8)

    got = {
        (r.qid, r.vec_id, round(r.cosine_sim, 9))
        for r in ivf_knn_join(queries, path, k=5, num_probes=8).collect()
    }
    want = {
        (r.qid, r.vec_id, round(r.cosine_sim, 9))
        for r in knn_join(queries, corpus, k=5, query_id="qid").collect()
    }
    assert got == want and len(want) == 15

    partial = {
        (r.qid, r.vec_id)
        for r in ivf_knn_join(queries, path, k=5, num_probes=2).collect()
    }
    assert partial <= {(q, v) for q, v, _ in got} or len(partial) <= 15

    # NULL query vector -> no rows for it, others unaffected
    with_null = queries.unionByName(
        spark.createDataFrame([(99, None)], "qid long, embedding array<double>")
    )
    got2 = ivf_knn_join(with_null, path, k=5, num_probes=8)
    assert got2.filter("qid = 99").count() == 0
    assert got2.count() == 15

    # duplicate layout ids from a replayed append never double-fill top-k
    append_to_ivf_index(corpus.filter(F.col("vec_id") < 105), path)
    got3 = ivf_knn_join(queries, path, k=5, num_probes=8).collect()
    for r in got3:
        pass
    ids_per_q = {}
    for r in got3:
        ids_per_q.setdefault(r.qid, []).append(r.vec_id)
    assert all(len(v) == len(set(v)) == 5 for v in ids_per_q.values())
    assert {(r.qid, r.vec_id, round(r.cosine_sim, 9)) for r in got3} == want

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0])], "qid long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dimension mismatch"):
        ivf_knn_join(ragged, path, k=5)
    with pytest.raises(ValueError, match="k must be"):
        ivf_knn_join(queries, path, k=0)
    with pytest.raises(ValueError, match="num_probes"):
        ivf_knn_join(queries, path, k=5, num_probes=0)


def test_ivf_knn_join_string_ids_and_derived_schema(spark, tmp_path):
    """Round-10 fix: the output/routing id types derive from the INPUTS
    (string/UUID doc ids are routine in LLM pipelines) — the old
    hardcoded `long` schema died in createDataFrame with an error that
    never named the problem, and the empty path disagreed with the
    non-empty path for any non-long id."""
    from cassandra_analytics_spark.operators.ann_index import (
        build_ivf_index,
        ivf_knn_join,
    )
    from cassandra_analytics_spark.operators.similarity import knn_join

    corpus = _tiny_corpus(spark, range(100, 130)).select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    queries = _tiny_corpus(spark, range(3)).select(
        F.concat(F.lit("q-"), F.col("vec_id")).alias("qid"), "embedding"
    )
    path = str(tmp_path / "sknn")
    build_ivf_index(corpus, path, num_centroids=4)

    got = ivf_knn_join(queries, path, k=3, num_probes=4)
    assert [f.dataType.simpleString() for f in got.schema.fields] == [
        "string", "string", "double",
    ]
    want = {
        (r.qid, r.vec_id, round(r.cosine_sim, 9))
        for r in knn_join(queries, corpus, k=3, query_id="qid").collect()
    }
    assert {
        (r.qid, r.vec_id, round(r.cosine_sim, 9)) for r in got.collect()
    } == want and len(want) == 9

    # the empty-result path (all query vectors NULL) returns the SAME schema
    null_q = spark.createDataFrame(
        [("qx", None)], "qid string, embedding array<double>"
    )
    empty = ivf_knn_join(null_q, path, k=3)
    assert empty.schema == got.schema
    assert empty.count() == 0


def test_ivf_knn_join_qid_uniqueness_and_probe_bounds(spark, tmp_path):
    """Round-10 executed probes: duplicate / NULL query ids would
    silently BLEND two queries into one top-k (window partitions on the
    id) — refused loudly; num_probes beyond the centroid count is
    probe-all, and k beyond the candidate count returns every candidate
    once."""
    from cassandra_analytics_spark.operators.ann_index import (
        build_ivf_index,
        ivf_knn_join,
    )

    corpus = _tiny_corpus(spark, range(100, 120))
    path = str(tmp_path / "dq")
    build_ivf_index(corpus, path, num_centroids=4)
    q = _tiny_corpus(spark, range(2)).select(
        F.col("vec_id").alias("qid"), "embedding"
    )

    with pytest.raises(ValueError, match="duplicate qid"):
        ivf_knn_join(q.unionByName(q.limit(1)), path, k=3)
    nulled = q.unionByName(
        spark.createDataFrame(
            [(None, [0.1] * 8)], "qid long, embedding array<double>"
        )
    )
    with pytest.raises(ValueError, match="NULL qid"):
        ivf_knn_join(nulled, path, k=3)

    got = ivf_knn_join(q, path, k=500, num_probes=99).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r.qid, set()).add(r.vec_id)
    assert set(per_q) == {0, 1}
    assert all(len(s) == 20 for s in per_q.values())


def test_mixed_math_read_contract(spark, tmp_path):
    """Read-time scoring math is a free choice: a read takes the
    layout's math from its spec by default (silently — no warning), and
    an explicit override of either math is accepted on either layout
    (routing is driver-side float, so the override moves scores only)."""
    import warnings as w

    from cassandra_analytics_spark.operators.ann_index import (
        build_ivf_index,
        ivf_knn_join,
        query_ivf_index,
    )

    corpus = _tiny_corpus(spark, range(50, 90))
    custom = str(tmp_path / "custom")
    build_ivf_index(corpus, custom, num_centroids=4, math="decimal12")
    builtin = str(tmp_path / "builtin")
    build_ivf_index(corpus, builtin, num_centroids=4)
    qv = [0.1] * 8
    q = _tiny_corpus(spark, range(2)).select(
        F.col("vec_id").alias("qid"), "embedding"
    )

    def top(path, math=None):
        return [
            (r.vec_id, r.cosine_sim)
            for r in query_ivf_index(
                spark, path, qv, k=3, num_probes=4, math=math
            ).collect()
        ]

    with w.catch_warnings():
        w.simplefilter("error")
        # probe-all over the same corpus: the result depends on the
        # scoring math only, never on which math built the layout
        assert top(custom) == top(custom, "decimal12") == top(
            builtin, "decimal12"
        )
        assert top(custom, "float") == top(builtin) == top(builtin, "float")
        assert len(top(custom)) == 3
        assert ivf_knn_join(q, custom, k=3, num_probes=4).count() == 6
        assert ivf_knn_join(
            q, custom, k=3, num_probes=4, math="float"
        ).count() == 6


def test_legacy_warning_names_only_the_missing_argument(spark, tmp_path):
    """Round-10 ADVICE: the pre-spec-layout warning used to claim BOTH
    defaults were assumed even when one was passed explicitly."""
    import shutil as sh
    import warnings as w

    corpus = _tiny_corpus(spark, range(10))
    legacy = str(tmp_path / "legacy")
    build_ann_index(corpus, legacy, num_planes=4, seed=7)
    sh.rmtree(legacy + "_spec")  # simulate a pre-spec layout

    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        query_ann_index(
            spark, legacy, [0.1] * 8, k=3, num_planes=4, probe_hamming=4
        ).count()
    msgs = [str(c.message) for c in caught if "no persisted spec" in str(c.message)]
    assert len(msgs) == 1
    # only seed was defaulted; num_planes=4 was given and must not be
    # claimed as assumed — the effective family is stated in full
    assert "default seed=42" in msgs[0]
    assert "num_planes=6" not in msgs[0].split("effective")[0]
    assert "num_planes=4, seed=42" in msgs[0]

    # both explicit: no warning at all
    with w.catch_warnings():
        w.simplefilter("error")
        query_ann_index(
            spark, legacy, [0.1] * 8, k=3, num_planes=4, seed=7,
            probe_hamming=4,
        ).count()


def test_knn_join_use_codes_duplicate_id_parity(spark, tmp_path):
    """r11 ADVICE low 3: use_codes phase 2 must rescore only the copies
    in cells THE QUERY probed, exactly like the float path's
    cell-joined scoring. Layout: duplicate id 900 (a replayed append)
    has copy A in cell 0 (cosine 0.6 to q1) and copy B in cell 1
    (cosine ~0.69 to q1 — HIGHER, but q1 never probes cell 1 at
    num_probes=1). The old id-only rejoin let copy B win for q1; the
    (cell, id) rejoin pins q1's score to copy A's."""
    from cassandra_analytics_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_knn_join,
    )

    def v(*pairs):
        out = [0.0] * 8
        for i, x in pairs:
            out[i] = x
        return out

    pinned = [(0, v((0, 1.0))), (1, v((1, 1.0)))]
    fillers0 = [(100 + i, v((0, 0.95), (2 + i, 0.3))) for i in range(3)]
    fillers1 = [(200 + i, v((1, 0.95), (2 + i, 0.3))) for i in range(3)]
    copy_a = (900, v((0, 0.6), (2, 0.8)))          # cell 0, cos(q1)=0.6
    copy_b = (900, v((0, 0.69), (1, 0.72)))        # cell 1, cos(q1)~0.69
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(fillers0 + fillers1 + [copy_a], schema)
    path = str(tmp_path / "dup_ivf")
    build_ivf_index(corpus, path, num_centroids=2, centroids=pinned,
                    quantize=True)
    append_to_ivf_index(spark.createDataFrame([copy_b], schema), path)

    queries = spark.createDataFrame(
        [(1, v((0, 1.0))), (2, v((1, 1.0)))], "qid long, embedding array<double>"
    )
    kw = dict(k=5, num_probes=1)
    flt = {(r.qid, r.vec_id, round(r.cosine_sim, 9))
           for r in ivf_knn_join(queries, path, **kw).collect()}
    cod = {(r.qid, r.vec_id, round(r.cosine_sim, 9))
           for r in ivf_knn_join(queries, path, use_codes=True,
                                 **kw).collect()}
    assert cod == flt
    q1_dup = [s for q, i, s in cod if q == 1 and i == 900]
    assert q1_dup == [pytest.approx(0.6)]  # copy A's score, never B's


def test_ivf_knn_join_use_pq_exact_plan_and_refusals(spark, tmp_path):
    """use_pq=True (round 14 — the last cell of the {flat, IVF} x
    {float, SQ8, PQ} x {single-query, kNN-join} matrix): at probe-all
    the PQ-ranked + exact-rescored join equals brute force per query;
    the phase-1 scan reads codes, never the float column; layout-type,
    keep_vec, and use_codes+use_pq misuses are named errors."""
    from cassandra_analytics_spark.operators.ann_index import (
        build_ivf_index,
        ivf_knn_join,
    )
    from cassandra_analytics_spark.operators.pq import save_ivf_pq_index
    from cassandra_analytics_spark.operators.similarity import knn_join

    corpus = _tiny_corpus(spark, range(100, 160))
    queries = _tiny_corpus(spark, range(3)).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    path = str(tmp_path / "knn_ivfpq")
    save_ivf_pq_index(corpus, path, num_centroids=8, m=4, ks=32, seed=3)

    joined = ivf_knn_join(
        queries, path, k=5, num_probes=8, use_pq=True, rescore_factor=12
    )
    got = {
        (r.qid, r.vec_id, round(r.cosine_sim, 9)) for r in joined.collect()
    }
    want = {
        (r.qid, r.vec_id, round(r.cosine_sim, 9))
        for r in knn_join(queries, corpus, k=5, query_id="qid").collect()
    }
    assert got == want and len(want) == 15

    # plan: a codes-only scan exists (phase 1 never reads the floats)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.split("\n") if "FileScan" in ln]
    assert any(
        "pqcode" in ln and "embedding" not in ln for ln in scans
    ), scans

    # NULL query vectors produce no rows; schema matches the empty path
    null_q = spark.createDataFrame(
        [(99, None)], "qid long, embedding array<double>"
    )
    empty = ivf_knn_join(null_q, path, k=5, use_pq=True)
    assert empty.count() == 0 and empty.schema == joined.schema

    # refusals
    with pytest.raises(ValueError, match="mutually exclusive"):
        ivf_knn_join(queries, path, use_codes=True, use_pq=True)
    lean = str(tmp_path / "knn_ivfpq_lean")
    save_ivf_pq_index(corpus, lean, num_centroids=4, m=4, ks=32,
                      keep_vec=False, seed=3)
    with pytest.raises(ValueError, match="keep_vec=False"):
        ivf_knn_join(queries, lean, use_pq=True)
    plain = str(tmp_path / "knn_plain_ivf")
    build_ivf_index(corpus, plain, num_centroids=4)
    with pytest.raises(ValueError, match="not an IVF-PQ layout|no persisted spec"):
        ivf_knn_join(queries, plain, use_pq=True)


def test_knn_join_use_pq_duplicate_id_parity(spark, tmp_path):
    """The use_pq phase 2 shares use_codes' (cell, id) rejoin: a
    duplicate-id copy in a cell the query did NOT probe can never win —
    same fixture as the use_codes parity test (copy B scores higher for
    q1 but lives in the unprobed cell)."""
    from cassandra_analytics_spark.operators.ann_index import ivf_knn_join
    from cassandra_analytics_spark.operators.pq import (
        append_to_ivf_pq_index,
        save_ivf_pq_index,
    )

    def v(*pairs):
        out = [0.0] * 8
        for i, x in pairs:
            out[i] = x
        return out

    pinned = [(0, v((0, 1.0))), (1, v((1, 1.0)))]
    fillers0 = [(100 + i, v((0, 0.95), (2 + i, 0.3))) for i in range(3)]
    fillers1 = [(200 + i, v((1, 0.95), (2 + i, 0.3))) for i in range(3)]
    copy_a = (900, v((0, 0.6), (2, 0.8)))
    copy_b = (900, v((0, 0.69), (1, 0.72)))
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(fillers0 + fillers1 + [copy_a], schema)
    path = str(tmp_path / "dup_ivfpq")
    save_ivf_pq_index(corpus, path, centroids=pinned, m=4, ks=8, seed=3)
    append_to_ivf_pq_index(spark.createDataFrame([copy_b], schema), path)

    queries = spark.createDataFrame(
        [(1, v((0, 1.0))), (2, v((1, 1.0)))],
        "qid long, embedding array<double>",
    )
    kw = dict(k=5, num_probes=1, rescore_factor=12)
    got = {(r.qid, r.vec_id, round(r.cosine_sim, 9))
           for r in ivf_knn_join(queries, path, use_pq=True,
                                 **kw).collect()}
    q1_dup = [s for q, i, s in got if q == 1 and i == 900]
    assert q1_dup == [pytest.approx(0.6)]  # copy A's score, never B's


PARENT_DECIMAL12_LAYOUT = os.path.join(
    os.path.dirname(__file__), "data", "decimal12_ivf_layout"
)


def test_pre_math_decimal12_layout_reads_and_appends(spark, tmp_path):
    """A quantized decimal12 IVF layout written before the closed
    ``math=`` setting existed (tests/data/decimal12_ivf_layout: the old
    ``assignment="custom"`` + ``sim_id="portable-decimal-cosine-v1"``
    spec, 24 8-d vectors over 4 centroids) still reads and appends:
    today's build over its vectors reproduces its cells and codes, an
    append follows its spec, and build + append equals build-once."""
    import random
    import shutil

    from cassandra_analytics_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
        query_ivf_index_quantized,
        read_ivf_spec,
    )
    from cassandra_analytics_spark.operators.similarity import spec_math

    path = str(tmp_path / "ivf")
    for part in ("ivf", "ivf_centroids", "ivf_spec"):
        shutil.copytree(
            os.path.join(PARENT_DECIMAL12_LAYOUT, part), str(tmp_path / part)
        )
    assert spec_math(read_ivf_spec(spark, path), path) == "decimal12"
    cents = sorted(
        (r.cid, list(r.centroid))
        for r in spark.read.parquet(path + "_centroids").collect()
    )
    cols = ["vec_id", "cell", "qvec", "qmin", "qscale"]

    def rows(p, where=F.lit(True)):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in spark.read.parquet(p).filter(where).select(*cols).collect()
        )

    old = spark.read.parquet(path).select("vec_id", "embedding")
    again = str(tmp_path / "again")
    build_ivf_index(old, again, centroids=cents, math="decimal12", quantize=True)
    assert rows(again) == rows(path) and len(rows(path)) == 24

    rng = random.Random(5)
    new = spark.createDataFrame(
        [(100 + i, [rng.gauss(0.0, 1.0) for _ in range(8)]) for i in range(16)],
        "vec_id long, embedding array<double>",
    )
    append_to_ivf_index(new, path)
    once = str(tmp_path / "once")
    build_ivf_index(
        old.unionByName(new), once, centroids=cents, math="decimal12",
        quantize=True,
    )
    assert rows(path) == rows(once) and len(rows(once)) == 40

    qv = [0.2] * 8
    got = query_ivf_index(spark, path, qv, k=5, num_probes=4).collect()
    want = query_ivf_index(
        spark, once, qv, k=5, num_probes=4, math="decimal12"
    ).collect()
    assert got == want and len(got) == 5
    assert query_ivf_index_quantized(
        spark, path, qv, k=5, num_probes=4
    ).collect() == want
