"""Quantized IVF layout (round 11): int8 codes stored per cell so probes
are partition-pruned AND byte-reduced, rescoring survivors from the float
column — build/append spec round-trip, probe exactness at probe-all,
plan-level byte-cut assertions, quantized kNN join."""

from __future__ import annotations

import contextlib
import io
import random

import pytest
from pyspark.sql import functions as F

from cassandra_analytics_spark.operators.ann_index import (
    append_to_ivf_index,
    build_ivf_index,
    ivf_knn_join,
    query_ivf_index,
    query_ivf_index_quantized,
    read_ivf_spec,
)
from cassandra_analytics_spark.operators.similarity import brute_force_topk


def _corpus(spark, n=240, dim=12, seed=3):
    rng = random.Random(seed)
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(n)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        rows,
    )


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_quantized_probe_all_equals_brute_force_both_modes(spark, tmp_path):
    df, rows = _corpus(spark)
    qvec = rows[0][1]
    corpus = df.filter("vec_id <> 0")
    path = str(tmp_path / "qivf")
    build_ivf_index(corpus, path, num_centroids=8, quantize=True)
    assert read_ivf_spec(spark, path)["quantized"] is True

    want = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in brute_force_topk(corpus, qvec, k=10).collect()
    ]
    for mode in ("pushdown", "join"):
        got = [
            (r.vec_id, round(r.cosine_sim, 9))
            for r in query_ivf_index_quantized(
                spark, path, qvec, k=10, num_probes=8, rescore_mode=mode
            ).collect()
        ]
        assert got == want, mode

    # the float query path still works over the quantized layout (codes
    # are additive columns, not a replacement)
    plain = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in query_ivf_index(spark, path, qvec, k=10, num_probes=8)
        .collect()
    ]
    assert plain == want


def test_quantized_probe_reads_codes_not_floats_and_prunes(spark, tmp_path):
    """The whole point of the layout: phase 1's scan must carry the code
    columns but NOT the float column in its ReadSchema, and the cell
    predicate must be a PartitionFilter on both scans."""
    df, rows = _corpus(spark)
    path = str(tmp_path / "qivf")
    build_ivf_index(df, path, num_centroids=8, quantize=True)
    out = query_ivf_index_quantized(
        spark, path, rows[0][1], k=5, num_probes=2, rescore_mode="join"
    )
    plan = _formatted_plan(out)
    scans = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln
    ]
    code_only = [
        ln for ln in scans if "qvec" in ln and "embedding" not in ln
    ]
    assert code_only, plan
    part_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert part_lines and all(
        "cell" in ln for ln in part_lines if "[]" not in ln
    ), plan


def test_quantized_append_follows_spec_and_refuses_mismatch(spark, tmp_path):
    df, rows = _corpus(spark, n=200)
    first = df.filter("vec_id < 100")
    rest = df.filter("vec_id >= 100")
    qvec = rows[5][1]

    qpath = str(tmp_path / "qivf")
    cents = build_ivf_index(first, qpath, num_centroids=8, quantize=True)
    append_to_ivf_index(rest, qpath)  # follows the spec -> codes ride
    appended = spark.read.parquet(qpath).filter("vec_id >= 100")
    assert appended.filter(F.col("qvec").isNull()).count() == 0
    assert appended.filter(
        F.col("qmin").isNull() | F.col("qscale").isNull()
    ).count() == 0

    # probe over the appended layout equals a from-scratch rebuild
    repath = str(tmp_path / "qivf_rebuild")
    build_ivf_index(
        df, repath, centroids=cents, quantize=True
    )
    a = query_ivf_index_quantized(spark, qpath, qvec, k=10, num_probes=8)
    b = query_ivf_index_quantized(spark, repath, qvec, k=10, num_probes=8)
    assert [(r.vec_id, round(r.cosine_sim, 9)) for r in a.collect()] == [
        (r.vec_id, round(r.cosine_sim, 9)) for r in b.collect()
    ]

    # explicit mismatch is refused both ways
    with pytest.raises(ValueError, match="quantization mismatch"):
        append_to_ivf_index(rest, qpath, quantize=False)
    upath = str(tmp_path / "plain")
    build_ivf_index(first, upath, num_centroids=8)
    with pytest.raises(ValueError, match="quantization mismatch"):
        append_to_ivf_index(rest, upath, quantize=True)
    # matching explicit values pass
    append_to_ivf_index(rest, qpath, quantize=True)
    append_to_ivf_index(rest, upath, quantize=False)

    # the quantized probe refuses an unquantized layout loudly
    with pytest.raises(ValueError, match="not a quantized layout"):
        query_ivf_index_quantized(spark, upath, qvec, k=3)


def test_quantized_knn_join_matches_plain_join(spark, tmp_path):
    df, rows = _corpus(spark, n=220, dim=10, seed=9)
    queries = df.filter("vec_id < 4").select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    corpus = df.filter("vec_id >= 4")
    path = str(tmp_path / "qivf")
    build_ivf_index(corpus, path, num_centroids=8, quantize=True)

    plain = ivf_knn_join(queries, path, k=5, num_probes=8)
    coded = ivf_knn_join(
        queries, path, k=5, num_probes=8, use_codes=True, rescore_factor=8
    )
    key = lambda r: (r.qid, r.vec_id, round(r.cosine_sim, 9))  # noqa: E731
    assert sorted(map(key, plain.collect())) == sorted(
        map(key, coded.collect())
    )

    # phase 1 of the coded path reads codes, not floats
    plan = _formatted_plan(coded)
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert any("qvec" in ln and "embedding" not in ln for ln in scans), plan

    # use_codes over an unquantized layout is refused
    upath = str(tmp_path / "plain")
    build_ivf_index(corpus, upath, num_centroids=8)
    with pytest.raises(ValueError, match="needs a quantized layout"):
        ivf_knn_join(queries, upath, k=5, use_codes=True)
    with pytest.raises(ValueError, match="rescore_factor"):
        ivf_knn_join(queries, path, k=5, use_codes=True, rescore_factor=0)


def test_quantized_empty_corpus_and_null_vectors(spark, tmp_path):
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "qempty")
    build_ivf_index(empty, path, num_centroids=4, quantize=True)
    out = query_ivf_index_quantized(spark, path, [1.0, 0.0], k=3)
    assert out.count() == 0 and out.columns == ["vec_id", "cosine_sim"]

    # NULL vectors land in the layout with NULL codes and never rank
    df, rows = _corpus(spark, n=60, dim=6, seed=4)
    with_null = df.unionByName(
        spark.createDataFrame(
            [(999, None)], "vec_id long, embedding array<double>"
        )
    )
    path2 = str(tmp_path / "qnull")
    build_ivf_index(with_null, path2, num_centroids=4, quantize=True)
    got = query_ivf_index_quantized(
        spark, path2, rows[0][1], k=61, num_probes=4, rescore_factor=8
    ).collect()
    assert all(r.vec_id != 999 for r in got)


def test_quantized_semdedup_pairs_equal_float_path(spark, tmp_path):
    """The code-assisted pair stage (use_codes=True) must produce
    verdicts IDENTICAL to the float pair stage — the margin prefilter is
    proven-sound, the exact confirm rescoring from floats. Planted
    near-dup corpus."""
    from cassandra_analytics_spark.operators.ann_index import (
        semantic_dedup_on_index,
    )

    rng = random.Random(31)
    dim = 16
    rows = []
    for i in range(120):
        base = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, base))
        if i % 4 == 0:  # a near-dup copy
            rows.append(
                (1000 + i, [x * (1 + rng.uniform(-0.01, 0.01)) for x in base])
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(c, [rng.gauss(0, 1) for _ in range(dim)]) for c in range(4)]
    path = str(tmp_path / "qivf")
    build_ivf_index(df, path, centroids=cents, quantize=True)

    got = {
        tuple(r)
        for r in semantic_dedup_on_index(
            spark, path, threshold=0.9, use_codes=True
        ).collect()
    }
    want = {
        tuple(r)
        for r in semantic_dedup_on_index(
            spark, path, threshold=0.9
        ).collect()
    }
    assert got == want and want  # the planted dups must be found

    upath = str(tmp_path / "plain")
    build_ivf_index(df, upath, centroids=cents)
    with pytest.raises(ValueError, match="needs a quantized layout"):
        semantic_dedup_on_index(spark, upath, use_codes=True)


def test_quantized_semdedup_margin_sound_at_threshold_boundary(spark, tmp_path):
    """Adversarial margin check: pair cosines packed DENSELY around the
    threshold (where quantization noise could flip a verdict if the
    bound were optimistic) — the quantized stage must still match the
    float stage pair-for-pair."""
    import math

    from cassandra_analytics_spark.operators.ann_index import (
        semantic_dedup_on_index,
    )

    rng = random.Random(7)
    dim = 12
    x = [rng.gauss(0, 1) for _ in range(dim)]
    z = [rng.gauss(0, 1) for _ in range(dim)]
    # orthogonalize z against x so mixing angles is controlled
    xx = sum(a * a for a in x)
    proj = sum(a * b for a, b in zip(x, z)) / xx
    z = [b - proj * a for a, b in zip(x, z)]
    rows = [(0, x)]
    # vectors at angles spanning cos in [0.90, 1.0) — threshold 0.95
    for i in range(1, 60):
        c = 0.90 + 0.0017 * i
        ang = math.acos(min(c, 1.0))
        zn = math.sqrt(sum(b * b for b in z))
        xn = math.sqrt(xx)
        v = [
            math.cos(ang) * a / xn + math.sin(ang) * b / zn
            for a, b in zip(x, z)
        ]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # one cell: every pair is a candidate
    path = str(tmp_path / "qivf")
    build_ivf_index(df, path, centroids=[(0, [1.0] * dim)], quantize=True)

    got = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in __import__(
            "cassandra_analytics_spark.operators.ann_index",
            fromlist=["_quantized_pairs_from_cells"],
        )._quantized_pairs_from_cells(
            spark.read.parquet(path), 0.95, "vec_id", "embedding",
            10_000, "float", None,
        ).collect()
    }
    from cassandra_analytics_spark.operators.similarity import (
        semantic_pairs_from_cells,
    )

    want = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in semantic_pairs_from_cells(
            spark.read.parquet(path), 0.95, "vec_id", "embedding"
        ).collect()
    }
    assert got == want and len(want) > 100  # dense boundary pairs exist
    # verdicts agree too
    a = {
        tuple(r)
        for r in semantic_dedup_on_index(
            spark, path, threshold=0.95, use_codes=True
        ).collect()
    }
    b = {
        tuple(r)
        for r in semantic_dedup_on_index(
            spark, path, threshold=0.95
        ).collect()
    }
    assert a == b


def test_knn_join_query_batching_identical_to_unbatched(spark, tmp_path):
    """VERDICT r14 item 6: the documented ~10k-query LUT ceiling is now
    code — query_batch_size chunks the collected query set and unions
    per-chunk results. With a tiny ceiling override, every mode must
    return results IDENTICAL to the unbatched path (per-query windows
    make chunks exactly composable)."""
    from cassandra_analytics_spark.operators.pq import save_ivf_pq_index

    df, rows = _corpus(spark, n=240, dim=12, seed=5)
    queries = df.filter("vec_id < 7").select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    corpus = df.filter("vec_id >= 7")
    key = lambda r: (r.qid, r.vec_id, round(r.cosine_sim, 9))  # noqa: E731

    # SQ8 layout: float mode and use_codes mode, batched vs not
    path = str(tmp_path / "qivf")
    build_ivf_index(corpus, path, num_centroids=8, quantize=True)
    for kw in ({}, {"use_codes": True, "rescore_factor": 8}):
        whole = ivf_knn_join(queries, path, k=5, num_probes=8, **kw)
        batched = ivf_knn_join(
            queries, path, k=5, num_probes=8, query_batch_size=3, **kw
        )
        assert sorted(map(key, batched.collect())) == sorted(
            map(key, whole.collect())
        ), f"batched != unbatched for {kw}"

    # IVF-PQ layout: use_pq mode, batched vs not
    pq_path = str(tmp_path / "ivfpq")
    save_ivf_pq_index(
        corpus, pq_path, num_centroids=8, m=4, ks=16,
        sample_size=200, iterations=5, seed=42,
    )
    whole = ivf_knn_join(
        queries, pq_path, k=5, num_probes=8, use_pq=True,
        rescore_factor=24,
    )
    batched = ivf_knn_join(
        queries, pq_path, k=5, num_probes=8, use_pq=True,
        rescore_factor=24, query_batch_size=2,
    )
    assert sorted(map(key, batched.collect())) == sorted(
        map(key, whole.collect())
    )

    with pytest.raises(ValueError, match="query_batch_size"):
        ivf_knn_join(queries, path, k=5, query_batch_size=0)


def test_sq8_high_dim_arrow_kernels_match_expression(spark):
    """Round 15: above quantize._EXPR_MAX_DIM the SQ8 pair scorers
    switch to Arrow numpy kernels (the 512-d A/B measured the zip_with
    form at d interpreted lambdas per pair — 571 s triggers). Kernel
    and expression must agree to float ulps and produce the IDENTICAL
    pair set; the mixed-dimension guard stays loud."""
    import random as _random

    from cassandra_analytics_spark.operators.ann_index import (
        _quantized_pairs_from_cells,
    )
    from cassandra_analytics_spark.operators.quantize import (
        _EXPR_MAX_DIM,
        approx_cosine_codes_vs_query_col,
        quantize_embeddings,
    )

    dim = 256
    assert dim > _EXPR_MAX_DIM
    rng = _random.Random(21)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    coded = (
        quantize_embeddings(df, keep_vec=True)
        # the pair scorer reads the IVF LAYOUT's code column names
        .withColumnRenamed("embedding_min", "qmin")
        .withColumnRenamed("embedding_scale", "qscale")
        .withColumn("cell", F.lit(0))
    )

    key = lambda r: (r.a, r.b, round(r.cosine_sim, 9))  # noqa: E731
    expr_pairs = sorted(
        map(key, _quantized_pairs_from_cells(
            coded, 0.1, "vec_id", "embedding", 10_000, "float", None,
        ).collect())
    )
    arrow_pairs = sorted(
        map(key, _quantized_pairs_from_cells(
            coded, 0.1, "vec_id", "embedding", 10_000, "float", None,
            dim=dim,
        ).collect())
    )
    assert arrow_pairs == expr_pairs and len(expr_pairs) > 0

    # the code-vs-query scorer: kernel values within float ulps of the
    # expression on a self-join shape (each row scored vs its own vec)
    from cassandra_analytics_spark.operators.similarity import norm as _n

    qside = coded.select(
        "vec_id", "qvec",
        F.col("qmin").alias("embedding_min"),
        F.col("qscale").alias("embedding_scale"),
        F.col("embedding").alias("__qv"),
        F.aggregate(
            "embedding", F.lit(0.0), lambda a, x: a + x
        ).alias("__qsum"),
        _n(F.col("embedding")).alias("__qn"),
    )
    for d_arg in (None, dim):
        got = {
            r["vec_id"]: r["c"]
            for r in qside.select(
                "vec_id",
                approx_cosine_codes_vs_query_col(
                    F.col("__qv"), F.col("__qsum"), F.col("__qn"),
                    dim=d_arg,
                ).alias("c"),
            ).collect()
        }
        if d_arg is None:
            want = got
        else:
            assert set(got) == set(want)
            for k in got:
                assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


def test_sq8_single_query_kernel_matches_expression(spark, monkeypatch):
    """The single-query phase-1 scorer (approx_cosine_from_codes) gets
    the same high-dim Arrow kernel: identical top-k and float-ulp-equal
    scores vs the expression form, loud length-mismatch guard kept."""
    import random as _random

    import cassandra_analytics_spark.operators.quantize as q_mod
    from cassandra_analytics_spark.operators.quantize import (
        quantize_embeddings,
        quantized_topk,
    )

    dim = 256
    rng = _random.Random(8)
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(150)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    coded = quantize_embeddings(df, keep_vec=True)
    qvec = rows[0][1]

    key = lambda r: (r.vec_id, round(r.cosine_sim, 9))  # noqa: E731
    kernel = sorted(map(key, quantized_topk(
        coded, qvec, k=10, vec_col="embedding", rescore_factor=8,
    ).collect()))
    monkeypatch.setattr(q_mod, "_EXPR_MAX_DIM", 100_000)
    expr = sorted(map(key, quantized_topk(
        coded, qvec, k=10, vec_col="embedding", rescore_factor=8,
    ).collect()))
    monkeypatch.undo()
    assert kernel == expr and len(kernel) == 10

    # length mismatch raises the same message through the kernel
    import pytest as _pytest

    from cassandra_analytics_spark.operators.quantize import (
        approx_cosine_from_codes,
    )

    short = quantize_embeddings(
        spark.createDataFrame(
            [(0, [1.0] * 200)], "vec_id long, embedding array<double>"
        ),
        keep_vec=True,
    )
    with _pytest.raises(Exception, match="256-d but found a code vector"):
        short.select(
            approx_cosine_from_codes([1.0] * 256).alias("c")
        ).collect()


def test_probe_cost_pinned(spark, tmp_path, py4j_calls, spark_jobs):
    """One IVF-SQ8 probe reads its sidecars on the driver (0 Spark jobs)
    and builds its scoring plan from SQL text: at most 150 py4j round
    trips to build, and 3 Spark jobs once collected — the index scan's
    schema inference, the survivor collect and the final collect."""
    from cassandra_analytics_spark.operators.ann_index import read_centroids

    df, rows = _corpus(spark)
    path = str(tmp_path / "qivf")
    build_ivf_index(df, path, num_centroids=8, quantize=True)
    qvec = rows[0][1]
    query_ivf_index_quantized(spark, path, qvec, k=5, num_probes=4).collect()
    with spark_jobs() as sidecar_jobs:
        read_ivf_spec(spark, path)
        read_centroids(spark, path)
    assert sidecar_jobs.count == 0
    with spark_jobs() as jobs:
        with py4j_calls() as calls:
            out = query_ivf_index_quantized(
                spark, path, qvec, k=5, num_probes=4
            )
        got = out.collect()
    assert calls.count <= 150, calls.count
    assert jobs.count == 3
    assert len(got) == 5 and got[0].vec_id == 0


def _spark_sidecar_rows(spark, path):
    return [r.asDict() for r in spark.read.parquet(path).collect()]


def test_sidecar_reads_match_spark_reads(spark, tmp_path):
    """``fs.read_sidecar`` returns exactly the dicts the Spark read did,
    on every sidecar kind the layouts write: the checked-in decimal12
    IVF fixture, IVF-SQ8, sign-LSH, PQ and IVF-PQ."""
    import os

    from cassandra_analytics_spark.fs import read_sidecar
    from cassandra_analytics_spark.operators.ann_index import build_ann_index
    from cassandra_analytics_spark.operators.pq import (
        save_ivf_pq_index,
        save_pq_index,
    )

    df, _ = _corpus(spark, n=96, dim=8)
    build_ivf_index(df, str(tmp_path / "ivf"), num_centroids=4, quantize=True)
    build_ann_index(df, str(tmp_path / "lsh"), num_planes=4)
    save_pq_index(df, str(tmp_path / "pq"), m=4, ks=8, seed=3)
    save_ivf_pq_index(
        df, str(tmp_path / "ivfpq"), num_centroids=4, m=4, ks=8,
        residuals=True,
    )
    fixture = os.path.join(
        os.path.dirname(__file__), "data", "decimal12_ivf_layout", "ivf"
    )
    sidecars = [
        f"{fixture}_spec", f"{fixture}_centroids",
        str(tmp_path / "ivf_spec"), str(tmp_path / "ivf_centroids"),
        str(tmp_path / "lsh_spec"),
        str(tmp_path / "pq_spec"), str(tmp_path / "pq_codebook"),
        str(tmp_path / "ivfpq_spec"), str(tmp_path / "ivfpq_codebook"),
        str(tmp_path / "ivfpq_centroids"),
    ]
    for path in sidecars:
        got = read_sidecar(spark, path)
        assert got and got == _spark_sidecar_rows(spark, path), path


def test_sidecar_failures_keep_their_outcomes(spark, tmp_path):
    """A missing sidecar, a sidecar dir with no data file (Spark's read
    raised AnalysisException for it) and a multi-row spec end as they did
    when Spark read them; a spec written before a column existed reads
    without that key, so the spec normalizer still fills it in."""
    from pyspark.errors import AnalysisException

    from cassandra_analytics_spark.fs import read_sidecar
    from cassandra_analytics_spark.local_data import local_df
    from cassandra_analytics_spark.operators.ann_index import (
        _IVF_SPEC_SCHEMA,
        _read_ivf_spec_optional,
    )
    from cassandra_analytics_spark.operators.pq import (
        _IVF_PQ_SPEC_SCHEMA,
        _PQ_SPEC_SCHEMA,
        read_ivf_pq_spec,
        read_pq_spec,
    )

    empty = tmp_path / "empty_spec"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    with pytest.raises(AnalysisException):
        spark.read.parquet(str(empty))
    for layout in (str(tmp_path / "missing"), str(tmp_path / "empty")):
        assert read_sidecar(spark, f"{layout}_spec") is None
        assert _read_ivf_spec_optional(spark, layout) is None
        with pytest.raises(ValueError, match="no persisted spec"):
            read_ivf_spec(spark, layout)
        with pytest.raises(ValueError, match="no persisted PQ spec"):
            read_pq_spec(spark, layout)
        with pytest.raises(ValueError, match="no persisted spec"):
            read_ivf_pq_spec(spark, layout)

    def write_spec(name, rows, schema):
        local_df(spark, rows, schema).coalesce(1).write.parquet(
            str(tmp_path / f"{name}_spec")
        )
        return str(tmp_path / name)

    ivf = write_spec(
        "ivf", [("ivf-v1", "expr", None, 8, 4, 1, True)] * 2, _IVF_SPEC_SCHEMA
    )
    with pytest.raises(ValueError, match="corrupt layout spec"):
        _read_ivf_spec_optional(spark, ivf)
    pq = write_spec("pq", [("pq-v1", 8, 4, 8, True)] * 2, _PQ_SPEC_SCHEMA)
    with pytest.raises(ValueError, match="corrupt PQ spec"):
        read_pq_spec(spark, pq)
    ivfpq = write_spec(
        "ivfpq",
        [("ivf-pq-v1", 8, 4, 8, 4, True, "expr", None, False, "raw")] * 2,
        _IVF_PQ_SPEC_SCHEMA,
    )
    with pytest.raises(ValueError, match="not an IVF-PQ layout"):
        read_ivf_pq_spec(spark, ivfpq)

    old = write_spec(
        "old",
        [("ivf-pq-v1", 8, 4, 8, 4, True)],
        "format string, dim int, m int, ks int, num_centroids int, "
        "keep_vec boolean",
    )
    raw = read_sidecar(spark, f"{old}_spec")
    assert raw == _spark_sidecar_rows(spark, f"{old}_spec")
    assert "assignment" not in raw[0]
    spec = read_ivf_pq_spec(spark, old)
    assert (spec["assignment"], spec["encoding"]) == ("expr", "raw")


def test_driver_written_sidecars_match_spark_written(spark, tmp_path):
    """``fs.write_sidecar`` writes every sidecar kind so that both
    ``read_sidecar`` and ``spark.read.parquet`` see what they saw of
    the Spark write of the same rows: LSH, IVF, PQ and IVF-PQ specs
    (the empty-corpus specs' ``dim`` is NULL), centroid tables (one of
    them empty) and a codebook."""
    from cassandra_analytics_spark.fs import read_sidecar, write_sidecar
    from cassandra_analytics_spark.local_data import local_df
    from cassandra_analytics_spark.operators.ann_index import (
        _IVF_SPEC_SCHEMA,
        _LSH_SPEC_SCHEMA,
    )
    from cassandra_analytics_spark.operators.pq import (
        _IVF_PQ_SPEC_SCHEMA,
        _PQ_SPEC_SCHEMA,
    )

    rng = random.Random(5)
    centroids = "cid int, centroid array<double>"
    kinds = {
        "lsh_spec": ([("ann-lsh-v1", 4, 42, 8)], _LSH_SPEC_SCHEMA),
        "lsh_empty_spec": ([("ann-lsh-v1", 4, 42, None)], _LSH_SPEC_SCHEMA),
        "ivf_spec": (
            [("ivf-v1", "expr", None, 8, 4, 7, True)], _IVF_SPEC_SCHEMA
        ),
        "ivf_empty_spec": (
            [("ivf-v1", "kernel", "float", None, 0, 7, False)],
            _IVF_SPEC_SCHEMA,
        ),
        "ivf_centroids": (
            [(c, [rng.gauss(0, 1) for _ in range(8)]) for c in range(4)],
            centroids,
        ),
        "ivf_empty_centroids": ([], centroids),
        "pq_codebook": (
            [(i, j, [rng.gauss(0, 1) for _ in range(2)])
             for i in range(4) for j in range(8)],
            "sub int, code int, centroid array<double>",
        ),
        "pq_spec": ([("pq-v1", 8, 4, 8, False)], _PQ_SPEC_SCHEMA),
        "ivfpq_spec": (
            [("ivf-pq-v1", 8, 4, 8, 4, True, "expr", None, True, "residual")],
            _IVF_PQ_SPEC_SCHEMA,
        ),
    }
    for name, (rows, schema) in kinds.items():
        ours, theirs = str(tmp_path / f"d_{name}"), str(tmp_path / f"s_{name}")
        write_sidecar(spark, ours, rows, schema)
        local_df(spark, rows, schema).coalesce(1).write.parquet(theirs)
        assert read_sidecar(spark, ours) == read_sidecar(spark, theirs), name
        ours_df, theirs_df = spark.read.parquet(ours), spark.read.parquet(theirs)
        assert ours_df.schema == theirs_df.schema, name
        assert ours_df.collect() == theirs_df.collect(), name
    # a rewrite replaces the directory's one data file
    write_sidecar(spark, str(tmp_path / "d_pq_spec"),
                  [("pq-v1", 8, 4, 8, True)], _PQ_SPEC_SCHEMA)
    assert read_sidecar(spark, str(tmp_path / "d_pq_spec")) == [
        {"format": "pq-v1", "dim": 8, "m": 4, "ks": 8, "keep_vec": True}
    ]


def test_sidecar_over_64kb_reads_like_spark(spark, tmp_path):
    """A sidecar file larger than 64 KB comes back over py4j in many
    chunks and still reads the rows the Spark read does."""
    import os

    from cassandra_analytics_spark.fs import read_sidecar, write_sidecar

    rng = random.Random(9)
    rows = [
        (i, j, [rng.gauss(0, 1) for _ in range(8)])
        for i in range(16)
        for j in range(256)
    ]
    path = str(tmp_path / "big_codebook")
    write_sidecar(
        spark, path, rows, "sub int, code int, centroid array<double>"
    )
    (data,) = [f for f in os.listdir(path) if not f.startswith(("_", "."))]
    assert os.path.getsize(os.path.join(path, data)) > 64 * 1024
    got = read_sidecar(spark, path)
    assert len(got) == len(rows)
    assert got == _spark_sidecar_rows(spark, path)


def test_string_and_long_ids_rescore_identically(spark, tmp_path):
    """The survivor ``IN`` list is typed like the id column: a layout
    with STRING ids (holding a quote and a backslash) returns the same
    neighbors and scores as the same vectors under long ids, in both
    rescore modes."""
    _, rows = _corpus(spark, n=160, dim=8, seed=11)
    longs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def sid(i):
        return f"d'\\{i:04d}"

    strings = spark.createDataFrame(
        [(sid(i), v) for i, v in rows], "vec_id string, embedding array<double>"
    )
    lpath, spath = str(tmp_path / "long"), str(tmp_path / "str")
    cents = build_ivf_index(longs, lpath, num_centroids=4, quantize=True)
    build_ivf_index(strings, spath, centroids=cents, quantize=True)
    qvec = rows[7][1]
    for mode in ("pushdown", "join"):
        want = [
            (sid(r.vec_id), r.cosine_sim)
            for r in query_ivf_index_quantized(
                spark, lpath, qvec, k=8, num_probes=2, rescore_mode=mode
            ).collect()
        ]
        got = [
            (r.vec_id, r.cosine_sim)
            for r in query_ivf_index_quantized(
                spark, spath, qvec, k=8, num_probes=2, rescore_mode=mode
            ).collect()
        ]
        assert got == want and len(got) == 8, mode
