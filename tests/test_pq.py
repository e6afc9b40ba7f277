"""Product quantization (operators/pq.py): trained per-subspace
codebooks, Arrow-batched encoding, ADC two-phase top-k."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from cassandra_analytics_spark.operators.pq import (
    pq_adc_topk,
    pq_encode,
    train_pq_codebook,
)


def _corpus(spark, n=400, dim=16, seed=7):
    rng = random.Random(seed)
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(n)]
    return rows, spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_training_is_deterministic_and_shaped(spark):
    _, df = _corpus(spark)
    a = train_pq_codebook(df, m=4, ks=16, sample_size=400, seed=3)
    b = train_pq_codebook(df, m=4, ks=16, sample_size=400, seed=3)
    assert a == b  # same seed, same sample -> identical codebook
    assert (a.dim, a.m, a.ks, a.dsub) == (16, 4, 16, 4)
    assert len(a.centroids) == 4 and len(a.centroids[0]) == 16
    assert len(a.centroids[0][0]) == 4
    c = train_pq_codebook(df, m=4, ks=16, sample_size=400, seed=4)
    assert c != a  # different seed moves the codebook

    # fewer sample points than codewords: ks shrinks, stays live
    tiny = train_pq_codebook(df.limit(5), m=4, ks=256, sample_size=5, seed=1)
    assert tiny.ks == 5

    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebook(df, m=5, ks=16)
    with pytest.raises(ValueError, match="ks must be"):
        train_pq_codebook(df, m=4, ks=300)
    with pytest.raises(ValueError, match="no non-NULL"):
        train_pq_codebook(
            spark.createDataFrame([(1, None)], "vec_id long, embedding array<double>"),
            m=4,
        )


def _pq_kmeans_loop(x, m, k, iterations, seed):
    """The per-codeword loop form of the k-means update: one mask and
    one mean per codeword, a dead codeword re-seeded from the farthest
    point."""
    import numpy as np

    n, dim = x.shape
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = []
    for i in range(m):
        sub = x[:, i * dsub:(i + 1) * dsub]
        cents = sub[rng.choice(n, size=k, replace=False)].copy()
        for _ in range(max(1, iterations)):
            d2 = (
                (sub * sub).sum(axis=1, keepdims=True)
                - 2.0 * sub @ cents.T
                + (cents * cents).sum(axis=1)
            )
            assign = d2.argmin(axis=1)
            for j in range(k):
                mask = assign == j
                if mask.any():
                    cents[j] = sub[mask].mean(axis=0)
                else:
                    cents[j] = sub[d2.min(axis=1).argmax()]
        books.append(tuple(tuple(float(v) for v in c) for c in cents))
    return tuple(books)


def test_kmeans_update_is_bit_identical_to_the_loop_form():
    """The vectorized codeword update gives the loop form's codebook bit
    for bit, also when most codewords die: a sample with fewer distinct
    points than codewords."""
    import numpy as np

    from cassandra_analytics_spark.operators.pq import _pq_kmeans

    for seed in (1, 2, 3):
        x = np.random.default_rng(seed).normal(size=(600, 32))
        assert _pq_kmeans(x, 8, 32, 6, seed) == _pq_kmeans_loop(x, 8, 32, 6, seed)
    few = np.repeat(np.random.default_rng(4).normal(size=(5, 8)), 12, axis=0)
    assert len(np.unique(few, axis=0)) < 16
    assert _pq_kmeans(few, 2, 16, 8, 4) == _pq_kmeans_loop(few, 2, 16, 8, 4)


def test_encode_codes_nulls_and_dim_guard(spark):
    rows, df = _corpus(spark, n=100)
    cb = train_pq_codebook(df, m=4, ks=16, seed=3)
    with_null = df.unionByName(
        spark.createDataFrame(
            [(999, None)], "vec_id long, embedding array<double>"
        )
    )
    enc = pq_encode(with_null, cb, keep_vec=True)
    got = {r.vec_id: r for r in enc.collect()}
    assert len(got) == 101
    assert got[999].pqcode is None and got[999].pq_norm is None
    sample = got[0]
    assert len(sample.pqcode) == 4
    assert all(-128 <= c <= 127 for c in sample.pqcode)
    # stored norm equals the reconstructed concat-centroid norm
    import math

    rec = [
        v
        for i, c in enumerate(sample.pqcode)
        for v in cb.centroids[i][c + 128]
    ]
    assert sample.pq_norm == pytest.approx(
        math.sqrt(sum(v * v for v in rec))
    )

    ragged = spark.createDataFrame(
        [(1, [0.0] * 8)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="dimension mismatch"):
        pq_encode(ragged, cb).collect()


def test_adc_topk_exact_under_rescore_and_modes(spark):
    rows, df = _corpus(spark)
    from cassandra_analytics_spark.operators.similarity import (
        brute_force_topk,
    )

    cb = train_pq_codebook(df, m=8, ks=32, seed=3)
    enc = pq_encode(df, cb, keep_vec=True)
    q = rows[0][1]
    want = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in brute_force_topk(df, q, k=7).collect()
    ]
    for mode in ("pushdown", "join"):
        got = [
            (r.vec_id, round(r.cosine_sim, 9))
            for r in pq_adc_topk(
                enc, cb, q, k=7, vec_col="embedding",
                rescore_factor=20, rescore_mode=mode,
            ).collect()
        ]
        assert got == want, mode

    # approx-only mode returns k rows ranked by ADC score
    ap = pq_adc_topk(enc, cb, q, k=7).collect()
    assert len(ap) == 7
    assert [r.cosine_sim for r in ap] == sorted(
        (r.cosine_sim for r in ap), reverse=True
    )

    # NULL-code rows never rank
    with_null = enc.unionByName(
        spark.createDataFrame(
            [(999, None, None, None)],
            "vec_id long, embedding array<double>, "
            "pqcode array<tinyint>, pq_norm double",
        )
    )
    assert not [
        r
        for r in pq_adc_topk(with_null, cb, q, k=400).collect()
        if r.vec_id == 999
    ]


def test_adc_topk_validation(spark):
    rows, df = _corpus(spark, n=50)
    cb = train_pq_codebook(df, m=4, ks=16, seed=3)
    enc = pq_encode(df, cb)
    q = rows[0][1]
    with pytest.raises(ValueError, match="k must be"):
        pq_adc_topk(enc, cb, q, k=0)
    with pytest.raises(ValueError, match="rescore_factor"):
        pq_adc_topk(enc, cb, q, rescore_factor=0)
    with pytest.raises(ValueError, match="rescore_mode"):
        pq_adc_topk(enc, cb, q, rescore_mode="x")
    with pytest.raises(ValueError, match="non-empty and finite"):
        pq_adc_topk(enc, cb, [float("nan")] * 16)
    with pytest.raises(ValueError, match="16-d but the query"):
        pq_adc_topk(enc, cb, [0.0] * 8)
    # a code row of the wrong m raises loudly inside the expression
    bad = spark.createDataFrame(
        [(1, [0] * 7, 1.0)],
        "vec_id long, pqcode array<tinyint>, pq_norm double",
    )
    with pytest.raises(Exception, match="m=4 subspaces"):
        pq_adc_topk(bad, cb, q, k=1).collect()


def test_phase1_plan_reads_codes_not_floats(spark, tmp_path):
    """The ADC phase-1 scan must NOT carry the float column — the whole
    point is m bytes + one double per row (the quantized_topk plan
    discipline, round-10 audit)."""
    rows, df = _corpus(spark, n=200)
    cb = train_pq_codebook(df, m=4, ks=16, seed=3)
    path = str(tmp_path / "pq")
    pq_encode(df, cb, keep_vec=True).write.parquet(path)
    enc = spark.read.parquet(path)
    q = rows[0][1]
    plan = pq_adc_topk(enc, cb, q, k=5)._jdf.queryExecution().executedPlan().toString()
    scans = [
        ln for ln in plan.split("\n") if "ReadSchema" in ln
    ]
    phase1 = [ln for ln in scans if "pqcode" in ln]
    assert phase1 and all("embedding" not in ln for ln in phase1)


def test_persisted_pq_layout_roundtrip_and_spec_discipline(spark, tmp_path):
    """save/load/query over the persisted PQ layout (the LSH/IVF spec
    discipline applied to PQ): roundtrip exactness under rescore, the
    codebook rehydrates bit-identically, keep_vec=False refuses rescore
    LOUDLY, and missing/corrupt specs are named errors."""
    from cassandra_analytics_spark.operators.pq import (
        _resolve_ivf_pq_codebook,
        load_pq_codebook,
        query_pq_index,
        read_pq_spec,
        save_pq_index,
    )
    from cassandra_analytics_spark.operators.similarity import (
        brute_force_topk,
    )

    rows, df = _corpus(spark, n=300)
    path = str(tmp_path / "pq_idx")
    cb = save_pq_index(df, path, m=8, ks=32, seed=3)
    assert load_pq_codebook(spark, path) == cb
    spec = read_pq_spec(spark, path)
    assert (spec["dim"], spec["m"], spec["ks"], spec["keep_vec"]) == (
        16, 8, 32, True,
    )

    q = rows[0][1]
    want = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in brute_force_topk(df, q, k=7).collect()
    ]
    got = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in query_pq_index(spark, path, q, k=7,
                                rescore_factor=20).collect()
    ]
    assert got == want

    # codes-only archival layout: approximate reads work, rescore refused
    lean = str(tmp_path / "pq_lean")
    save_pq_index(df, lean, codebook=cb, keep_vec=False)
    approx = query_pq_index(spark, lean, q, k=7, rescore=False)
    assert approx.count() == 7
    with pytest.raises(ValueError, match="keep_vec=False"):
        query_pq_index(spark, lean, q, k=7)

    # spec discipline: a spec-less dir is a named error
    import shutil

    shutil.rmtree(lean + "_spec")
    with pytest.raises(ValueError, match="no persisted PQ spec"):
        query_pq_index(spark, lean, q, k=7, rescore=False)


def test_query_pq_index_preloaded_codebook(spark, tmp_path):
    """codebook= preload skips the per-call rehydration (batch-query
    amortization) but a geometry mismatch is refused, never silently
    mis-decoded."""
    from cassandra_analytics_spark.operators.pq import (
        query_pq_index,
        save_pq_index,
        train_pq_codebook,
    )

    rows, df = _corpus(spark, n=150)
    path = str(tmp_path / "pq_pre")
    cb = save_pq_index(df, path, m=8, ks=16, seed=3)
    q = rows[0][1]
    a = {(r.vec_id, round(r.cosine_sim, 9))
         for r in query_pq_index(spark, path, q, k=5,
                                 rescore_factor=20).collect()}
    b = {(r.vec_id, round(r.cosine_sim, 9))
         for r in query_pq_index(spark, path, q, k=5, rescore_factor=20,
                                 codebook=cb).collect()}
    assert a == b
    other = train_pq_codebook(df, m=4, ks=16, seed=3)
    with pytest.raises(ValueError, match="does not match the layout"):
        query_pq_index(spark, path, q, k=5, codebook=other)


def test_ivf_pq_layout_probe_all_exact_and_pruning(spark, tmp_path):
    """IVF-PQ composition: probe-all + rescore equals brute force;
    partial probes return a subset; the probe scan is PARTITION-pruned
    to the probed cells AND reads codes, not floats, in phase 1;
    keep_vec=False refuses rescore; spec cross-reads are named errors."""
    from cassandra_analytics_spark.operators.pq import (
        query_ivf_pq_index,
        query_pq_index,
        save_ivf_pq_index,
        save_pq_index,
    )
    from cassandra_analytics_spark.operators.similarity import (
        brute_force_topk,
    )

    rows, df = _corpus(spark, n=300)
    path = str(tmp_path / "ivfpq")
    cents, cb = save_ivf_pq_index(
        df, path, num_centroids=6, m=8, ks=32, seed=3
    )
    assert len(cents) == 6 and cb.m == 8

    q = rows[0][1]
    want = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in brute_force_topk(df, q, k=7).collect()
    ]
    got = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in query_ivf_pq_index(
            spark, path, q, k=7, num_probes=6, rescore_factor=20
        ).collect()
    ]
    assert got == want  # probe-all + rescore window = exact

    partial = {
        r.vec_id
        for r in query_ivf_pq_index(
            spark, path, q, k=7, num_probes=2, rescore_factor=20
        ).collect()
    }
    assert partial  # non-empty subset of some top list
    # plan: phase 1 prunes PARTITIONS to the probed cells and reads
    # codes, never the float column. The pushdown rescore collects
    # survivors eagerly (its returned plan is phase-2 only), so audit
    # the join-mode plan — one lazy tree holding BOTH scans.
    plan = (
        query_ivf_pq_index(spark, path, q, k=7, num_probes=2,
                           rescore_mode="join")
        ._jdf.queryExecution().executedPlan().toString()
    )
    scans = [ln for ln in plan.split("\n") if "FileScan" in ln]
    phase1 = [ln for ln in scans if "pqcode" in ln and "embedding" not in ln]
    assert phase1, scans  # the codes scan exists and carries no floats
    pf = [ln for ln in plan.split("\n") if "PartitionFilters" in ln]
    assert any("cell" in ln and " IN " in ln for ln in pf), pf

    # codes-only layout refuses rescore; flat-PQ spec refused here
    lean = str(tmp_path / "ivfpq_lean")
    save_ivf_pq_index(df, lean, num_centroids=4, codebook=cb,
                      keep_vec=False, seed=3)
    assert query_ivf_pq_index(
        spark, lean, q, k=7, num_probes=4, rescore=False
    ).count() == 7
    with pytest.raises(ValueError, match="keep_vec=False"):
        query_ivf_pq_index(spark, lean, q, k=7)
    flat = str(tmp_path / "flatpq")
    save_pq_index(df, flat, codebook=cb)
    with pytest.raises(ValueError, match="not an IVF-PQ layout"):
        query_ivf_pq_index(spark, flat, q, k=7)
    with pytest.raises(ValueError, match="not a save_pq_index layout|pq-v1"):
        query_pq_index(spark, lean, q, k=7, rescore=False)


def test_adc_topk_code_range_guard(spark):
    """A corpus encoded with a LARGER-ks codebook must fail LOUDLY at
    query time, not silently drop rows: element_at past the LUT is
    non-ANSI NULL, so without the guard the mismatched rows would just
    vanish from the ranking (r13 ADVICE low)."""
    rows, df = _corpus(spark, n=120)
    big = train_pq_codebook(df, m=4, ks=64, seed=3)
    small = train_pq_codebook(df, m=4, ks=16, seed=3)
    enc_big = pq_encode(df, big)
    q = rows[0][1]
    # sanity: at least one code in the big encoding is out of the
    # small codebook's range (argmin >= 16 -> stored code >= -112)
    assert enc_big.filter(
        F.exists("pqcode", lambda c: c.cast("int") + F.lit(128) >= 16)
    ).count() > 0
    with pytest.raises(Exception, match="ks=16 codewords"):
        pq_adc_topk(enc_big, small, q, k=5).collect()
    # the matching codebook still reads the same corpus fine
    assert pq_adc_topk(enc_big, big, q, k=5).count() == 5


def test_training_sample_is_scan_order_independent(spark):
    """The training sample is the seeded-hash top-N, not the first N in
    partition order: a clustered/sorted corpus must train the same
    codebook regardless of row order (r13 ADVICE low — FAISS trains on
    a random sample)."""
    rows, df = _corpus(spark, n=400)
    shuffled = df.orderBy(F.col("vec_id").desc()).repartition(7)
    a = train_pq_codebook(df, m=4, ks=16, sample_size=100, seed=3)
    b = train_pq_codebook(shuffled, m=4, ks=16, sample_size=100, seed=3)
    assert a == b


def test_append_to_pq_index_roundtrip_and_refusals(spark, tmp_path):
    """Build on half, append the other half with the FROZEN codebook,
    read back exactly; geometry-mismatched preloads refused; keep_vec
    follows the spec (a codes-only layout's appends stay codes-only)."""
    from cassandra_analytics_spark.operators.pq import (
        append_to_pq_index,
        query_pq_index,
        save_pq_index,
        train_pq_codebook,
    )
    from cassandra_analytics_spark.operators.similarity import (
        brute_force_topk,
    )

    rows, df = _corpus(spark, n=300)
    first = df.filter(F.col("vec_id") % 2 == 0)
    second = df.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "pq_app")
    cb = save_pq_index(first, path, m=8, ks=32, seed=3)
    append_to_pq_index(second, path)

    q = rows[0][1]
    want = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in brute_force_topk(df, q, k=7).collect()
    ]
    got = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in query_pq_index(spark, path, q, k=7,
                                rescore_factor=40).collect()
    ]
    assert got == want
    # appended rows carry codes from the FROZEN codebook: re-encoding
    # the second half directly must agree byte-for-byte
    from cassandra_analytics_spark.operators.pq import pq_encode as _enc

    disk = {
        r.vec_id: (tuple(r.pqcode), r.pq_norm)
        for r in spark.read.parquet(path).filter(
            F.col("vec_id") % 2 == 1).collect()
    }
    fresh = {
        r.vec_id: (tuple(r.pqcode), r.pq_norm)
        for r in _enc(second, cb, keep_vec=True).collect()
    }
    assert disk == fresh

    # geometry-mismatched preload refused
    other = train_pq_codebook(df, m=4, ks=16, seed=3)
    with pytest.raises(ValueError, match="does not match the layout"):
        append_to_pq_index(second, path, codebook=other)
    # matching preload accepted (skips rehydration)
    append_to_pq_index(second.limit(0), path, codebook=cb)

    # codes-only layout: appends stay codes-only (keep_vec follows spec)
    lean = str(tmp_path / "pq_app_lean")
    save_pq_index(first, lean, codebook=cb, keep_vec=False)
    append_to_pq_index(second, lean)
    assert "embedding" not in spark.read.parquet(lean).columns
    assert spark.read.parquet(lean).count() == 300

    # spec-less dir refused
    import shutil

    shutil.rmtree(lean + "_spec")
    with pytest.raises(ValueError, match="no persisted PQ spec"):
        append_to_pq_index(second, lean)


def test_append_to_ivf_pq_index_roundtrip_and_refusals(spark, tmp_path):
    """IVF-PQ append: batch rows cell-assigned against the PINNED coarse
    centroids and encoded with the FROZEN codebook; probe-all read of
    the extended layout equals brute force; refusals mirror the query
    path."""
    from cassandra_analytics_spark.operators.pq import (
        append_to_ivf_pq_index,
        query_ivf_pq_index,
        save_ivf_pq_index,
        save_pq_index,
        train_pq_codebook,
    )
    from cassandra_analytics_spark.operators.similarity import (
        brute_force_topk,
    )

    rows, df = _corpus(spark, n=300)
    first = df.filter(F.col("vec_id") % 2 == 0)
    second = df.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivfpq_app")
    cents, cb = save_ivf_pq_index(
        first, path, num_centroids=5, m=8, ks=32, seed=3
    )
    append_to_ivf_pq_index(second, path)

    q = rows[0][1]
    want = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in brute_force_topk(df, q, k=7).collect()
    ]
    got = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in query_ivf_pq_index(
            spark, path, q, k=7, num_probes=5, rescore_factor=40
        ).collect()
    ]
    assert got == want

    # appended rows landed in the SAME cells the build assignment
    # would give them (pinned centroids, not re-sampled ones)
    from cassandra_analytics_spark.operators.similarity import (
        nearest_centroid_cell,
    )

    expect = {
        r.vec_id: r.cell
        for r in second.select(
            "vec_id",
            nearest_centroid_cell(F.col("embedding"), cents).alias("cell"),
        ).collect()
    }
    disk = {
        r.vec_id: r.cell
        for r in spark.read.parquet(path).filter(
            F.col("vec_id") % 2 == 1).select("vec_id", "cell").collect()
    }
    assert disk == expect

    other = train_pq_codebook(df, m=4, ks=16, seed=3)
    with pytest.raises(ValueError, match="does not match the layout"):
        append_to_ivf_pq_index(second, path, codebook=other)

    # keep_vec=False layout: appends drop the float column too
    lean = str(tmp_path / "ivfpq_app_lean")
    save_ivf_pq_index(first, lean, num_centroids=4, codebook=cb,
                      keep_vec=False, seed=3)
    append_to_ivf_pq_index(second, lean)
    assert "embedding" not in spark.read.parquet(lean).columns
    assert spark.read.parquet(lean).count() == 300

    # a flat-PQ layout presented at the IVF-PQ append path is refused
    flat = str(tmp_path / "flatpq_app")
    save_pq_index(first, flat, codebook=cb)
    with pytest.raises(ValueError, match="not an IVF-PQ layout"):
        append_to_ivf_pq_index(second, flat)


def test_ivf_pq_custom_math_spec_contract(spark, tmp_path):
    """save_ivf_pq_index's decimal12 assignment mirrors
    build_ivf_index's contract: the math is pinned in the spec (in the
    unchanged on-disk "custom" + sim_id form); appends follow it and
    refuse the other math; a float layout refuses a decimal12 append;
    assignments match the build's (append = rebuild equivalence on
    cells); reads follow the layout's math and accept an override."""
    import warnings as w

    from cassandra_analytics_spark.operators.pq import (
        append_to_ivf_pq_index,
        query_ivf_pq_index,
        read_ivf_pq_spec,
        save_ivf_pq_index,
    )

    rows, df = _corpus(spark, n=120)
    first = df.filter(F.col("vec_id") % 2 == 0)
    second = df.filter(F.col("vec_id") % 2 == 1)

    cpath = str(tmp_path / "ivfpq_custom")
    cents, cb = save_ivf_pq_index(
        first, cpath, num_centroids=4, m=4, ks=16, seed=3,
        math="decimal12", residuals=True,
    )
    spec = read_ivf_pq_spec(spark, cpath)
    assert (spec["assignment"], spec["sim_id"], spec["residuals"]) == (
        "custom", "portable-decimal-cosine-v1", True,
    )
    with pytest.raises(ValueError, match="math mismatch"):
        append_to_ivf_pq_index(second, cpath, math="float")
    append_to_ivf_pq_index(second, cpath)
    grown = spark.read.parquet(cpath)
    assert grown.count() == 120
    # appended rows are residual-complete (residuals follow the spec)
    assert grown.filter(F.col("pq_err").isNull()).count() == 0
    full = str(tmp_path / "ivfpq_custom_full")
    save_ivf_pq_index(
        df, full, centroids=cents, codebook=cb, math="decimal12",
        residuals=True,
    )

    def cells(p):
        return sorted(
            (r.vec_id, r.cell)
            for r in spark.read.parquet(p).select("vec_id", "cell").collect()
        )

    assert cells(cpath) == cells(full)

    # a float layout refuses a decimal12 append
    epath = str(tmp_path / "ivfpq_expr")
    save_ivf_pq_index(first, epath, num_centroids=4, codebook=cb, seed=3)
    with pytest.raises(ValueError, match="math mismatch"):
        append_to_ivf_pq_index(second, epath, math="decimal12")

    # reads follow the layout's math silently; an override is accepted
    q = rows[0][1]
    with w.catch_warnings():
        w.simplefilter("error")
        own = query_ivf_pq_index(spark, cpath, q, k=3, num_probes=4).collect()
        assert own == query_ivf_pq_index(
            spark, cpath, q, k=3, num_probes=4, math="decimal12"
        ).collect()
        assert query_ivf_pq_index(
            spark, cpath, q, k=3, num_probes=4, math="float"
        ).count() == 3


def test_ivf_pq_vectorized_assignment_mode(spark, tmp_path):
    """assignment='vectorized' (round 14 — required at the k ∝ N
    codebook sizes corpus-scale SemDeDup needs): the mode is pinned in
    the spec, appends follow it through the shared _ivf_cell_for_mode,
    probe-all reads stay exact, and decimal12 refuses the vectorized
    path exactly like build_ivf_index."""
    from cassandra_analytics_spark.operators.pq import (
        append_to_ivf_pq_index,
        query_ivf_pq_index,
        read_ivf_pq_spec,
        save_ivf_pq_index,
    )
    from cassandra_analytics_spark.operators.similarity import (
        brute_force_topk,
    )

    rows, df = _corpus(spark, n=240)
    first = df.filter(F.col("vec_id") % 2 == 0)
    second = df.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivfpq_vec")
    cents, cb = save_ivf_pq_index(
        first, path, num_centroids=5, m=8, ks=32, seed=3,
        assignment="vectorized",
    )
    assert read_ivf_pq_spec(spark, path)["assignment"] == "vectorized"
    append_to_ivf_pq_index(second, path)

    # appended rows landed in the cells the VECTORIZED assigner gives
    # (lowest-cid ties) — build/append parity through the shared mode
    from cassandra_analytics_spark.operators.similarity import (
        vectorized_cell_udf,
    )

    expect = {
        r.vec_id: r.cell
        for r in second.select(
            "vec_id",
            vectorized_cell_udf(cents)(F.col("embedding")).alias("cell"),
        ).collect()
    }
    disk = {
        r.vec_id: r.cell
        for r in spark.read.parquet(path).filter(
            F.col("vec_id") % 2 == 1).select("vec_id", "cell").collect()
    }
    assert disk == expect

    q = rows[0][1]
    want = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in brute_force_topk(df, q, k=6).collect()
    ]
    got = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in query_ivf_pq_index(
            spark, path, q, k=6, num_probes=5, rescore_factor=40
        ).collect()
    ]
    assert got == want

    with pytest.raises(ValueError, match="no vectorized path"):
        save_ivf_pq_index(
            first, str(tmp_path / "x"), num_centroids=4, m=8, ks=32,
            assignment="vectorized", math="decimal12",
        )
    with pytest.raises(ValueError, match="assignment must be"):
        save_ivf_pq_index(first, str(tmp_path / "x"), assignment="bogus")


def test_adc_dot_expr_and_pairs_share_code_range_guard(spark):
    """r14 ADVICE low: pq_adc_dot_expr / pq_pairs_from_cells must fail
    LOUDLY on codes from a larger-ks codebook, exactly like pq_adc_topk
    — without the guard element_at NULLs the pair out of the prefilter
    and the approx filter silently drops it."""
    from cassandra_analytics_spark.operators.pq import (
        pq_adc_dot_expr,
        pq_pairs_from_cells,
    )

    rows, df = _corpus(spark, n=120)
    big = train_pq_codebook(df, m=4, ks=64, seed=3)
    small = train_pq_codebook(df, m=4, ks=16, seed=3)
    enc_big = pq_encode(df, big, keep_vec=True)
    assert enc_big.filter(
        F.exists("pqcode", lambda c: c.cast("int") + F.lit(128) >= 16)
    ).count() > 0
    # pq_adc_dot_expr against the mismatched (smaller) codebook: loud
    with pytest.raises(Exception, match="ks=16 codewords"):
        enc_big.select(
            pq_adc_dot_expr(small, "embedding", "pqcode").alias("d")
        ).collect()
    # the matching codebook still scores the same frame fine
    got = enc_big.select(
        pq_adc_dot_expr(big, "embedding", "pqcode").alias("d")
    )
    assert got.filter(F.col("d").isNotNull()).count() == 120

    # pq_pairs_from_cells: same loud refusal through the pair expansion
    enc_res = pq_encode(df, big, keep_vec=True, with_residual=True)
    assigned = enc_res.withColumn("cell", F.lit(0))
    with pytest.raises(Exception, match="ks=16 codewords"):
        pq_pairs_from_cells(assigned, small, 0.5).collect()
    # and the matching codebook produces a well-formed pair set
    ok = pq_pairs_from_cells(assigned, big, 0.99)
    assert set(ok.columns) == {"a", "b", "cell", "cosine_sim"}
    ok.collect()  # must not raise


def test_training_sample_id_salt_spreads_duplicates(spark):
    """r14 ADVICE low: hashing the vector alone maps every duplicate of
    one document to ONE hash value, so a low-hashing duplicate group
    can fill the whole training sample with copies of one vector. With
    id_col= the hash is salted per-row: a duplicate-heavy corpus must
    contribute more than a couple of distinct vectors to the sample."""
    import random as _random

    rng = _random.Random(11)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(40)]
    # 40 distinct vectors x 50 copies each = 2000 rows, heavily duplicated
    rows = [(i, base[i % 40]) for i in range(2000)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    salted = train_pq_codebook(
        df, m=4, ks=16, sample_size=200, seed=3, id_col="vec_id"
    )
    # determinism under the salt: same inputs, same codebook — and
    # scan-order independence still holds (ids are stable row keys)
    again = train_pq_codebook(
        df.orderBy(F.col("vec_id").desc()).repartition(5),
        m=4, ks=16, sample_size=200, seed=3, id_col="vec_id",
    )
    assert salted == again
    # the salted sample saw enough distinct vectors to train 16 live,
    # distinct codewords per subspace (an unsalted all-one-vector
    # sample would collapse every centroid onto one point)
    for book in salted.centroids:
        assert len(set(book)) == 16


def test_high_dim_arrow_adc_matches_expression_path(spark, monkeypatch):
    """Above _PQ_EXPR_MAX_DIM the ADC scorers switch to the Arrow numpy
    kernel (the 512-d A/B measured the HOF expression interpreter-bound
    at m·dsub lambdas per pair — 13x slower triggers at PQ's own design
    point). The kernel must score within float ulps of the expression
    form, produce the IDENTICAL pair set through the margin prefilter +
    exact confirm, and keep the loud guards."""
    import cassandra_analytics_spark.operators.pq as pq_mod
    from cassandra_analytics_spark.operators.pq import (
        pq_adc_dot_expr,
        pq_pairs_from_cells,
    )

    rows, df = _corpus(spark, n=150, dim=256, seed=13)
    cb = train_pq_codebook(df, m=8, ks=16, sample_size=150, seed=3)
    assert cb.dim == 256 > pq_mod._PQ_EXPR_MAX_DIM
    enc = pq_encode(df, cb, keep_vec=True, with_residual=True)
    assigned = enc.withColumn("cell", F.lit(0))

    # asym scorer: Arrow kernel vs the expression form (forced by a
    # raised threshold) — same values to float-ulp tolerance
    arrow = {
        r["vec_id"]: r["d"]
        for r in enc.select(
            "vec_id",
            pq_adc_dot_expr(cb, "embedding", "pqcode").alias("d"),
        ).collect()
    }
    monkeypatch.setattr(pq_mod, "_PQ_EXPR_MAX_DIM", 100_000)
    expr = {
        r["vec_id"]: r["d"]
        for r in enc.select(
            "vec_id",
            pq_adc_dot_expr(cb, "embedding", "pqcode").alias("d"),
        ).collect()
    }
    monkeypatch.undo()
    assert set(arrow) == set(expr) and len(arrow) == 150
    for k in arrow:
        assert abs(arrow[k] - expr[k]) < 1e-9, (k, arrow[k], expr[k])

    # pair stage: identical published pairs through both scorers
    got_arrow = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in pq_pairs_from_cells(assigned, cb, 0.2).collect()
    }
    monkeypatch.setattr(pq_mod, "_PQ_EXPR_MAX_DIM", 100_000)
    got_expr = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in pq_pairs_from_cells(assigned, cb, 0.2).collect()
    }
    monkeypatch.undo()
    assert got_arrow == got_expr and len(got_arrow) > 0

    # the loud guards survive the kernel switch
    bigger = train_pq_codebook(df, m=8, ks=64, sample_size=150, seed=3)
    enc_big = pq_encode(df, bigger, keep_vec=True, with_residual=True)
    with pytest.raises(Exception, match="ks=16 codewords"):
        enc_big.select(
            pq_adc_dot_expr(cb, "embedding", "pqcode").alias("d")
        ).collect()
    with pytest.raises(Exception, match="ks=16 codewords"):
        pq_pairs_from_cells(
            enc_big.withColumn("cell", F.lit(0)), cb, 0.2
        ).collect()


def test_dim_dispatch_is_visible_in_the_plan(spark):
    """Pin the round-15 dispatch at the PLAN level so a silent
    regression (e.g. the threshold constant drifting, or the kernel
    path quietly dropped) fails loudly: above _PQ_EXPR_MAX_DIM the pair
    plan must contain an Arrow Python-UDF node; at low dim it must NOT
    (pure JVM expressions)."""
    import contextlib
    import io

    from cassandra_analytics_spark.operators.pq import pq_pairs_from_cells

    def plan_of(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    for dim, wants_arrow in ((16, False), (256, True)):
        rows, df = _corpus(spark, n=60, dim=dim, seed=5)
        cb = train_pq_codebook(df, m=4, ks=16, sample_size=60, seed=3)
        # localCheckpoint materializes the ENCODING (itself an Arrow
        # UDF) out of the lineage, so any Arrow node left in the pair
        # plan belongs to the SCORER dispatch under test
        assigned = (
            pq_encode(df, cb, keep_vec=True, with_residual=True)
            .withColumn("cell", F.lit(0))
            .localCheckpoint(eager=True)
        )
        plan = plan_of(pq_pairs_from_cells(assigned, cb, 0.5))
        has_arrow = "ArrowEvalPython" in plan or "BatchEvalPython" in plan
        assert has_arrow == wants_arrow, (dim, plan[:2000])


def test_ivf_pq_residual_encoding_roundtrip(spark, tmp_path):
    """Round 15 — the TRUE FAISS IVF-ADC composition: codes quantize
    x − centroid[cell] against a residual-trained codebook; stored
    norms describe the full reconstruction, reads add the per-cell
    anchor term. Probe-all + rescore must equal brute force (and the
    raw-encoded layout's result) exactly; appends follow the pinned
    encoding; the spec carries it."""
    from cassandra_analytics_spark.operators.pq import (
        append_to_ivf_pq_index,
        query_ivf_pq_index,
        read_ivf_pq_spec,
        save_ivf_pq_index,
    )
    from cassandra_analytics_spark.operators.similarity import (
        brute_force_topk,
    )

    rows, df = _corpus(spark, n=300, dim=16, seed=9)
    q = rows[0][1]
    corpus = df.filter("vec_id <> 0")
    want = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in brute_force_topk(corpus, q, k=10).collect()
    ]

    res_path = str(tmp_path / "res")
    save_ivf_pq_index(
        corpus, res_path, num_centroids=6, m=4, ks=16,
        sample_size=300, iterations=8, seed=42, encoding="residual",
    )
    spec = read_ivf_pq_spec(spark, res_path)
    assert spec["encoding"] == "residual"
    got = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in query_ivf_pq_index(
            spark, res_path, q, k=10, num_probes=6, rescore_factor=8
        ).collect()
    ]
    assert got == want

    # append follows the pinned residual encoding + frozen codebook
    app_path = str(tmp_path / "res_app")
    first = corpus.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0)
    second = corpus.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1)
    save_ivf_pq_index(
        first, app_path, num_centroids=6, m=4, ks=16,
        sample_size=300, iterations=8, seed=42, encoding="residual",
    )
    append_to_ivf_pq_index(second, app_path)
    got2 = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in query_ivf_pq_index(
            spark, app_path, q, k=10, num_probes=6, rescore_factor=24
        ).collect()
    ]
    assert got2 == want

    # bogus encoding refused at build time
    with pytest.raises(ValueError, match="encoding must be"):
        save_ivf_pq_index(
            corpus, str(tmp_path / "x"), num_centroids=4, encoding="delta"
        )


def test_ivf_pq_residual_reconstruction_is_tighter(spark, tmp_path):
    """The POINT of residual encoding: the residual cloud is tighter
    than the raw vectors, so the same m x ks codebook reconstructs with
    smaller error — compare the stored per-row measured pq_err between
    a raw and a residual layout over a CLUSTERED corpus (where cell
    centroids actually absorb structure)."""
    import random as _random

    from cassandra_analytics_spark.operators.pq import save_ivf_pq_index

    rng = _random.Random(5)
    dim, n_clusters = 16, 6
    bases = [
        [rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    for i in range(600):
        b = bases[i % n_clusters]
        rows.append((i, [x + rng.gauss(0, 0.15) for x in b]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = [(c, bases[c]) for c in range(n_clusters)]

    errs = {}
    for enc in ("raw", "residual"):
        path = str(tmp_path / enc)
        save_ivf_pq_index(
            df, path, centroids=centroids, m=4, ks=16,
            sample_size=600, iterations=10, seed=42,
            residuals=True, encoding=enc,
        )
        errs[enc] = (
            spark.read.parquet(path)
            .agg(F.avg("pq_err").alias("e"))
            .collect()[0]["e"]
        )
    # residual encoding must reconstruct strictly better on clustered
    # data — this is the measured motivation, not an assumption
    assert errs["residual"] < errs["raw"], errs


def test_ivf_pq_residual_knn_join_and_streaming_compose(spark, tmp_path):
    """The kNN join adds the per-(query, cell) anchor term through the
    thin routing pairs — probe-all over a residual layout must match
    the plain float kNN join exactly; the streaming pair stages (round
    16) score residual layouts via the centroid-cancelling
    pq_sym_recon_dot, so the SAME batch against a raw-encoded twin of
    the layout must publish the SAME pair set."""
    from cassandra_analytics_spark.operators.ann_index import (
        build_ivf_index,
        ivf_knn_join,
    )
    from cassandra_analytics_spark.operators.pq import save_ivf_pq_index

    rows, df = _corpus(spark, n=240, dim=16, seed=11)
    queries = df.filter("vec_id < 4").select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    corpus = df.filter("vec_id >= 4")

    fpath = str(tmp_path / "float_ivf")
    build_ivf_index(corpus, fpath, num_centroids=6)
    want = sorted(
        (r.qid, r.vec_id, round(r.cosine_sim, 9))
        for r in ivf_knn_join(
            queries, fpath, k=5, num_probes=6
        ).collect()
    )

    rpath = str(tmp_path / "res_ivfpq")
    save_ivf_pq_index(
        corpus, rpath, num_centroids=6, m=4, ks=16,
        sample_size=300, iterations=8, seed=42, encoding="residual",
    )
    got = sorted(
        (r.qid, r.vec_id, round(r.cosine_sim, 9))
        for r in ivf_knn_join(
            queries, rpath, k=5, num_probes=6, use_pq=True,
            rescore_factor=24,
        ).collect()
    )
    assert got == want

    # batching over a residual layout composes exactly too
    batched = sorted(
        (r.qid, r.vec_id, round(r.cosine_sim, 9))
        for r in ivf_knn_join(
            queries, rpath, k=5, num_probes=6, use_pq=True,
            rescore_factor=24, query_batch_size=2,
        ).collect()
    )
    assert batched == want

    # round 16: the streaming pair stages accept residual layouts —
    # the same batch against a raw-encoded twin (same corpus, same
    # coarse centroids, same codebook seed) must publish the SAME
    # pair set; the residual arm's verdicts ride pq_sym_recon_dot's
    # centroid-cancelling correction through both stages
    from cassandra_analytics_spark.streaming.semantic_stream import (
        process_semantic_batch,
    )

    batch = queries.withColumnRenamed("qid", "vec_id")
    got_pairs = {}
    for tag, enc in (("res", "residual"), ("raw", "raw")):
        path = str(tmp_path / f"{tag}_stream")
        save_ivf_pq_index(
            corpus, path, num_centroids=6, m=4, ks=16,
            sample_size=300, iterations=8, seed=42,
            residuals=True, encoding=enc,
        )
        out = str(tmp_path / f"pairs_{tag}")
        process_semantic_batch(
            batch, 1, index_path=path, pairs_out=out,
            centroids=[(0, rows[0][1])], threshold=0.2,
        )
        got_pairs[tag] = {
            (r.a, r.b, round(r.cosine_sim, 9))
            for r in spark.read.parquet(
                out + "/batch-0000000001"
            ).collect()
        }
    assert got_pairs["res"] == got_pairs["raw"]
    assert len(got_pairs["raw"]) > 0  # threshold low enough to pair


def test_pq_sym_recon_dot_parity_and_sqnorm(spark):
    """Round 16 (the residual x streaming composition): the
    centroid-cancelling identity must reproduce the TRUE reconstruction
    dot x_hat . y_hat to float precision on residual-encoded frames —
    at low dim (expression ADC) AND above _PQ_EXPR_MAX_DIM (Arrow
    kernel). pq_code_sqnorm_col must equal sum_i ||c_i[code_i]||^2,
    raw encoding must stay byte-identical to plain SDC, and a bogus
    encoding raises."""
    import numpy as np

    from cassandra_analytics_spark.operators.pq import (
        pq_code_sqnorm_col,
        pq_sym_adc_col,
        pq_sym_recon_dot,
    )

    for dim, m in ((16, 4), (160, 8)):  # 160 > _PQ_EXPR_MAX_DIM=128
        rng = np.random.default_rng(7)
        cents = {0: rng.normal(0, 1, dim), 1: rng.normal(0, 1, dim)}
        rows = []
        for i in range(120):
            cell = i % 2
            v = cents[cell] + rng.normal(0, 0.2, dim)
            rows.append(
                (
                    i,
                    cell,
                    [float(x) for x in v],
                    [float(x) for x in cents[cell]],
                )
            )
        df = spark.createDataFrame(
            rows,
            "vec_id long, cell int, embedding array<double>, "
            "anchor array<double>",
        )
        cb = train_pq_codebook(
            df, m=m, ks=16, vec_col="embedding", sample_size=120, seed=1
        )
        enc = pq_encode(
            df, cb, vec_col="embedding", keep_vec=True,
            with_residual=True, anchor_col="anchor",
            extra_cols=("cell", "anchor"),
        )
        pdf = enc.toPandas()
        cbm = np.asarray(cb.centroids)

        def decode(codes):
            return np.concatenate(
                [cbm[i][c + 128] for i, c in enumerate(codes)]
            )

        recon = {
            r.vec_id: np.array(r.anchor) + decode(r.pqcode)
            for r in pdf.itertuples()
        }
        # per-row decoded-component squared norm
        ds_rows = enc.select(
            "vec_id", pq_code_sqnorm_col(cb, F.col("pqcode")).alias("ds")
        ).collect()
        for r in ds_rows:
            want = float(
                np.dot(
                    d := decode(
                        pdf.set_index("vec_id").loc[r.vec_id, "pqcode"]
                    ),
                    d,
                )
            )
            assert abs(r.ds - want) < 1e-9

        a = enc.select(
            F.col("vec_id").alias("ida"), F.col("pqcode").alias("qa"),
            F.col("pq_norm").alias("nha"), "cell",
            pq_code_sqnorm_col(cb, F.col("pqcode")).alias("dsa"),
        )
        b = enc.select(
            F.col("vec_id").alias("idb"), F.col("pqcode").alias("qb"),
            F.col("pq_norm").alias("nhb"), "cell",
            pq_code_sqnorm_col(cb, F.col("pqcode")).alias("dsb"),
        )
        pairs = a.join(b, "cell").filter(F.col("ida") < F.col("idb"))
        scored = pairs.select(
            "ida", "idb",
            pq_sym_recon_dot(
                cb, F.col("qa"), F.col("qb"), F.col("nha"), F.col("nhb"),
                F.col("dsa"), F.col("dsb"), encoding="residual",
            ).alias("dot"),
            pq_sym_adc_col(cb, F.col("qa"), F.col("qb")).alias("sdc"),
            pq_sym_recon_dot(
                cb, F.col("qa"), F.col("qb"), F.col("nha"), F.col("nhb"),
                None, None, encoding="raw",
            ).alias("raw_dot"),
        ).collect()
        assert len(scored) > 1000
        for r in scored:
            true = float(recon[r.ida] @ recon[r.idb])
            assert abs(r.dot - true) < 1e-9, (dim, r.ida, r.idb)
            assert r.raw_dot == r.sdc  # raw == plain SDC, bit-for-bit

    with pytest.raises(ValueError, match="raw.*residual|residual.*raw"):
        pq_sym_recon_dot(
            cb, F.col("qa"), F.col("qb"), F.col("nha"), F.col("nhb"),
            None, None, encoding="opq",
        )


def test_ivf_pq_kmeans_trained_coarse_residual(spark, tmp_path):
    """Round 16: save_ivf_pq_index(train='kmeans') fits the coarse
    quantizer with the same learned codebook build_ivf_index gates on
    — the natural partner of encoding='residual' (tighter cells →
    tighter residual clouds). On a clustered corpus the combination
    must stay probe-all oracle-exact, and its mean stored pq_err must
    beat the sampled-coarse twin at identical geometry (the
    recall-per-byte mechanism, asserted not assumed)."""
    import random

    from cassandra_analytics_spark.operators.pq import save_ivf_pq_index
    from cassandra_analytics_spark.operators.similarity import (
        brute_force_topk,
    )
    from cassandra_analytics_spark.operators.pq import query_ivf_pq_index

    rng = random.Random(5)
    dim, n_clusters = 16, 6
    centers = [
        [rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = [
        (
            i,
            [
                x + rng.gauss(0, 0.05)
                for x in centers[i % n_clusters]
            ],
        )
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    errs = {}
    for tag, kw in (
        ("kmeans", dict(train="kmeans")),
        ("sampled", dict()),
    ):
        path = str(tmp_path / tag)
        save_ivf_pq_index(
            df, path, num_centroids=n_clusters, m=4, ks=16,
            sample_size=600, iterations=10, seed=42,
            residuals=True, encoding="residual", **kw,
        )
        errs[tag] = (
            spark.read.parquet(path)
            .agg(F.avg("pq_err").alias("e"))
            .collect()[0]
            .e
        )
        got = [
            (r.vec_id, round(r.cosine_sim, 9))
            for r in query_ivf_pq_index(
                spark, path, rows[0][1], k=6, num_probes=n_clusters,
                rescore_factor=20,
            ).collect()
            if r.vec_id != 0
        ][:5]
        want = [
            (r.vec_id, round(r.cosine_sim, 9))
            for r in brute_force_topk(
                df.filter(F.col("vec_id") != 0), rows[0][1], k=5
            ).collect()
        ]
        assert got == want, tag
    # the learned coarse quantizer's residual cloud is tighter
    assert errs["kmeans"] < errs["sampled"]

    with pytest.raises(ValueError, match="train must be"):
        save_ivf_pq_index(df, str(tmp_path / "x"), train="lloyd")
    with pytest.raises(ValueError, match="ambiguous"):
        save_ivf_pq_index(
            df, str(tmp_path / "x"), train="kmeans",
            centroids=[(0, [1.0] * dim)],
        )


def test_probe_cost_pinned(spark, tmp_path, py4j_calls, spark_jobs):
    """One PQ probe with a preloaded codebook reads its spec on the
    driver (0 Spark jobs, as do the codebook and IVF-PQ spec reads) and
    builds its ADC and rescore plan from SQL text: at most 150 py4j
    round trips to build, and 3 Spark jobs once collected — the layout
    scan's schema inference, the survivor collect and the final collect."""
    from cassandra_analytics_spark.operators.ann_index import read_centroids
    from cassandra_analytics_spark.operators.pq import (
        _resolve_ivf_pq_codebook,
        load_pq_codebook,
        query_pq_index,
        read_ivf_pq_spec,
        read_pq_spec,
        save_ivf_pq_index,
        save_pq_index,
    )

    rows, df = _corpus(spark, n=300)
    path, ivfpq = str(tmp_path / "pq"), str(tmp_path / "ivfpq")
    cb = save_pq_index(df, path, m=8, ks=16, seed=3)
    save_ivf_pq_index(df, ivfpq, num_centroids=4, m=8, ks=16, residuals=True)
    q = rows[0][1]
    query_pq_index(spark, path, q, k=5, codebook=cb).collect()
    with spark_jobs() as sidecar_jobs:
        read_pq_spec(spark, path)
        assert load_pq_codebook(spark, path) == cb
        _resolve_ivf_pq_codebook(
            spark, ivfpq, read_ivf_pq_spec(spark, ivfpq), None, caller="test"
        )
        read_centroids(spark, ivfpq)
    assert sidecar_jobs.count == 0
    with spark_jobs() as jobs:
        with py4j_calls() as calls:
            out = query_pq_index(spark, path, q, k=5, codebook=cb)
        got = out.collect()
    assert calls.count <= 150, calls.count
    assert jobs.count == 3
    assert len(got) == 5 and got[0].vec_id == 0
