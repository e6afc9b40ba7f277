"""Streaming incremental semantic dedup (streaming/semantic_stream.py):
the stream's accumulated pairs must equal the one-shot SemDeDup pair set
over the same corpus, across batch boundaries, restarts, and replays."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from cassandra_analytics_spark.operators.similarity import (
    removal_verdicts,
    semantic_dedup_pairs,
)
from cassandra_analytics_spark.streaming.semantic_stream import (
    collected_semantic_pairs,
    run_semantic_dedup_stream,
)


def _corpus_rows(n=60, dim=8, seed=3):
    """Vectors in two tight planted groups plus noise: group members are
    near-dups of their group's base vector."""
    rng = random.Random(seed)
    base_a = [1.0] + [0.0] * (dim - 1)
    base_b = [0.0] * (dim - 1) + [1.0]
    rows = []
    for i in range(n):
        if i % 3 == 0:
            v = [x + rng.uniform(-0.01, 0.01) for x in base_a]
        elif i % 3 == 1:
            v = [x + rng.uniform(-0.01, 0.01) for x in base_b]
        else:
            v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        rows.append((i, v))
    return rows


CENTROIDS = [(0, [1.0] + [0.0] * 7), (1, [0.0] * 7 + [1.0])]


def _run_stream(spark, src, tmp, threshold=0.98, **kwargs):
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
        centroids=CENTROIDS,
        threshold=threshold,
        checkpoint_dir=os.path.join(tmp, "ckpt"),
        **kwargs,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_stream_matches_one_shot_semantic_dedup(spark, tmp_path):
    """Two file-source micro-batches through a REAL foreachBatch run:
    the union of per-batch pairs equals the one-shot semantic_dedup_pairs
    set over the whole corpus — a pair missed across the batch boundary,
    reported twice, or mis-scored fails the comparison."""
    rows = _corpus_rows()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = str(tmp_path / "incoming")
    df.filter(F.col("vec_id") < 30).coalesce(1).write.mode("append").parquet(src)
    df.filter(F.col("vec_id") >= 30).coalesce(1).write.mode("append").parquet(src)

    _run_stream(spark, src, str(tmp_path))

    got = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in collected_semantic_pairs(
            spark, str(tmp_path / "pairs")
        ).collect()
    }
    want = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in semantic_dedup_pairs(df, CENTROIDS, threshold=0.98).collect()
    }
    assert got == want and len(want) > 50  # both planted groups pair up

    # the layout grew to the full corpus and serves downstream dedup
    layout = spark.read.parquet(str(tmp_path / "ivf"))
    assert layout.count() == 60
    verdicts = removal_verdicts(
        collected_semantic_pairs(spark, str(tmp_path / "pairs")).dropDuplicates(
            ["a", "b"]
        )
    )
    one_shot = removal_verdicts(
        semantic_dedup_pairs(df, CENTROIDS, threshold=0.98)
    )
    assert {tuple(r) for r in verdicts.collect()} == {
        tuple(r) for r in one_shot.collect()
    }


def test_stream_restart_needs_no_rebuild(spark, tmp_path):
    """Kill the stream after batch 1, start a NEW query over the same
    checkpoint + layout: the layout is path-persistent (no session
    catalog), so the post-restart batch still pairs against the full
    prior corpus."""
    rows = _corpus_rows()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = str(tmp_path / "incoming")
    df.filter(F.col("vec_id") < 30).coalesce(1).write.mode("append").parquet(src)
    _run_stream(spark, src, str(tmp_path))  # first query: batch 0 only

    # second query (fresh StreamingQuery object = restart) sees batch 1
    df.filter(F.col("vec_id") >= 30).coalesce(1).write.mode("append").parquet(src)
    _run_stream(spark, src, str(tmp_path))

    got = {
        (r.a, r.b)
        for r in collected_semantic_pairs(
            spark, str(tmp_path / "pairs")
        ).collect()
    }
    want = {
        (r.a, r.b)
        for r in semantic_dedup_pairs(df, CENTROIDS, threshold=0.98).collect()
    }
    # cross-restart pairs (one side per run) must be present
    cross = {(a, b) for a, b in want if a < 30 <= b}
    assert cross and cross <= got and got == want


def test_stream_duplicate_ids_and_validation(spark, tmp_path):
    """In-batch duplicate ids collapse deterministically (greatest
    vector wins) and never self-pair; degenerate parameters fail
    eagerly."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [0.99, 0.01]), (2, [1.0, 0.001])],
        "vec_id long, embedding array<double>",
    )
    src = str(tmp_path / "incoming")
    df.coalesce(1).write.mode("append").parquet(src)
    cents = [(0, [1.0, 0.0])]
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = run_semantic_dedup_stream(
        stream,
        index_path=str(tmp_path / "ivf"),
        pairs_out=str(tmp_path / "pairs"),
        centroids=cents,
        threshold=0.9,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    pairs = collected_semantic_pairs(spark, str(tmp_path / "pairs")).collect()
    assert [(r.a, r.b) for r in pairs] == [(1, 2)]  # no (1,1) self-pair
    # id 1 collapsed to the GREATEST vector [1.0, 0.0]
    kept = spark.read.parquet(str(tmp_path / "ivf")).filter("vec_id = 1")
    assert [list(r.embedding) for r in kept.collect()] == [[1.0, 0.0]]

    with pytest.raises(ValueError, match="threshold"):
        run_semantic_dedup_stream(
            stream, str(tmp_path / "i2"), str(tmp_path / "p2"),
            centroids=cents, threshold=1.5,
        )
    with pytest.raises(ValueError, match="codebook"):
        run_semantic_dedup_stream(
            stream, str(tmp_path / "i3"), str(tmp_path / "p3"), centroids=[],
        )


def _batch_kwargs(tmp):
    return dict(
        index_path=os.path.join(tmp, "ivf"),
        pairs_out=os.path.join(tmp, "pairs"),
        centroids=CENTROIDS,
        threshold=0.98,
    )


def test_crash_between_publish_and_append_replays_clean(spark, tmp_path):
    """Round-10 executed probe (VERDICT item 2): a crash AFTER the pairs
    publish but BEFORE the layout append leaves published verdicts with
    no layout rows — the checkpoint never committed, so the batch
    REPLAYS: the publish overwrites the same directory with the same
    rows, the append finally lands, and later batches see the full
    corpus. Driven through process_semantic_batch (the foreachBatch
    body) with the on_published crash seam."""
    from cassandra_analytics_spark.streaming.semantic_stream import (
        process_semantic_batch,
    )

    rows = _corpus_rows()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = _batch_kwargs(str(tmp_path))
    b0 = df.filter(F.col("vec_id") < 20)
    b1 = df.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 40))
    b2 = df.filter(F.col("vec_id") >= 40)

    process_semantic_batch(b0, 0, **kw)

    class Boom(RuntimeError):
        pass

    def crash(batch_id):
        raise Boom(f"crash after publish of batch {batch_id}")

    with pytest.raises(Boom):
        process_semantic_batch(b1, 1, on_published=crash, **kw)

    # published but NOT appended — the torn state under test
    layout = spark.read.parquet(kw["index_path"])
    assert layout.count() == 20
    published = collected_semantic_pairs(spark, kw["pairs_out"])
    assert published.filter("batch_id = 1").count() > 0

    # replay batch 1 (foreachBatch redelivers the same batch_id), then
    # process batch 2 normally
    process_semantic_batch(b1, 1, **kw)
    process_semantic_batch(b2, 2, **kw)

    assert spark.read.parquet(kw["index_path"]).count() == 60
    got = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in collected_semantic_pairs(spark, kw["pairs_out"]).collect()
    }
    want = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in semantic_dedup_pairs(df, CENTROIDS, threshold=0.98).collect()
    }
    assert got == want


def test_torn_bootstrap_replay_recovers(spark, tmp_path):
    """Round-10 executed probe: a bootstrap crash between the layout
    write and the spec write (build_ivf_index deletes sidecars FIRST)
    leaves a spec-less layout; the replayed first batch re-bootstraps
    (overwrite) — correct, because the torn layout held only that same
    batch's rows."""
    import shutil as sh

    from cassandra_analytics_spark.streaming.semantic_stream import (
        process_semantic_batch,
    )

    rows = _corpus_rows()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = _batch_kwargs(str(tmp_path))
    b0 = df.filter(F.col("vec_id") < 30)
    b1 = df.filter(F.col("vec_id") >= 30)

    process_semantic_batch(b0, 0, **kw)
    # simulate the torn bootstrap: spec never landed
    sh.rmtree(kw["index_path"] + "_spec")

    # replayed batch 0 re-bootstraps instead of erroring on the torn spec
    process_semantic_batch(b0, 0, **kw)
    process_semantic_batch(b1, 1, **kw)

    assert spark.read.parquet(kw["index_path"]).count() == 60
    got = {
        (r.a, r.b)
        for r in collected_semantic_pairs(spark, kw["pairs_out"]).collect()
    }
    want = {
        (r.a, r.b)
        for r in semantic_dedup_pairs(df, CENTROIDS, threshold=0.98).collect()
    }
    assert got == want


def test_max_cell_boundary_is_inclusive(spark, tmp_path):
    """Round-10 executed probe: a corpus cell at EXACTLY max_cell
    occupancy still pairs (the cap is <=, matching the batch path's
    max_cluster); one past it is skipped — silent under-dedup by
    documented design, so the boundary must not be off by one."""
    from cassandra_analytics_spark.streaming.semantic_stream import (
        process_semantic_batch,
    )

    # 5 corpus vectors in cell 0, all near-dups of the batch vector
    corpus_rows = [(i, [1.0, float(i) * 1e-4]) for i in range(5)]
    batch_rows = [(99, [1.0, 0.0001])]
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<double>"
    )
    batch = spark.createDataFrame(
        batch_rows, "vec_id long, embedding array<double>"
    )
    cents = [(0, [1.0, 0.0])]

    # occupancy 5 == max_cell 5: the cell participates
    kw = dict(
        index_path=str(tmp_path / "at_cap" / "ivf"),
        pairs_out=str(tmp_path / "at_cap" / "pairs"),
        centroids=cents, threshold=0.9, max_cell=5,
    )
    process_semantic_batch(corpus, 0, **kw)
    process_semantic_batch(batch, 1, **kw)
    at_cap = collected_semantic_pairs(spark, kw["pairs_out"]).filter(
        "batch_id = 1"
    )
    assert at_cap.count() == 5  # 99 paired with all five corpus rows

    # occupancy 5 > max_cell 4: the cell is skipped for batch-vs-corpus
    kw2 = dict(
        index_path=str(tmp_path / "over_cap" / "ivf"),
        pairs_out=str(tmp_path / "over_cap" / "pairs"),
        centroids=cents, threshold=0.9, max_cell=4,
    )
    process_semantic_batch(corpus, 0, **kw2)
    process_semantic_batch(batch, 1, **kw2)
    over_cap = collected_semantic_pairs(spark, kw2["pairs_out"]).filter(
        "batch_id = 1"
    )
    assert over_cap.count() == 0


def test_collected_pairs_probe_is_store_agnostic(spark, tmp_path):
    """Round-10 fix: the pre-publish probe goes through the Hadoop FS
    glob, so an explicit `file:`-scheme URI (the local stand-in for any
    non-local store, where glob.glob sees nothing) finds published
    batches; an absent directory still returns the typed empty frame."""
    from cassandra_analytics_spark.streaming.dedup_stream import collected_pairs

    # absent path: typed empty frames on both helpers
    missing = "file://" + str(tmp_path / "nope")
    empty = collected_semantic_pairs(spark, missing, id_type="string")
    assert empty.count() == 0
    assert empty.schema["a"].dataType.simpleString() == "string"
    assert collected_pairs(spark, missing).count() == 0

    # published batch behind a file:-scheme URI is FOUND
    out = str(tmp_path / "pairs")
    spark.createDataFrame(
        [(1, 2, 0, 0.99, 0)],
        "a long, b long, cell int, cosine_sim double, batch_id int",
    ).write.parquet(os.path.join(out, "batch-0000000000"))
    got = collected_semantic_pairs(spark, "file://" + out)
    assert [(r.a, r.b) for r in got.collect()] == [(1, 2)]


def test_stream_quantized_layout_same_pairs_and_probeable(spark, tmp_path):
    """Round-11 (VERDICT r10 item 8): quantize=True keeps the published
    verdicts byte-identical (pair scoring is float-side) while every
    streamed batch lands code-complete — the layout serves byte-reduced
    quantized probes at any point, with results equal to the float
    probe."""
    from cassandra_analytics_spark.operators.ann_index import (
        query_ivf_index,
        query_ivf_index_quantized,
        read_ivf_spec,
    )

    rows = _corpus_rows()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = str(tmp_path / "incoming")
    df.filter(F.col("vec_id") < 30).coalesce(1).write.mode("append").parquet(src)
    df.filter(F.col("vec_id") >= 30).coalesce(1).write.mode("append").parquet(src)

    _run_stream(spark, src, str(tmp_path), quantize=True)

    got = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in collected_semantic_pairs(
            spark, str(tmp_path / "pairs")
        ).collect()
    }
    want = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in semantic_dedup_pairs(df, CENTROIDS, threshold=0.98).collect()
    }
    assert got == want

    ivf = str(tmp_path / "ivf")
    assert read_ivf_spec(spark, ivf)["quantized"] is True
    layout = spark.read.parquet(ivf)
    # every row from every batch is code-complete (appends followed the
    # spec — a batch that skipped codes would leave never-ranking rows)
    assert layout.count() == 60
    assert layout.filter(F.col("qvec").isNull()).count() == 0

    qvec = rows[0][1]
    fast = query_ivf_index(spark, ivf, qvec, k=5, num_probes=2).collect()
    coded = query_ivf_index_quantized(
        spark, ivf, qvec, k=5, num_probes=2, rescore_factor=12
    ).collect()
    assert [(r.vec_id, round(r.cosine_sim, 9)) for r in fast] == [
        (r.vec_id, round(r.cosine_sim, 9)) for r in coded
    ]


def test_stream_quantized_margin_sound_at_threshold_boundary(spark, tmp_path):
    """Adversarial margin check, streaming twin of the batch test
    (test_quantized_index.py): pair cosines packed DENSELY around the
    threshold, split across two micro-batches so the boundary pairs
    cross the batch-vs-corpus CODES join (_cross_pairs_quantized) —
    if the one-sided margin were optimistic, a true pair whose
    code-space cosine dips just under the threshold would be silently
    dropped before the exact confirm. Published pairs must equal the
    one-shot float SemDeDup pair-for-pair and value-for-value."""
    import math

    rng = random.Random(7)
    dim = 12
    x = [rng.gauss(0, 1) for _ in range(dim)]
    z = [rng.gauss(0, 1) for _ in range(dim)]
    xx = sum(a * a for a in x)
    proj = sum(a * b for a, b in zip(x, z)) / xx
    z = [b - proj * a for a, b in zip(x, z)]
    rows = [(0, x)]
    for i in range(1, 60):  # cosines to x span [0.90, 1.0), threshold .95
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
    src = str(tmp_path / "incoming")
    # two batches: ids interleaved so ~3/4 of boundary pairs straddle
    # the batch boundary and must survive the codes join
    df.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    df.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    one_cell = [(0, [1.0] * dim)]
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_semantic_dedup_stream(
        stream,
        index_path=str(tmp_path / "ivf"),
        pairs_out=str(tmp_path / "pairs"),
        centroids=one_cell,
        threshold=0.95,
        checkpoint_dir=str(tmp_path / "ckpt"),
        quantize=True,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in collected_semantic_pairs(
            spark, str(tmp_path / "pairs")
        ).collect()
    }
    want = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in semantic_dedup_pairs(df, one_cell, threshold=0.95).collect()
    }
    assert got == want and len(want) > 100  # dense boundary pairs exist


def test_stream_pq_layout_same_pairs_probeable_and_refusals(spark, tmp_path):
    """Round 14 (VERDICT r13 item 6): pq= bootstraps an IVF-PQ layout
    with residuals; the published verdicts stay byte-identical to the
    float stream (exactness-preserving per-row-bound prefilter + exact
    confirm), every streamed batch lands code-complete with the FROZEN
    bootstrap codebook, and the grown layout serves probe-all PQ reads
    equal to brute force. Scheme/layout mismatches are named errors."""
    from cassandra_analytics_spark.operators.pq import (
        query_ivf_pq_index,
        read_ivf_pq_spec,
    )
    from cassandra_analytics_spark.operators.similarity import (
        brute_force_topk,
    )

    rows = _corpus_rows()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = str(tmp_path / "incoming")
    df.filter(F.col("vec_id") < 30).coalesce(1).write.mode("append").parquet(src)
    df.filter(F.col("vec_id") >= 30).coalesce(1).write.mode("append").parquet(src)

    _run_stream(spark, src, str(tmp_path), pq=dict(m=4, ks=16, seed=3))

    got = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in collected_semantic_pairs(
            spark, str(tmp_path / "pairs")
        ).collect()
    }
    want = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in semantic_dedup_pairs(df, CENTROIDS, threshold=0.98).collect()
    }
    assert got == want and len(want) > 50

    ivf = str(tmp_path / "ivf")
    spec = read_ivf_pq_spec(spark, ivf)
    assert spec["residuals"] is True and spec["m"] == 4 and spec["ks"] == 16
    layout = spark.read.parquet(ivf)
    # every row from every batch is code- AND residual-complete
    assert layout.count() == 60
    assert layout.filter(F.col("pqcode").isNull()).count() == 0
    assert layout.filter(F.col("pq_err").isNull()).count() == 0

    # the grown layout serves probe-all PQ reads equal to brute force
    qvec = rows[0][1]
    want_k = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in brute_force_topk(
            df.filter(F.col("vec_id") != 0), qvec, k=5
        ).collect()
    ]
    got_k = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in query_ivf_pq_index(
            # k=6: the layout contains the query row itself (id 0) —
            # drop it and keep the 5 true neighbors
            spark, ivf, qvec, k=6, num_probes=2, rescore_factor=20
        ).collect()
        if r.vec_id != 0
    ][:5]
    assert got_k == want_k

    # scheme mismatches are named errors
    with pytest.raises(ValueError, match="mutually exclusive"):
        _run_stream(
            spark, src, str(tmp_path / "x1"), quantize=True,
            pq=dict(m=4),
        )
    from cassandra_analytics_spark.streaming.semantic_stream import (
        process_semantic_batch,
    )

    with pytest.raises(ValueError, match="is an IVF-PQ layout"):
        process_semantic_batch(
            df, 99, index_path=ivf, pairs_out=str(tmp_path / "p99"),
            centroids=CENTROIDS, threshold=0.98, quantize=True,
        )
    # pq= against an existing NON-PQ layout is refused
    plain_tmp = str(tmp_path / "plain")
    os.makedirs(plain_tmp)
    src2 = str(tmp_path / "incoming2")
    df.filter(F.col("vec_id") < 30).coalesce(1).write.mode("append").parquet(src2)
    _run_stream(spark, src2, plain_tmp)
    with pytest.raises(ValueError, match="not an IVF-PQ layout"):
        process_semantic_batch(
            df, 99, index_path=os.path.join(plain_tmp, "ivf"),
            pairs_out=str(tmp_path / "p98"),
            centroids=CENTROIDS, threshold=0.98, pq=dict(m=4),
        )
    # a residual-less IVF-PQ layout is refused by the cross-pair stage
    from cassandra_analytics_spark.operators.pq import save_ivf_pq_index

    lean = str(tmp_path / "lean_ivfpq")
    save_ivf_pq_index(
        df.filter(F.col("vec_id") < 30), lean, centroids=CENTROIDS,
        m=4, ks=16, seed=3,
    )
    with pytest.raises(ValueError, match="without[\\s\\S]*residuals=True"):
        process_semantic_batch(
            df.filter(F.col("vec_id") >= 30), 1, index_path=lean,
            pairs_out=str(tmp_path / "p97"),
            centroids=CENTROIDS, threshold=0.98,
        )


def test_stream_pq_margin_sound_at_threshold_boundary(spark, tmp_path):
    """Adversarial margin check for the PQ prefilter: pair cosines
    packed DENSELY around the threshold, split across two micro-batches
    so the boundary pairs cross the batch-vs-corpus CODES join
    (_cross_pairs_pq) — if the per-row measured bound (pq_err/pq_tnorm)
    were optimistic, a true pair whose ADC cosine dips just under the
    threshold would be silently dropped before the exact confirm. A
    COARSE codebook (ks=8 over random non-clustered vectors) makes the
    ADC approximation genuinely bad, so survival rides entirely on the
    bound. Published pairs must equal the one-shot float SemDeDup
    pair-for-pair and value-for-value."""
    import math

    rng = random.Random(7)
    dim = 12
    x = [rng.gauss(0, 1) for _ in range(dim)]
    z = [rng.gauss(0, 1) for _ in range(dim)]
    xx = sum(a * a for a in x)
    proj = sum(a * b for a, b in zip(x, z)) / xx
    z = [b - proj * a for a, b in zip(x, z)]
    rows = [(0, x)]
    for i in range(1, 60):  # cosines to x span [0.90, 1.0), threshold .95
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
    src = str(tmp_path / "incoming")
    df.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    df.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    one_cell = [(0, [1.0] * dim)]
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_semantic_dedup_stream(
        stream,
        index_path=str(tmp_path / "ivf"),
        pairs_out=str(tmp_path / "pairs"),
        centroids=one_cell,
        threshold=0.95,
        checkpoint_dir=str(tmp_path / "ckpt"),
        pq=dict(m=4, ks=8, seed=11),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in collected_semantic_pairs(
            spark, str(tmp_path / "pairs")
        ).collect()
    }
    want = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in semantic_dedup_pairs(df, one_cell, threshold=0.95).collect()
    }
    assert got == want and len(want) > 100  # dense boundary pairs exist


def test_pq_options_unknown_keys_refused():
    """r14 ADVICE low: the bootstrap filters pq= to the known keys, so a
    misspelled key (samplesize) would silently train the frozen-forever
    bootstrap codebook with defaults — must refuse loudly instead."""
    import pytest

    from cassandra_analytics_spark.streaming.semantic_stream import (
        _validate_pq_options,
    )

    _validate_pq_options(None)  # no PQ: nothing to validate
    _validate_pq_options({})    # all-defaults is legal
    _validate_pq_options(
        {"m": 8, "ks": 64, "sample_size": 100, "iterations": 5, "seed": 1}
    )
    with pytest.raises(ValueError, match="samplesize"):
        _validate_pq_options({"m": 8, "samplesize": 100})
    with pytest.raises(ValueError, match="must be a dict"):
        _validate_pq_options([("m", 8)])


def test_pq_codebook_collect_amortized_across_triggers(spark, tmp_path, monkeypatch):
    """r14 VERDICT item 7: the PQ codebook is frozen once the layout
    exists, so the stream must rehydrate it ONCE per stream start (the
    bootstrap seeds the cache with the just-trained codebook), not once
    or twice per trigger. Counted by wrapping the resolver: a
    codebook=None call is a real m*ks-row collect, a preloaded call is
    a cheap geometry check."""
    import cassandra_analytics_spark.operators.pq as pq_mod
    from cassandra_analytics_spark.streaming.semantic_stream import (
        process_semantic_batch,
    )

    rows = _corpus_rows()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    collects = {"n": 0}
    orig = pq_mod._resolve_ivf_pq_codebook

    def counting(spark_, index_path, spec, codebook, caller):
        if codebook is None:
            collects["n"] += 1
        return orig(spark_, index_path, spec, codebook, caller=caller)

    monkeypatch.setattr(pq_mod, "_resolve_ivf_pq_codebook", counting)

    cache: dict = {}
    kwargs = dict(
        index_path=str(tmp_path / "ivfpq"),
        pairs_out=str(tmp_path / "pairs"),
        centroids=CENTROIDS,
        threshold=0.98,
        pq={"m": 4, "ks": 16, "sample_size": 100, "seed": 1},
        codebook_cache=cache,
    )
    batches = [
        df.filter(F.col("vec_id") < 20),
        df.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 40)),
        df.filter(F.col("vec_id") >= 40),
    ]
    for i, b in enumerate(batches):
        process_semantic_batch(b, i, **kwargs)
    # bootstrap trains (no resolve); triggers 1-2 hit the seeded cache
    assert collects["n"] == 0, collects
    assert ("pq_codebook", kwargs["index_path"]) in cache

    # a RESTARTED stream (fresh cache) collects exactly once, then
    # amortizes — and an ad-hoc caller with NO cache pays per call
    cache2: dict = {}
    kwargs2 = dict(kwargs, codebook_cache=cache2)
    process_semantic_batch(df.filter(F.col("vec_id") < 10), 3, **kwargs2)
    process_semantic_batch(
        df.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15)),
        4, **kwargs2,
    )
    assert collects["n"] == 1, collects


def test_stream_residual_layout_same_pairs_margin_and_reads(spark, tmp_path):
    """Round 16 (VERDICT r15 item 2): pq=dict(encoding='residual')
    bootstraps the FAISS IVF-ADC residual layout and the stream's pair
    stages score pq_sym_recon_dot's centroid-cancelling identity. The
    adversarial shape is the PQ margin test's: pair cosines packed
    DENSELY around the threshold, split across two micro-batches so the
    boundary pairs cross _cross_pairs_pq — with the anchor ON the
    cluster (the realistic residual shape: tiny residuals, tight
    codebook, small margins) the plain SDC term is r_x.r_y ~ 0, a
    massive UNDER-estimate: scoring these codes without the correction
    drops every true pair before the confirm (measured on this exact
    fixture: 1748 corrected survivors vs 0 uncorrected), so this test
    fails loudly on a missing/mis-signed correction. Published pairs
    must equal the one-shot float SemDeDup pair-for-pair; the grown
    layout keeps serving residual-exact top-k reads."""
    import math

    from cassandra_analytics_spark.operators.pq import (
        query_ivf_pq_index,
        read_ivf_pq_spec,
    )
    from cassandra_analytics_spark.operators.similarity import (
        brute_force_topk,
        semantic_dedup_pairs,
    )

    rng = random.Random(7)
    dim = 12
    x = [rng.gauss(0, 1) for _ in range(dim)]
    z = [rng.gauss(0, 1) for _ in range(dim)]
    xx = sum(a * a for a in x)
    proj = sum(a * b for a, b in zip(x, z)) / xx
    z = [b - proj * a for a, b in zip(x, z)]
    rows = [(0, x)]
    for i in range(1, 60):  # cosines to x span [0.90, 1.0), threshold .95
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
    src = str(tmp_path / "incoming")
    df.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    df.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    # anchor ON the cluster: residuals are tiny, so the uncorrected
    # SDC under-estimates every pair to ~0 and would drop the whole
    # boundary — the correction term is load-bearing in the direction
    # the exact confirm CANNOT repair
    xn = math.sqrt(xx)
    one_cell = [(0, [a / xn for a in x])]
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_semantic_dedup_stream(
        stream,
        index_path=str(tmp_path / "ivf"),
        pairs_out=str(tmp_path / "pairs"),
        centroids=one_cell,
        threshold=0.95,
        checkpoint_dir=str(tmp_path / "ckpt"),
        pq=dict(m=4, ks=8, seed=11, encoding="residual"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in collected_semantic_pairs(
            spark, str(tmp_path / "pairs")
        ).collect()
    }
    want = {
        (r.a, r.b, round(r.cosine_sim, 9))
        for r in semantic_dedup_pairs(df, one_cell, threshold=0.95).collect()
    }
    assert got == want and len(want) > 100  # dense boundary pairs exist

    # the stream-grown layout is a first-class residual layout: spec
    # pinned, every appended row code-complete, reads residual-exact
    ivf = str(tmp_path / "ivf")
    spec = read_ivf_pq_spec(spark, ivf)
    assert spec["encoding"] == "residual" and spec["residuals"] is True
    layout = spark.read.parquet(ivf)
    assert layout.count() == 60
    assert layout.filter(F.col("pqcode").isNull()).count() == 0
    qvec = rows[0][1]
    want_k = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in brute_force_topk(
            df.filter(F.col("vec_id") != 0), qvec, k=5
        ).collect()
    ]
    got_k = [
        (r.vec_id, round(r.cosine_sim, 9))
        for r in query_ivf_pq_index(
            spark, ivf, qvec, k=6, num_probes=1, rescore_factor=30
        ).collect()
        if r.vec_id != 0
    ][:5]
    assert got_k == want_k


def test_layout_metadata_reads_amortized_across_triggers(
    spark, tmp_path, monkeypatch
):
    """r16: the spec row and coarse centroid table are FROZEN once the
    layout exists, so a cached stream must read each ONCE per stream
    start instead of 4-5 small driver jobs per trigger. Counted by
    wrapping the spec reader and the centroid parquet read."""
    import cassandra_analytics_spark.operators.ann_index as ann_mod
    import cassandra_analytics_spark.streaming.semantic_stream as ss_mod
    from cassandra_analytics_spark.streaming.semantic_stream import (
        process_semantic_batch,
    )

    rows = _corpus_rows()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    spec_reads = {"n": 0}
    orig_spec = ann_mod._read_ivf_spec_optional

    def counting_spec(spark_, index_path):
        spec_reads["n"] += 1
        return orig_spec(spark_, index_path)

    # the stream module resolves the reader through ann_mod at call time
    monkeypatch.setattr(ann_mod, "_read_ivf_spec_optional", counting_spec)

    cache: dict = {}
    kwargs = dict(
        index_path=str(tmp_path / "ivf"),
        pairs_out=str(tmp_path / "pairs"),
        centroids=CENTROIDS,
        threshold=0.98,
        codebook_cache=cache,
    )
    batches = [
        df.filter(F.col("vec_id") < 20),
        df.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 40)),
        df.filter(F.col("vec_id") >= 40),
    ]
    process_semantic_batch(batches[0], 0, **kwargs)  # bootstrap
    n_after_bootstrap = spec_reads["n"]
    process_semantic_batch(batches[1], 1, **kwargs)
    first_trigger = spec_reads["n"] - n_after_bootstrap
    assert first_trigger == 1, spec_reads  # ONE read, then cached
    assert ("ivf_spec", kwargs["index_path"]) in cache
    assert ("ivf_centroids", kwargs["index_path"]) in cache
    process_semantic_batch(batches[2], 2, **kwargs)
    assert spec_reads["n"] == n_after_bootstrap + 1, spec_reads

    # verdicts still match the one-shot batch twin over the union
    got = {
        (r.removed, r.kept_rep)
        for r in removal_verdicts(
            collected_semantic_pairs(
                spark, kwargs["pairs_out"]
            ).dropDuplicates(["a", "b"])
        ).collect()
    }
    want = {
        (r.removed, r.kept_rep)
        for r in removal_verdicts(
            semantic_dedup_pairs(df, CENTROIDS, threshold=0.98)
        ).collect()
    }
    assert got == want and len(want) > 10


def test_centroid_norm_job_amortized_across_triggers(
    spark, tmp_path, monkeypatch
):
    """r17: the codebook's norms are as frozen as the codebook — a
    decimal12 stream with a cache computes them with ONE k-row job
    (the first post-bootstrap trigger) instead of one per trigger, and
    the cached values feed the SAME assignment (pair output unchanged).
    """
    import cassandra_analytics_spark.operators.similarity as sim_mod
    from cassandra_analytics_spark.streaming.semantic_stream import (
        process_semantic_batch,
    )

    rows = _corpus_rows()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    calls = {"n": 0}
    orig = sim_mod.centroid_norms

    def counting(spark_, cents, math="float"):
        calls["n"] += 1
        return orig(spark_, cents, math)

    monkeypatch.setattr(sim_mod, "centroid_norms", counting)

    cache: dict = {}
    kwargs = dict(
        index_path=str(tmp_path / "ivf"),
        pairs_out=str(tmp_path / "pairs"),
        centroids=CENTROIDS,
        threshold=0.98,
        math="decimal12",
        codebook_cache=cache,
    )
    batches = [
        df.filter(F.col("vec_id") < 20),
        df.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 40)),
        df.filter(F.col("vec_id") >= 40),
    ]
    process_semantic_batch(batches[0], 0, **kwargs)  # bootstrap
    n_after_bootstrap = calls["n"]
    process_semantic_batch(batches[1], 1, **kwargs)
    assert calls["n"] == n_after_bootstrap + 1, calls  # ONE job, cached
    assert ("ivf_cnorms", kwargs["index_path"]) in cache
    process_semantic_batch(batches[2], 2, **kwargs)
    assert calls["n"] == n_after_bootstrap + 1, calls  # served from cache

    # verdicts still match the one-shot batch twin over the union
    got = {
        (r.removed, r.kept_rep)
        for r in removal_verdicts(
            collected_semantic_pairs(
                spark, kwargs["pairs_out"]
            ).dropDuplicates(["a", "b"])
        ).collect()
    }
    want = {
        (r.removed, r.kept_rep)
        for r in removal_verdicts(
            semantic_dedup_pairs(
                df, CENTROIDS, threshold=0.98, math="decimal12",
            )
        ).collect()
    }
    assert got == want
