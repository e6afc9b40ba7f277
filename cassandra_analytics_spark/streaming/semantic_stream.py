"""Streaming incremental SEMANTIC dedup: SemDeDup over a continuously
growing embedding corpus — the embedding twin of
:mod:`.dedup_stream` (text MinHash-LSH), built on the persisted IVF
layout instead of the bucketed shingle index.

Per micro-batch: assign the batch's vectors to cells with the layout's
PINNED codebook/mode/math (``ann_index.assign_with_index_spec``), find
near-dup pairs where at least one side is in the batch — an equi-join
on the cell key against only the layout partitions the batch touches
(partition pruning), plus the within-batch pair expansion — publish the
confirmed pairs idempotently per batch, then append the batch to the
layout. Cost per trigger is proportional to the BATCH (times touched
cell occupancy), never the corpus.

``foreachBatch`` is the right tool (not a stateful operator): the dedup
state is the partitioned IVF layout — far too large for the streaming
state store at corpus scale, already persistent, already incremental.

Delivery semantics (at-least-once micro-batch replay is harmless by
construction):

- pair outputs go to per-batch subdirectories overwritten on replay
  (idempotent publish keyed by ``batch_id``);
- a replayed layout append duplicates (id, vec, cell) rows, which
  cannot change results: the shared pair expansion drops same-id pairs
  (a row is never a near-dup of itself) and ``dropDuplicates(a, b)``
  collapses the rest — duplicate layout rows only cost storage, exactly
  the text twin's contract for duplicated banded rows;
- in-batch duplicate ids collapse to a DETERMINISTIC winner
  (greatest-vector-wins — arrays order lexicographically — the repo's
  LWW tiebreak convention) so a replay republishes byte-identical
  pairs;
- RESTART in a new process needs no rebuild, unlike the text twin: the
  layout lives at a filesystem path (not a session catalog), so the
  checkpoint skips processed batches and post-restart batches see the
  full prior corpus as-is.

ID IMMUTABILITY CONTRACT: the IVF layout is append-only and IS the
vector store, so re-ingesting an EXISTING id with a CHANGED embedding
is not an update — both versions stay in the layout (possibly in
different cells) and future batches pair against both. Model embedding
updates as new ids (or rebuild the layout); this differs from the text
twin, whose doc store is separate from its index and resolves
latest-batch-wins at confirm time. Re-presenting an id with the SAME
embedding (the replay case) is always harmless per the rules above.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cassandra_analytics_spark.operators.ann_index import (
    assign_with_index_spec,
    build_ivf_index,
    read_centroids,
)
from cassandra_analytics_spark.operators.similarity import (
    semantic_pairs_from_cells,
    vector_math,
    vector_op,
)


_PQ_OPTION_KEYS = frozenset(
    {"m", "ks", "sample_size", "iterations", "seed", "encoding"}
)


def _validate_pq_options(pq: dict | None) -> None:
    """Refuse unknown ``pq=`` keys LOUDLY: the bootstrap filters the
    dict to the known keys before passing it to ``save_ivf_pq_index``,
    so a misspelled key (e.g. ``samplesize``) would otherwise be
    silently ignored and the codebook would train with defaults — a
    silent misconfiguration baked into a frozen-forever bootstrap
    codebook (r14 ADVICE low)."""
    if pq is None:
        return
    if not isinstance(pq, dict):
        raise ValueError(
            f"pq= must be a dict of PQ training options, got {type(pq).__name__}"
        )
    unknown = sorted(set(pq) - _PQ_OPTION_KEYS)
    if unknown:
        raise ValueError(
            f"unknown pq= option(s) {unknown} — allowed keys: "
            f"{sorted(_PQ_OPTION_KEYS)} (the bootstrap codebook is "
            "frozen forever; a silently-ignored option would train it "
            "with defaults)"
        )


def run_semantic_dedup_stream(
    stream: DataFrame,
    index_path: str,
    pairs_out: str,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    checkpoint_dir: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    math: str = "float",
    max_cell: int = 10_000,
    assignment: str = "expr",
    quantize: bool = False,
    pq: dict | None = None,
) -> StreamingQuery:
    """Start the incremental semantic-dedup stream over an embedding
    stream.

    ``pq`` (round 14, mutually exclusive with ``quantize``) bootstraps
    an IVF-PQ layout instead (``pq.save_ivf_pq_index`` with
    ``residuals=True``; keys ``m``/``ks``/``sample_size``/
    ``iterations``/``seed``/``encoding`` pass through, all optional —
    ``encoding="residual"`` bootstraps the FAISS IVF-ADC residual
    layout, round 16: codes quantize x − centroid, recall-per-byte
    doubles for reads, and both pair stages score the centroid-
    cancelling ``pq_sym_recon_dot`` so verdicts stay float-identical):
    each cell
    then carries m-byte PQ codes PLUS the per-row measured
    reconstruction bound (``pq_tnorm``/``pq_err``), and the
    batch-vs-corpus pair stage ranks candidates from the codes with an
    exactness-preserving prefilter — a pair survives iff its ADC
    cosine ≥ threshold − pq_err/pq_tnorm − 1e-9, which cannot drop a
    true pair (``|q·x − q·x̂| ≤ ‖q‖·pq_err``), and false survivors die
    in the exact float confirm. Published verdicts are IDENTICAL to
    the float path (same contract as ``quantize=True``, proven by the
    per-row bound instead of SQ8's closed form). Where SQ8 cuts the
    corpus side to 1 byte/dim, PQ cuts it to m bytes + three doubles
    per VECTOR — the lever for high-dim embeddings (512-d: ~536 B/row
    → ~40 B/row at m=16). The PQ codebook trains on the BOOTSTRAP
    batch (frozen thereafter — appends encode with the spec codebook),
    so bootstrap with a batch representative of the corpus.

    ``quantize=True`` bootstraps the layout with
    ``build_ivf_index(quantize=True)`` — every cell then carries int8
    codes next to the floats, maintained INCREMENTALLY: appends derive
    the quantization from the persisted spec (assign_with_index_spec),
    so each batch's rows land code-complete and the layout serves
    byte-reduced probes (``query_ivf_index_quantized``) at any point in
    the stream's life. The batch-vs-corpus pair join then reads the
    int8 codes on the CORPUS side instead of the float vectors
    (:func:`_cross_pairs_quantized` — proven margin prefilter + exact
    float confirm, the batch twin's discipline), so the trigger's
    dominant join ships ~1 byte/dim. The published verdicts are
    identical with or without the flag (pinned by test and the driver
    oracle), and the replay-idempotence contract is unchanged (codes
    are a pure function of the vector, so replayed rows re-quantize
    byte-identically).

    WHEN TO QUANTIZE vs PQ (measured at BOTH ends, PERF.md r13-r15):
    the codes pay off when the duplicate fraction is realistic — at
    ~2% dups the r14 A/B measured SQ8's 3.31x shuffle-byte cut on the
    non-bootstrap triggers (the prefilter kills ~98% of candidate
    pairs, so the exact confirm re-reads a sliver). On a dup-SATURATED
    corpus (~99% copies, the soak stress shape) nearly every pair
    survives to the confirm, which re-reads the float column for
    everything: scan bytes go UP ~2.7x and wall +24% for a 1.91x
    shuffle cut — leave ``quantize=False`` there. The CODE SCHEME
    crossover is dimension (round-15 512-d A/B, PERF.md): at 64-d SQ8
    wins (3.31x vs PQ's 2.21x — the pair-struct gap is small and PQ
    pays extra confirm geometry); at 512-d PQ wins BOTH bytes and
    wall (5.04x vs 4.45x shuffle cut; 302 s vs 571 s trigger wall —
    SQ8's per-pair margin expression is 512 interpreted lambdas at
    that dim, while PQ's pair structs stay ~40 B and its high-dim
    scorer is an Arrow numpy kernel). Guidance: ``quantize=True`` for
    embeddings ≤ ~128-d, ``pq=`` above that. Verdicts are identical
    in every scheme; the flags only move bytes and wall.

    ``centroids`` is the coarse codebook (a k-means fit, or any fixed
    external set — the SemDeDup posture: the codebook is chosen once for
    the corpus, k ∝ expected N). The first non-empty batch builds the
    IVF layout at ``index_path`` with it (idempotent overwrite on
    replay); every later batch assigns with the layout's pinned spec and
    refuses codebook/math mismatches. ``math`` follows
    :func:`~cassandra_analytics_spark.operators.ann_index.
    build_ivf_index`'s contract.

    Published rows: ``(a, b, cell, cosine_sim, batch_id)`` with a < b,
    one row per near-dup pair the batch completed (both-in-batch pairs
    and batch-vs-prior-corpus pairs). Feed the accumulated pairs into
    :func:`~cassandra_analytics_spark.operators.similarity.
    removal_verdicts` (pairwise keep rule) or ``graph.dedup_clusters``
    (transitive) downstream.

    ``max_cell`` caps the per-cell work like the batch path's
    ``max_cluster``: within-batch expansion skips over-cap cells, and
    the batch-vs-corpus join skips cells whose CORPUS occupancy exceeds
    the cap (raise the centroid count instead — a skipped cell is
    silent under-dedup, the same trade the batch path documents).

    ``assignment`` passes through to the bootstrap
    :func:`~cassandra_analytics_spark.operators.ann_index.
    build_ivf_index` — ``"vectorized"`` is REQUIRED at the k ∝ N
    codebook sizes corpus-scale SemDeDup needs (the expression form
    tops out around k ≈ 128; PERF.md round 8 measured the failure).
    Appends inherit the mode from the persisted spec automatically.
    """
    import tempfile

    vector_math(math)
    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    if not centroids:
        raise ValueError("run_semantic_dedup_stream needs a codebook")
    if pq is not None and quantize:
        raise ValueError(
            "quantize=True (SQ8 codes) and pq= (product quantization) "
            "are mutually exclusive — a layout carries one code scheme"
        )
    _validate_pq_options(pq)
    checkpoint = checkpoint_dir or tempfile.mkdtemp(prefix="semdedup-stream-ckpt-")
    # per-stream codebook cache: the PQ codebook is FROZEN once the
    # layout exists, so rehydrating its m·ks rows every trigger is pure
    # overhead (the r14 soak measured the per-call collect as real
    # per-query cost on the batch side) — one collect per stream start,
    # not per trigger (r14 VERDICT item 7)
    codebook_cache: dict = {}

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        process_semantic_batch(
            batch_df, batch_id,
            index_path=index_path, pairs_out=pairs_out,
            centroids=centroids, threshold=threshold,
            id_col=id_col, vec_col=vec_col, math=math,
            max_cell=max_cell, assignment=assignment, quantize=quantize,
            pq=pq, codebook_cache=codebook_cache,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def process_semantic_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    index_path: str,
    pairs_out: str,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    math: str = "float",
    max_cell: int = 10_000,
    assignment: str = "expr",
    quantize: bool = False,
    pq: dict | None = None,
    on_published=None,
    codebook_cache: dict | None = None,
) -> None:
    """One micro-batch of the semantic-dedup stream — the body of
    :func:`run_semantic_dedup_stream`'s ``foreachBatch``, module-level so
    the crash seams are testable without a streaming harness.

    ``codebook_cache`` (optional, a caller-owned mutable dict) amortizes
    the layout's FROZEN metadata across triggers: the PQ codebook, the
    spec row, and the coarse centroid table are all immutable once the
    layout exists (appends never rewrite sidecars; compaction stashes
    them aside byte-identical), so the stream runner passes one dict for
    the stream's lifetime and each metadata collect happens once —
    before the r16 extension every trigger re-read the spec parquet 3-4
    times and the centroid table once (~5 small driver jobs per trigger
    of pure rehydration). Keys are (kind, index_path) — a cache shared
    across layouts can never cross-feed. Codebook preloads are still
    geometry-validated against the spec every trigger (a cheap compare,
    no collect). Callers without a cache (ad-hoc single batches) pay
    the per-call reads, same as before.

    ``on_published`` (optional) runs AFTER the batch's pairs land at
    ``pairs_out/batch-<id>`` and BEFORE the layout append — the exact
    point where a crash leaves the published verdicts without their
    layout rows. The replay contract holds through it: the checkpoint
    never committed, so the batch replays, the publish overwrites the
    same directory with the same rows, and the append finally lands
    (round-10 executed probe; the bulk writer's crash-at-commit tests
    are the pattern)."""
    vector_math(math)
    spark = batch_df.sparkSession
    # in-batch duplicate ids collapse to a deterministic winner
    # (greatest vector wins) so replays republish identical pairs
    scorable = batch_df.select(id_col, vec_col).filter(
        F.col(vec_col).isNotNull()
    )
    # emptiness probed BEFORE the dedup aggregate (r17): the grouped
    # frame is empty iff the filtered source is, and probing the source
    # keeps the per-trigger probe job shuffle-free
    if scorable.isEmpty():
        return
    batch = scorable.groupBy(id_col).agg(F.max(vec_col).alias(vec_col))
    out_dir = os.path.join(pairs_out, f"batch-{batch_id:010d}")

    if pq is not None and quantize:
        raise ValueError(
            "quantize=True (SQ8 codes) and pq= (product quantization) "
            "are mutually exclusive — a layout carries one code scheme"
        )
    _validate_pq_options(pq)

    # per-stream FROZEN-metadata cache (r16): the spec row and coarse
    # centroid table are immutable once the layout exists — rehydrating
    # them 4-5 times per trigger was pure driver-job overhead (guide
    # §1.2 step 2). A None cache (ad-hoc callers) degrades to per-call
    # reads; a value is only cached once it was actually read.
    def _cached_meta(kind: str, loader):
        if codebook_cache is None:
            return loader()
        key = (kind, index_path)
        v = codebook_cache.get(key)
        if v is None:
            v = loader()
            if v is not None:
                codebook_cache[key] = v
        return v

    from cassandra_analytics_spark.operators.ann_index import (
        _read_ivf_spec_optional,
    )

    try:
        raw_spec = _cached_meta(
            "ivf_spec",
            lambda: _read_ivf_spec_optional(spark, index_path),
        )
    except ValueError:
        # corrupt spec == absent for bootstrap purposes: the overwrite
        # IS the recovery (exactly _spec_exists's pre-r16 behavior —
        # read_ivf_spec's ValueError was caught there too)
        raw_spec = None
    if raw_spec is None:
        # bootstrap: the first batch IS the corpus — build the layout
        # (overwrite-idempotent on replay), report its internal pairs.
        # A bootstrap that crashed between the layout write and the spec
        # write lands here again on replay (spec-less layout) and the
        # overwrite IS the recovery: the torn layout held only this
        # batch's rows (round-10 probe pins this)
        if pq is not None:
            from cassandra_analytics_spark.operators.pq import (
                save_ivf_pq_index,
            )

            # residuals ALWAYS on: the cross-pair prefilter's per-row
            # proven bound is what keeps PQ verdicts float-identical.
            # ``assignment`` passes through like the SQ8 bootstrap —
            # "vectorized" is required at k ∝ N codebook sizes
            _, boot_cb = save_ivf_pq_index(
                batch, index_path, centroids=centroids,
                id_col=id_col, vec_col=vec_col, keep_vec=True,
                math=math, assignment=assignment, residuals=True,
                **{
                    k: pq[k]
                    for k in sorted(_PQ_OPTION_KEYS)
                    if k in pq
                },
            )
            # the bootstrap-trained codebook IS the frozen layout
            # codebook — seed the stream cache so trigger 2 onward
            # never re-collects it
            if codebook_cache is not None:
                codebook_cache[("pq_codebook", index_path)] = boot_cb
        else:
            build_ivf_index(
                batch, index_path, id_col=id_col, vec_col=vec_col,
                centroids=centroids, math=math, assignment=assignment,
                quantize=quantize,
            )
        pairs = semantic_pairs_from_cells(
            spark.read.parquet(index_path),
            threshold, id_col, vec_col, cell_col="cell",
            max_cluster=max_cell, math=math,
        )
        pairs.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).parquet(out_dir)
        return

    is_pq_layout = raw_spec.get("format") == "ivf-pq-v1"
    if pq is not None and not is_pq_layout:
        raise ValueError(
            f"pq= was passed but the layout at {index_path!r} is not an "
            "IVF-PQ layout — the code scheme is part of the layout; drop "
            "pq= to follow the existing spec, or rebuild"
        )
    if is_pq_layout and quantize:
        raise ValueError(
            f"quantize=True was passed but the layout at {index_path!r} "
            "is an IVF-PQ layout — drop quantize to follow the spec"
        )

    cents = _cached_meta(
        "ivf_centroids", lambda: read_centroids(spark, index_path)
    )
    # the codebook's norms are as frozen as the codebook: computed with
    # the layout's own norm expression ONCE per stream instead of a
    # k-row job per trigger (r17; only the norm-once "custom" mode
    # consumes them — built-in modes fold norms into the assignment
    # expression)
    cnorms = None
    if raw_spec.get("assignment") == "custom":
        from cassandra_analytics_spark.operators.similarity import (
            centroid_norms,
        )

        cnorms = _cached_meta(
            "ivf_cnorms",
            lambda: centroid_norms(spark, cents, math),
        )
    pq_cb = None
    if is_pq_layout:
        from cassandra_analytics_spark.operators.pq import (
            _normalize_ivf_pq_spec,
            _resolve_ivf_pq_codebook,
            assign_with_ivf_pq_spec,
        )

        pq_spec = _normalize_ivf_pq_spec(raw_spec)
        cache_key = ("pq_codebook", index_path)
        pq_cb = (
            codebook_cache.get(cache_key)
            if codebook_cache is not None
            else None
        )
        if pq_cb is None:
            pq_cb = _resolve_ivf_pq_codebook(
                spark, index_path, pq_spec,
                None, caller="process_semantic_batch",
            )
            if codebook_cache is not None:
                codebook_cache[cache_key] = pq_cb
        assigned = assign_with_ivf_pq_spec(
            batch, index_path, id_col=id_col, vec_col=vec_col, math=math,
            codebook=pq_cb, spec=pq_spec, centroids=cents,
            cnorms=cnorms,
        )
    else:
        assigned = assign_with_index_spec(
            batch, index_path, id_col, vec_col, math,
            spec=raw_spec, centroids=cents, cnorms=cnorms,
        )
    assigned = assigned.withColumn(
        "__nrm", vector_op(math, "norm")(F.col(vec_col))
    )
    # the batch plan feeds FOUR actions (touched-cells collect, within-
    # batch pairs, batch-vs-corpus join, layout append) — unpersisted,
    # each re-reads the micro-batch source AND re-runs the assignment
    # matmul (measured on the 100x run: numInputRows ~4x the file size
    # per trigger). Persist once, release before returning.
    from pyspark import StorageLevel

    assigned.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        _publish_and_append(
            spark, assigned, batch_id, index_path, out_dir,
            threshold, id_col, vec_col, math,
            max_cell, on_published, pq_codebook=pq_cb,
            raw_spec=raw_spec,
        )
    finally:
        assigned.unpersist()


def _publish_and_append(
    spark, assigned, batch_id, index_path, out_dir,
    threshold, id_col, vec_col, math,
    max_cell, on_published, pq_codebook=None, raw_spec=None,
) -> None:
    # On a QUANTIZED layout, BOTH pair stages carry the int8 codes
    # instead of float vectors through their exchanges — the batch
    # twin's measured 3.4x byte cut (_quantized_pairs_from_cells) —
    # with verdicts identical via the proven margin prefilter + exact
    # float confirm. The within-batch expansion is where the vector
    # payload actually shuffles (the cell exchange + quadratic pair
    # struct); the batch-vs-corpus join's batch side usually
    # broadcasts, so its win is the codes-only corpus SCAN.
    from cassandra_analytics_spark.operators.ann_index import (
        _quantized_pairs_from_cells,
        _read_ivf_spec_optional,
        _spec_quantized,
    )

    if raw_spec is None:
        # direct callers without the trigger's cached spec (tests, ad
        # hoc batches) pay the read, exactly the pre-r16 behavior
        raw_spec = _read_ivf_spec_optional(spark, index_path)
    is_pq = (raw_spec or {}).get("format") == "ivf-pq-v1"
    quantized = (not is_pq) and _spec_quantized(raw_spec)
    # within-batch pairs (shared expansion: same-id pairs dropped,
    # over-cap cells skipped); the assigned batch of a coded layout
    # carries its codes already (assign_with_index_spec /
    # assign_with_ivf_pq_spec), so BOTH code schemes route the
    # quadratic pair-struct exchange through their codes — the r13
    # lesson, re-measured for PQ in r14: with the in-batch expansion
    # left on floats the PQ arm's shuffle came out 0.76x (WORSE than
    # float), because this exchange dominates the trigger
    if is_pq:
        from cassandra_analytics_spark.operators.pq import (
            _resolve_ivf_pq_codebook,
            pq_pairs_from_cells,
        )

        if not raw_spec.get("residuals"):
            raise ValueError(
                f"IVF-PQ layout at {index_path!r} was saved without "
                "residuals=True — the streaming prefilters' per-row "
                "bound needs pq_tnorm/pq_err; rebuild with "
                "save_ivf_pq_index(residuals=True)"
            )
        # a caller-passed codebook (the stream's per-trigger cache) is
        # geometry-validated, not re-collected; None falls back to the
        # per-call rehydration (ad-hoc single-batch callers)
        pq_codebook = _resolve_ivf_pq_codebook(
            spark, index_path, raw_spec, pq_codebook,
            caller="_publish_and_append",
        )
        # residual-encoded layouts (round 16): both pair stages score
        # the same symmetric code-vs-code ADC plus the centroid-
        # cancelling correction from stored per-row doubles
        # (pq_sym_recon_dot — same-cell pairs share the anchor, so no
        # centroid join is needed); the measured-residual bound and
        # the exact float confirm are unchanged, so verdicts stay
        # float-identical under either pinned encoding
        in_pairs = pq_pairs_from_cells(
            assigned, pq_codebook, threshold, id_col, vec_col,
            max_cluster=max_cell, math=math,
            encoding=raw_spec.get("encoding") or "raw",
        )
    elif quantized:
        in_pairs = _quantized_pairs_from_cells(
            assigned, threshold, id_col, vec_col, max_cell,
            math, None,
            dim=(raw_spec or {}).get("dim"),
        )
    else:
        in_pairs = semantic_pairs_from_cells(
            assigned, threshold, id_col, vec_col, cell_col="cell",
            max_cluster=max_cell, math=math,
            norm_col="__nrm",
        )

    # batch-vs-corpus pairs: equi-join on the cell key against ONLY
    # the layout partitions the batch touches (the cell filter is a
    # partition-column predicate → partition pruning). Work is
    # |batch ∩ cell| x |cell|, bounded by max_cell.
    touched = [
        r.cell for r in assigned.select("cell").distinct().collect()
    ]
    if is_pq:
        cross = _cross_pairs_pq(
            spark, assigned, index_path, touched, threshold,
            id_col, vec_col, math, max_cell, raw_spec,
            pq_codebook,
        )
    elif quantized:
        cross = _cross_pairs_quantized(
            spark, assigned, index_path, touched, threshold,
            id_col, vec_col, math, max_cell,
            dim=(raw_spec or {}).get("dim"),
        )
    else:
        cross = _cross_pairs_float(
            spark, assigned, index_path, touched, threshold,
            id_col, vec_col, math, max_cell,
        )
    pairs = in_pairs.unionByName(cross).dropDuplicates(["a", "b"])
    pairs.withColumn("batch_id", F.lit(batch_id)).write.mode(
        "overwrite"
    ).parquet(out_dir)
    if on_published is not None:
        on_published(batch_id)
    # append AFTER the publish: a replay then recomputes the same
    # pair set (the batch copy already in the layout only adds
    # same-id pairs, dropped, and duplicate (a, b) rows, deduped)
    assigned.drop("__nrm").write.mode("append").partitionBy(
        "cell"
    ).parquet(index_path)


def _cross_pairs_float(
    spark, assigned, index_path, touched, threshold,
    id_col, vec_col, math, max_cell,
):
    """Batch-vs-corpus near-dup pairs over a FLOAT layout: the corpus
    side of the cell join carries the float vectors directly."""
    corpus = spark.read.parquet(index_path).filter(
        F.col("cell").isin(touched)
    )
    occupancy = corpus.groupBy("cell").agg(
        F.count(F.lit(1)).alias("__occ")
    )
    # the math's Arrow kernels where it has them (r16: the decimal
    # expression forms cost d interpreted lambdas per corpus ROW (norm)
    # and per candidate PAIR (dot) — the dominant cost of this trigger)
    b = assigned.select(
        F.col(id_col).alias("__bid_"),
        F.col(vec_col).alias("__bvec"),
        F.col("__nrm").alias("__bnrm"),
        "cell",
    )
    # occupancy-cap filter, projection and corpus norm in ONE select
    # (r17: each chained Dataset op re-analyzes the whole tree — this
    # plan is rebuilt per trigger)
    c = (
        corpus.join(occupancy, "cell")
        .filter(F.col("__occ") <= F.lit(max_cell))
        .select(
            F.col(id_col).alias("__cid_"),
            F.col(vec_col).alias("__cvec"),
            vector_op(math, "norm")(F.col(vec_col)).alias("__cnrm"),
            "cell",
        )
    )
    cos = F.try_divide(
        vector_op(math, "dot")(F.col("__bvec"), F.col("__cvec")),
        F.col("__bnrm") * F.col("__cnrm"),
    )
    return (
        b.join(c, "cell")
        .filter(F.col("__bid_") != F.col("__cid_"))
        .select(
            F.least("__bid_", "__cid_").alias("a"),
            F.greatest("__bid_", "__cid_").alias("b"),
            "cell",
            cos.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def _cross_pairs_quantized(
    spark, assigned, index_path, touched, threshold,
    id_col, vec_col, math, max_cell, dim=None,
):
    """Batch-vs-corpus pairs over a QUANTIZED layout: BOTH sides of the
    batch x occupancy expansion carry int8 CODES (+ four doubles)
    instead of float vectors — the batch is code-complete already
    (``assign_with_index_spec`` derives codes from the persisted spec),
    so the streaming twin of ``ann_index._quantized_pairs_from_cells``
    applies end to end, including its TWO-SIDED proven bound: with
    per-element quantization error <= s/2 each side's reconstruction
    error is r = s*sqrt(d)/2 and

        |cos(x, y) - cos(x_hat, y_hat)| <= 2r_x/||x_hat|| + 2r_y/||y_hat||

    — a pair survives to confirmation iff its code-space cosine >=
    threshold - that margin - 1e-9 (double-rounding headroom): no true
    pair can be dropped, false survivors die in the exact confirm, and
    the published verdicts are IDENTICAL to the float path (pinned by
    the shared driver oracle and the boundary test). ``math`` enters
    ONLY the exact confirm — the bound is stated for true cosine.

    WHY symmetric (round 15): the r13 one-sided form kept the batch
    side exact float, which carried the batch's FLOAT vector through
    the pair expansion — ~4 KB/pair at 512-d, and once the high-dim
    Arrow kernel took over the scorer it shipped that vector per pair
    through Arrow too (the same failure the PQ cross stage had). Codes
    on both sides keep the expansion at ~1 B/dim + four doubles per
    side; ``dim`` (from the layout spec) gates the u-dot to the Arrow
    kernel above ``quantize._EXPR_MAX_DIM``.

    The confirm joins the float columns back by (cell, id) for the
    corpus (restricted to the touched partitions) and by id for the
    batch: survivor-proportional, and duplicate-id layout rows from
    replays (same id, same vector, re-coded byte-identically) can only
    produce equal-cosine duplicates that the caller's
    dropDuplicates((a, b)) collapses — the module's replay contract,
    unchanged."""
    from cassandra_analytics_spark.operators.ann_index import (
        _QCODE,
        _sq8_margin,
        _sq8_recon_dot,
        _sq8_row_stats,
    )

    corpus = spark.read.parquet(index_path).filter(
        F.col("cell").isin(touched)
    )
    occupancy = corpus.groupBy("cell").agg(
        F.count(F.lit(1)).alias("__occ")
    )

    # per-row code stats (map-side, once per ROW, never per pair)
    s, m, su, nrm, r = _sq8_row_stats()

    c = (
        corpus.filter(F.col(_QCODE).isNotNull())
        .join(
            occupancy.filter(F.col("__occ") <= F.lit(max_cell))
            .select("cell"),
            "cell",
        )
        .select(
            F.col(id_col).alias("__cid_"),
            "cell",
            F.col(_QCODE).alias("__cq"),
            s.alias("__cs"),
            m.alias("__cm"),
            su.alias("__csu"),
            nrm.alias("__cnrm"),
            r.alias("__cr"),
        )
    )
    b = assigned.filter(F.col(_QCODE).isNotNull()).select(
        F.col(id_col).alias("__bid_"),
        "cell",
        F.col(_QCODE).alias("__bq"),
        s.alias("__bs"),
        m.alias("__bm"),
        su.alias("__bsu"),
        nrm.alias("__brec"),
        r.alias("__br"),
    )
    # the _quantized_pairs_from_cells reconstruction dot and margin
    dot_rec = _sq8_recon_dot(
        *map(F.col, ("__bq", "__bs", "__bm", "__bsu")),
        *map(F.col, ("__cq", "__cs", "__cm", "__csu")),
        dim,
    )
    approx = F.try_divide(dot_rec, F.col("__brec") * F.col("__cnrm"))
    margin = _sq8_margin(
        F.col("__br"), F.col("__brec"), F.col("__cr"), F.col("__cnrm")
    )
    survivors = (
        b.join(c, "cell")
        .filter(F.col("__bid_") != F.col("__cid_"))
        .withColumn("__approx", approx)
        .withColumn("__margin", margin)
        .filter(
            F.col("__approx").isNotNull()
            & (F.col("__approx") >= F.lit(threshold) - F.col("__margin"))
        )
        .select("__bid_", "__cid_", "cell")
    )
    # exact confirm from the float columns — survivor-proportional:
    # corpus by (cell, id) (partition-pruned), batch by id
    floats = spark.read.parquet(index_path).filter(
        F.col("cell").isin(touched)
    ).select(
        F.col(id_col).alias("__cid_"),
        "cell",
        F.col(vec_col).alias("__cvec"),
    )
    bfloats = assigned.select(
        F.col(id_col).alias("__bid_"),
        F.col(vec_col).alias("__bvec"),
        F.col("__nrm").alias("__bnrm"),
    )
    cos = F.try_divide(
        vector_op(math, "dot")(F.col("__bvec"), F.col("__cvec")),
        F.col("__bnrm") * vector_op(math, "norm")(F.col("__cvec")),
    )
    return (
        survivors.join(floats, ["cell", "__cid_"])
        .join(bfloats, "__bid_")
        .withColumn("cosine_sim", cos)
        .filter(F.col("cosine_sim") >= threshold)
        .select(
            F.least("__bid_", "__cid_").alias("a"),
            F.greatest("__bid_", "__cid_").alias("b"),
            "cell",
            "cosine_sim",
        )
    )


def _cross_pairs_pq(
    spark, assigned, index_path, touched, threshold,
    id_col, vec_col, math, max_cell, spec, codebook=None,
):
    """Batch-vs-corpus pairs over an IVF-PQ layout: the corpus side of
    the batch x occupancy expansion carries m-byte PQ CODES plus three
    doubles (``pq_norm``/``pq_tnorm``/``pq_err``) instead of the float
    vectors — the lever past SQ8 for high-dim embeddings (512-d float:
    ~4 KB/row; SQ8: ~536 B; PQ m=16: ~40 B).

    Exactness-preserving by a PER-ROW MEASURED bound (PQ has no
    closed-form error like SQ8's scale/2, so the layout stores the
    actual residual). The prefilter is SYMMETRIC code-vs-code ADC —
    both sides ride their m-byte codes + three stored doubles, the
    batch side encoded with the frozen codebook by
    ``assign_with_ivf_pq_spec`` — under the two-sided bound
    (:func:`~cassandra_analytics_spark.operators.pq.
    pq_pairs_from_cells`'s derivation): writing b = b̂ + e_b,
    x = x̂ + e_x with stored residual norms r,

        ``|b·x − b̂·x̂| ≤ ‖b̂‖·r_x + ‖x̂‖·r_b + r_b·r_x``
        (Cauchy-Schwarz) —

    a pair survives to confirmation iff its SDC cosine is ≥ threshold
    − that margin − 1e-9 (double-rounding headroom): no true pair can
    be dropped, false survivors die in the exact float confirm, and
    the published verdicts are IDENTICAL to the float path. ``math``
    enters ONLY the exact confirm (the bound is stated for standard
    float math) — the SQ8 twin's split.

    WHY symmetric (round 15): the round-14 asymmetric form
    (``pq_adc_dot_expr`` of batch float vs corpus codes) carried the
    batch's FLOAT vector through the pair expansion — ~4 KB/pair at
    512-d, PQ's own design point, where the 512-d A/B measured the
    arm wall-losing (the expression scorer was interpreter-bound AND
    the Arrow fallback shipped the vector per pair). Code-vs-code
    keeps the expansion at m bytes + three doubles per side and
    shares the within-batch stage's scorer + guards
    (``pq_sym_adc_col`` — expression at low dim, Arrow numpy kernel
    above ``_PQ_EXPR_MAX_DIM``). The per-row LUT-column alternative
    stays rejected (a materialized m·ks-double LUT per batch row
    auto-broadcast ~2 GB at the 100x trigger shape and died in the
    exchange build — round-14 measured failure). The corpus scan
    stays code-only (the quantized_topk plan discipline); the confirm
    joins the float columns back by (cell, id) / batch id —
    survivor-proportional. Refuses a layout saved without residuals
    (the bound's columns are not there).

    Residual-encoded layouts (round 16): the pair join is on cell
    EQUALITY, so both members share the centroid anchor and the
    reconstruction dot is the stored-doubles form of
    :func:`~cassandra_analytics_spark.operators.pq.pq_sym_recon_dot`
    — each side carries ONE extra per-row double (``‖D(codes)‖²``,
    computed in the pre-expansion scan); bound and confirm unchanged,
    verdicts float-identical."""
    from cassandra_analytics_spark.operators.pq import (
        _resolve_ivf_pq_codebook,
        pq_code_sqnorm_col,
        pq_sym_recon_dot,
    )

    if not spec.get("residuals"):
        raise ValueError(
            f"IVF-PQ layout at {index_path!r} was saved without "
            "residuals=True — the streaming prefilter's per-row bound "
            "needs pq_tnorm/pq_err; rebuild with save_ivf_pq_index("
            "residuals=True)"
        )
    codebook = _resolve_ivf_pq_codebook(
        spark, index_path, spec, codebook, caller="_cross_pairs_pq"
    )
    encoding = spec.get("encoding") or "raw"
    residual_enc = encoding == "residual"
    corpus = spark.read.parquet(index_path).filter(
        F.col("cell").isin(touched)
    )
    occupancy = corpus.groupBy("cell").agg(
        F.count(F.lit(1)).alias("__occ")
    )
    # phase 1 projects CODES + the three stored doubles only — the
    # float column stays out of the expansion scan entirely (residual
    # layouts add one pre-expansion double per side: ‖D(codes)‖²)
    c_cols = [
        F.col(id_col).alias("__cid_"),
        F.col("cell"),
        F.col("pqcode").alias("__cq"),
        F.col("pq_norm").alias("__cnh"),
        F.col("pq_tnorm").alias("__ctn"),
        F.col("pq_err").alias("__cr"),
    ]
    if residual_enc:
        c_cols.append(
            pq_code_sqnorm_col(
                codebook, F.col("pqcode"), "_cross_pairs_pq"
            ).alias("__cds")
        )
    c = (
        corpus.filter(F.col("pqcode").isNotNull())
        .join(
            occupancy.filter(F.col("__occ") <= F.lit(max_cell))
            .select("cell"),
            "cell",
        )
        .select(*c_cols)
    )
    # batch side: CODES + stored norms only (the batch is encoded with
    # the frozen codebook by assign_with_ivf_pq_spec, residuals per the
    # spec) — the prefilter is SYMMETRIC code-vs-code ADC, so the 4 KB
    # float vector never rides the pair expansion NOR the Arrow
    # transfer to the high-dim kernel (round 15: the asymmetric form
    # shipped the batch vector per PAIR — ~800 MB of Arrow traffic per
    # 512-d trigger — and the measured A/B had PQ wall-losing at its
    # own design point; symmetric SDC is the within-batch stage's
    # discipline applied to the cross stage)
    b_cols = [
        F.col(id_col).alias("__bid_"),
        F.col("pqcode").alias("__bq"),
        F.col("pq_norm").alias("__bnh"),
        F.col("pq_tnorm").alias("__btn"),
        F.col("pq_err").alias("__br"),
        F.col("cell"),
    ]
    if residual_enc:
        b_cols.append(
            pq_code_sqnorm_col(
                codebook, F.col("pqcode"), "_cross_pairs_pq"
            ).alias("__bds")
        )
    b = assigned.filter(F.col("pqcode").isNotNull()).select(*b_cols)
    # two-sided measured bound (the pq_pairs_from_cells derivation):
    # |b·x − b̂·x̂| ≤ ‖b̂‖·r_x + ‖x̂‖·r_b + r_b·r_x  (Cauchy-Schwarz)
    adc = pq_sym_recon_dot(
        codebook, F.col("__bq"), F.col("__cq"),
        F.col("__bnh"), F.col("__cnh"),
        F.col("__bds") if residual_enc else None,
        F.col("__cds") if residual_enc else None,
        encoding=encoding,
    )
    approx = F.try_divide(adc, F.col("__btn") * F.col("__ctn"))
    margin = F.try_divide(
        F.col("__bnh") * F.col("__cr")
        + F.col("__cnh") * F.col("__br")
        + F.col("__br") * F.col("__cr"),
        F.col("__btn") * F.col("__ctn"),
    ) + F.lit(1e-9)
    survivors = (
        b.join(c, "cell")
        .filter(F.col("__bid_") != F.col("__cid_"))
        .withColumn("__approx", approx)
        .withColumn("__margin", margin)
        .filter(
            F.col("__approx").isNotNull()
            & (F.col("__approx") >= F.lit(threshold) - F.col("__margin"))
        )
        .select("__bid_", "__cid_", "cell")
    )
    # exact confirm from the float columns — survivor-proportional:
    # corpus floats join back on (cell, id) (partition-pruned to the
    # touched cells), batch floats on the batch id
    floats = spark.read.parquet(index_path).filter(
        F.col("cell").isin(touched)
    ).select(
        F.col(id_col).alias("__cid_"),
        "cell",
        F.col(vec_col).alias("__cvec"),
    )
    bfloats = assigned.select(
        F.col(id_col).alias("__bid_"),
        F.col(vec_col).alias("__bvec"),
        F.col("__nrm").alias("__bnrm"),
    )
    cos = F.try_divide(
        vector_op(math, "dot")(F.col("__bvec"), F.col("__cvec")),
        F.col("__bnrm") * vector_op(math, "norm")(F.col("__cvec")),
    )
    return (
        survivors.join(floats, ["cell", "__cid_"])
        .join(bfloats, "__bid_")
        .withColumn("cosine_sim", cos)
        .filter(F.col("cosine_sim") >= threshold)
        .select(
            F.least("__bid_", "__cid_").alias("a"),
            F.greatest("__bid_", "__cid_").alias("b"),
            "cell",
            "cosine_sim",
        )
    )


def collected_semantic_pairs(
    spark, pairs_out: str, id_type: str = "long"
) -> DataFrame:
    """All pairs the stream has published so far — empty (with the right
    schema) before the first batch publishes.

    The pre-publish probe goes through the Hadoop FS glob, not
    ``glob.glob``: the stream writes through Spark to ANY store, and a
    local-only probe on HDFS/S3 would return the empty frame forever —
    silent loss of every verdict (round-9 ADVICE)."""
    from cassandra_analytics_spark.fs import glob_exists

    pattern = pairs_out.rstrip("/") + "/batch-*"
    if not glob_exists(spark, pattern):
        from cassandra_analytics_spark.local_data import local_df

        return local_df(
            spark,
            [],
            f"a {id_type}, b {id_type}, cell int, cosine_sim double, "
            "batch_id int",
        )
    return spark.read.parquet(pattern)
