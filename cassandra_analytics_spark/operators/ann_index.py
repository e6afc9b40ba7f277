"""Persistent ANN index: sign-LSH signatures as a partition column.

The scale path for similarity search at 100 TB: precompute each vector's
LSH bucket once and lay the corpus out partitioned by bucket
(``partitionBy(sig)``), so a query reads only the files of its own (and
optionally neighboring) buckets — partition pruning instead of a corpus
scan. The same layout idea the reference applies with token ranges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_analytics_spark.fs import write_sidecar
from cassandra_analytics_spark.local_data import local_df

# the index layout and query signatures share ONE definition — the
# sign-LSH builders in operators/similarity.py (a private copy here once
# desynchronized the two call sites one refactor at a time)
from cassandra_analytics_spark.operators.similarity import (
    _dim_guard,
    assign_nearest_cells,
    cosine,
    layout_math,
    lit_vector,
    nearest_cells_for,
    sample_centroids,
    sign_lsh_signature_column as _signature_column_expr,
    sign_lsh_signature_of as _signature_of,
    spec_assignment,
    vector_math,
    vector_op,
)


def _signature_column(vec_col: str, dim: int, num_planes: int, seed: int):
    return _signature_column_expr(F.col(vec_col), dim, num_planes, seed)


_LSH_SPEC_SCHEMA = "format string, num_planes int, seed long, dim int"


def build_ann_index(
    df: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 6,
    seed: int = 42,
) -> None:
    """Materialize the corpus partitioned by LSH signature.

    The layout parameters (num_planes, seed, dim) are persisted at
    ``{index_path}_spec``: the signature planes are derived from them, so
    a query or append run with different values would hash to DIFFERENT
    buckets over the same layout and silently read/extend garbage —
    :func:`query_ann_index` and :func:`append_to_ann_index` validate
    against the spec (round 9, the IVF spec discipline applied to the
    LSH twin)."""
    # dim probe must skip NULL vectors: a NULL in the FIRST row used to
    # TypeError the whole build even though NULL vectors hash to bucket 0
    # and never rank (round-8 probe pass)
    probe = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    spark = df.sparkSession
    # delete the spec BEFORE overwriting the layout: a crash mid-rebuild
    # leaves a detectably spec-less layout (queries warn, appends refuse)
    # instead of a fresh spec paired with the PREVIOUS build's buckets
    _delete_path(spark, f"{index_path}_spec")
    if probe is None:
        # empty corpus: write a readable empty index instead of
        # TypeError-ing on the dim probe — UNpartitioned, because a
        # zero-row partitionBy write emits no data files and the
        # read-back cannot infer a schema (sig stays a data column)
        df.select(F.col(id_col), F.col(vec_col), F.lit(0).alias("sig")).write.mode(
            "overwrite"
        ).parquet(index_path)
        write_sidecar(
            spark, f"{index_path}_spec",
            [("ann-lsh-v1", num_planes, seed, None)], _LSH_SPEC_SCHEMA,
        )
        return
    dim = len(probe[vec_col])
    tagged = df.select(
        F.col(id_col),
        F.col(vec_col),
        _signature_column(vec_col, dim, num_planes, seed).alias("sig"),
    )
    tagged.write.mode("overwrite").partitionBy("sig").parquet(index_path)
    write_sidecar(
        spark, f"{index_path}_spec",
        [("ann-lsh-v1", num_planes, seed, dim)], _LSH_SPEC_SCHEMA,
    )


def append_to_ann_index(
    df: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors to a persisted sign-LSH layout, hashing them
    with the PINNED plane family (num_planes, seed, dim) from the index
    spec — the LSH twin of :func:`append_to_ivf_index`: per-refresh cost
    is proportional to the batch, and existing signature directories only
    gain files.

    Refuses loudly when the layout predates spec pinning (the plane
    family cannot be inferred from the data — rebuild), or when it was
    built over an empty corpus (unpartitioned; rebuild over the union).
    Ragged vectors die loudly: a vector whose length differs from the
    spec dim would dot against null-padded planes and land in a
    signature that the same vector would never query back."""
    spark = df.sparkSession
    spec = _read_ivf_spec_optional(spark, index_path)
    if spec is None:
        raise ValueError(
            f"{index_path!r} has no persisted spec ({index_path}_spec) — "
            "it predates spec pinning; rebuild it with build_ann_index "
            "before appending (the signature plane family is part of the "
            "layout and cannot be inferred from the data)"
        )
    if spec["dim"] is None:
        raise ValueError(
            f"{index_path!r} was built over an empty corpus (unpartitioned "
            "layout) — rebuild with build_ann_index over the union instead "
            "of appending"
        )
    dim, num_planes, seed = spec["dim"], spec["num_planes"], spec["seed"]
    guarded = _dim_guard(
        _signature_column(vec_col, dim, num_planes, seed), F.col(vec_col),
        dim, "index planes",
    )
    tagged = df.select(F.col(id_col), F.col(vec_col), guarded.alias("sig"))
    tagged.write.mode("append").partitionBy("sig").parquet(index_path)


_IVF_SPEC_SCHEMA = (
    "format string, assignment string, sim_id string, dim int, "
    "num_centroids int, seed long, quantized boolean"
)

# fixed column names for the quantized layout (independent of vec_col so
# probes don't have to rediscover them): int8 codes + affine metadata
_QCODE, _QMIN, _QSCALE = "qvec", "qmin", "qscale"


def _spec_quantized(spec: dict | None) -> bool:
    """Whether a persisted spec declares a quantized layout. Specs written
    before round 11 have no ``quantized`` column — they read as
    unquantized (exactly what they are)."""
    return bool(spec and spec.get("quantized"))


def _with_layout_codes(tagged: DataFrame, vec_col: str) -> DataFrame:
    """Attach the affine-int8 code columns (``qvec``/``qmin``/``qscale``)
    to a cell-tagged frame — the storage side of the quantized IVF
    layout. Codes ride the same write as the floats; a probe then reads
    ~1 byte/dim from the pruned cells and touches the float column only
    to rescore survivors."""
    from cassandra_analytics_spark.operators.quantize import (
        quantization_kernel_cols,
    )

    # r16: the Arrow encode kernel — the HOF expression form cost ~2 s
    # of the sf0.1 quantized-layout build (3 interpreted passes x dim
    # lambdas per row); bit-identical, measured 4-6x faster at 64-d
    codes, vmin, scale = quantization_kernel_cols(vec_col)
    return tagged.withColumns(
        {_QCODE: codes, _QMIN: vmin, _QSCALE: scale}
    )


def _sq8_row_stats():
    """Per-row closed-form stats of the SQ8 codes, computed map-side ONCE
    per row (never per pair): ``(s, m, Σu, ‖x̂‖, r)`` with u = code + 128,
    ‖x̂‖² = s²·Σu² + 2sm·Σu + d·m² and the L2 error radius r = s·√d/2."""
    u = F.transform(F.col(_QCODE), lambda c: c.cast("double") + F.lit(128.0))
    su = F.aggregate(u, F.lit(0.0), lambda acc, x: acc + x)
    suu = F.aggregate(u, F.lit(0.0), lambda acc, x: acc + x * x)
    d = F.size(F.col(_QCODE)).cast("double")
    s, m = F.col(_QSCALE), F.col(_QMIN)
    nrm = F.sqrt(s * s * suu + F.lit(2.0) * s * m * su + d * m * m)
    return s, m, su, nrm, s * F.sqrt(d) / F.lit(2.0)


def _sq8_recon_dot(qa, sa, ma, sua, qb, sb, mb, sub, dim: int | None):
    """x̂·ŷ = sa·sb·Σ(ua·ub) + sa·mb·Σua + sb·ma·Σub + d·ma·mb from two
    rows' codes and :func:`_sq8_row_stats`. ``dim`` (round 15, from the
    layout spec) gates Σ(ua·ub) to the Arrow kernel above
    ``quantize._EXPR_MAX_DIM`` — the zip_with form is d interpreted
    lambdas PER PAIR (the 512-d A/B measured the SQ8 arm's triggers at
    571 s vs the kerneled PQ arm's 302 s; Spark HOFs are not
    codegen'd). None keeps the expression."""
    from cassandra_analytics_spark.operators.quantize import (
        _EXPR_MAX_DIM,
        _sq8_u_dot_udf,
    )

    if dim is not None and dim > _EXPR_MAX_DIM:
        uu = _sq8_u_dot_udf()(qa, qb)
    else:
        uu = F.aggregate(
            F.zip_with(
                qa, qb,
                lambda x, y: (x.cast("double") + F.lit(128.0))
                * (y.cast("double") + F.lit(128.0)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    dq = F.size(qa).cast("double")
    return sa * sb * uu + sa * mb * sua + sb * ma * sub + dq * ma * mb


def _sq8_margin(ra, nrma, rb, nrmb):
    """The proven cosine error bound 2r_a/‖x̂‖ + 2r_b/‖ŷ‖ plus 1e-9 of
    double-rounding headroom (:func:`_quantized_pairs_from_cells`)."""
    return (
        F.try_divide(F.lit(2.0) * ra, nrma)
        + F.try_divide(F.lit(2.0) * rb, nrmb)
        + F.lit(1e-9)
    )


def _delete_path(spark: SparkSession, path_str: str) -> None:
    """Recursively delete a filesystem path via the Hadoop FS API (works
    on any Spark-supported store, not just local disk)."""
    from cassandra_analytics_spark.fs import delete_path

    delete_path(spark, path_str)


def _assign_cells(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    mode: str,
    math: str,
    id_col: str,
    vec_col: str,
    passthrough: bool = False,
    cnorms: dict[int, float] | None = None,
) -> DataFrame:
    """Tag ``df`` with each row's ``cell`` under one persisted assignment
    mode — ONE definition shared by every IVF and IVF-PQ build and
    append, so the two can never pick different argmax forms (or math)
    for the same layout. ``mode`` is the spec's assignment: ``"expr"``
    (float, highest-cid ties, dispatched by work to its bit-identical
    Arrow kernel — r16 measured 4.3 s to assign 2,000 rows at k=16 ×
    d=64 in the interpreted expression), ``"vectorized"`` (float, BLAS,
    lowest-cid ties) or ``"custom"`` (the norm-once lowest-cid
    assignment of ``math``). Output: ``(id_col, vec_col, cell)``, or
    every input column plus ``cell`` with ``passthrough=True``."""
    if mode == "custom":
        return assign_nearest_cells(
            df, centroids, id_col, vec_col, math=math, cell_col="cell",
            passthrough=passthrough, cnorms=cnorms,
        )
    vec = F.col(vec_col)
    if mode == "vectorized":
        from cassandra_analytics_spark.operators.similarity import (
            vectorized_cell_udf,
        )

        # the UDF raises on ragged batches itself
        cell = vectorized_cell_udf(centroids)(vec)
    elif mode == "expr":
        dim = len(centroids[0][1])
        cell = _dim_guard(
            vector_op(math, "expr_cell", len(centroids) * dim)(vec, centroids),
            vec, dim, "index centroids",
        )
    else:
        raise ValueError(f"unknown assignment mode {mode!r}")
    if passthrough:
        return df.withColumn("cell", cell)
    return df.select(F.col(id_col), vec, cell.alias("cell"))


def build_ivf_index(
    df: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
    seed: int = 42,
    assignment: str = "expr",
    centroids: list[tuple[int, list[float]]] | None = None,
    math: str = "float",
    quantize: bool = False,
    train: str = "sample",
    train_sample_size: int = 20_000,
    train_iterations: int = 20,
) -> list[tuple[int, list[float]]]:
    """Materialize the corpus partitioned by IVF cell (nearest centroid).

    ``quantize=True`` stores affine-int8 codes (``qvec``/``qmin``/
    ``qscale``, the :mod:`~cassandra_analytics_spark.operators.quantize`
    scheme) NEXT TO the float column in every cell — the FAISS IVF+SQ8
    composition: a probe is then partition-pruned AND reads ~1 byte/dim
    for candidate ranking (:func:`query_ivf_index_quantized`), touching
    floats only to rescore survivors. The flag is part of the persisted
    spec; appends follow it automatically and refuse an explicit
    mismatch.

    By default centroids come from :func:`similarity.sample_centroids`
    (min-wise hash sample — uniform over the whole corpus regardless of
    data order); pass ``centroids`` to pin an external codebook (a
    k-means fit, or SemDeDup's oracle-reproducible fixed set), or
    ``train="kmeans"`` (round 16, VERDICT r15 item 4 — the FAISS IVF
    training posture) to fit the coarse codebook with
    :func:`similarity.train_coarse_centroids` (kmeans++-seeded
    SPHERICAL k-means over a bounded seeded sample;
    ``train_sample_size``/``train_iterations`` bound the driver-side
    fit, ``seed`` keeps it deterministic). Measured on the clustered
    recall harness (scripts/measure_ann_recall_clustered.py): on a
    Zipf-skewed clustered corpus the learned codebook reaches recall
    1.0 at ONE probe on tail-cluster queries where the sampled
    codebook needs >2 (it allocates centroids ∝ cluster size and
    starves the tail); on balanced clusters mean recall@1
    0.972 vs 0.940. Keep the sample default for uniform/random
    corpora — on those the fit buys nothing (round-4 measurement). The
    centroid list is persisted next to the cells so a query session does
    not need the original corpus, and the index SPEC — assignment mode,
    scoring math, dimension — is persisted at
    ``{index_path}_spec`` so :func:`append_to_ivf_index` can refuse a
    mismatched extension instead of silently splitting the layout
    (round-9 ADVICE: the modes disagree on exact-tie direction, so the
    mode is part of the persisted layout). Returns the centroids.

    ``assignment``: ``"expr"`` (default) builds the nearest-cell argmax
    as a codegen expression — zero Python, the right shape to
    num_centroids ≈ 128, ties toward the HIGHEST cid (the layout every
    existing index was built with). ``"vectorized"`` computes the argmax
    as one numpy matrix product per Arrow batch
    (:func:`similarity.vectorized_cell_udf`) — required for the large
    codebooks SemDeDup needs at corpus scale (k ∝ N; the expression form
    measured 1.5 MiB task binaries at k=256, PERF.md round 8); ties go
    to the LOWEST cid (the repo convention).

    ``math="decimal12"`` switches assignment to the portable decimal
    cosine the oracle-exact SemDeDup queries use (norm-once
    :func:`similarity.assign_nearest_cells`, lowest-cid ties; no
    vectorized path). The math is pinned in the spec, so appends and
    reads follow it (:func:`similarity.spec_math`).
    """
    if assignment not in ("expr", "vectorized"):
        raise ValueError(
            f"assignment must be 'expr' or 'vectorized', got {assignment!r}"
        )
    if train not in ("sample", "kmeans"):
        raise ValueError(
            f"train must be 'sample' or 'kmeans', got {train!r}"
        )
    if centroids is not None and train != "sample":
        raise ValueError(
            "train='kmeans' fits the coarse codebook — passing "
            "centroids= too is ambiguous; drop one"
        )
    if quantize and {id_col, vec_col} & {_QCODE, _QMIN, _QSCALE}:
        raise ValueError(
            f"quantize=True reserves the layout columns "
            f"{(_QCODE, _QMIN, _QSCALE)} — rename id_col/vec_col"
        )
    # decimal12 runs the norm-once path — silently downgrading a
    # requested vectorized build would surprise exactly the
    # large-codebook callers who asked for it (round-9 hostile read)
    mode, sim_id = spec_assignment(math, assignment)
    if centroids is None:
        if train == "kmeans":
            from cassandra_analytics_spark.operators.similarity import (
                train_coarse_centroids,
            )

            centroids = train_coarse_centroids(
                df, num_centroids, id_col, vec_col,
                sample_size=train_sample_size,
                iterations=train_iterations, seed=seed,
            )
        else:
            centroids = sample_centroids(
                df, num_centroids, id_col, vec_col, seed
            )
    else:
        centroids = [(int(cid), [float(x) for x in v]) for cid, v in centroids]
        from cassandra_analytics_spark.operators.similarity import (
            validate_codebook,
        )

        # external codebooks are caller data: duplicate cids / mixed dims
        # would silently corrupt every assignment (round-9 probe)
        validate_codebook(centroids)
    # REBUILD torn-state discipline: the three writes (layout, centroids,
    # spec) cannot be one atomic commit, so delete the sidecars FIRST — a
    # crash mid-rebuild then leaves a layout whose queries fail LOUDLY on
    # the missing centroid table (and whose appends are refused on the
    # missing spec) instead of silently scoring new cells against the
    # PREVIOUS build's centroids (round-9 hostile review). For production
    # refreshes, build to a fresh path and swap.
    spark = df.sparkSession
    _delete_path(spark, f"{index_path}_spec")
    _delete_path(spark, f"{index_path}_centroids")
    if not centroids:
        # empty corpus: zero-arg F.array() in nearest_centroid_cell would
        # otherwise produce a null cell partition, and a zero-row
        # partitionBy write emits no data files (read-back cannot infer a
        # schema) — write the empty layout UNpartitioned (cell stays a
        # data column) + an empty centroid table so query_ivf_index
        # returns empty instead of erroring
        tagged = df.select(F.col(id_col), F.col(vec_col), F.lit(0).alias("cell"))
        if quantize:
            tagged = _with_layout_codes(tagged, vec_col)
        tagged.write.mode("overwrite").parquet(index_path)
    else:
        tagged = _assign_cells(df, centroids, mode, math, id_col, vec_col)
        if quantize:
            tagged = _with_layout_codes(tagged, vec_col)
        tagged.write.mode("overwrite").partitionBy("cell").parquet(index_path)
    write_sidecar(
        spark, f"{index_path}_centroids",
        [(cid, [float(x) for x in vec]) for cid, vec in centroids],
        "cid int, centroid array<double>",
    )
    dim = len(centroids[0][1]) if centroids else None
    write_sidecar(
        spark, f"{index_path}_spec",
        [("ivf-v1", mode, sim_id, dim, len(centroids), seed, quantize)],
        _IVF_SPEC_SCHEMA,
    )
    return centroids


def read_centroids(
    spark: SparkSession, index_path: str
) -> list[tuple[int, list[float]]]:
    """The coarse centroid table persisted beside an IVF / IVF-PQ
    layout, sorted by cell id (a driver-side sidecar read); a named
    error when the table is missing."""
    from cassandra_analytics_spark.fs import read_sidecar

    rows = read_sidecar(spark, f"{index_path}_centroids")
    if rows is None:
        raise ValueError(
            f"{index_path!r} has no centroid table ({index_path}_centroids)"
            " — rebuild the layout"
        )
    return sorted(
        (int(r["cid"]), [float(x) for x in r["centroid"]]) for r in rows
    )


def _read_ivf_spec_optional(spark: SparkSession, index_path: str) -> dict | None:
    """The persisted spec of an IVF (or sign-LSH) layout, or None for
    pre-spec (legacy) layouts. A PRESENT-but-corrupt spec still raises — a multi-row spec is damage,
    not legacy."""
    from cassandra_analytics_spark.fs import read_sidecar

    rows = read_sidecar(spark, f"{index_path}_spec")
    if rows is None:
        return None
    if len(rows) != 1:
        raise ValueError(
            f"corrupt layout spec at {index_path}_spec: expected exactly "
            f"one row, found {len(rows)}"
        )
    return rows[0]


def read_ivf_spec(spark: SparkSession, index_path: str) -> dict:
    """The persisted spec of an IVF layout, as a dict. Raises a named
    error for pre-spec (legacy) layouts."""
    spec = _read_ivf_spec_optional(spark, index_path)
    if spec is None:
        raise ValueError(
            f"{index_path!r} has no persisted spec ({index_path}_spec) — "
            "it predates spec pinning; rebuild it with build_ivf_index "
            "before appending (the assignment mode/tie direction is part "
            "of the layout and cannot be inferred from the data)"
        )
    return spec


def append_to_ivf_index(
    df: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    math: str | None = None,
    quantize: bool | None = None,
) -> None:
    """Append new vectors to a persisted IVF layout, assigning them with
    the PINNED codebook and assignment mode from the index spec.

    ``quantize`` defaults to FOLLOWING THE SPEC (a quantized layout gets
    codes on every appended row automatically — an append that skipped
    them would leave NULL-code rows that silently never rank in the
    byte-reduced probe phase). Passing an explicit value that CONFLICTS
    with the spec is refused — the quantization config is part of the
    layout, exactly like the assignment mode.

    The incremental story for growing embedding corpora (the engine's
    stated ingest target) — the embedding twin of the text LSH index's
    ``append_to_index``: per-refresh cost is proportional to the BATCH,
    not the corpus, and the existing cells' files are never rewritten
    (parquet ``append`` under the same ``partitionBy`` layout only adds
    files inside matching cell directories). Reference analog: the bulk
    writer's append-only batch model
    (``bulkwriter/CassandraBulkSourceRelation.java:116-131``).

    ``math`` defaults to the layout's own (the spec's); an explicit
    different value is refused. Refuses loudly too when the layout has
    no spec (legacy — rebuild) or was built over an EMPTY corpus
    (unpartitioned, no centroids — rebuild). A silent math or mode
    mismatch would split the same corpus across different cells
    depending on which call wrote it — exactly the corruption the spec
    exists to prevent.
    """
    if quantize is not None:
        layout_q = _spec_quantized(
            read_ivf_spec(df.sparkSession, index_path)
        )
        if quantize != layout_q:
            raise ValueError(
                f"quantization mismatch: index at {index_path!r} was built "
                f"with quantize={layout_q}, append presented "
                f"quantize={quantize} — the code columns are part of the "
                "layout; omit the argument to follow the spec, or rebuild "
                "with build_ivf_index(quantize=...) to switch"
            )
    tagged = assign_with_index_spec(df, index_path, id_col, vec_col, math)
    tagged.write.mode("append").partitionBy("cell").parquet(index_path)


def assign_with_index_spec(
    df: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    math: str | None = None,
    spec: dict | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    cnorms: dict[int, float] | None = None,
) -> DataFrame:
    """Tag ``df`` with the ``cell`` each row would occupy in the layout at
    ``index_path``, using the PINNED codebook and assignment mode from the
    persisted spec — the assignment half of :func:`append_to_ivf_index`
    (which writes the result), shared with the streaming semantic-dedup
    path (which needs the assignment for the batch-vs-corpus join before
    appending). All spec/mode/math mismatch checks apply.

    ``spec``/``centroids`` (r16) preload the layout's frozen metadata so
    a caller that already holds them (the streaming trigger's per-stream
    cache) skips the two per-call metadata reads; both are immutable
    once the layout exists (appends never rewrite sidecars, compaction
    stashes them aside byte-identical) — the PQ codebook-preload
    contract applied to the coarse layer."""
    spark = df.sparkSession
    if spec is None:
        spec = read_ivf_spec(spark, index_path)
    math = layout_math(math, spec, index_path, append=True)
    if centroids is None:
        centroids = read_centroids(spark, index_path)
    if not centroids:
        raise ValueError(
            f"{index_path!r} was built over an empty corpus (no centroids, "
            "unpartitioned layout) — rebuild with build_ivf_index over the "
            "union instead of appending"
        )
    centroids = sorted(centroids, key=lambda t: t[0])
    tagged = _assign_cells(
        df, centroids, spec["assignment"], math, id_col, vec_col,
        cnorms=cnorms,
    )
    if _spec_quantized(spec):
        # a quantized layout's appends carry codes automatically — the
        # spec IS the quantization config
        tagged = _with_layout_codes(tagged, vec_col)
    return tagged


def query_ivf_index(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_probes: int = 4,
    math: str | None = None,
) -> DataFrame:
    """Top-k over the ``num_probes`` nearest cells only — the ``cell``
    filter is a partition-column predicate, so Spark reads just those
    directories (partition pruning; no corpus scan).

    Candidates score under the layout's own math, or under ``math`` when
    given (:func:`similarity.layout_math`: reads never mutate the layout
    and routing is driver-side float either way, so scoring math is a
    read-time choice).

    RECALL ENVELOPE (measured, scripts/measure_ann_recall.py, PERF.md
    round 8): on the driver's near-random isotropic fixture recall
    tracks the probed corpus fraction — probes/16 of the corpus read
    gives mean recall@20 of 0.18 / 0.31 / 0.47-0.49 / 0.71-0.74 / 1.0 at
    p = 1 / 2 / 4 / 8 / 16 (consistent at sf0.01 and sf0.1; ~1.4-2.8x
    the random-sampling baseline, so the centroid structure helps even
    without clusters, but cannot beat the curse of dimensionality on
    unclustered data). IVF's real win requires CLUSTERED embeddings,
    where neighbors co-locate in few cells — MEASURED round 9 on a
    planted-cluster corpus (scripts/measure_ann_recall_clustered.py,
    PERF.md): mean recall@20 of 0.94 at ONE probe reading 1.6% of the
    corpus (~60x the blind probed-fraction baseline), 1.0 by two probes
    with the default sampled codebook, and 1.0 at one probe with a
    learned codebook (``build_ivf_index(train="kmeans")``, round 16 —
    or an external fit via ``centroids=``). On BALANCED clusters the
    fit buys only the p=1 tail; on a Zipf-SKEWED clustered corpus
    (round-16 measurement, the realistic shape) the sampled codebook
    starves tail clusters (recall 0.963@1 / 0.993@2 on tail queries)
    while the trained one holds 1.0 at one probe — reach for
    ``train="kmeans"`` when cluster sizes are skewed. Steering:
    probing every cell
    (``num_probes = num_centroids``) is exact (recall 1.0, pinned by
    test) and still partition-parallel; below ~10^6 vectors prefer
    :func:`~cassandra_analytics_spark.operators.similarity.
    brute_force_topk` — one scan of a corpus that small costs less than
    index maintenance. Raise ``num_probes`` (not centroid count) first
    when recall matters more than scan cost."""
    if num_probes < 1:
        raise ValueError(f"num_probes must be >= 1, got {num_probes}")
    math = layout_math(
        math, _read_ivf_spec_optional(spark, index_path), index_path
    )
    centroids = read_centroids(spark, index_path)
    # a query vector of the wrong dimension would rank cells with
    # silently TRUNCATED driver-side dot products (zip stops at the
    # shorter side) and then score candidates to NULL — empty results
    # with no hint why (round-9 hostile review)
    if centroids and len(query_vec) != len(centroids[0][1]):
        raise ValueError(
            f"query vector is {len(query_vec)}-d but the index centroids "
            f"are {len(centroids[0][1])}-d"
        )
    cells = nearest_cells_for(query_vec, centroids, num_probes)
    index = spark.read.parquet(index_path)
    candidates = index.filter(F.col("cell").isin(cells))
    # the query norm runs through the SAME norm expression over the
    # literal vector, so the math matches the corpus side bit-for-bit
    score = cosine(F.col(vec_col), lit_vector(query_vec), math)
    return (
        candidates.select(F.col(id_col), score.alias("cosine_sim"))
        .filter(F.col("cosine_sim").isNotNull())
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def query_ivf_index_quantized(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_probes: int = 4,
    rescore_factor: int = 8,
    math: str | None = None,
    rescore_mode: str = "pushdown",
) -> DataFrame:
    """Two-phase top-k over a QUANTIZED IVF layout — the composition of
    both scale levers: the ``cell`` filter partition-prunes to the
    ``num_probes`` nearest cells, and phase 1 ranks candidates from the
    int8 codes (``quantize.approx_cosine_from_codes`` — the scan reads
    ~1 byte/dim + two doubles instead of 8 bytes/dim). The top
    ``k * rescore_factor`` survivors are rescored with exact float
    cosine from the ``vec_col`` column and the top k returned — the
    FAISS IVF-SQ8 probe shape, re-expressed as two pruned parquet scans.

    APPROXIMATION CONTRACT is :func:`~cassandra_analytics_spark.
    operators.quantize.quantized_topk`'s: phase-1 ranks differ from
    exact only where cosine gaps are below quantization noise, and the
    rescore window absorbs swaps within ``k * rescore_factor`` —
    empirical, pinned oracle-exact at the gate SFs by the driver query.
    Probe recall is :func:`query_ivf_index`'s envelope (probe-all is
    exact). ``math`` follows :func:`query_ivf_index`'s read contract and
    applies to the RESCORE phase only. ``rescore_mode`` is ``quantized_topk``'s: ``"pushdown"``
    collects the bounded survivor ids into a source-pruned ``isin``;
    ``"join"`` keeps them distributed via a broadcast join.

    Refuses a layout whose spec is missing or unquantized — silently
    scoring NULL codes would return an empty result with no hint.
    """
    from cassandra_analytics_spark.operators.quantize import (
        _approx_score,
        _no_scores,
        _phase2_exact_topk,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if num_probes < 1:
        raise ValueError(f"num_probes must be >= 1, got {num_probes}")
    if rescore_factor < 1:
        raise ValueError(
            f"rescore_factor must be >= 1, got {rescore_factor}"
        )
    if rescore_mode not in ("pushdown", "join"):
        raise ValueError(
            f"rescore_mode must be 'pushdown' or 'join', got {rescore_mode!r}"
        )
    spec = read_ivf_spec(spark, index_path)
    if not _spec_quantized(spec):
        raise ValueError(
            f"index at {index_path!r} is not a quantized layout (spec has "
            "quantized=false or predates quantization) — rebuild with "
            "build_ivf_index(quantize=True), or use query_ivf_index"
        )
    math = layout_math(math, spec, index_path)
    centroids = read_centroids(spark, index_path)
    index = spark.read.parquet(index_path)
    if not centroids:
        return _no_scores(index, id_col)
    if len(query_vec) != len(centroids[0][1]):
        raise ValueError(
            f"query vector is {len(query_vec)}-d but the index centroids "
            f"are {len(centroids[0][1])}-d"
        )
    cells = nearest_cells_for(query_vec, centroids, num_probes)
    candidates = index.where(f"cell IN ({', '.join(map(str, cells))})")
    # phase 1 projects ONLY (id, approx): the pruned scan reads codes +
    # metadata, never the float column (the quantized_topk plan audit)
    approx = _approx_score(
        query_vec, _QCODE, _QMIN, _QSCALE, "array<tinyint>"
    )
    return _phase2_exact_topk(
        candidates, approx, [float(x) for x in query_vec], k, id_col,
        vec_col, rescore_factor, rescore_mode, math,
    )


def query_ann_index(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | None = None,
    seed: int | None = None,
    probe_hamming: int = 1,
) -> DataFrame:
    """Top-k within the query's bucket (+ buckets within ``probe_hamming``
    bit flips — multiprobe). The ``sig`` filter is a partition-column
    predicate, so only those directories are read.

    ``num_planes``/``seed`` default to the layout's persisted spec — the
    plane family IS the layout, so a mismatched value hashes the query
    into buckets the corpus was never written to and silently returns
    wrong neighbors (round 9: explicit values are validated against the
    spec and refused on conflict; legacy no-spec layouts fall back to
    the historical defaults 6/42 when no value is given).

    Recall envelope (measured alongside IVF's — see
    :func:`query_ivf_index` and PERF.md round 8): mean recall@20 of
    0.09 / 0.26-0.28 / 0.53-0.57 at hamming radius 0 / 1 / 2 with 6
    planes on the near-random fixture — same probed-fraction story. For
    exhaustive-accurate search use ``probe_hamming = num_planes`` (all
    buckets) or brute_force_topk."""
    spec = _read_ivf_spec_optional(spark, index_path)
    if spec is not None:
        for name, given, pinned in (
            ("num_planes", num_planes, spec["num_planes"]),
            ("seed", seed, spec["seed"]),
        ):
            if given is not None and given != pinned:
                raise ValueError(
                    f"{name}={given} conflicts with the layout spec at "
                    f"{index_path}_spec ({name}={pinned}) — querying with a "
                    "different plane family reads buckets the corpus was "
                    "never written to; omit the argument to use the spec"
                )
        num_planes = spec["num_planes"]
        seed = spec["seed"]
        if spec["dim"] is not None and len(query_vec) != spec["dim"]:
            raise ValueError(
                f"query vector is {len(query_vec)}-d but the layout's "
                f"planes are {spec['dim']}-d (spec at {index_path}_spec)"
            )
    else:
        assumed = [
            name
            for name, given in (("num_planes=6", num_planes), ("seed=42", seed))
            if given is None
        ]
        num_planes = 6 if num_planes is None else num_planes
        seed = 42 if seed is None else seed
        if assumed:
            import warnings

            # name ONLY the argument(s) actually defaulted and the full
            # effective family — the old message claimed both defaults
            # were assumed even when one was explicitly passed (round-10
            # ADVICE: a misstated warning is worse than none)
            warnings.warn(
                f"{index_path!r} has no persisted spec (pre-spec layout, or "
                f"a rebuild crashed mid-write): assuming the historical "
                f"default {' and '.join(assumed)} — effective plane family "
                f"is num_planes={num_planes}, seed={seed}; pass the missing "
                "argument explicitly if the layout was built with other "
                "values",
                stacklevel=2,
            )
    qsig = _signature_of(query_vec, num_planes, seed)
    # true multiprobe: every bucket within probe_hamming bit flips of the
    # query signature (a 1-flip-only loop silently capped the radius —
    # probe_hamming=2 probed the same buckets as 1 and lost recall)
    import itertools

    probes = {qsig}
    for r in range(1, min(probe_hamming, num_planes) + 1):
        for flips in itertools.combinations(range(num_planes), r):
            mask = 0
            for i in flips:
                mask |= 1 << i
            probes.add(qsig ^ mask)
    index = spark.read.parquet(index_path)
    candidates = index.filter(F.col("sig").isin(sorted(probes)))
    q = lit_vector(query_vec)
    return (
        candidates.select(
            F.col(id_col), cosine(F.col(vec_col), q).alias("cosine_sim")
        )
        .filter(F.col("cosine_sim").isNotNull())
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def _quantized_pairs_from_cells(
    index: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    max_cluster: int,
    math: str,
    skew_observation,
    dim: int | None = None,
) -> DataFrame:
    """Within-cell near-dup pairs over a QUANTIZED layout: the quadratic
    pair expansion carries the int8 CODES (+ five doubles) through the
    cell exchange instead of the float vectors — a MEASURED 3.4x
    shuffle-byte cut at 100x (PERF.md) in the stage that dominates
    SemDeDup at corpus scale — then
    exact-confirms the surviving pairs from the float column, so the
    output is IDENTICAL to the float pair stage (pinned by test and by
    the shared driver oracle).

    The prefilter is exactness-preserving by a PROVEN bound, not an
    empirical window: with per-element quantization error ≤ s/2, the
    reconstruction error is ‖x − x̂‖₂ ≤ r = s·√d/2, and for unit
    directions ‖x/‖x‖ − x̂/‖x̂‖‖ ≤ 2‖x − x̂‖ / max(‖x‖, ‖x̂‖) ≤ 2r/‖x̂‖,
    so |cos(x, y) − cos(x̂, ŷ)| ≤ 2r_a/‖x̂‖ + 2r_b/‖ŷ‖. A pair is kept
    for confirmation iff its code-space cosine ≥ threshold − that
    margin − 1e-9 (double-rounding headroom): no true pair can be
    dropped, and false survivors are removed by the exact confirm. All
    per-row pieces (Σu, ‖x̂‖ from the closed form, r) are computed once
    map-side and ride the pair payload.

    Requires the layout's documented unique-id contract (the confirm
    joins vectors back by id); NULL-code rows never pair (their NULL
    vectors never pair in the float stage either)."""
    from cassandra_analytics_spark.operators.dedup import (
        _bucket_candidate_pairs,
    )

    s, m, su, nrm, r = _sq8_row_stats()
    tagged = index.filter(
        F.col(vec_col).isNotNull() & F.col(_QCODE).isNotNull()
    ).select(
        id_col,
        F.struct(
            F.col(_QCODE).alias("q"),
            s.alias("s"),
            m.alias("m"),
            su.alias("su"),
            nrm.alias("nrm"),
            r.alias("r"),
            F.col("cell").alias("c"),
        ).alias("__p"),
        F.col("cell").alias("__cell"),
    )
    pairs = _bucket_candidate_pairs(
        tagged, ["__cell"], id_col, "__p", max_cluster,
        skew_observation=skew_observation,
    )
    pa, pb = F.col("pa"), F.col("pb")
    dim_guard = F.when(
        F.size(pa["q"]) == F.size(pb["q"]), F.lit(True)
    ).otherwise(
        F.raise_error(
            F.lit(
                "code-vector dimension mismatch between candidate pair "
                "members — mixed-dimension embedding columns are data "
                "corruption; fix or filter them first"
            )
        ).cast("boolean")
    )
    dot_rec = _sq8_recon_dot(
        pa["q"], pa["s"], pa["m"], pa["su"],
        pb["q"], pb["s"], pb["m"], pb["su"], dim,
    )
    approx = F.when(dim_guard, F.try_divide(dot_rec, pa["nrm"] * pb["nrm"]))
    margin = _sq8_margin(pa["r"], pa["nrm"], pb["r"], pb["nrm"])
    survivors = (
        pairs.select(
            "a",
            "b",
            pa["c"].alias("cell"),
            approx.alias("__approx"),
            margin.alias("__margin"),
        )
        .filter(
            F.col("__approx").isNotNull()
            & (F.col("__approx") >= F.lit(threshold) - F.col("__margin"))
        )
        .select("a", "b", "cell")
    )
    # exact confirm from the float column — survivor-proportional joins
    va = index.select(F.col(id_col).alias("a"), F.col(vec_col).alias("__va"))
    vb = index.select(F.col(id_col).alias("b"), F.col(vec_col).alias("__vb"))
    # the confirm takes the math's Arrow kernels where it has them (r16:
    # the decimal expression pays 3d interpreted lambdas per surviving
    # pair — dot + both norms per PAIR)
    _pd, _rn = vector_op(math, "dot"), vector_op(math, "norm")
    exact = F.try_divide(
        _pd(F.col("__va"), F.col("__vb")),
        _rn(F.col("__va")) * _rn(F.col("__vb")),
    )
    return (
        survivors.join(va, "a")
        .join(vb, "b")
        .select("a", "b", "cell", exact.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def semantic_dedup_on_index(
    spark: SparkSession,
    index_path: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = 10_000,
    math: str | None = None,
    skew_observation=None,
    use_codes: bool = False,
) -> DataFrame:
    """SemDeDup over a PERSISTED IVF layout — the corpus-scale entry
    point: assignment was precomputed once by :func:`build_ivf_index`
    (at whatever codebook size the corpus needs — ``assignment=
    "vectorized"`` for k beyond the expression ceiling), so this pass
    pays only one linear shuffle of (id, vec, cell) rows plus the
    within-cell pair expansion, exactly
    :func:`~cassandra_analytics_spark.operators.similarity.
    semantic_pairs_from_cells` + the shared removal verdicts.

    Why this exists (measured, PERF.md round 8): at 100x the fixture
    corpus is ~99% near-dup copies, and SemDeDup at a FIXED small k
    explodes quadratically inside cells (k=128 over 200k vectors spilled
    past the box's disk). The paper's posture is k ∝ N with precomputed
    assignments; this function is that posture.

    ``use_codes=True`` (requires a ``quantize=True`` layout) routes the
    within-cell pair expansion through the int8 CODES — the quadratic
    exchange shuffles 3.4x fewer bytes (measured at 100x, PERF.md) —
    with a PROVEN-sound margin prefilter and an exact float confirm, so the verdicts are identical
    to the float stage (see :func:`_quantized_pairs_from_cells` for the
    bound). Pairs score under the layout's own math unless ``math``
    overrides it (:func:`query_ivf_index`'s read contract)."""
    from cassandra_analytics_spark.operators.similarity import (
        removal_verdicts,
        semantic_pairs_from_cells,
    )

    index = spark.read.parquet(index_path)
    if "cell" not in index.columns:
        raise ValueError(
            f"{index_path!r} is not an IVF layout (no 'cell' column) — "
            "build it with build_ivf_index first"
        )
    spec = _read_ivf_spec_optional(spark, index_path)
    math = layout_math(math, spec, index_path)
    if use_codes:
        if not _spec_quantized(spec):
            raise ValueError(
                f"use_codes=True needs a quantized layout, but the index "
                f"at {index_path!r} has no code columns (spec "
                "quantized=false or missing) — rebuild with "
                "build_ivf_index(quantize=True)"
            )
        return removal_verdicts(
            _quantized_pairs_from_cells(
                index, threshold, id_col, vec_col, max_cluster,
                math, skew_observation,
                dim=(spec or {}).get("dim"),
            )
        )
    pairs = semantic_pairs_from_cells(
        index,
        threshold,
        id_col,
        vec_col,
        cell_col="cell",
        max_cluster=max_cluster,
        math=math,
        skew_observation=skew_observation,
    )
    return removal_verdicts(pairs)


def ivf_knn_join(
    queries: DataFrame,
    index_path: str,
    k: int = 5,
    query_id: str = "qid",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_probes: int = 4,
    math: str | None = None,
    use_codes: bool = False,
    use_pq: bool = False,
    rescore_factor: int = 8,
    query_batch_size: int | None = None,
) -> DataFrame:
    """Index-accelerated k-NN JOIN: top-k corpus neighbors for EVERY row
    of a small query set, probing only the IVF cells each query is
    nearest to — the scale path `similarity.knn_join` (broadcast
    brute-force) lacks.

    ``use_codes=True`` (requires a ``quantize=True`` layout) makes the
    candidate-ranking phase read the int8 CODES instead of the float
    column: one byte-reduced, partition-pruned scan ranks candidates for
    ALL queries at once (``quantize.approx_cosine_codes_vs_query_col`` —
    the query's vector/element-sum/norm ride a broadcast per-QUERY
    payload table joined back by id — round 13 thinned the routing
    pairs to (qid, cell) so broadcast bytes no longer scale with
    probes x vector size),
    the per-query top ``k * rescore_factor`` survivors are rescored with
    exact float cosine (distributed broadcast join — no driver hop), and
    the per-query top k returned. The approximation contract is
    ``quantized_topk``'s: the rescore window absorbs phase-1 swaps, and
    the driver gate pins hash-exactness against the brute-force oracle
    at probe-all.

    ``use_pq=True`` (requires a ``save_ivf_pq_index`` layout with
    ``keep_vec=True`` — round 14, completing the {flat, IVF} x {float,
    SQ8, PQ} x {single-query, kNN-join} composition matrix) ranks
    candidates for ALL queries from their m-byte PQ codes: each
    query's ADC lookup table (m·ks per-subspace dot products against
    the FROZEN codebook) is computed driver-side and rides the
    per-QUERY payload table — one LUT row per query, NOT per (query,
    cell) routing pair, so broadcast bytes stay n_queries x m·ks·8 B
    regardless of num_probes — and phase 1 scores a candidate as m
    ``element_at`` lookups summed (pure codegen; the pruned scan reads
    m bytes + one stored norm per row). Phase 2 is the SAME exact
    (cell, id)-joined float rescore as ``use_codes``. Ceiling: the LUT
    is m·ks doubles PER QUERY (32 KB at m=16/ks=256), so at ~10k
    queries the payload broadcast crosses the comfort zone (~320 MB) —
    ``query_batch_size`` (round 15) turns that guidance into code: the
    collected query set is CHUNKED, the full pipeline runs per chunk
    (each chunk prunes to ITS probe cells and broadcasts only ITS
    payload rows), and the per-chunk results union — exactly
    composable because every window/top-k is per-query. Defaults to
    an automatic ceiling that keeps a PQ chunk's LUT payload under
    ~64 MB (``(64 MB) / (m·ks·8 B)`` ≈ 2k queries at m=16/ks=256);
    the float/SQ8 payload is ~8·dim B per query, so those modes
    default to 100k (effectively unbatched below that). Pass an
    explicit int to override; each extra chunk costs one more pruned
    corpus scan, the documented trade.

    Contract mirrors ``knn_join``: the query set is SMALL (collected to
    the driver to plan the probe cells — same bounded collect as the
    centroid table). The corpus side reads only the UNION of all
    queries' probe cells (one partition-pruned scan regardless of query
    count), the (qid, cell) routing pairs and the per-query payload
    broadcast separately, and scoring +
    per-query top-k stay JVM-side (window over each query's candidates).
    With ``num_probes = num_centroids`` the result is EXACT per query
    (probe-all covers every cell — the same guarantee query_ivf_index
    pins by test). Rows with NULL query vectors produce no output;
    unscorable corpus rows (NULL cosine) never rank.

    Scoring follows :func:`query_ivf_index`'s read contract (the
    layout's math, or ``math`` — e.g. the portable ``"decimal12"``
    cosine for oracle-exact runs); query norms are computed with the
    SAME norm expression in one small job so the math matches the
    corpus side bit-for-bit.

    Query ids must be NON-NULL and UNIQUE: two query rows sharing an id
    would silently BLEND into one top-k (the per-query window partitions
    on the id) — since the query set is already collected to plan probe
    cells, duplicates are refused loudly instead (round-10 probe;
    ``knn_join``'s lazy plan documents the same hazard but cannot check
    it without an extra job).

    Output: ``(query_id, id_col, cosine_sim)`` — up to k rows per query,
    ties broken by ``id_col``. Id columns keep the INPUT types: the
    query id column's type comes from ``queries``' schema, the corpus id
    column's from the layout's (string/UUID doc ids work — round-10 fix
    of the hardcoded long schema, which made the empty path disagree
    with the non-empty path for any non-long id).
    """
    from pyspark.sql import Window
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if num_probes < 1:
        raise ValueError(f"num_probes must be >= 1, got {num_probes}")
    if rescore_factor < 1:
        raise ValueError(
            f"rescore_factor must be >= 1, got {rescore_factor}"
        )
    if query_batch_size is not None and query_batch_size < 1:
        raise ValueError(
            f"query_batch_size must be >= 1, got {query_batch_size}"
        )
    spark = queries.sparkSession
    if use_codes and use_pq:
        raise ValueError(
            "use_codes and use_pq are mutually exclusive — SQ8 codes live "
            "in build_ivf_index(quantize=True) layouts, PQ codes in "
            "save_ivf_pq_index layouts; an index carries one or the other"
        )
    pq_codebook = None
    if use_pq:
        from cassandra_analytics_spark.operators.pq import (
            _resolve_ivf_pq_codebook,
            read_ivf_pq_spec,
        )

        pq_spec = read_ivf_pq_spec(spark, index_path)
        # the spec is normalized with assignment/sim_id keys, so the
        # IVF read contract applies verbatim
        math = layout_math(math, pq_spec, index_path)
        if not pq_spec["keep_vec"]:
            raise ValueError(
                f"{index_path!r} was saved with keep_vec=False (codes-only "
                "archival layout) — the kNN join's exact phase 2 needs the "
                "float column; rebuild with keep_vec=True"
            )
        pq_codebook = _resolve_ivf_pq_codebook(
            spark, index_path, pq_spec, None, caller="ivf_knn_join"
        )
        # residual-encoded layout (round 15): q·x̂ = q·centroid[cell] +
        # ADC(q, residual codes) — the per-(query, cell) anchor term
        # rides the THIN routing pairs (one double per pair)
        pq_residual = pq_spec["encoding"] == "residual"
    else:
        pq_residual = False
        spec = _read_ivf_spec_optional(spark, index_path)
        math = layout_math(math, spec, index_path)
        if use_codes and not _spec_quantized(spec):
            raise ValueError(
                f"use_codes=True needs a quantized layout, but the index at "
                f"{index_path!r} has no code columns (spec quantized=false "
                "or missing) — rebuild with build_ivf_index(quantize=True)"
            )
    centroids = read_centroids(spark, index_path)
    index = spark.read.parquet(index_path)
    # id types derive from the INPUTS so the empty-result schema agrees
    # with the non-empty path and non-long ids survive createDataFrame
    qid_type = queries.schema[query_id].dataType
    out_schema = StructType(
        [
            StructField(query_id, qid_type),
            StructField(id_col, index.schema[id_col].dataType),
            StructField("cosine_sim", DoubleType()),
        ]
    )
    if not centroids:
        return spark.createDataFrame([], out_schema)
    dim = len(centroids[0][1])
    vm = vector_math(math)

    # query norms via the same norm expression as the corpus side
    # (one small job over the query set — bit-identical float math)
    qrows = (
        queries.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(query_id),
            F.col(vec_col),
            vm.norm(F.col(vec_col)).alias("__qn"),
        )
        .collect()
    )
    if not qrows:
        return spark.createDataFrame([], out_schema)
    qids = [r[query_id] for r in qrows]
    if any(q is None for q in qids):
        raise ValueError(
            f"NULL {query_id} in the query set — every query needs a "
            "non-NULL id (NULL rows would blend into one phantom query)"
        )
    if len(set(qids)) != len(qids):
        from collections import Counter

        dupes = sorted(q for q, n in Counter(qids).items() if n > 1)
        raise ValueError(
            f"duplicate {query_id} values in the query set: {dupes!r} — "
            "rows sharing an id would silently blend into one top-k; "
            "make query ids unique"
        )
    bad = {len(r[vec_col]) for r in qrows if len(r[vec_col]) != dim}
    if bad:
        raise ValueError(
            f"query vectors of length {sorted(bad)} against a {dim}-d "
            "index — dimension mismatch"
        )
    # THIN routing: the (qid, cell) pairs and the per-query payload
    # (vector, norm, element sum) broadcast as SEPARATE tables joined
    # back by qid — duplicating the query vector per probed cell made
    # the broadcast n_queries x num_probes x ~(8d+24) bytes, which the
    # round-13 soak measured at ~69 MB for 1k queries at probe-all over
    # 128 cells (~690 MB at 10k — past the broadcast comfort zone);
    # thinned, the pair table is ~16 B/row and the payload ~540 B/query.
    if use_pq:
        import numpy as _np

        _cbm = [
            _np.asarray(b, dtype=_np.float64)
            for b in pq_codebook.centroids
        ]
        _dsub = pq_codebook.dsub
        _cent_map = {int(c): [float(x) for x in v] for c, v in centroids}

    def _chunk_topk(chunk_rows: list) -> DataFrame:
        # one full probe/rank/rescore pipeline over ONE chunk of the
        # collected query set: partition pruning, routing pairs, and
        # the payload broadcast all scale with the CHUNK, so the
        # per-query LUT ceiling bounds chunk memory, never total
        # query count. Per-query windows make chunks exactly
        # composable; each chunk costs one pruned corpus scan.
        routing: list[tuple] = []
        payload: list[tuple] = []
        for r in chunk_rows:
            vec = [float(x) for x in r[vec_col]]
            if use_pq:
                # the query's ADC lookup table: lut[i*ks + j] = q_i ·
                # codeword[i][j] — m·ks doubles per QUERY, riding the
                # one-row-per-query payload table (NOT the (qid, cell)
                # routing pairs: there it would duplicate per probed cell,
                # the exact fat the thin-routing discipline removed)
                lut = [
                    float(v)
                    for i in range(pq_codebook.m)
                    for v in _cbm[i] @ _np.asarray(
                        vec[i * _dsub:(i + 1) * _dsub], dtype=_np.float64
                    )
                ]
                payload.append((r[query_id], vec, float(r["__qn"]), lut))
            else:
                payload.append((r[query_id], vec, float(r["__qn"]), sum(vec)))
            for cell in nearest_cells_for(vec, centroids, num_probes):
                if pq_residual:
                    cvec = _cent_map[cell]
                    routing.append(
                        (
                            r[query_id],
                            cell,
                            float(sum(a * b for a, b in zip(vec, cvec))),
                        )
                    )
                else:
                    routing.append((r[query_id], cell))
        route_fields = [
            StructField(query_id, qid_type),
            StructField("cell", IntegerType()),
        ]
        if pq_residual:
            route_fields.append(StructField("__qcoff", DoubleType()))
        route_df = local_df(spark, routing, StructType(route_fields))
        tail_field = (
            StructField("__lut", ArrayType(DoubleType()))
            if use_pq
            else StructField("__qsum", DoubleType())
        )
        qpayload = local_df(
            spark,
            payload,
            StructType(
                [
                    StructField(query_id, qid_type),
                    StructField("__qv", ArrayType(DoubleType())),
                    StructField("__qn", DoubleType()),
                    tail_field,
                ]
            ),
        )
        touched = sorted({t[1] for t in routing})
        candidates = index.filter(F.col("cell").isin(touched))
        cos = F.try_divide(
            vm.dot(F.col(vec_col), F.col("__qv")),
            vm.norm(F.col(vec_col)) * F.col("__qn"),
        )
        w = Window.partitionBy(query_id).orderBy(
            F.col("cosine_sim").desc(), F.col(id_col)
        )
        if use_codes or use_pq:
            # phase 1: rank every (query, candidate) pair FROM THE CODES —
            # projecting only (qid, id, approx) keeps the float column out
            # of the byte-reduced scan (the quantized_topk plan discipline).
            # Ranking with __qn (the payload table's norm) is sound: any
            # consistent positive query norm preserves per-query order.
            if use_codes:
                from cassandra_analytics_spark.operators.quantize import (
                    approx_cosine_codes_vs_query_col,
                )

                approx = approx_cosine_codes_vs_query_col(
                    F.col("__qv"), F.col("__qsum"), F.col("__qn"),
                    _QCODE, _QMIN, _QSCALE, dim=dim,
                )
                phase1_payload = qpayload  # SQ8 reconstruction needs __qv
            else:
                # PQ ADC: m element_at lookups into this query's LUT column
                # summed — pure codegen over m bytes + one stored norm per
                # row (element_at is 1-based; stored code = argmin − 128)
                _ks = pq_codebook.ks
                contrib = F.transform(
                    F.col("pqcode"),
                    lambda c, i: F.element_at(
                        F.col("__lut"), i * F.lit(_ks) + c.cast("int") + F.lit(129)
                    ),
                )
                adc = F.aggregate(contrib, F.lit(0.0), lambda acc, x: acc + x)
                if pq_residual:
                    # the anchor term from the routing pair (the stored
                    # norms already describe the FULL reconstruction)
                    adc = adc + F.col("__qcoff")
                approx = F.try_divide(adc, F.col("pq_norm") * F.col("__qn"))
                # the float query vector stays OUT of the phase-1 join
                phase1_payload = qpayload.select(query_id, "__lut", "__qn")
            aw = Window.partitionBy(query_id).orderBy(
                F.col("__approx").desc(), F.col(id_col)
            )
            survivors = (
                candidates.join(F.broadcast(route_df), "cell")
                .join(F.broadcast(phase1_payload), query_id)
                .select(F.col(query_id), F.col(id_col), approx.alias("__approx"))
                .filter(F.col("__approx").isNotNull())
                # duplicate layout ids (replayed appends) collapse before the
                # rank so they can't double-fill the survivor window
                .groupBy(query_id, id_col)
                .agg(F.max("__approx").alias("__approx"))
                .withColumn("__rn", F.row_number().over(aw))
                .filter(F.col("__rn") <= k * rescore_factor)
                .select(query_id, id_col)
            )
            # phase 2: exact rescore of the survivors only — the survivor
            # frame rejoins the routing table on the query id, fanning each
            # survivor to that query's PROBED CELLS (≤ n_queries · k ·
            # rescore_factor · num_probes rows of THIN (qid, cell, id)
            # triples), and the rescore joins the corpus on (cell, id): a
            # duplicate-id copy sitting in a cell this query did NOT probe
            # can never win here, exactly matching the float path's
            # cell-joined scoring (r11 ADVICE low 3). The per-query payload
            # (__qv, __qn) joins AFTER the corpus join, onto the
            # survivor-PROPORTIONAL matches — attaching it to the fan
            # before the join would re-duplicate the query vector per
            # probed cell, the exact fat the thin-routing phase 1 removed
            # (r13 ADVICE medium: at 1k queries, k=10, rf=8, probe-all
            # over 128 cells that was ~10M fan rows x ~550 B ≈ 5+ GB
            # broadcast; thinned, the fan is ~20 B/row and the payload
            # stays one row per query). No driver hop (the kNN join is
            # batch-shaped, so the distributed rescore is the only mode).
            surv_fan = survivors.join(
                route_df.select(query_id, "cell"), query_id
            )
            scored = (
                candidates.select(F.col("cell"), F.col(id_col), F.col(vec_col))
                .join(F.broadcast(surv_fan), ["cell", id_col])
                .join(
                    F.broadcast(qpayload.select(query_id, "__qv", "__qn")),
                    query_id,
                )
                .select(F.col(query_id), F.col(id_col), cos.alias("cosine_sim"))
                .filter(F.col("cosine_sim").isNotNull())
                .groupBy(query_id, id_col)
                .agg(F.max("cosine_sim").alias("cosine_sim"))
            )
        else:
            scored = (
                candidates.join(F.broadcast(route_df), "cell")
                .join(F.broadcast(qpayload), query_id)
                .select(
                    F.col(query_id),
                    F.col(id_col),
                    cos.alias("cosine_sim"),
                )
                .filter(F.col("cosine_sim").isNotNull())
                # a corpus row can sit in SEVERAL probed cells of one query
                # only if the layout carries duplicate ids (replayed
                # appends) — keep the max so duplicates never double-fill
                # the top-k
                .groupBy(query_id, id_col)
                .agg(F.max("cosine_sim").alias("cosine_sim"))
            )
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    if query_batch_size is None:
        if use_pq:
            # automatic ceiling: keep the chunk's LUT payload broadcast
            # under ~64 MB (m*ks doubles per query) — ~2k queries at
            # m=16/ks=256, the documented comfort zone (PERF.md r13/r14)
            query_batch_size = max(
                1, (64 << 20) // (pq_codebook.m * pq_codebook.ks * 8)
            )
        else:
            # float/SQ8 payloads are ~8*dim B per query — the routing
            # table, not the payload, is the first ceiling there
            query_batch_size = 100_000
    if len(qrows) <= query_batch_size:
        return _chunk_topk(qrows)
    out = None
    for i in range(0, len(qrows), query_batch_size):
        part = _chunk_topk(qrows[i:i + query_batch_size])
        out = part if out is None else out.unionByName(part)
    return out


_ANN_FORMAT_PARTITION_COL = {
    "ann-lsh-v1": "sig",
    "ivf-v1": "cell",
    "pq-v1": None,
    "ivf-pq-v1": "cell",
}


def compact_ann_index(
    spark: SparkSession,
    index_path: str,
    files_per_partition: int = 1,
) -> dict:
    """Spec-preserving compaction of a persisted ANN layout (any of the
    four formats: sign-LSH, IVF, flat-PQ, IVF-PQ): rewrite the DATA
    files coalesced — ``files_per_partition`` output files per cell/sig
    directory (or per layout for the unpartitioned flat-PQ) — without
    touching the spec, codebook, or centroid sidecars, so every code,
    norm, and residual rides through byte-identical and reads resolve
    exactly as before.

    WHY: every ``append_to_*_index`` lands one file set per batch
    (parquet ``append`` only adds files), so daily ingest accrues
    unbounded small files on the hottest read path — the classic
    small-files problem; footer/open overhead starts to dominate the
    partition-pruned probes the layouts exist to keep fast. This is the
    ANN-layout member of the engine's maintenance-compaction family
    (the bulk table's :func:`~cassandra_analytics_spark.sinks.
    bulk_writer.compact_table`; reference analog: Cassandra's major
    compaction — read amplification drops from O(#batches) to 1).

    MID-REWRITE REFUSAL (the save_* delete-spec-first discipline): the
    spec is STASHED aside (rename to ``{index_path}_spec__compacting``)
    before the data rewrite and renamed back after the swap, so a
    concurrent or post-crash read finds a spec-less layout and refuses
    LOUDLY instead of reading a half-rewritten one; a crash leaves the
    stashed spec next to the layout for explicit operator recovery
    (restore the stash or rebuild). The rename preserves the spec
    bytes exactly — no collect/rewrite drift.

    The rewrite keeps the layout's partitioning (IVF/IVF-PQ cells, LSH
    sigs) by shuffling on the partition column — one exchange over the
    corpus, each cell landing whole in ``files_per_partition`` files —
    and the data-dir swap is two renames (write to a sibling temp dir,
    swap), never a copy. Duplicate ids from replayed appends are
    PRESERVED (reads already resolve them; dropping rows is a merge
    decision, not a compaction's).

    Returns ``{"format", "files_before", "files_after"}`` (parquet data
    files only)."""
    from cassandra_analytics_spark.fs import (
        delete_path,
        glob_exists,
        list_files,
        read_sidecar,
        rename_path,
    )

    if files_per_partition < 1:
        raise ValueError(
            f"files_per_partition must be >= 1, got {files_per_partition}"
        )
    spec_path = f"{index_path}_spec"
    rows = read_sidecar(spark, spec_path)
    if rows is None:
        raise ValueError(
            f"{index_path!r} has no persisted spec ({spec_path}) — not a "
            "persisted ANN layout (or a rebuild/compaction crashed "
            "mid-write; rebuild, or restore the _spec__compacting stash)"
        )
    if len(rows) != 1:
        raise ValueError(
            f"corrupt spec at {spec_path}: expected exactly one row, "
            f"found {len(rows)}"
        )
    fmt = rows[0].get("format")
    if fmt not in _ANN_FORMAT_PARTITION_COL:
        raise ValueError(
            f"spec at {spec_path} has unknown layout format {fmt!r} — "
            f"compactable formats: {sorted(_ANN_FORMAT_PARTITION_COL)}"
        )
    pcol = _ANN_FORMAT_PARTITION_COL[fmt]
    # empty-corpus builds write UNpartitioned (the partition column is a
    # data column) — detect from the directory shape, not the format
    partitioned = pcol is not None and glob_exists(
        spark, f"{index_path}/{pcol}=*"
    )

    files_before = len(list_files(spark, index_path, suffix=".parquet"))
    df = spark.read.parquet(index_path)

    # stash the spec FIRST: from here until the final rename-back, every
    # read/append path refuses the layout (missing spec)
    stash = f"{spec_path}__compacting"
    delete_path(spark, stash)
    if not rename_path(spark, spec_path, stash):
        raise ValueError(
            f"compact_ann_index: could not stash the spec {spec_path!r} "
            f"aside — store refused the rename"
        )
    tmp = f"{index_path}__compacting_data"
    try:
        delete_path(spark, tmp)
        if partitioned:
            # hash-shuffle on the partition column so each cell lands
            # whole in files_per_partition output files; the salt term
            # only exists when >1 file per cell was asked for
            if files_per_partition == 1:
                shuffled = df.repartition(F.col(pcol))
            else:
                salt = F.pmod(
                    F.xxhash64(*[F.col(c) for c in df.columns]),
                    F.lit(files_per_partition),
                )
                shuffled = df.repartition(F.col(pcol), salt)
            shuffled.write.mode("overwrite").partitionBy(pcol).parquet(tmp)
        else:
            df.repartition(files_per_partition).write.mode(
                "overwrite"
            ).parquet(tmp)
        # swap: delete the old data dir, move the compacted one in.
        # A crash between the two leaves a data-less, spec-stashed
        # layout — loud on every read, recoverable from tmp + stash.
        delete_path(spark, index_path)
        if not rename_path(spark, tmp, index_path):
            raise ValueError(
                f"compact_ann_index: could not move the compacted data "
                f"into place at {index_path!r} — recover from {tmp!r} "
                f"and {stash!r}"
            )
    finally:
        # restore the spec even when the rewrite failed BEFORE touching
        # the data dir (the common failure window) — the layout is then
        # exactly as it was; failures after the swap restore the spec
        # over the compacted (complete) data, which is also consistent
        rename_path(spark, stash, spec_path)
    files_after = len(list_files(spark, index_path, suffix=".parquet"))
    return {
        "format": fmt,
        "files_before": files_before,
        "files_after": files_after,
    }
