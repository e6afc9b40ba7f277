"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k as a pure expression tree
(``F.zip_with`` + ``F.aggregate`` — JVM-side, no Python). Scale path:
random-hyperplane LSH bucketing so candidate generation is an equi-join on
bucket signatures instead of a full cross product, and an IVF-style
coarse-quantizer variant (assign to nearest of k sampled centroids, probe
only matching cells).
"""

from __future__ import annotations

import functools
import math
from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def sql_double(x: float) -> str:
    """``x`` as SQL text of the exact IEEE double: ``CAST('<repr>' AS
    DOUBLE)`` round-trips the value (the optimizer folds it to a
    literal)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def lit_vector_sql(values: list[float]) -> str:
    """SQL text of a literal array<double> (see :func:`lit_vector`)."""
    return f"array({', '.join(map(sql_double, values))})"


def lit_vector(values: list[float]) -> Column:
    """A literal array<double> built with ONE driver call.

    ``F.array(*[F.lit(x) ...])`` costs a py4j round-trip per element —
    ~0.2 s of plan-build latency for a 64-dim vector. A generated SQL
    string is a single call.
    """
    return F.expr(lit_vector_sql(values))


def sql_over(body: Callable[..., str], *cols: Column) -> Column:
    """The Column form of a SQL-text builder: ``body`` gets one SQL
    reference per operand and returns expression text, which is applied
    to the ``cols`` through a one-element array of a struct
    (``element_at(transform(array(struct(cols)), __s -> body), 1)``).
    Formulas are written once, as text that a caller holding column
    names puts straight into ``selectExpr``; Column callers go through
    here, in a handful of py4j calls instead of one per node."""
    fields = [f"__s.c{i}" for i in range(len(cols))]
    arg = F.array(F.struct(*[c.alias(f"c{i}") for i, c in enumerate(cols)]))
    fn = F.expr(f"__s -> {body(*fields)}")
    return F.element_at(F.call_function("transform", arg, fn), 1)


def _fold_sql(elems: str, zero: str, acc_cast: str | None = None) -> str:
    """Index-order left fold ``Σ elems`` from ``zero``; ``acc_cast``
    casts each partial sum (the exact decimal fold)."""
    step = "__acc + __v" if acc_cast is None else f"CAST(__acc + __v AS {acc_cast})"
    return f"aggregate({elems}, {zero}, (__acc, __v) -> {step})"


def dot_sql(a: str, b: str) -> str:
    """SQL text of the elementwise dot product of two arrays (double
    accumulator, index order — deterministic)."""
    return _fold_sql(
        f"zip_with({a}, {b}, (__x, __y) -> CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE))",
        "0D",
    )


def norm_sql(a: str) -> str:
    """SQL text of the L2 norm of an array."""
    return "sqrt({})".format(
        _fold_sql(f"transform({a}, __x -> CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE))", "0D")
    )


def dot(a: Column, b: Column) -> Column:
    """Elementwise dot product of two array columns (:func:`dot_sql`)."""
    return sql_over(dot_sql, a, b)


def norm(a: Column) -> Column:
    return sql_over(norm_sql, a)


def cosine_sql(a: str, b: str, math: str = "float") -> str:
    """SQL text of ``dot(a, b) / (norm(a) * norm(b))`` under one of the
    closed :data:`MATHS`."""
    m = vector_math(math)
    # try_divide, not '/': under Spark 4's default ANSI mode a division
    # by zero THROWS, so one zero-norm vector anywhere in a 100 TB corpus
    # (or a zero query vector) would kill every similarity job. NULL
    # cosine sorts last under desc, so zero vectors simply never rank
    # (round-7 hostile pass — found by the Engine facade smoke test).
    # MISMATCHED-LENGTH vectors also yield NULL (zip_with null-pads the
    # shorter side): the SCORING paths (top-k/kNN/LSH) treat them as
    # unscorable like zero-norm vectors, while the dedup/assignment
    # paths raise instead — a silent NULL there would change VERDICTS,
    # not just omit a score (round-8 continuation probe).
    return (
        f"try_divide({m.sql['dot'](a, b)}, "
        f"{m.sql['norm'](a)} * {m.sql['norm'](b)})"
    )


def cosine(a: Column, b: Column, math: str = "float") -> Column:
    """The Column form of :func:`cosine_sql` (the float default is the
    built-in JVM cosine)."""
    return sql_over(lambda x, y: cosine_sql(x, y, math), a, b)


# --------------------------------------------------------------------------
# The closed vector-math table
# --------------------------------------------------------------------------

#: exact decimal type of the portable ``decimal12`` math: every product is
#: cast to it HALF_UP, and the fold sums exact multiples of 10^-12
DECIMAL12 = "decimal(28,12)"


def _pdot_sql(a: str, b: str) -> str:
    """Portable dot product: double products → decimal sum → double."""
    return "CAST({} AS DOUBLE)".format(
        _fold_sql(
            f"zip_with({a}, {b}, (__x, __y) -> "
            f"CAST(CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE) AS {DECIMAL12}))",
            f"CAST(0 AS {DECIMAL12})",
            DECIMAL12,
        )
    )


def _psq_norm_sql(a: str) -> str:
    """Portable L2 norm: double squares → decimal sum → double → sqrt
    (bit-identical across engines; same shape as the cosine_topk oracle)."""
    return "sqrt(CAST({} AS DOUBLE))".format(
        _fold_sql(
            f"transform({a}, __x -> "
            f"CAST(CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE) AS {DECIMAL12}))",
            f"CAST(0 AS {DECIMAL12})",
            DECIMAL12,
        )
    )


def _pdot(a: Column, b: Column) -> Column:
    return sql_over(_pdot_sql, a, b)


def _psq_norm(a: Column) -> Column:
    return sql_over(_psq_norm_sql, a)


def _py_norm(vec) -> float:
    """Driver-side scalar twin of :func:`norm`: the same index-order
    left fold of double squares (Python floats ARE IEEE doubles), then
    the IEEE sqrt."""
    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _py_psq_norm(vec) -> float:
    """Driver-side scalar twin of :func:`_psq_norm`: double squares ->
    decimal(.,12) HALF_UP sum -> double -> sqrt. Python's Decimal(x) is
    the EXACT binary expansion while Spark casts through the shortest-
    repr BigDecimal; the two can only diverge when a square sits within
    ~1e-17 relative of a .5e-12 rounding boundary — equality on the
    fixture is pinned by the oracle hash matches of every query using
    this helper (and cosine_topk_embeddings' identical inline math)."""
    import decimal

    return math.sqrt(
        float(
            sum(
                decimal.Decimal(x * x).quantize(
                    decimal.Decimal("1E-12"), rounding=decimal.ROUND_HALF_UP
                )
                for x in vec
            )
        )
    )


@dataclass(frozen=True)
class VectorMath:
    """One closed scoring math: its expression forms, its driver-side
    scalar norm, its bit-identical Arrow kernels and its on-disk spec
    identifier. Ops and their builder signatures (an op's kernel takes
    the same arguments as its expression):

    * ``"dot"`` — ``(a, b) -> Column``, the pair dot product;
    * ``"norm"`` — ``(a) -> Column``, the row L2 norm;

    ``dot`` and ``norm`` are written once, as SQL text over operand
    text (``sql``); their Column forms apply that text
    (:func:`sql_over`).
    * ``"expr_cell"`` — ``(vec, centroids) -> Column``, the
      ``assignment="expr"`` argmax (HIGHEST cid on ties; float only);
    * ``"norm_once_cell"`` — ``(vec, nrm, centroids, cnorms) -> Column``,
      the norm-once argmax of :func:`assign_nearest_cells` (LOWEST cid
      on ties) over a precomputed row-norm column and centroid norms.

    Parity of every kernel with its expression is pinned by
    tests/test_cell_parity_kernel.py, parametrized over this table."""

    name: str
    sim_id: str | None
    scalar_norm: Callable[[Sequence[float]], float]
    sql: Mapping[str, Callable[..., str]]
    exprs: Mapping[str, Callable[..., Column]]
    kernels: Mapping[str, Callable[..., Column]]

    @property
    def dot(self) -> Callable[[Column, Column], Column]:
        return self.exprs["dot"]

    @property
    def norm(self) -> Callable[[Column], Column]:
        return self.exprs["norm"]


def _norm_once_cell(dot_expr, vec, nrm, centroids, cnorms) -> Column:
    """The norm-once argmax expression: ``dot(vec, c) / (nrm · ‖c‖)`` per
    centroid, lowest cid on ties, non-finite sims pinned to -2, and the
    loud mixed-dimension guard (NULL vectors pass — they pin to the
    lowest cell; a ragged vector would otherwise silently take it,
    round-8 probe)."""
    cell = _argmax_cell(
        [
            (
                cid,
                F.try_divide(
                    dot_expr(vec, lit_vector(cvec)),
                    nrm * F.lit(float(cnorms[cid])),
                ),
            )
            for cid, cvec in centroids
        ]
    )
    return _dim_guard(cell, vec, len(centroids[0][1]), "centroids")


def _dim_guard(cell: Column, vec: Column, dim: int, what: str) -> Column:
    """``cell`` where ``vec`` is NULL or ``dim`` long; a named error on
    any other length (mixed dimensions are data corruption)."""
    return F.when(vec.isNull() | (F.size(vec) == dim), cell).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"embedding dimension mismatch: {what} are {dim}-d "
                    "but found a vector of length "
                ),
                F.size(vec).cast("string"),
            )
        ).cast("int")
    )


_MATH: dict[str, VectorMath] = {
    "float": VectorMath(
        name="float",
        sim_id=None,
        scalar_norm=_py_norm,
        sql={"dot": dot_sql, "norm": norm_sql},
        exprs={
            "dot": dot,
            "norm": norm,
            "expr_cell": lambda vec, cents: nearest_centroid_cell(vec, cents),
            "norm_once_cell": functools.partial(_norm_once_cell, dot),
        },
        kernels={
            "expr_cell": lambda vec, cents: _expr_parity_cell_udf(cents)(vec),
        },
    ),
    "decimal12": VectorMath(
        name="decimal12",
        sim_id="portable-decimal-cosine-v1",
        scalar_norm=_py_psq_norm,
        sql={"dot": _pdot_sql, "norm": _psq_norm_sql},
        exprs={
            "dot": _pdot,
            "norm": _psq_norm,
            "norm_once_cell": functools.partial(_norm_once_cell, _pdot),
        },
        kernels={
            "dot": lambda a, b: _scaled_decimal_pair_dot_udf(12)(a, b),
            "norm": lambda a: _scaled_decimal_norm_udf(12)(a),
            "norm_once_cell": lambda vec, nrm, cents, cnorms: (
                _scaled_decimal_cell_udf(cents, cnorms, 12)(vec)
            ),
        },
    ),
}

#: the closed set of scoring maths — every ``math=`` argument is one of these
MATHS = tuple(_MATH)


def vector_math(math: str) -> VectorMath:
    """The table entry for ``math``; a named error for anything else."""
    try:
        return _MATH[math]
    except (KeyError, TypeError):
        raise ValueError(
            f"math must be one of {' or '.join(map(repr, MATHS))}, "
            f"got {math!r}"
        ) from None


def vector_op(math: str, op: str, work: int | None = None) -> Callable[..., Column]:
    """THE expression-vs-kernel dispatcher: the builder for ``op`` under
    ``math`` (signatures on :class:`VectorMath`). The expression runs at
    or below ``_CELL_EXPR_MAX_WORK`` multiply-adds per row — codegen-
    free, but zero Python and zero Arrow boundary; above it, or when the
    per-row work is not known at plan time (``work=None``: a pair stage
    scores a data-dependent number of pairs per row), the op's
    bit-identical Arrow kernel takes over if the math has one. The
    choice is a pure function of (math, op, work), so a layout built
    and extended with the same codebook always picks the same form."""
    m = vector_math(math)
    kernel = m.kernels.get(op)
    if kernel is not None and (work is None or work > _CELL_EXPR_MAX_WORK):
        return kernel
    try:
        return m.exprs[op]
    except KeyError:
        raise ValueError(f"math={math!r} has no {op!r} form") from None


def spec_math(spec: dict | None, index_path: str) -> str:
    """The math a persisted IVF / IVF-PQ layout was built with — THE one
    translation of the on-disk spec format: a ``decimal12`` layout is
    written as ``assignment="custom"`` with its math's ``sim_id``, a
    float layout (and a pre-spec legacy layout) carries a NULL
    ``sim_id``. An unrecognised ``sim_id`` is refused by name: this
    engine cannot reproduce that math, so it can neither append nor
    score bit-exactly."""
    sim_id = (spec or {}).get("sim_id")
    if sim_id is None and (spec or {}).get("assignment") != "custom":
        return "float"
    for m in _MATH.values():
        if m.sim_id is not None and m.sim_id == sim_id:
            return m.name
    known = sorted(m.sim_id for m in _MATH.values() if m.sim_id)
    raise ValueError(
        f"layout at {index_path!r} was built with unrecognised scoring "
        f"math sim_id={sim_id!r} (known: {known}) — rebuild it with "
        "math='float' or math='decimal12'"
    )


def spec_assignment(math: str, assignment: str) -> tuple[str, str | None]:
    """``(assignment, sim_id)`` as a build writes them into the spec —
    the inverse of :func:`spec_math`. ``decimal12`` runs the norm-once
    assignment (``"custom"`` on disk) and has no vectorized path."""
    m = vector_math(math)
    if m.sim_id is None:
        return assignment, None
    if assignment == "vectorized":
        raise ValueError(
            f"math={math!r} has no vectorized path — drop "
            "assignment='vectorized' (its norm-once expression/kernel "
            "path is used) or build with math='float'"
        )
    return "custom", m.sim_id


def layout_math(
    math: str | None, spec: dict | None, index_path: str, append: bool = False
) -> str:
    """The math to use against a persisted layout: the layout's own
    (:func:`spec_math`) when ``math`` is None. A READ accepts either
    override — it never mutates the layout and cell routing is
    driver-side float either way, so the override changes scores only.
    An APPEND refuses a different math: the same vectors would land in
    different cells depending on which call wrote them."""
    if math is not None:
        vector_math(math)
    layout = spec_math(spec, index_path)
    if math is None:
        return layout
    if append and math != layout:
        raise ValueError(
            f"math mismatch: layout at {index_path!r} was built with "
            f"math={layout!r}, the append presented math={math!r} — omit "
            "math to follow the layout, or rebuild to switch"
        )
    return math


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    One scan + a k-row global top (Spark's ``orderBy().limit(k)`` compiles
    to TakeOrderedAndProject: per-partition heaps then a k-row merge on the
    driver — no global sort shuffle, so this is the right plan at any scale).
    Ties broken by id for determinism.
    """
    q = lit_vector(query_vec)
    scored = df.select(
        F.col(id_col),
        cosine(F.col(vec_col), q).alias("cosine_sim"),
    )
    # unscorable rows (NULL or zero-norm vectors → NULL cosine) are not
    # results: "sorts last" still surfaced them whenever k reached the
    # candidate count (round-8 probe pass)
    return (
        scored.filter(F.col("cosine_sim").isNotNull())
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "qid",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact k-NN for a *small* query set: broadcast the queries, score the
    corpus once, window-top-k per query. Corpus-side scan dominates; the
    broadcast avoids shuffling the corpus."""
    q = F.broadcast(
        queries.select(F.col(query_id), F.col(vec_col).alias("__qv"))
    )
    scored = corpus.crossJoin(q).select(
        F.col(query_id),
        F.col(corpus_id),
        cosine(F.col(vec_col), F.col("__qv")).alias("cosine_sim"),
    ).filter(F.col("cosine_sim").isNotNull())
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine_sim").desc(), F.col(corpus_id)
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def random_hyperplanes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure python, tiny)."""
    import random

    rng = random.Random(seed)
    planes = []
    for _ in range(num_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = sum(x * x for x in v) ** 0.5 or 1.0
        planes.append([x / n for x in v])
    return planes


def sign_lsh_signature_column(
    vec: Column, dim: int, num_planes: int, seed: int = 42
) -> Column:
    """``num_planes``-bit sign-LSH signature of a vector column: bit i is
    set iff dot(vec, plane_i) >= 0. THE single definition of the bucket
    layout — :func:`sign_lsh_signature_of` must mirror it exactly or
    index layout and query signatures silently desynchronize."""
    planes = random_hyperplanes(dim, num_planes, seed)
    bits = [
        F.when(dot(vec, lit_vector(plane)) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i, plane in enumerate(planes)
    ]
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return total


def sign_lsh_signature_of(
    vec: list[float], num_planes: int, seed: int = 42
) -> int:
    """Driver-side scalar twin of :func:`sign_lsh_signature_column` for
    query vectors (same planes, same >= 0 sign rule)."""
    planes = random_hyperplanes(len(vec), num_planes, seed)
    sig = 0
    for i, plane in enumerate(planes):
        if sum(float(q) * p for q, p in zip(vec, plane)) >= 0:
            sig |= 1 << i
    return sig


def lsh_bucket_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    num_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane (sign) LSH.

    Each table hashes a vector to a ``num_planes``-bit signature (sign of
    dot with each plane). Candidates = vectors sharing the query's signature
    in ANY table — a filter on precomputable bucket columns, no cross join.
    At scale the signatures become partition/bucket columns so a query
    prunes to matching files. Exact cosine re-ranks the candidates.
    """
    dim = len(query_vec)
    cond = None
    work = df
    for t in range(num_tables):
        col_name = f"__sig{t}"
        work = work.withColumn(
            col_name,
            sign_lsh_signature_column(F.col(vec_col), dim, num_planes, seed + t),
        )
        this = F.col(col_name) == F.lit(
            sign_lsh_signature_of(query_vec, num_planes, seed + t)
        )
        cond = this if cond is None else (cond | this)

    candidates = work.filter(cond)
    q = lit_vector(query_vec)
    return (
        candidates.select(
            F.col(id_col), cosine(F.col(vec_col), q).alias("cosine_sim")
        )
        .filter(F.col("cosine_sim").isNotNull())
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def sample_centroids(
    df: DataFrame,
    num_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[tuple[int, list[float]]]:
    """Deterministic uniform centroid sample: min-wise hash selection.

    Order by ``xxhash64(id, seed)`` and take the first k — under hash
    uniformity this is a uniform random k-sample of the corpus, immune to
    partition order / sort order / clustering of the input (a
    ``limit(k)`` without the hash ordering just takes the first k rows in
    partition order, which collapses IVF recall on sorted data). One
    TakeOrderedAndProject job (per-partition k-row heaps, k-row driver
    merge) — no count pass, no full shuffle, scale-safe.
    """
    rows = (
        # NULL vectors can't serve as centroids: one sampled NULL used to
        # TypeError lit_vector for every assignment (round-8 probe pass)
        df.select(F.col(id_col), F.col(vec_col))
        .filter(F.col(vec_col).isNotNull())
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(num_centroids)
        .collect()
    )
    return [(i, row[vec_col]) for i, row in enumerate(rows)]


def train_coarse_centroids(
    df: DataFrame,
    num_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 20_000,
    iterations: int = 20,
    seed: int = 42,
) -> list[tuple[int, list[float]]]:
    """SPHERICAL k-means coarse centroids over a bounded seeded sample
    (round 16, VERDICT r15 item 4 — the FAISS IVF training posture):
    the min-wise-hash sampled codebook is uniform over the corpus,
    which is adjudicated fine for planted clusters, but on naturally
    clustered embeddings a LEARNED codebook is the next
    recall-per-probe lever. This is the coarse-quantizer twin of
    :func:`~cassandra_analytics_spark.operators.pq.train_pq_codebook`
    — same sampling discipline (id-SALTED seeded xxhash64 top-N: scan-
    order independent, duplicate groups cannot fill the sample), same
    driver-side bounded numpy fit, deterministic under ``seed`` — but
    at FULL dim and under the COSINE geometry the IVF assignment
    actually uses (``nearest_centroid_cell`` is max-cosine): rows are
    L2-normalized once, assignment is argmax x̂·c with unit centroids,
    the update renormalizes the mean (spherical k-means), and a dead
    centroid is re-seeded from the worst-covered sample point. Plain
    L2 k-means would optimize the wrong metric for unnormalized
    corpora.

    Returns ``[(cid, centroid)]`` with cids 0..k-1, ready for
    ``build_ivf_index(centroids=...)`` / ``save_ivf_pq_index`` — the
    codebook is pinned by the layout like any external one. ``k``
    shrinks to the sample size when the corpus is smaller. The fit
    runs on the SPHERE (unit rows, unit centroids — the routing
    metric), but the RETURNED centroids are each final cell's raw
    mean: cosine routing is scale-invariant in the centroid, while
    residual encoding uses the centroid as an ANCHOR, where a
    unit-norm direction would leave ~(‖x‖ − 1)-sized residuals on
    unnormalized corpora (measured: the pq_err A/B in tests/test_pq.py
    flips sign without the rescale)."""
    import numpy as np

    if num_centroids < 1:
        raise ValueError(
            f"num_centroids must be >= 1, got {num_centroids}"
        )
    rows = (
        df.select(F.col(vec_col))
        .filter(F.col(vec_col).isNotNull())
        .orderBy(F.xxhash64(F.col(vec_col), F.col(id_col), F.lit(seed)))
        .limit(sample_size)
        .collect()
    )
    if not rows:
        raise ValueError(
            "train_coarse_centroids: no non-NULL vectors to train on"
        )
    x = np.asarray([list(r[vec_col]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1)
    x = x[norms > 0]  # zero vectors have no direction to learn
    if x.shape[0] == 0:
        raise ValueError(
            "train_coarse_centroids: every sampled vector is all-zero"
        )
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    n = xn.shape[0]
    k = min(num_centroids, n)
    rng = np.random.default_rng(seed)
    # kmeans++ seeding (D^2 sampling on the sphere: d^2 = 2 - 2cos):
    # a uniform init over a skew-sized corpus lands several seeds in
    # every big cluster and none in the tail, and Lloyd iterations
    # rarely escape that — exactly the failure mode a LEARNED coarse
    # codebook exists to fix, so seed like FAISS/sklearn do
    cents = np.empty((k, xn.shape[1]))
    cents[0] = xn[rng.integers(n)]
    d2 = np.maximum(2.0 - 2.0 * (xn @ cents[0]), 0.0)
    for j in range(1, k):
        total = d2.sum()
        if total <= 0:  # all points already coincide with a seed
            cents[j:] = xn[rng.choice(n, size=k - j)]
            break
        cents[j] = xn[rng.choice(n, p=d2 / total)]
        d2 = np.minimum(
            d2, np.maximum(2.0 - 2.0 * (xn @ cents[j]), 0.0)
        )
    for _ in range(max(1, iterations)):
        sims = xn @ cents.T  # (n, k) cosine since both sides unit
        assign = sims.argmax(axis=1)
        best = sims.max(axis=1)
        for j in range(k):
            mask = assign == j
            if mask.any():
                mean = xn[mask].sum(axis=0)
                nrm = np.linalg.norm(mean)
                if nrm > 0:
                    cents[j] = mean / nrm
                    continue
            # dead (or degenerate) centroid: re-seed from the sample
            # point the current codebook covers WORST
            cents[j] = xn[best.argmin()]
    # Return the centroids at the RAW data scale (mean of each cell's
    # UNnormalized members along the learned direction): cosine
    # routing is scale-invariant in the centroid, but residual
    # encoding (save_ivf_pq_index(encoding="residual")) uses the
    # centroid as an ANCHOR — a unit-norm direction would leave
    # ~(‖x‖ − 1)-sized residuals on unnormalized corpora, defeating
    # the tight-residual-cloud win the trainer exists to buy
    # (discovered by the pq_err A/B in tests/test_pq.py). An empty
    # final cell keeps the unit direction.
    final_assign = (xn @ cents.T).argmax(axis=1)
    out = []
    for j in range(k):
        mask = final_assign == j
        c = x[mask].mean(axis=0) if mask.any() else cents[j]
        out.append((j, [float(v) for v in c]))
    return out


def nearest_centroid_cell(
    vec: Column, centroids: list[tuple[int, list[float]]]
) -> Column:
    """Cell id of the max-cosine centroid for ``vec``.

    array_max over (sim, cid) structs: expression size is LINEAR in the
    centroid count. (A folded when/otherwise chain embeds the running
    best twice per step — exponential tree, OOMs the analyzer beyond
    ~10 centroids.)
    """
    pairs = F.array(
        *[
            F.struct(
                # try_divide: a zero-norm vector (or centroid) must
                # assign to SOME cell instead of throwing under ANSI
                # mode; non-finite sims (NULL/NaN/±inf — corrupt data)
                # pin to -2 so they rank below every real cosine and the
                # assignment stays deterministic AND consistent with the
                # numpy path's ~np.isfinite pin (round-9 ADVICE; before
                # this, a NaN sim won the array_max and the two forms
                # could assign different cells)
                _finite_or(
                    F.try_divide(
                        dot(vec, lit_vector(cvec)),
                        norm(vec) * norm(lit_vector(cvec)),
                    ),
                    -2.0,
                ).alias("sim"),
                F.lit(cid).alias("cid"),
            )
            for cid, cvec in centroids
        ]
    )
    return F.array_max(pairs)["cid"]


# Above this many multiply-adds per row (centroids × dim) the argmax
# EXPRESSION is interpreter-bound: Spark higher-order functions are not
# whole-stage-codegen'd (the round-15 scorer finding, operators/pq.py
# _PQ_EXPR_MAX_DIM), so every dot costs dim interpreted lambdas per
# centroid — and the expression form also re-evaluates norm(vec) once
# PER CENTROID (no CSE in interpreted mode). Measured r16 at
# k=16 × d=64 (work 1024): 4.3 s to assign 2,000 rows vs 0.2 s for the
# parity kernel. Below the cutoff the expression's zero-Python,
# zero-boundary shape wins.
_CELL_EXPR_MAX_WORK = 512


def _expr_parity_cell_udf(centroids: list[tuple[int, list[float]]]):
    """Arrow-batched BIT-IDENTICAL twin of :func:`nearest_centroid_cell`
    — unlike :func:`vectorized_cell_udf` (BLAS matmul, lowest-cid ties)
    this kernel reproduces the expression form exactly, so the "expr"
    assignment mode can dispatch to it at any work size without moving
    a single vector to a different cell:

    * dots and norms accumulate per-dimension in index order — the same
      left fold as ``aggregate(zip_with(...), 0.0, acc + v)``, so every
      double rounds identically (numpy's pairwise ``.sum()`` would
      diverge in the last ulp and could flip near-tie argmaxes);
    * ties take the HIGHEST cid (``array_max`` over (sim, cid) structs
      is lexicographic), via argmax over the cid-descending order;
    * NULL vectors and vectors whose length differs from the centroid
      dim score -2 everywhere (the expression's zip_with null-pad →
      NULL → ``_finite_or`` pin), which resolves to the highest cid;
    * non-finite sims (zero norms, NaN/±inf data) pin to -2.0
      (``~np.isfinite``, the ``_finite_or`` twin).

    Parity is pinned by tests/test_similarity.py on adversarial inputs
    (ties, zero norms, NaN, ragged, NULL)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    validate_codebook(centroids)
    ordered = sorted(centroids, key=lambda t: t[0])
    cids = np.asarray([cid for cid, _ in ordered], dtype="int64")
    cvecs = [np.asarray(c, dtype="float64") for _, c in ordered]
    dim = len(cvecs[0])
    k = len(cvecs)
    # centroid norms with the expression's exact fold order
    cnorms = [_py_norm(c) for c in cvecs]
    fallback_cid = int(cids[-1])  # all-(-2) rows tie to the highest cid

    @pandas_udf("int")
    def _cell(vs: pd.Series) -> pd.Series:
        import numpy as np

        out = np.full(len(vs), fallback_cid, dtype="int64")
        good = [
            i
            for i, v in enumerate(vs)
            if v is not None and len(v) == dim
        ]
        if good:
            vmat = np.asarray(
                [np.asarray(vs.iloc[i], dtype="float64") for i in good]
            )
            nsq = np.zeros(len(good))
            for t in range(dim):
                col = vmat[:, t]
                nsq = nsq + col * col
            vnorm = np.sqrt(nsq)
            sims = np.empty((len(good), k))
            for j in range(k):
                c = cvecs[j]
                acc = np.zeros(len(good))
                for t in range(dim):
                    acc = acc + vmat[:, t] * c[t]
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims[:, j] = acc / (vnorm * cnorms[j])
            sims[~np.isfinite(sims)] = -2.0
            best = (k - 1) - np.argmax(sims[:, ::-1], axis=1)
            out[np.asarray(good)] = cids[best]
        return pd.Series(out)

    return _cell


def nearest_cells_for(
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    num_probes: int,
) -> list[int]:
    """The ``num_probes`` cell ids nearest the query (driver-side, tiny)."""
    sims = []
    qn = sum(x * x for x in query_vec) ** 0.5 or 1.0
    for cid, cvec in centroids:
        cn = sum(x * x for x in cvec) ** 0.5 or 1.0
        d = sum(float(a) * float(b) for a, b in zip(query_vec, cvec)) / (qn * cn)
        sims.append((d, cid))
    sims.sort(reverse=True)
    return [cid for _, cid in sims[:num_probes]]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
    num_probes: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF-style ANN: sample ``num_centroids`` vectors as coarse centroids
    (min-wise hash sample — see :func:`sample_centroids`), assign every
    vector to its nearest centroid (broadcast centroid join), probe only
    the ``num_probes`` cells nearest the query, exact-rerank.

    At scale the assignment is precomputed once and used as a partition
    column, turning the probe into partition pruning
    (:func:`cassandra_analytics_spark.operators.ann_index.build_ivf_index`).

    Recall scales with the probed corpus fraction on unclustered data —
    the measured envelope and the when-to-brute-force steering live on
    :func:`cassandra_analytics_spark.operators.ann_index.query_ivf_index`
    (same cells, same math) and PERF.md round 8.
    """
    centroids = sample_centroids(df, num_centroids, id_col, vec_col, seed)
    if not centroids:
        return brute_force_topk(df, query_vec, k, id_col, vec_col)

    assigned = df.withColumn(
        # dispatched form (r16): bit-identical to nearest_centroid_cell,
        # Arrow-kerneled when centroids × dim exceeds the expression's
        # interpreted-lambda budget
        "__cell",
        vector_op("float", "expr_cell", len(centroids) * len(query_vec))(
            F.col(vec_col), centroids
        ),
    )
    probed = assigned.filter(
        F.col("__cell").isin(nearest_cells_for(query_vec, centroids, num_probes))
    )
    q = lit_vector(query_vec)
    return (
        probed.select(F.col(id_col), cosine(F.col(vec_col), q).alias("cosine_sim"))
        .filter(F.col("cosine_sim").isNotNull())
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def _finite_or(sim: Column, fallback: float) -> Column:
    """``sim`` as a double when it is finite, else ``fallback``.

    NULL, NaN AND ±inf all pin to the fallback: Spark's ordering ranks
    NaN ABOVE every double, so a NaN similarity (corrupt vector data)
    inside an argmax would win the cell — while the numpy twin
    (:func:`vectorized_cell_udf`) pins every non-finite sim to -2
    (``~np.isfinite``). Pinning here keeps the two assignment forms
    bit-identical on pathological inputs (round-9 ADVICE)."""
    s = sim.cast("double")
    finite = (
        s.isNotNull()
        & ~F.isnan(s)
        & (s > F.lit(float("-inf")))
        & (s < F.lit(float("inf")))
    )
    return F.when(finite, s).otherwise(F.lit(fallback))


def _argmax_cell(sims: list[tuple[int, Column]]) -> Column:
    """Cell id of the max-similarity entry, LOWEST cid on ties (the repo's
    min-representative tiebreak convention — struct array_max alone picks
    the HIGHEST cid on a tie). Linear expression: array_max over
    (sim, -cid) structs. NULL/NaN/±inf similarities rank below every real
    one (pinned to -2, matching :func:`vectorized_cell_udf`'s
    ``~np.isfinite`` pin), so every vector still gets a deterministic
    cell and the two assignment forms agree on corrupt inputs."""
    pairs = F.array(
        *[
            F.struct(
                _finite_or(sim, -2.0).alias("sim"),
                F.lit(-cid).alias("ncid"),
            )
            for cid, sim in sims
        ]
    )
    return (-F.array_max(pairs)["ncid"]).cast("int")


def nearest_cell_expr(
    vec: Column,
    centroids: list[tuple[int, list[float]]],
) -> Column:
    """Cell id of the max-cosine centroid for ``vec``, lowest cid on ties.

    NOT a drop-in for :func:`nearest_centroid_cell`: that helper
    resolves exact similarity ties toward the HIGHEST cid and is kept
    as-is deliberately — persisted IVF/ANN indexes were built with its
    assignments, and changing the tie direction would silently
    invalidate them. New callers should prefer this function's
    lowest-cid convention (the repo-wide min-representative tiebreak).
    """
    validate_codebook(centroids)
    cell = _argmax_cell(
        [(cid, cosine(vec, lit_vector(cvec))) for cid, cvec in centroids]
    )
    # a vector whose length differs from the centroids' would get every
    # sim NULL'd by zip_with's null-padding and silently land in the
    # LOWEST cell (round-8 continuation probe) — mixed dims are data
    # corruption; fail loudly at the offending row instead
    return _dim_guard(cell, vec, len(centroids[0][1]), "centroids")


def validate_codebook(centroids: list[tuple[int, list[float]]]) -> None:
    """Reject malformed codebooks loudly: duplicate cids silently corrupt
    assignment (norm lookups collapse to one entry, the persisted centroid
    table carries duplicate keys), and mixed-dimension centroids NULL
    every sim against the odd ones out, silently pinning their cells to
    -2 (round-9 executed probe: both passed through unchecked)."""
    if not centroids:
        raise ValueError("codebook must have at least one centroid")
    cids = [cid for cid, _ in centroids]
    if len(set(cids)) != len(cids):
        dupes = sorted({c for c in cids if cids.count(c) > 1})
        raise ValueError(f"codebook has duplicate centroid ids: {dupes}")
    dims = {len(v) for _, v in centroids}
    if len(dims) != 1:
        raise ValueError(
            f"codebook has mixed centroid dimensions {sorted(dims)} — "
            "all centroids must share one dimension"
        )


def centroid_norms(
    spark: SparkSession,
    centroids: list[tuple[int, list[float]]],
    math: str = "float",
) -> dict[int, float]:
    """Each centroid's norm evaluated with ``math``'s norm EXPRESSION —
    the row side's exact float math — in one k-row JVM job. The result
    is FROZEN for a frozen codebook, so streaming callers cache it per
    layout alongside the spec/centroid cache (r17: re-running this
    k-row job every trigger was pure metadata overhead, ~0.13 s per
    trigger)."""
    norm_expr = vector_math(math).norm
    from cassandra_analytics_spark.local_data import local_df

    cdf = local_df(
        spark,
        [(int(cid), [float(x) for x in cvec]) for cid, cvec in centroids],
        "cid int, v array<double>",
    )
    return {
        r["cid"]: r["n"]
        for r in cdf.select("cid", norm_expr(F.col("v")).alias("n")).collect()
    }


def assign_nearest_cells(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    math: str = "float",
    cell_col: str = "cell",
    keep_norm_as: str | None = None,
    passthrough: bool = False,
    cnorms: dict[int, float] | None = None,
) -> DataFrame:
    """Tag every row with its nearest-centroid cell — the norm-once
    assignment shared by :func:`semantic_dedup_pairs` and the decimal12
    IVF builders (``ann_index.build_ivf_index``/``append_to_ivf_index``).

    Norm discipline (HOFs are interpreted in Spark 4 — they must never
    be recomputed per centroid): each ROW's norm is computed ONCE as a
    carried column; each CENTROID's norm is computed once up front in a
    k-row Spark job with the same norm expression (so the float math is
    bit-identical to the row side) and embedded as a literal.
    Re-deriving the row norm inside a per-centroid similarity costs k
    redundant interpreted HOF evaluations per row — the exact
    anti-pattern this helper exists to prevent (round-9 ADVICE found it
    in the on-index SemDeDup layout build).

    Above ``_CELL_EXPR_MAX_WORK`` multiply-adds per row (centroids ×
    dim) :func:`vector_op` runs the row norm and the argmax in the
    math's BIT-IDENTICAL Arrow kernels where it has them (decimal12:
    interpreted decimal HOFs measured 16-20 s for 2,000 rows at k=32 ×
    d=64; the kernel is ~100 ms). Same cells, same ties, same guards.

    Ties go to the LOWEST cid (the repo's min-representative
    convention); non-finite sims pin to -2 (:func:`_finite_or`), so
    NULL vectors land deterministically in the lowest cell. Mixed
    dimensions raise (assignment is a verdict path, not a scoring
    path). Output: ``(id_col, vec_col[, keep_norm_as], cell_col)``;
    ``passthrough=True`` instead keeps EVERY input column (the IVF-PQ
    builder tags an already-encoded frame whose code/norm columns must
    survive the assignment).
    """
    vector_math(math)
    validate_codebook(centroids)
    if cnorms is None:
        # ``cnorms=`` lets a caller that already holds the frozen
        # codebook's norms (the streaming trigger's per-stream cache)
        # skip this per-call k-row job (r17)
        cnorms = centroid_norms(df.sparkSession, centroids, math)
    work = len(centroids) * len(centroids[0][1])
    nrm_name = keep_norm_as or "__anc_nrm"
    vec = F.col(vec_col)
    row_norm = vector_op(math, "norm", work)(vec)
    base = (
        df.withColumn(nrm_name, row_norm)
        if passthrough
        else df.select(F.col(id_col), vec, row_norm.alias(nrm_name))
    )
    cell = vector_op(math, "norm_once_cell", work)(
        vec, F.col(nrm_name), centroids, cnorms
    )
    out = base.withColumn(cell_col, cell)
    return out if keep_norm_as is not None else out.drop(nrm_name)


def _half_up_scaled(prod, scale: int):
    """Per-element HALF_UP scaled ints of a float array/matrix, exact —
    the numpy reproduction of Spark's ``CAST(double AS decimal(., s))``
    (BigDecimal.valueOf shortest-repr HALF_UP): fast ``sign·floor(|p·
    10^s| + 0.5)`` wherever the value is provably clear of a .5 rounding
    boundary; exact ``Decimal(repr(p))`` for the rare ambiguous
    elements. Shared by the scaled-decimal cell/dot/norm kernels."""
    import decimal

    import numpy as np

    mul = float(10 ** scale)
    scaled = prod * mul
    a = np.abs(scaled)
    with np.errstate(invalid="ignore"):
        cand = np.floor(a + 0.5)
    # sound ambiguity band: |shortest-repr rounding| + |product
    # scaling rounding| ≤ ~2 ulp of the scaled value; anything
    # beyond int53 also needs the exact path
    band = 4.0 * np.spacing(a) + 1e-9
    frac = np.abs(a - np.floor(a) - 0.5)
    finite = np.isfinite(a)
    amb = finite & ((frac <= band) | (a > 2.0 ** 52))
    out = np.where(scaled >= 0, cand, -cand)
    # non-finite elements scale to NaN (never the exact path, where
    # Decimal('Infinity').quantize raises InvalidOperation — r16
    # ADVICE); the fold callers pre-filter or accept NaN poisoning
    out = np.where(finite, out, np.nan)
    if amb.any():
        q = decimal.Decimal(1).scaleb(-scale)
        # wide context: quantizing a value ≥ 1e16 at scale 12 needs 28+
        # digits — the default 28-digit context would raise
        # InvalidOperation instead of letting the caller's limit check
        # produce the NUMERIC_VALUE_OUT_OF_RANGE parity error
        ctx = decimal.Context(prec=80)
        flat = out.reshape(-1)
        pf = prod.reshape(-1)
        for idx in np.flatnonzero(amb.reshape(-1)):
            flat[idx] = float(
                decimal.Decimal(repr(float(pf[idx])))
                .quantize(q, rounding=decimal.ROUND_HALF_UP, context=ctx)
                .scaleb(scale)
            )
    return out


def _slow_scaled_decimal_fold(prods, scale: int, int_digits: int):
    """Exact left fold of ``CAST(p AS decimal(., scale))`` products —
    the kernel's slow path, replicating the ANSI expression semantics
    element by element in index order: a non-finite product casts to
    NULL (poisoning the running sum, but elements are all cast FIRST —
    zip_with materializes the products array before the fold — so a
    later element overflow still raises); a product or prefix sum that
    does not fit ``decimal(scale + int_digits, scale)`` raises, exactly
    like Spark's ANSI decimal overflow. Returns the folded double, or
    None for a NULL-poisoned sum."""
    import decimal

    # a wide context: quantizing e.g. 1e20 to scale 12 needs 33 digits,
    # beyond the default 28-digit context (InvalidOperation) — the ANSI
    # overflow verdict must come from OUR limit check, not the context
    ctx = decimal.Context(prec=80)
    q = decimal.Decimal(1).scaleb(-scale)
    limit = decimal.Decimal(10) ** int_digits
    cast = []
    for p in prods:
        p = float(p)
        if math.isnan(p) or math.isinf(p):
            cast.append(None)
            continue
        d = decimal.Decimal(repr(p)).quantize(
            q, rounding=decimal.ROUND_HALF_UP, context=ctx
        )
        if abs(d) >= limit:
            raise ArithmeticError(
                f"[NUMERIC_VALUE_OUT_OF_RANGE] {d} cannot be represented "
                f"as Decimal({scale + int_digits}, {scale}) (scaled-"
                "decimal kernel, parity with the ANSI cast)"
            )
        cast.append(d)
    acc = decimal.Decimal(0)
    for d in cast:
        if d is None or acc is None:
            acc = None
            continue
        acc = acc + d
        if abs(acc) >= limit:
            raise ArithmeticError(
                f"[NUMERIC_VALUE_OUT_OF_RANGE] {acc} cannot be "
                f"represented as Decimal({scale + int_digits}, {scale}) "
                "(scaled-decimal kernel, parity with the ANSI cast)"
            )
    return None if acc is None else float(acc)


# conservative fast-path envelope for the scaled-int reproduction: every
# per-element scaled value and every prefix sum must stay inside int53
# so the float arithmetic is exact; anything outside replays the exact
# decimal fold (which also owns the ANSI overflow raise at 10^16)
_SD_FAST_LIMIT = 2.0 ** 52


def _scaled_decimal_fold_batch(mats, scale: int, int_digits: int):
    """Vectorized scaled-decimal fold over a 2-D product matrix (rows ×
    dim): fast exact scaled-int row sums where provably safe, the exact
    per-row decimal fold elsewhere. Returns a float list with None for
    NULL-poisoned rows; raises on decimal overflow (ANSI parity)."""
    import numpy as np

    mul = float(10 ** scale)
    n, d = mats.shape
    if d == 0:
        return [0.0] * n
    finite = np.isfinite(mats)
    allfinite = finite.all(axis=1)
    # scaled magnitude envelope (cheap upper-bound check BEFORE calling
    # _half_up_scaled, whose exact path is per-element): rows whose
    # largest |product|·10^s clears int53 go straight to the slow fold
    with np.errstate(invalid="ignore"):
        maxmag = np.where(
            allfinite, np.abs(mats).max(axis=1, initial=0.0) * mul, np.inf
        )
    fast = allfinite & (maxmag <= _SD_FAST_LIMIT / max(d, 1))
    # the /d bound also keeps every PREFIX sum inside int53 — no cumsum
    # pass needed; borderline rows just take the exact fold
    out: list = [None] * n
    if fast.any():
        scaled = _half_up_scaled(mats[fast], scale)
        sums = scaled.sum(axis=1)
        vals = sums / mul
        for i, v in zip(np.flatnonzero(fast), vals):
            out[i] = float(v)
    for i in np.flatnonzero(~fast):
        out[i] = _slow_scaled_decimal_fold(mats[i], scale, int_digits)
    return out


def _scaled_decimal_pair_dot_udf(scale: int, int_digits: int = 16):
    """Arrow-batched BIT-IDENTICAL twin of the portable-decimal PAIR dot
    (``_pdot``: double products → ``CAST(decimal(28,scale))`` HALF_UP →
    exact decimal left-fold → double) — the r16 follow-up to
    :func:`_scaled_decimal_cell_udf` for the per-PAIR scoring that
    dominates the streaming trigger (every candidate pair pays d
    interpreted DECIMAL lambdas in the expression form; Spark HOFs are
    not codegen'd).

    Semantics reproduce the expression exactly (probed under ANSI mode,
    pinned by tests/test_cell_parity_kernel.py):

    * either side NULL → NULL; RAGGED pairs → NULL (zip_with pads the
      shorter side with NULLs, a NULL product poisons the fold);
    * empty arrays → 0.0;
    * a NaN/±Inf product casts to NULL (poisoning the sum → NULL) —
      ANSI's double→decimal cast nulls non-finites rather than raising;
    * a product or running prefix sum ≥ 10^int_digits raises (ANSI
      decimal overflow), even when a NaN product precedes it (zip_with
      materializes all products before the fold);
    * everything else is the exact integer sum at scale 10^-scale,
      divided back in one correctly-rounded double op (both engines
      round the same real value once)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _pair_dot(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np

        out: list = [None] * len(va)
        by_dim: dict[int, list[int]] = {}
        arrs_a: dict[int, list] = {}
        arrs_b: dict[int, list] = {}
        for i, (a, b) in enumerate(zip(va, vb)):
            if a is None or b is None:
                continue
            if len(a) != len(b):
                continue  # zip_with null-pad → NULL
            d = len(a)
            by_dim.setdefault(d, []).append(i)
            arrs_a.setdefault(d, []).append(
                np.asarray(a, dtype="float64")
            )
            arrs_b.setdefault(d, []).append(
                np.asarray(b, dtype="float64")
            )
        for d, idxs in by_dim.items():
            if d == 0:
                for i in idxs:
                    out[i] = 0.0
                continue
            prods = np.asarray(arrs_a[d]) * np.asarray(arrs_b[d])
            vals = _scaled_decimal_fold_batch(prods, scale, int_digits)
            for i, v in zip(idxs, vals):
                out[i] = v
        res = pd.Series(out, dtype="float64")
        return res.where(pd.notna(res), None)

    return _pair_dot


def _scaled_decimal_norm_udf(scale: int, int_digits: int = 16):
    """Arrow-batched BIT-IDENTICAL twin of the portable-decimal row NORM
    (``_psq_norm``: sqrt of the scaled-decimal fold of the squares) —
    the per-ROW sibling of :func:`_scaled_decimal_pair_dot_udf`, same
    semantics with b = a and a final IEEE sqrt (java Math.sqrt and
    np.sqrt both round the same double once)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _row_norm(va: pd.Series) -> pd.Series:
        import numpy as np

        out: list = [None] * len(va)
        by_dim: dict[int, list[int]] = {}
        arrs: dict[int, list] = {}
        for i, a in enumerate(va):
            if a is None:
                continue
            d = len(a)
            by_dim.setdefault(d, []).append(i)
            arrs.setdefault(d, []).append(np.asarray(a, dtype="float64"))
        for d, idxs in by_dim.items():
            if d == 0:
                for i in idxs:
                    out[i] = 0.0
                continue
            m = np.asarray(arrs[d])
            vals = _scaled_decimal_fold_batch(m * m, scale, int_digits)
            for i, v in zip(idxs, vals):
                out[i] = None if v is None else float(np.sqrt(v))
        res = pd.Series(out, dtype="float64")
        return res.where(pd.notna(res), None)

    return _row_norm


def _scaled_decimal_cell_udf(
    centroids: list[tuple[int, list[float]]],
    cnorms: dict[int, float],
    scale: int,
    int_digits: int = 16,
):
    """Arrow-batched twin of the PORTABLE-DECIMAL assignment
    (``assign_nearest_cells`` under ``math="decimal12"``) — the r16
    follow-up to :func:`_expr_parity_cell_udf` for the decimal math
    that dominated the streaming bootstrap (measured: 16-20 s of
    interpreted per-element DECIMAL lambdas to assign 2,000 rows at
    k=32 × d=64).

    The portable chain is ``double product → CAST(decimal(28,<scale>))
    (HALF_UP) → decimal left-fold sum → double``. Every decimal is an
    exact multiple of 10^-scale and the fold never rounds, so the sum
    is an INTEGER sum at scale 10^-scale — order-free and exactly
    representable in int64 for any realistic embedding. The kernel
    reproduces it as: per-element scaled ints (fast numpy path:
    ``sign·floor(|p·10^s| + 0.5)`` wherever the value is provably clear
    of a .5 rounding boundary; exact ``Decimal(repr(p))`` HALF_UP for
    the rare ambiguous elements — the same shortest-repr semantics as
    Spark's BigDecimal.valueOf cast), int64 row sums, then the final
    double division/sqrt, which are correctly rounded in both engines.
    Ties take the LOWEST cid (``_argmax_cell``); non-finite sims pin to
    -2; NULL vectors take the lowest cell; ragged vectors raise the
    assignment guard's exact message. Parity with the expression form
    is pinned by tests/test_cell_parity_kernel.py.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    validate_codebook(centroids)
    ordered = sorted(centroids, key=lambda t: t[0])
    cids = np.asarray([cid for cid, _ in ordered], dtype="int64")
    cvecs = [np.asarray(c, dtype="float64") for _, c in ordered]
    cn = np.asarray([float(cnorms[int(cid)]) for cid, _ in ordered])
    dim = len(cvecs[0])
    k = len(cvecs)

    def _fold(mats: "np.ndarray") -> "np.ndarray":
        # r17 (round-16 ADVICE): the dot/norm sums route through the
        # SHARED scaled-decimal fold — it Nones non-finite products
        # (the expression's ANSI cast → NULL sim → -2 pin, instead of
        # the raw _half_up_scaled path crashing on Decimal('Infinity')),
        # owns the NUMERIC_VALUE_OUT_OF_RANGE raise at 10^int_digits,
        # and replays the exact decimal fold outside the int53 envelope
        # (the raw float-sum form lost integer exactness there).
        import numpy as np

        vals = _scaled_decimal_fold_batch(mats, scale, int_digits)
        return np.asarray(
            [np.nan if x is None else x for x in vals], dtype="float64"
        )

    @pandas_udf("int")
    def _cell(vs: pd.Series) -> pd.Series:
        import numpy as np

        out = np.full(len(vs), int(cids[0]), dtype="int64")
        good: list[int] = []
        for i, v in enumerate(vs):
            if v is None:
                continue
            if len(v) != dim:
                raise ValueError(
                    f"embedding dimension mismatch: centroids are {dim}-d "
                    f"but found a vector of length {len(v)}"
                )
            good.append(i)
        if good:
            vmat = np.asarray(
                [np.asarray(vs.iloc[i], dtype="float64") for i in good]
            )
            with np.errstate(invalid="ignore"):
                rnorm = np.sqrt(_fold(vmat * vmat))
            sims = np.empty((len(good), k))
            for j in range(k):
                dots = _fold(vmat * cvecs[j][None, :])
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims[:, j] = dots / (rnorm * cn[j])
            sims[~np.isfinite(sims)] = -2.0
            out[np.asarray(good)] = cids[np.argmax(sims, axis=1)]
        return pd.Series(out)

    return _cell


def vectorized_cell_udf(centroids: list[tuple[int, list[float]]]):
    """Arrow-batched nearest-centroid assignment for LARGE codebooks.

    The expression form (:func:`_argmax_cell` / :func:`nearest_cell_expr`)
    embeds k struct entries of a d-dim dot product into the plan — right
    shape (codegen, zero Python) up to k ≈ 128, after which analyzer cost
    and task-binary size dominate (measured, PERF.md round 8). SemDeDup at
    corpus scale needs k ∝ N (k ≈ N / target_cell_size), so this builder
    returns a pandas UDF computing the same argmax as ONE numpy matrix
    product per Arrow batch (B×d @ d×k, BLAS) — the sanctioned
    vectorized-UDF path for what built-ins can't express at this k.

    Semantics match :func:`nearest_cell_expr` exactly: cosine similarity,
    lowest cid on ties (centroids are sorted by cid; ``np.argmax`` takes
    the first maximum), and NON-FINITE sims — zero-norm/NULL vectors and
    NaN/±inf products alike — pin to -2 and therefore the lowest cid in
    BOTH forms (``~np.isfinite`` here, :func:`_finite_or` in the
    expression — every vector gets a deterministic cell, so a partitioned
    layout never grows a NULL partition, and an index built in one mode
    and extended in the other never splits on corrupt inputs).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    validate_codebook(centroids)
    ordered = sorted(centroids, key=lambda t: t[0])
    cmat = np.asarray([c for _, c in ordered], dtype="float64")
    cnorm = np.linalg.norm(cmat, axis=1)
    cids = np.asarray([cid for cid, _ in ordered], dtype="int32")

    dim = cmat.shape[1]

    @pandas_udf("int")
    def _cell(vs: pd.Series) -> pd.Series:
        mask = vs.notna()
        # NULL vectors take the all-sims-(-2) path like the expression
        # form: deterministic lowest cid, never a NULL partition
        out = np.full(len(vs), cids[0], dtype="int32")
        if mask.any():
            bad = {len(v) for v in vs[mask] if len(v) != dim}
            if bad:
                # a ragged batch used to die as a cryptic numpy
                # "setting an array element with a sequence" inside the
                # worker (round-8 continuation probe)
                raise ValueError(
                    f"embedding dimension mismatch: centroids are {dim}-d "
                    f"but batch contains vectors of length {sorted(bad)} — "
                    "mixed-dimension embedding columns are data corruption; "
                    "fix or filter them first"
                )
            vmat = np.asarray([np.asarray(v, dtype="float64") for v in vs[mask]])
            vnorm = np.linalg.norm(vmat, axis=1)
            denom = np.outer(vnorm, cnorm)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (vmat @ cmat.T) / denom
            sims[~np.isfinite(sims)] = -2.0
            out[mask.to_numpy()] = cids[np.argmax(sims, axis=1)]
        return pd.Series(out)

    return _cell


def semantic_pairs_from_cells(
    assigned: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    max_cluster: int = 10_000,
    math: str = "float",
    norm_col: str | None = None,
    skew_observation=None,
) -> DataFrame:
    """Within-cell near-dup pairs ``(a, b, cell, cosine_sim)`` over an
    ALREADY-ASSIGNED corpus (``cell_col`` present — e.g. the persisted
    layout of ``ann_index.build_ivf_index``). The pair stage of
    :func:`semantic_dedup_pairs`, reusable when assignment was
    precomputed at a codebook size the expression path can't carry.
    ``norm_col`` names a precomputed row-norm column (``math``'s norm)
    to carry instead of re-deriving it."""
    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    if max_cluster < 2:
        raise ValueError(f"max_cluster must be >= 2, got {max_cluster}")
    from cassandra_analytics_spark.operators.dedup import _bucket_candidate_pairs

    # a pair stage's per-row work is data-dependent, so vector_op hands
    # it the math's Arrow kernels where it has them (r16: the decimal
    # expression pays d interpreted lambdas PER PAIR — the dominant cost
    # of decimal-math pair stages)
    pair_dot = vector_op(math, "dot")
    nrm = (
        F.col(norm_col) if norm_col else vector_op(math, "norm")(F.col(vec_col))
    )
    # mixed-dimension vectors would get their pair cosine NULL'd by
    # zip_with's null-padding and silently drop every pair they touch
    # (round-8 continuation probe): fail loudly at the offending pair
    dim_guard = F.when(
        F.size(F.col("pa")["v"]) == F.size(F.col("pb")["v"]), F.lit(True)
    ).otherwise(
        F.raise_error(
            F.lit(
                "embedding dimension mismatch between candidate pair "
                "members — mixed-dimension embedding columns are data "
                "corruption; fix or filter them first"
            )
        ).cast("boolean")
    )
    tagged = assigned.filter(F.col(vec_col).isNotNull()).select(
        id_col,
        F.struct(
            F.col(vec_col).alias("v"),
            nrm.alias("nrm"),
            F.col(cell_col).alias("c"),
        ).alias("__p"),
        F.col(cell_col).alias("__cell"),
    )
    pairs = _bucket_candidate_pairs(
        tagged, ["__cell"], id_col, "__p", max_cluster,
        skew_observation=skew_observation,
    )
    cos = F.when(
        dim_guard,
        F.try_divide(
            pair_dot(F.col("pa")["v"], F.col("pb")["v"]),
            F.col("pa")["nrm"] * F.col("pb")["nrm"],
        ),
    )
    return pairs.select(
        "a",
        "b",
        F.col("pa")["c"].alias("cell"),
        cos.alias("cosine_sim"),
    ).filter(F.col("cosine_sim") >= threshold)


def removal_verdicts(pairs: DataFrame) -> DataFrame:
    """(removed, cell, kept_rep) from a (a, b, cell, …) pair table — the
    pairwise greedy-by-id keep rule shared by every semantic_dedup entry
    point (see :func:`semantic_dedup` for its non-transitivity caveats)."""
    return (
        pairs.groupBy(F.col("b").alias("removed"), "cell")
        .agg(F.min("a").alias("kept_rep"))
    )


def semantic_dedup_pairs(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = 10_000,
    math: str = "float",
    skew_observation=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) candidate stage:
    semantic near-dup pairs ``(a, b, cell, cosine_sim)`` with a < b,
    found only WITHIN coarse clusters.

    The scale shape that makes semantic dedup tractable at 100 TB: a
    brute-force cosine dedup is O(n²); SemDeDup first assigns every
    embedding to its nearest coarse centroid (broadcast centroid list,
    map-side linear expression — zero shuffle), then compares pairs only
    inside each cluster, so work is Σ|cluster|² — bounded by centroid
    count and the ``max_cluster`` hot-cluster cap (same convention as the
    LSH ``max_bucket``: a cluster larger than the cap is skipped rather
    than allowed to expand quadratically; raise the centroid count
    instead). One shuffle on the cell key via the shared in-bucket pair
    expansion (signatures computed once — never a self-join).

    Norm discipline (HOFs are interpreted in Spark 4 — they must not be
    recomputed per pair or per centroid): each row's norm is computed
    ONCE and carried through the bucket payload; each CENTROID's norm is
    computed once up front in a k-row job with the same norm
    expression and embedded as a literal. Similarity is always
    ``dot(a, b) / (norm_a * norm_b)`` under ``math`` — ``"decimal12"``
    (the portable decimal sum) for oracle-exact math, or the fast JVM
    ``"float"`` default.

    NULL vectors are excluded up front (they have no meaningful cell and
    their NULL cosine could never clear the threshold).
    """
    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    if max_cluster < 2:
        raise ValueError(f"max_cluster must be >= 2, got {max_cluster}")
    if not centroids:
        raise ValueError("semantic_dedup_pairs needs at least one centroid")
    # NULL vectors are excluded up front (they have no meaningful cell
    # and their NULL cosine could never clear the threshold); the shared
    # assignment helper carries the row norm so the pair stage reuses it
    assigned = assign_nearest_cells(
        df.filter(F.col(vec_col).isNotNull()),
        centroids,
        id_col,
        vec_col,
        math=math,
        cell_col="__acell",
        keep_norm_as="__nrm",
    )
    return semantic_pairs_from_cells(
        assigned,
        threshold,
        id_col,
        vec_col,
        cell_col="__acell",
        max_cluster=max_cluster,
        math=math,
        norm_col="__nrm",
        skew_observation=skew_observation,
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = 10_000,
    math: str = "float",
    skew_observation=None,
) -> DataFrame:
    """SemDeDup removal verdicts: ``(removed, cell, kept_rep)`` — one row
    per document that loses its within-cluster near-dup resolution.

    Keep rule (deterministic, the repo's min-representative convention):
    a document is removed iff some LOWER-id document in the same cluster
    is ≥ ``threshold``-similar to it; ``kept_rep`` is the smallest such
    id. This is PAIRWISE greedy-by-id, exactly the paper's per-cluster
    ε-ball removal made deterministic — it is NOT a transitive closure:
    with non-transitive similarity (a~b, b~c, a≁c) ``kept_rep`` can name
    a document that is itself removed (b removed for a, c removed for b),
    and a document whose similar neighbors all have HIGHER ids survives
    even where a connected-component single-survivor rule would not.
    Pipelines that redirect duplicates to a canonical survivor should
    feed the PAIRS into :func:`~cassandra_analytics_spark.operators.
    graph.dedup_clusters` (connected components) instead of chasing
    ``kept_rep`` chains.
    """
    pairs = semantic_dedup_pairs(
        df, centroids, threshold, id_col, vec_col, max_cluster, math,
        skew_observation=skew_observation,
    )
    return removal_verdicts(pairs)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    seed: int = 42,
    skew_observation=None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: sign-LSH bucketing + exact cosine
    confirm (a < b). Candidates come from in-bucket pair expansion
    (signatures computed once, never a cross join — see
    ``dedup._bucket_candidate_pairs``), so work is proportional to bucket
    sizes, not n²."""
    from cassandra_analytics_spark.operators.dedup import _bucket_candidate_pairs

    # dim probe skips NULL vectors (round-8 probe pass: a NULL in the
    # first row TypeError'd the job); NULL vectors themselves hash to
    # bucket 0 and their NULL cosine never clears the threshold
    sample = df.select(vec_col).filter(F.col(vec_col).isNotNull()).limit(1).collect()
    if not sample:
        return df.sparkSession.createDataFrame([], "a long, b long, cosine_sim double")
    dim = len(sample[0][vec_col])
    sig = sign_lsh_signature_column(F.col(vec_col), dim, num_planes, seed)
    tagged = df.select(F.col(id_col), F.col(vec_col), sig.alias("__sig"))
    pairs = _bucket_candidate_pairs(
        tagged, ["__sig"], id_col, vec_col, 10000,
        skew_observation=skew_observation,
    )
    return (
        pairs.select(
            "a",
            "b",
            cosine(F.col("pa"), F.col("pb")).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )
