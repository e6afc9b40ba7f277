"""Int8 scalar quantization for embedding columns.

The storage-scale lever for 100 TB embedding corpora: a float32 vector
column is 4 bytes/dim; affine per-vector int8 quantization stores 1
byte/dim plus two doubles of metadata — a ~4x scan/shuffle reduction
for every downstream pass that tolerates quantization noise (ANN
candidate generation, near-dup prefilters), with the float column kept
only for final re-scoring. The scheme is FAISS-style affine scalar
quantization (``code = round((x - min) / scale) - 128``,
``scale = (max - min)/255``) — note FAISS's QT_8bit reconstructs at bin
CENTERS (``(code + 0.5) * scale + min``) while this module decodes at
bin edges (``(code + 128) * scale + min``); the scheme here is
self-consistent and oracle-pinned, just offset half a bin from FAISS's.

No shuffles anywhere: encode and scoring are per-row, so they ride
any existing scan. The encode runs in an Arrow kernel (r16 — the HOF
expression form pays 3 interpreted passes of dim lambdas per row;
``quantization_exprs`` remains as the bit-parity anchor), and the
scorers are codegen expressions up to ``_EXPR_MAX_DIM`` with Arrow
kernels above. Reconstruction error is bounded by ``scale/2`` per
element (round-to-nearest over a 255-step grid), pinned by test.

Numeric contract: elements are cast to DOUBLE before any arithmetic so
the math matches the DuckDB oracle bit-for-bit (FLOAT-typed inputs
would otherwise mix float32 subtraction into the pipeline). Non-finite
elements (NaN/Inf) are REFUSED loudly — min/max over them poisons the
scale silently for the whole vector. NULL vectors pass through as NULL
(consistent with the similarity layer); NULL ELEMENTS inside a vector
are refused for the same reason as non-finites.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cassandra_analytics_spark.operators.merge import quote_ident, sql_string
from cassandra_analytics_spark.operators.similarity import (
    _fold_sql,
    cosine_sql,
    lit_vector_sql,
    sql_double,
    sql_over,
)


def quantization_exprs(vec_col: str):
    """The (codes, min, scale) expressions of the affine-int8 scheme over
    ``vec_col``, each wrapped in the NaN/Inf/NULL-element refusal guard —
    for layouts that carry codes ALONGSIDE other columns (the quantized
    IVF layout composes these with its cell assignment). NULL vectors
    produce NULL codes/metadata."""
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    bad = F.exists(
        dv,
        lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
    )
    guard = F.when(
        F.col(vec_col).isNull() | ~bad, F.lit(True)
    ).otherwise(
        F.raise_error(
            F.lit(
                "quantize_embeddings: vector contains NULL/NaN/Inf "
                "elements — min/max over them silently poisons the scale; "
                "clean the column first"
            )
        ).cast("boolean")
    )
    vmin = F.array_min(dv)
    vmax = F.array_max(dv)
    raw_scale = (vmax - vmin) / F.lit(255.0)
    scale = F.when(raw_scale == 0.0, F.lit(1.0)).otherwise(raw_scale)
    codes = F.transform(
        dv, lambda x: (F.round((x - vmin) / scale) - 128).cast("tinyint")
    )
    return (
        F.when(guard, codes),
        F.when(guard, vmin),
        F.when(guard, scale),
    )


_ENCODE_GUARD_MSG = (
    "quantize_embeddings: vector contains NULL/NaN/Inf "
    "elements — min/max over them silently poisons the scale; "
    "clean the column first"
)


def _sq8_encode_udf():
    """Arrow-batched BIT-IDENTICAL twin of :func:`quantization_exprs` —
    the r16 follow-up to the scorer kernels for the ENCODE side: the
    expression form is THREE interpreted HOF passes (guard scan, codes
    transform, plus min/max) of dim lambdas per row (Spark HOFs are not
    whole-stage-codegen'd), measured ~2 s of the sf0.1 quantized-layout
    build. One kernel call returns ``struct<qvec, vmin, vscale>``.

    Parity (pinned by tests/test_quantize.py::test_encode_kernel_*):

    * min/max/scale/(x−min)/scale are all single IEEE double ops —
      bit-identical between numpy and Spark;
    * ``F.round`` on a double is BigDecimal.valueOf (shortest repr)
      HALF_UP — reproduced as fast ``floor(y + 0.5)`` away from .5
      boundaries, exact ``Decimal(repr(y))`` inside the ambiguity band
      (the ``_half_up_scaled`` discipline at scale 0);
    * NULL vectors → NULL struct; EMPTY vectors → ([], NULL, NULL);
      NULL/NaN/Inf ELEMENTS raise the expression guard's exact message;
    * constant vectors pin scale = 1.0 (codes all −128), like the
      expression."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def _round_half_up(y: "np.ndarray") -> "np.ndarray":
        """HALF_UP of non-negative doubles, Spark F.round parity."""
        import decimal

        cand = np.floor(y + 0.5)
        frac = np.abs(y - np.floor(y) - 0.5)
        band = 4.0 * np.spacing(y) + 1e-9
        amb = frac <= band
        if amb.any():
            one = decimal.Decimal(1)
            flat = cand.reshape(-1)
            yf = y.reshape(-1)
            for idx in np.flatnonzero(amb.reshape(-1)):
                flat[idx] = float(
                    decimal.Decimal(repr(float(yf[idx]))).quantize(
                        one, rounding=decimal.ROUND_HALF_UP
                    )
                )
        return cand

    @pandas_udf(
        "struct<qvec: array<tinyint>, vmin: double, vscale: double>"
    )
    def _encode(vs):
        import pandas as pd

        out = []
        for v in vs:
            if v is None:
                # a NULL struct row is indistinguishable from all-NULL
                # fields at the extraction sites (_with_layout_codes /
                # quantize_embeddings project the fields immediately)
                out.append((None, None, None))
                continue
            if len(v) == 0:
                out.append(([], None, None))
                continue
            arr = np.asarray(v, dtype="float64")
            if not np.isfinite(arr).all():
                # NULL elements arrive as NaN through Arrow — same
                # refusal either way, the expression guard's message
                raise ValueError(_ENCODE_GUARD_MSG)
            vmin = float(arr.min())
            vmax = float(arr.max())
            raw_scale = (vmax - vmin) / 255.0
            scale = 1.0 if raw_scale == 0.0 else raw_scale
            y = (arr - vmin) / scale
            codes = (_round_half_up(y) - 128.0).astype("int8")
            out.append((codes.tolist(), vmin, scale))
        return pd.DataFrame(out, columns=["qvec", "vmin", "vscale"])

    return _encode


def quantization_kernel_cols(vec_col: str):
    """``(codes, vmin, scale)`` Columns from the Arrow encode kernel —
    the measured batch-encode replacement for :func:`quantization_exprs`
    (r16 interleaved A/B on the 2,000-row 64-d sf0.1 corpus: expression
    1.7-2.7 s vs kernel 0.43-0.48 s, parity diffs 0 over the full
    corpus with bit-compared min/scale). All three columns project from
    ONE struct, so the ArrowEvalPython evaluates once per row and the
    NaN/Inf refusal fires regardless of which fields the consumer
    keeps — the same pruning-proof posture as the expression form's
    per-column guard wrap."""
    st = _sq8_encode_udf()(F.col(vec_col))
    return st["qvec"], st["vmin"], st["vscale"]


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "qvec",
    keep_vec: bool = False,
) -> DataFrame:
    """Affine int8 codes per vector: ``(id_col, code_col array<tinyint>,
    <vec>_min double, <vec>_scale double)``.

    ``scale`` is ``(max - min)/255``; constant vectors (max == min) pin
    ``scale = 1`` so every code is −128 and dequantization returns the
    constant exactly. ``keep_vec=True`` carries the original float
    column through (for re-scoring pipelines). Encodes through the
    Arrow kernel (r16, bit-identical — see
    :func:`quantization_kernel_cols`); the expression form remains as
    the parity anchor."""
    codes, vmin, scale = quantization_kernel_cols(vec_col)
    cols = [F.col(id_col)]
    if keep_vec:
        cols.append(F.col(vec_col))
    # all three outputs project from ONE kernel struct: a consumer
    # selecting only (id, min, scale) still evaluates the kernel, so
    # the NaN refusal cannot be pruned away (round-10 ADVICE, kept by
    # construction in the kernel form)
    cols.extend(
        [
            codes.alias(code_col),
            vmin.alias(f"{vec_col}_min"),
            scale.alias(f"{vec_col}_scale"),
        ]
    )
    return df.select(*cols)


def approx_cosine_from_codes(
    query_vec: list[float],
    code_col: str = "qvec",
    min_col: str = "embedding_min",
    scale_col: str = "embedding_scale",
    code_type: str = "array<tinyint>",
):
    """Cosine of the RECONSTRUCTED vector against a literal query,
    computed entirely from the int8 codes + (min, scale) metadata — the
    phase-1 scoring expression shared by :func:`quantized_topk` and the
    quantized IVF probe path (``ann_index.query_ivf_index_quantized``).

    With ``u = code + 128`` and ``x̂ = u·s + m``: ``x̂·q = s·Σ(uᵢqᵢ) +
    m·Σq`` and ``‖x̂‖² = s²·Σu² + 2sm·Σu + d·m²`` — three integer
    reductions over the codes, no float-column read. A code vector whose
    length differs from the query raises loudly (zip_with would NULL-pad
    and silently score to NULL). NULL code vectors score NULL.
    """
    score = _approx_score(query_vec, code_col, min_col, scale_col, code_type)
    return F.expr(score) if isinstance(score, str) else score


def _sq8_cosine_sql(codes: str, code_col: str, min_col: str, scale_col: str,
                    q: str, qsum: str, qnorm: str) -> str:
    """SQL text of the code-space cosine :func:`approx_cosine_from_codes`
    describes, over SQL operands: ``codes`` (the code array, possibly
    wrapped in a guard), the raw code/min/scale columns, and the query
    as an array, its element sum and its norm."""
    s, m = quote_ident(scale_col), quote_ident(min_col)
    u = f"transform({codes}, __c -> CAST(__c AS DOUBLE) + 128D)"
    dot_uq = _fold_sql(f"zip_with({u}, {q}, (__a, __b) -> __a * __b)", "0D")
    sum_u = _fold_sql(u, "0D")
    sum_uu = f"aggregate({u}, 0D, (__acc, __v) -> __acc + __v * __v)"
    d = f"CAST(size({quote_ident(code_col)}) AS DOUBLE)"
    norm_sq = (
        f"{s} * {s} * {sum_uu} + 2D * {s} * {m} * {sum_u} + {d} * {m} * {m}"
    )
    return f"try_divide({s} * {dot_uq} + {m} * {qsum}, sqrt({norm_sq}) * {qnorm})"


def _approx_score(query_vec, code_col, min_col, scale_col, code_type):
    """The phase-1 score of :func:`approx_cosine_from_codes`: SQL text up
    to ``_EXPR_MAX_DIM``, the Arrow kernel's Column above it."""
    qv = [float(x) for x in query_vec]
    if not qv or not all(_math.isfinite(x) for x in qv):
        raise ValueError(
            "approx_cosine_from_codes: query vector must be non-empty "
            "and finite"
        )
    qnorm = _math.sqrt(sum(x * x for x in qv))
    qsum = sum(qv)
    if len(qv) > _EXPR_MAX_DIM:
        # high dim: the three HOF reductions are d interpreted lambdas
        # PER ROW of the phase-1 scan (the round-15 finding — see the
        # module comment below); the Arrow kernel computes the same
        # cosine, raising the same loud message on a length mismatch
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        qarr = np.asarray(qv, dtype=np.float64)

        @pandas_udf("double")
        def _score(codes, mn, sc):
            import pandas as pd

            out = np.full(len(codes), np.nan)
            mask = (codes.notna() & mn.notna() & sc.notna()).to_numpy()
            if mask.any():
                lens = {len(v) for v in codes[mask]}
                if lens != {len(qarr)}:
                    bad = sorted(lens - {len(qarr)})[0]
                    raise ValueError(
                        f"approx_cosine_from_codes: query vector is "
                        f"{len(qarr)}-d but found a code vector of "
                        f"length {bad}"
                    )
                u = np.asarray(
                    [list(v) for v in codes[mask]], dtype=np.float64
                ) + 128.0
                s = sc[mask].to_numpy(dtype=np.float64)
                m = mn[mask].to_numpy(dtype=np.float64)
                d = float(len(qarr))
                dot_approx = s * (u @ qarr) + m * qsum
                norm_sq = (
                    s * s * (u * u).sum(axis=1)
                    + 2.0 * s * m * u.sum(axis=1)
                    + d * m * m
                )
                denom = np.sqrt(norm_sq) * qnorm
                with np.errstate(divide="ignore", invalid="ignore"):
                    res = np.where(
                        denom != 0.0, dot_approx / denom, np.nan
                    )
                out[mask] = res
            res = pd.Series(out)
            return res.where(pd.notna(res), None)

        return _score(F.col(code_col), F.col(min_col), F.col(scale_col))
    c = quote_ident(code_col)
    msg = sql_string(
        f"approx_cosine_from_codes: query vector is {len(qv)}-d "
        "but found a code vector of length "
    )
    guarded = (
        f"CASE WHEN {c} IS NULL OR size({c}) = {len(qv)} THEN {c} ELSE "
        f"CAST(raise_error(concat({msg}, CAST(size({c}) AS STRING))) "
        f"AS {code_type}) END"
    )
    return _sq8_cosine_sql(
        guarded, code_col, min_col, scale_col,
        lit_vector_sql(qv), sql_double(qsum), sql_double(qnorm),
    )


# SQ8's per-PAIR scorers share PQ's round-15 high-dim finding (see
# operators/pq.py, _PQ_EXPR_MAX_DIM): Spark higher-order functions are
# not whole-stage-codegen'd, so zip_with/aggregate over a d-element
# code array costs d interpreted lambdas PER PAIR — the 512-d
# streaming A/B measured the SQ8 arm's triggers at 571 s vs the
# Arrow-kerneled PQ arm's 302 s. Above this dim the pair-shaped SQ8
# scorers switch to Arrow-batched numpy kernels (same math, same
# bound, float-ulp parity); callers gate by the layout spec's dim
# (None = unknown = keep the expression, the pre-round-15 behavior).
_EXPR_MAX_DIM = 128


def _sq8_u_dot_udf():
    """Arrow-batched ``Σ (u_a · u_b)`` over two int8 code columns
    (u = code + 128) — the pair-stage kernel. Mixed-dimension pairs
    raise the same data-corruption message as the expression guard."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _udot(ca, cb):
        import pandas as pd

        out = np.full(len(ca), np.nan)
        mask = (ca.notna() & cb.notna()).to_numpy()
        if mask.any():
            a = np.asarray(
                [list(v) for v in ca[mask]], dtype=np.float64
            ) + 128.0
            b = np.asarray(
                [list(v) for v in cb[mask]], dtype=np.float64
            ) + 128.0
            if a.ndim != 2 or b.ndim != 2 or a.shape != b.shape:
                raise ValueError(
                    "code-vector dimension mismatch between candidate "
                    "pair members — mixed-dimension embedding columns "
                    "are data corruption; fix or filter them first"
                )
            out[mask] = (a * b).sum(axis=1)
        res = pd.Series(out)
        return res.where(pd.notna(res), None)

    return _udot


def _sq8_query_cosine_udf():
    """Arrow-batched :func:`approx_cosine_codes_vs_query_col` — the
    whole reconstructed cosine in one kernel: inputs (query vec, query
    sum, query norm, codes, min, scale) per row, output the code-space
    cosine (None where any input is NULL or the denominator is 0,
    matching try_divide)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _score(qv, qs, qn, codes, mn, sc):
        import pandas as pd

        out = np.full(len(codes), np.nan)
        mask = (
            codes.notna() & qv.notna() & qs.notna() & qn.notna()
            & mn.notna() & sc.notna()
        ).to_numpy()
        if mask.any():
            u = np.asarray(
                [list(v) for v in codes[mask]], dtype=np.float64
            ) + 128.0
            v = np.asarray([list(x) for x in qv[mask]], dtype=np.float64)
            if u.ndim != 2 or v.ndim != 2 or u.shape != v.shape:
                raise ValueError(
                    "code/query dimension mismatch in the quantized "
                    "kNN scorer — mixed-dimension embedding columns "
                    "are data corruption; fix or filter them first"
                )
            s = sc[mask].to_numpy(dtype=np.float64)
            m = mn[mask].to_numpy(dtype=np.float64)
            qsum = qs[mask].to_numpy(dtype=np.float64)
            qnorm = qn[mask].to_numpy(dtype=np.float64)
            d = float(u.shape[1])
            dot_approx = s * (u * v).sum(axis=1) + m * qsum
            norm_sq = (
                s * s * (u * u).sum(axis=1)
                + 2.0 * s * m * u.sum(axis=1)
                + d * m * m
            )
            denom = np.sqrt(norm_sq) * qnorm
            with np.errstate(divide="ignore", invalid="ignore"):
                res = np.where(denom != 0.0, dot_approx / denom, np.nan)
            out[mask] = res
        res = pd.Series(out)
        return res.where(pd.notna(res), None)

    return _score


def approx_cosine_codes_vs_query_col(
    qvec_col,
    qsum_col,
    qnorm_col,
    code_col: str = "qvec",
    min_col: str = "embedding_min",
    scale_col: str = "embedding_scale",
    dim: int | None = None,
):
    """:func:`approx_cosine_from_codes` with the query as COLUMNS instead
    of a literal — the kNN-JOIN shape, where each candidate row carries
    its routed query vector (``qvec_col`` array<double>), its precomputed
    element sum (``qsum_col``) and norm (``qnorm_col``) from the
    broadcast routing table. Dimension validation happens driver-side in
    the join planner (the query set is collected there anyway), so the
    expression form carries no per-row guard. ``dim`` (round 15, from
    the layout spec) switches to the Arrow kernel above
    ``_EXPR_MAX_DIM`` — the expression form is d interpreted lambdas
    per pair (see the module comment); None keeps the expression."""
    if dim is not None and dim > _EXPR_MAX_DIM:
        return _sq8_query_cosine_udf()(
            qvec_col, qsum_col, qnorm_col,
            F.col(code_col), F.col(min_col), F.col(scale_col),
        )
    return sql_over(
        lambda q, qsum, qnorm: _sq8_cosine_sql(
            quote_ident(code_col), code_col, min_col, scale_col,
            q, qsum, qnorm,
        ),
        qvec_col, qsum_col, qnorm_col,
    )


def quantized_topk(
    qdf: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "qvec",
    min_col: str = "embedding_min",
    scale_col: str = "embedding_scale",
    vec_col: str | None = None,
    rescore_factor: int = 8,
    math: str = "float",
    rescore_mode: str = "pushdown",
) -> DataFrame:
    """Two-phase cosine top-k over a QUANTIZED corpus: phase 1 ranks by
    the reconstructed-vector cosine computed FROM THE CODES (the scan
    reads 1 byte/dim + two doubles instead of 8 bytes/dim — the ~4-8x
    I/O cut is the whole point at 100 TB), keeps the top
    ``k * rescore_factor``, and — when ``vec_col`` names a float column
    carried by ``quantize_embeddings(keep_vec=True)`` — phase 2 rescores
    those survivors with exact float cosine and returns the top k.

    The reconstructed norm needs NO second pass over the floats: with
    ``u = code + 128``, ``x̂ = u·s + m``, so ``‖x̂‖² = s²·Σu² + 2sm·Σu +
    d·m²`` — three integer reductions over the codes. Phase 1 is a
    TakeOrderedAndProject (per-partition heaps, k·factor rows to the
    driver-side merge); phase 2 touches only the survivors.

    APPROXIMATION CONTRACT: per-element reconstruction error is ≤
    scale/2, so phase-1 ranks can differ from exact ranks only where
    cosine gaps are smaller than the quantization noise; the rescore
    window absorbs swaps within ``k·rescore_factor``. Exactness is
    therefore EMPIRICAL, not guaranteed — the driver-gated query pins it
    hash-exact against the brute-force oracle at the gate SFs, and a
    corpus with adversarially tight cosine gaps needs a larger factor
    (or the float path). Without ``vec_col`` the approximate scores are
    returned as ``cosine_sim`` directly (top k, no rescore).

    NULL/unscorable rows (NULL codes, zero reconstructed norm) never
    rank, matching ``brute_force_topk``. ``math`` picks the RESCORE
    phase's cosine only (e.g. the portable ``"decimal12"`` cosine for
    oracle-exact runs); phase 1 always uses the closed-form code
    arithmetic above.

    ``rescore_mode`` picks how survivors reach phase 2:

    - ``"pushdown"`` (default): the k·rescore_factor survivor ids are
      COLLECTED (bounded — the centroid-table convention) and come back
      as an ``isin()`` predicate, so the float-column rescan is pruned
      at the source (``PushedFilters``). Right while k·factor is a
      driver-friendly list.
    - ``"join"``: survivors stay DISTRIBUTED — phase 2 is a broadcast
      semi-join of the survivor-id frame against the float column, no
      driver hop at all. Right when k·rescore_factor is large enough
      that a literal id list is unreasonable; the trade is a join
      instead of a source-pruned scan. Same result either way
      (plan-asserted + oracle-shared by test).
    """
    from cassandra_analytics_spark.operators.similarity import vector_math

    vector_math(math)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rescore_factor < 1:
        raise ValueError(
            f"rescore_factor must be >= 1, got {rescore_factor}"
        )
    if rescore_mode not in ("pushdown", "join"):
        raise ValueError(
            f"rescore_mode must be 'pushdown' or 'join', got {rescore_mode!r}"
        )
    qv = [float(x) for x in query_vec]
    if not qv or not all(_math.isfinite(x) for x in qv):
        # a NaN/Inf query scores every row to NULL → silent empty result
        raise ValueError(
            "quantized_topk: query vector must be non-empty and finite"
        )
    # a dimension mismatch raises loudly inside the expression (zip_with
    # would NULL-pad and silently return an EMPTY result); raise_error's
    # cast tracks the actual code-column type
    approx = _approx_score(
        qv, code_col, min_col, scale_col,
        qdf.schema[code_col].dataType.simpleString(),
    )
    return _phase2_exact_topk(
        qdf, approx, qv, k, id_col, vec_col, rescore_factor,
        rescore_mode, math,
    )


def _no_scores(qdf: DataFrame, id_col: str) -> DataFrame:
    """The empty ``(id_col, cosine_sim)`` top-k, its id typed like
    ``qdf``'s (so the empty and non-empty paths share one schema)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    return qdf.sparkSession.createDataFrame(
        [],
        StructType(
            [
                StructField(id_col, qdf.schema[id_col].dataType),
                StructField("cosine_sim", DoubleType()),
            ]
        ),
    )


def _sql_literal(value, dtype) -> str:
    """``value`` (as collected from a column of type ``dtype``) as SQL
    text of that type: strings escaped, anything else cast from its
    string form, so an ``IN`` list compares like the column."""
    if value is None:
        return "NULL"
    if isinstance(value, str):
        return sql_string(value)
    return f"CAST({sql_string(str(value))} AS {dtype.simpleString()})"


def _phase2_exact_topk(
    qdf: DataFrame,
    approx: str | Column,
    qv: list[float],
    k: int,
    id_col: str,
    vec_col: str | None,
    rescore_factor: int,
    rescore_mode: str,
    math: str,
) -> DataFrame:
    """The shared two phases of two-phase top-k (SQ8 ``quantized_topk`` /
    ``ann_index.query_ivf_index_quantized`` and PQ ``pq_adc_topk``):
    score ``qdf`` with ``approx`` (SQL text, or a kernel's Column), take
    the top ``k * rescore_factor``, rescore them with the exact ``math``
    cosine against the float column, return the top k. Without
    ``vec_col`` the approximate scores are final.

    Each stage is one DataFrame call over SQL text. Phase 1 projects ONLY
    (id, approx): carrying the float column through the
    TakeOrderedAndProject would make the scan read floats for EVERY row,
    silently defeating the 1-byte/dim claim (round-10 plan audit)."""
    idq = quote_ident(id_col)
    if isinstance(approx, str):
        scored = qdf.selectExpr(idq, f"{approx} AS __approx")
    else:
        scored = qdf.select(F.col(id_col), approx.alias("__approx"))
    scored = scored.where("__approx IS NOT NULL")
    if vec_col is None:
        return _top(scored.withColumnRenamed("__approx", "cosine_sim"),
                    "cosine_sim", id_col, k)
    survivors = _top(scored, "__approx", id_col, k * rescore_factor)
    if rescore_mode == "join":
        # distributed rescore: the survivor ids never touch the driver —
        # a broadcast inner join (k·factor rows) filters the float scan
        rescan = qdf.join(F.broadcast(survivors.select(id_col)), id_col)
    else:
        survivor_ids = [r[0] for r in survivors.select(id_col).collect()]
        if not survivor_ids:
            return _no_scores(qdf, id_col)
        dtype = qdf.schema[id_col].dataType
        ids = ", ".join(_sql_literal(v, dtype) for v in survivor_ids)
        rescan = qdf.where(f"{idq} IN ({ids})")
    exact = cosine_sql(quote_ident(vec_col), lit_vector_sql(qv), math)
    return _top(
        rescan.selectExpr(idq, f"{exact} AS cosine_sim").where(
            "cosine_sim IS NOT NULL"
        ),
        "cosine_sim", id_col, k,
    )


def _top(df: DataFrame, score: str, id_col: str, n: int) -> DataFrame:
    """The ``n`` rows of highest ``score``, ties by ascending id.
    ``F.desc``/``F.asc`` by name cost a third of the py4j round trips
    of ``Column.desc()`` or a list with ``ascending=``."""
    return df.orderBy(F.desc(score), F.asc(id_col)).limit(n)


def dequantize_embeddings(
    df: DataFrame,
    code_col: str = "qvec",
    min_col: str = "embedding_min",
    scale_col: str = "embedding_scale",
    out_col: str = "embedding",
) -> DataFrame:
    """Reconstruct ``out_col array<double>`` from int8 codes:
    ``x̂ = (code + 128) * scale + min``; per-element error ≤ scale/2."""
    rec = F.transform(
        F.col(code_col),
        lambda q: (q.cast("double") + F.lit(128.0)) * F.col(scale_col)
        + F.col(min_col),
    )
    return df.withColumn(out_col, rec)
