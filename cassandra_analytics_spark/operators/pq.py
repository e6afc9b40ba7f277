"""Product quantization (PQ) for embedding columns — the storage lever
PAST int8 scalar quantization.

SQ8 (:mod:`.quantize`) stores 1 byte/dim (8x smaller than float64, 4x
than float32). PQ stores ``m`` bytes per vector REGARDLESS of dimension
(Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011 — the FAISS ``PQm`` scheme): the vector is split
into ``m`` subvectors, each encoded as the id of its nearest centroid
in a per-subspace codebook of ``ks`` (≤256) TRAINED centroids, and a
query scores a code in ``m`` table lookups (ADC — asymmetric distance
computation) without ever reconstructing the vector. At d=64 / m=8
that is a 64x cut vs float64 (8x past SQ8) in scan bytes for the
candidate-ranking phase.

The codebook must be TRAINED (per-subspace k-means over a sample):
round 9 measured sampled (untrained) codebooks weak for IVF routing,
and PQ is strictly more codebook-sensitive — the recall oracle
(``scripts/measure_pq_recall_clustered.py``) gates this the same way
the planted-cluster sweep gated IVF. Training is driver-side numpy
over a BOUNDED sample (the FAISS posture: train on a sample, encode
distributed); encoding is one Arrow-batched numpy matmul per subspace
(the sanctioned vectorized-UDF path — an expression argmin over ks
centroids x m subspaces would embed m·ks struct entries in the plan,
the same analyzer wall the IVF assignment hit at k≈128).

Scoring math: with disjoint subspaces, ``x̂ = concat_i c_i[code_i]``,
so ``x̂·q = Σ_i (c_i[code_i]·q_i)`` — exactly the per-subspace LUT sum —
and ``‖x̂‖² = Σ_i ‖c_i[code_i]‖²``, which is computed ONCE at encode
time and stored (``pq_norm``), so phase 1 reads m bytes + one double
per row. Approximation is EMPIRICAL (no per-element bound like SQ8's
scale/2): the two-phase contract is :func:`~cassandra_analytics_spark.
operators.quantize.quantized_topk`'s — the rescore window absorbs
phase-1 rank swaps, pinned hash-exact at the driver gate SFs, recall
measured on planted clusters at scale.
"""

from __future__ import annotations

import math as _math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassandra_analytics_spark.fs import write_sidecar
from cassandra_analytics_spark.local_data import local_df
from cassandra_analytics_spark.operators.merge import quote_ident, sql_string
from cassandra_analytics_spark.operators.similarity import (
    _fold_sql,
    lit_vector,
    lit_vector_sql,
    sql_double,
    sql_over,
)


@dataclass(frozen=True)
class PQCodebook:
    """A trained product-quantization codebook: ``centroids[i][j]`` is
    the j-th centroid (length ``dim // m``) of subspace i. ``ks`` ≤ 256
    so codes fit a tinyint (stored as code − 128, the SQ8 convention)."""

    dim: int
    m: int
    ks: int
    centroids: tuple  # m x ks x (dim//m) nested tuples (hashable, serializable)

    @property
    def dsub(self) -> int:
        return self.dim // self.m


def train_pq_codebook(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 256,
    sample_size: int = 20_000,
    iterations: int = 20,
    seed: int = 42,
    id_col: str | None = None,
) -> PQCodebook:
    """Per-subspace k-means over a bounded sample — driver-side numpy
    (the FAISS train-on-sample posture; the sample collect is bounded
    like the IVF centroid table). The sample is RANDOM — the
    ``sample_size`` rows with the smallest seeded xxhash64 (a
    distributed top-N, TakeOrdered — no full count job, no dependence
    on partition order), not the first N in scan order: on a corpus
    sorted or partitioned by cluster a prefix sample trains the
    codebook on a biased subset and recall degrades (FAISS trains on a
    random sample; r13 ADVICE low). ``id_col`` SALTS the hash with the
    row-unique id so identical vectors spread across the hash order —
    hashing the vector alone maps every duplicate of one document to
    ONE hash value, and on a duplicate-heavy corpus a single
    low-hashing duplicate group can fill the whole sample with copies
    of one vector (r14 ADVICE low); the layout builders pass their id
    column, direct callers without stable ids keep the vector-only
    hash (still scan-order independent). Deterministic under ``seed``
    regardless of partitioning either way. Empty clusters are
    re-seeded from the farthest points so every codeword is live.
    Vectors shorter/longer than the first row's length, NULLs
    excluded; ``dim % m != 0`` and ``ks > 256`` are refused."""
    import numpy as np

    if m < 1:
        raise ValueError(f"train_pq_codebook: m must be >= 1, got {m}")
    if not 1 <= ks <= 256:
        raise ValueError(
            f"train_pq_codebook: ks must be in [1, 256] (codes are one "
            f"byte), got {ks}"
        )
    hash_cols = [F.col(vec_col)]
    if id_col is not None:
        hash_cols.append(F.col(id_col))
    rows = (
        df.select(F.col(vec_col), *(
            [F.col(id_col)] if id_col is not None else []
        ))
        .filter(F.col(vec_col).isNotNull())
        .orderBy(F.xxhash64(*hash_cols, F.lit(seed)))
        .limit(sample_size)
        .select(F.col(vec_col))
        .collect()
    )
    if not rows:
        raise ValueError("train_pq_codebook: no non-NULL vectors to train on")
    x = np.asarray([list(r[vec_col]) for r in rows], dtype=np.float64)
    n, dim = x.shape
    if dim % m != 0:
        raise ValueError(
            f"train_pq_codebook: dim {dim} is not divisible by m={m}"
        )
    k = min(ks, n)  # fewer sample points than codewords: shrink, stay live
    books = _pq_kmeans(x, m, k, iterations, seed)
    return PQCodebook(dim=dim, m=m, ks=k, centroids=books)


def _pq_kmeans(x, m: int, k: int, iterations: int, seed: int) -> tuple:
    """Per-subspace k-means of the ``n x dim`` sample ``x`` into ``m``
    books of ``k`` codewords (nested tuples), seeded from ``k`` sample
    rows drawn without replacement. A codeword no point is nearest to
    is re-seeded from the point farthest from its nearest codeword."""
    import numpy as np

    n, dim = x.shape
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = []
    for i in range(m):
        sub = x[:, i * dsub:(i + 1) * dsub]
        cents = sub[rng.choice(n, size=k, replace=False)].copy()
        for _ in range(max(1, iterations)):
            # assign: B x k squared distances via the expansion trick
            d2 = (
                (sub * sub).sum(axis=1, keepdims=True)
                - 2.0 * sub @ cents.T
                + (cents * cents).sum(axis=1)
            )
            assign = d2.argmin(axis=1)
            # np.add.at sums in row order, as a masked mean does, so
            # the means are bit-identical to a per-codeword loop's
            counts = np.bincount(assign, minlength=k)
            sums = np.zeros_like(cents)
            np.add.at(sums, assign, sub)
            live = counts > 0
            cents[live] = sums[live] / counts[live, None]
            cents[~live] = sub[d2.min(axis=1).argmax()]
        books.append(tuple(tuple(float(v) for v in c) for c in cents))
    return tuple(books)


def pq_encode(
    df: DataFrame,
    codebook: PQCodebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pqcode",
    norm_col: str = "pq_norm",
    keep_vec: bool = False,
    with_residual: bool = False,
    anchor_col: str | None = None,
    extra_cols: tuple = (),
) -> DataFrame:
    """Encode every vector as ``m`` tinyint codes (code − 128) plus the
    reconstructed norm ``‖x̂‖`` (one double, computed here once so
    phase-1 scoring never touches floats). One Arrow-batched numpy
    argmin per subspace (B x ks matmul, BLAS). NULL vectors produce
    NULL codes/norm; a vector whose length differs from the codebook's
    dim raises loudly inside the batch.

    ``anchor_col`` (round 15 — the FAISS IVF-ADC residual-encoding
    primitive): when set, the CODES quantize ``x − anchor`` (for IVF
    layouts the anchor is the row's coarse centroid, so the codebook
    spans the much tighter residual distribution) while every stored
    STATISTIC still describes the full reconstruction ``x̂ = anchor +
    ĉ``: ``norm_col`` = ‖x̂‖, ``pq_tnorm`` = ‖x‖, ``pq_err`` =
    ‖x − x̂‖ — so every downstream consumer of the stored doubles
    (two-phase rescore windows, the measured-residual bound) works
    UNCHANGED; only ADC scoring must add the anchor's contribution
    (``q·x̂ = q·anchor + Σᵢ q_subᵢ·cᵢ[codeᵢ]`` — a per-cell constant
    for IVF layouts). A NULL anchor on a non-NULL vector raises (it
    would silently encode the raw vector against a residual codebook).

    ``with_residual=True`` additionally stores the TRUE norm ``‖x‖``
    (``pq_tnorm``) and the MEASURED reconstruction residual
    ``‖x − x̂‖`` (``pq_err``) — two doubles per row that turn PQ's
    empirical approximation into a per-row PROVEN bound: for any query
    ``q``, ``|q·x − q·x̂| ≤ ‖q‖·pq_err``, so ``cos(q, x) ≤
    ADC/(‖q‖·pq_tnorm) + pq_err/pq_tnorm`` — an exactness-preserving
    prefilter margin with NO closed-form codebook assumption (the SQ8
    margin's PQ twin, used by the streaming SemDeDup PQ path).

    ``extra_cols`` pass through to the output unchanged (e.g. the IVF
    ``cell`` column when encoding an already-assigned frame)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cb = [np.asarray(b, dtype=np.float64) for b in codebook.centroids]
    dim, m, dsub = codebook.dim, codebook.m, codebook.dsub

    struct_type = (
        "struct<codes: array<tinyint>, nrm: double, tnrm: double, "
        "err: double>"
        if with_residual
        else "struct<codes: array<tinyint>, nrm: double>"
    )

    def _encode_block(mat, anc):
        """mat: (B, dim) float64; anc: (B, dim) or None. Returns
        (codes int16, nrm, tnrm, err) over the FULL reconstruction."""
        res = mat if anc is None else mat - anc
        codes = np.empty((mat.shape[0], m), dtype=np.int16)
        nrm2 = np.zeros(mat.shape[0], dtype=np.float64)
        err2 = np.zeros(mat.shape[0], dtype=np.float64)
        for i in range(m):
            sub = res[:, i * dsub:(i + 1) * dsub]
            d2 = (
                (sub * sub).sum(axis=1, keepdims=True)
                - 2.0 * sub @ cb[i].T
                + (cb[i] * cb[i]).sum(axis=1)
            )
            a = d2.argmin(axis=1)
            codes[:, i] = a - 128
            recon = cb[i][a]
            if anc is not None:
                recon = recon + anc[:, i * dsub:(i + 1) * dsub]
            nrm2 += (recon * recon).sum(axis=1)
            # exact per-subspace residual ‖x_sub − x̂_sub‖² computed
            # directly (NOT the d2 expansion-trick value, whose
            # cancellation can go slightly negative); with an anchor
            # x̂_sub = anc_sub + c[a], so the diff is res_sub − c[a]
            diff = sub - cb[i][a]
            err2 += (diff * diff).sum(axis=1)
        nrm = np.sqrt(nrm2)
        tnrm = np.sqrt((mat * mat).sum(axis=1))
        err = np.sqrt(err2)
        return codes, nrm, tnrm, err

    def _emit(mask, codes, nrm, tnrm, err):
        import pandas as pd

        it = iter(range(int(mask.sum())))
        enc_codes = (
            [[int(c) for c in codes[j]] for j in range(codes.shape[0])]
            if mask.any()
            else []
        )
        out = {"codes": [], "nrm": []}
        if with_residual:
            out["tnrm"] = []
            out["err"] = []
        for ok in mask:
            if ok:
                j = next(it)
                out["codes"].append(enc_codes[j])
                out["nrm"].append(float(nrm[j]))
                if with_residual:
                    out["tnrm"].append(float(tnrm[j]))
                    out["err"].append(float(err[j]))
            else:
                for k in out:
                    out[k].append(None)
        return pd.DataFrame(out)

    def _to_mat(series, what):
        mat = np.asarray([list(v) for v in series], dtype=np.float64)
        if mat.ndim != 2 or mat.shape[1] != dim:
            raise ValueError(
                f"pq_encode: codebook is {dim}-d but found {what} "
                f"of shape {mat.shape} — dimension mismatch"
            )
        return mat

    if anchor_col is None:

        @pandas_udf(struct_type)
        def _enc(vecs):
            mask = vecs.notna()
            codes = nrm = tnrm = err = None
            if mask.any():
                mat = _to_mat(vecs[mask], "vectors")
                codes, nrm, tnrm, err = _encode_block(mat, None)
            return _emit(mask, codes, nrm, tnrm, err)

        enc = _enc(F.col(vec_col))
    else:

        @pandas_udf(struct_type)
        def _enc(vecs, anchors):
            mask = vecs.notna()
            codes = nrm = tnrm = err = None
            if mask.any():
                if not anchors[mask].notna().all():
                    raise ValueError(
                        "pq_encode: NULL anchor on a non-NULL vector — "
                        "encoding the raw vector against a RESIDUAL "
                        "codebook would silently mis-code it; fix the "
                        "anchor column (every assigned row has a "
                        "centroid)"
                    )
                mat = _to_mat(vecs[mask], "vectors")
                anc = _to_mat(anchors[mask], "anchors")
                codes, nrm, tnrm, err = _encode_block(mat, anc)
            return _emit(mask, codes, nrm, tnrm, err)

        enc = _enc(F.col(vec_col), F.col(anchor_col))
    cols = [F.col(id_col)]
    if keep_vec:
        cols.append(F.col(vec_col))
    cols.extend(
        [
            enc.getField("codes").alias(code_col),
            enc.getField("nrm").alias(norm_col),
        ]
    )
    if with_residual:
        cols.extend(
            [
                enc.getField("tnrm").alias("pq_tnorm"),
                enc.getField("err").alias("pq_err"),
            ]
        )
    cols.extend(F.col(c) for c in extra_cols)
    return df.select(*cols)


def _guard_code_range_sql(c: str, ks: int, caller: str) -> str:
    """SQL text wrapping the code array ``c`` so any code indexing past a
    ``ks``-codeword codebook raises LOUDLY instead of silently scoring
    as NULL: codes are stored as argmin − 128, so a frame encoded with a
    LARGER-ks codebook (same m) carries values whose ``code + 128 >=
    ks`` — ``element_at`` against this codebook's flat literal would
    return NULL under non-ANSI mode and the row (or pair) would silently
    vanish from the result. Shared by every direct-API PQ scorer
    (``pq_adc_topk``, ``pq_adc_dot_expr``, ``pq_pairs_from_cells``) so
    they self-check identically (r14 ADVICE low); the persisted-layout
    paths additionally check spec geometry before ever building the
    expression. NULL code vectors pass through (the callers' NULL
    contract)."""
    msg = sql_string(
        f"{caller}: codebook has ks={ks} codewords but found a code past "
        "that range — the frame was encoded with a different (larger-ks) "
        "codebook; re-encode or pass the matching codebook"
    )
    return (
        f"CASE WHEN {c} IS NULL THEN {c} "
        f"WHEN exists({c}, __c -> CAST(__c AS INT) + 128 >= {ks}) "
        f"THEN CAST(raise_error({msg}) AS ARRAY<TINYINT>) ELSE {c} END"
    )


def _guard_code_range(ccol, ks: int, caller: str):
    """The Column form of :func:`_guard_code_range_sql`."""
    return sql_over(lambda c: _guard_code_range_sql(c, ks, caller), ccol)


# The per-PAIR ADC scorers below have two implementations. The
# expression form (nested transform/aggregate over the flat codebook
# literal) is the default at low dim — zero Python in the plan. But
# Spark's higher-order functions are NOT whole-stage-codegen'd: every
# per-element lambda evaluates through the expression INTERPRETER, so
# the per-pair cost is m·dsub = dim interpreted closures, each several
# node evaluations — fine at 64-d (the r14 measurements), but the
# round-15 512-d A/B measured the PQ streaming arm at 181 s/trigger vs
# SQ8's 14 s on the SAME pair counts: at PQ's own design point (high
# dim) the scorer was interpreter-bound, inverting the operator's
# value. Above ``_PQ_EXPR_MAX_DIM`` the scorers therefore switch to an
# Arrow-batched numpy kernel (the sanctioned vectorized-UDF path, same
# argument as pq_encode): per batch, m fancy-indexed gathers of
# (B, dsub) centroid rows — the codebook rides the UDF closure (~1 MB
# at m=16/ks=256/512-d), NOT the plan. Guards (m-length, code range)
# move inside the kernel and raise the same loud messages. The scores
# feed only the margin PREFILTER (1e-9 headroom absorbs numpy-vs-
# expression ulp drift); the exact confirm is unchanged, so published
# verdicts are identical either way.
_PQ_EXPR_MAX_DIM = 128


def _pq_codebook_matrix(codebook: PQCodebook):
    import numpy as np

    return np.asarray(codebook.centroids, dtype=np.float64)  # m x ks x dsub


def _check_codes_batch(arr, m: int, ks: int, caller: str):
    """Shared kernel-side guards: m-length and code-range, with the
    same messages as the expression path (tests match on them)."""
    if arr.ndim != 2 or arr.shape[1] != m:
        raise ValueError(
            f"{caller}: codebook has m={m} subspaces but found a code "
            f"vector of another length — the frame was encoded with a "
            "different codebook"
        )
    if (arr < 0).any() or (arr >= ks).any():
        raise ValueError(
            f"{caller}: codebook has ks={ks} codewords but found a code "
            "past that range — the frame was encoded with a different "
            "(larger-ks) codebook; re-encode or pass the matching codebook"
        )


def _pq_sym_adc_udf(codebook: PQCodebook):
    """Arrow-batched symmetric ADC ``x̂·ŷ`` over two code columns:
    ``Σ_i c_i[a_i]·c_i[b_i]`` as m per-subspace gathers per batch."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cb = _pq_codebook_matrix(codebook)
    m, ks = codebook.m, codebook.ks

    @pandas_udf("double")
    def _score(ca, cbc):
        import pandas as pd

        out = np.full(len(ca), np.nan)
        mask = (ca.notna() & cbc.notna()).to_numpy()
        if mask.any():
            a = np.asarray(
                [list(v) for v in ca[mask]], dtype=np.int64
            ) + 128
            b = np.asarray(
                [list(v) for v in cbc[mask]], dtype=np.int64
            ) + 128
            _check_codes_batch(a, m, ks, "pq_pairs_from_cells")
            _check_codes_batch(b, m, ks, "pq_pairs_from_cells")
            acc = np.zeros(a.shape[0], dtype=np.float64)
            for i in range(m):
                acc += (cb[i][a[:, i]] * cb[i][b[:, i]]).sum(axis=1)
            out[mask] = acc
        res = pd.Series(out)
        return res.where(pd.notna(res), None)

    return _score


def _pq_asym_adc_udf(codebook: PQCodebook):
    """Arrow-batched asymmetric ADC ``v·x̂`` over a float vector column
    and a code column: ``Σ_i v_sub_i · c_i[code_i]``."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cb = _pq_codebook_matrix(codebook)
    dim, m, ks, dsub = codebook.dim, codebook.m, codebook.ks, codebook.dsub

    @pandas_udf("double")
    def _score(vecs, codes):
        import pandas as pd

        out = np.full(len(vecs), np.nan)
        mask = (vecs.notna() & codes.notna()).to_numpy()
        if mask.any():
            v = np.asarray([list(x) for x in vecs[mask]], dtype=np.float64)
            c = np.asarray(
                [list(x) for x in codes[mask]], dtype=np.int64
            ) + 128
            if v.ndim != 2 or v.shape[1] != dim:
                raise ValueError(
                    f"pq_adc_dot_expr: codebook is {dim}-d but found "
                    f"vectors of shape {v.shape} — dimension mismatch"
                )
            _check_codes_batch(c, m, ks, "pq_adc_dot_expr")
            acc = np.zeros(v.shape[0], dtype=np.float64)
            for i in range(m):
                acc += (
                    v[:, i * dsub:(i + 1) * dsub] * cb[i][c[:, i]]
                ).sum(axis=1)
            out[mask] = acc
        res = pd.Series(out)
        return res.where(pd.notna(res), None)

    return _score


def pq_adc_dot_expr(codebook: PQCodebook, vec_col, code_col):
    """The asymmetric ADC dot ``v · x̂`` as a Column over a float vector
    column and a corpus code column — for callers whose "query side" is
    itself a DataFrame of FLOAT vectors: ``Σ_i v_sub_i · c_i[code_i]``,
    per pair against ONE flattened m·ks·dsub codebook literal (131 KB
    at m=16/ks=256/d=64 — plan-sized, shared by every row) at low dim,
    or the Arrow kernel above ``_PQ_EXPR_MAX_DIM`` (the round-15 512-d
    finding — see the module comment).

    Why not a per-row LUT column: a LUT is m·ks doubles PER ROW (32 KB
    at m=16/ks=256), and Catalyst sizes the frame from pre-UDF stats —
    at the 100x trigger shape it auto-broadcast a ~2 GB materialized
    LUT frame and died in the BroadcastExchange build (round-14
    measured failure). Per-row LUTs only pay when the query set is
    driver-collected and rides a one-row-per-query payload (the
    ``ivf_knn_join(use_pq=True)`` shape).

    HIGH-DIM CAVEAT (round 15): this asymmetric shape ships the FLOAT
    vector into every pair it scores — ~4 KB/pair at 512-d — which is
    why the streaming SemDeDup stages moved to the SYMMETRIC
    code-vs-code form (:func:`pq_sym_adc_col` under the two-sided
    measured bound; both sides ~m bytes). Prefer the symmetric form
    whenever the query side can be encoded with the same codebook;
    this one remains for float-query-vs-codes scoring where encoding
    the query side is not an option."""
    ks, dsub = codebook.ks, codebook.dsub
    vcol = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    ccol = F.col(code_col) if isinstance(code_col, str) else code_col
    if codebook.dim > _PQ_EXPR_MAX_DIM:
        # high dim: the HOF expression is interpreter-bound (m·dsub
        # interpreted lambdas per pair — the 512-d A/B measured
        # 13x-slower triggers); the Arrow kernel carries the same
        # guards and feeds the same 1e-9-headroom prefilter
        return _pq_asym_adc_udf(codebook)(vcol, ccol)
    flat = [
        float(x)
        for book in codebook.centroids
        for cent in book
        for x in cent
    ]
    # ONE driver call (r17): F.lit(list) issues a py4j round-trip per
    # element — ~1 s of plan-build latency for a 2,048-double codebook
    flat_lit = lit_vector(flat)
    # loud on codes from a larger-ks codebook (shared guard) — without
    # it element_at returns NULL and the pair silently drops
    ccol = _guard_code_range(ccol, ks, "pq_adc_dot_expr")
    contrib = F.transform(
        ccol,
        lambda c, i: F.aggregate(
            F.sequence(F.lit(1), F.lit(dsub)),
            F.lit(0.0),
            lambda acc, t: acc
            + F.element_at(vcol, i * F.lit(dsub) + t)
            * F.element_at(
                flat_lit,
                (i * F.lit(ks) + c.cast("int") + F.lit(128))
                * F.lit(dsub)
                + t,
            ),
        ),
    )
    return F.aggregate(contrib, F.lit(0.0), lambda acc, x: acc + x)


def _expr_sym_adc(qa_raw, qb_raw, m: int, ks: int, dsub: int, flat_lit):
    """The low-dim expression form of the symmetric ADC
    ``x̂·ŷ = Σ_i c_i[a_i]·c_i[b_i]`` against the flat codebook literal
    (codes stored as argmin − 128), with the shared range guard on both
    sides — an out-of-range code raises instead of NULLing the pair
    out of the prefilter. High dim uses :func:`_pq_sym_adc_udf` (see
    ``_PQ_EXPR_MAX_DIM``)."""
    qa = _guard_code_range(qa_raw, ks, "pq_pairs_from_cells")
    qb = _guard_code_range(qb_raw, ks, "pq_pairs_from_cells")
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda i: F.aggregate(
                F.sequence(F.lit(1), F.lit(dsub)),
                F.lit(0.0),
                lambda acc, t: acc
                + F.element_at(
                    flat_lit,
                    (
                        i * F.lit(ks)
                        + F.element_at(qa, i + 1).cast("int")
                        + F.lit(128)
                    )
                    * F.lit(dsub)
                    + t,
                )
                * F.element_at(
                    flat_lit,
                    (
                        i * F.lit(ks)
                        + F.element_at(qb, i + 1).cast("int")
                        + F.lit(128)
                    )
                    * F.lit(dsub)
                    + t,
                ),
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_sym_adc_col(codebook: PQCodebook, code_a, code_b):
    """The symmetric (code-vs-code) ADC ``x̂·ŷ`` as a Column, with the
    dim-based implementation dispatch: the flat-literal expression at
    low dim, the Arrow numpy kernel above ``_PQ_EXPR_MAX_DIM`` (the
    512-d finding — see the module comment). Shared by the within-batch
    pair stage (:func:`pq_pairs_from_cells`) and the streaming
    batch-vs-corpus stage so the two can never diverge on scorer or
    guards."""
    if codebook.dim > _PQ_EXPR_MAX_DIM:
        return _pq_sym_adc_udf(codebook)(code_a, code_b)
    flat_lit = lit_vector(  # one driver call, not one per element (r17)
        [
            float(x)
            for book in codebook.centroids
            for cent in book
            for x in cent
        ]
    )
    return _expr_sym_adc(
        code_a, code_b, codebook.m, codebook.ks, codebook.dsub, flat_lit
    )


def pq_code_sqnorm_col(
    codebook: PQCodebook, code_col, caller: str = "pq_code_sqnorm_col"
):
    """Per-row squared norm of the DECODED code component
    ``‖D(codes)‖² = Σ_i ‖c_i[code_i]‖²`` as a Column — m lookups into a
    flat m·ks literal of precomputed per-codeword squared norms.
    Dim-INDEPENDENT cost (the norms are folded at plan build), so this
    stays a pure expression at every dim — no Arrow dispatch needed
    (contrast ``_PQ_EXPR_MAX_DIM``: the per-pair ADC is m·dsub lambdas,
    this is m). Per-ROW, so callers compute it once BEFORE any pair
    expansion. NULL code vectors yield NULL (the callers' NULL
    contract); out-of-range codes raise via the shared guard."""
    ks = codebook.ks
    ccol = F.col(code_col) if isinstance(code_col, str) else code_col
    sq_lit = lit_vector(  # one driver call, not one per element (r17)
        [
            float(sum(x * x for x in cent))
            for book in codebook.centroids
            for cent in book
        ]
    )
    ccol = _guard_code_range(ccol, ks, caller)
    return F.aggregate(
        F.transform(
            ccol,
            lambda c, i: F.element_at(
                sq_lit, i * F.lit(ks) + c.cast("int") + F.lit(129)
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_sym_recon_dot(
    codebook: PQCodebook,
    code_a,
    code_b,
    nh_a,
    nh_b,
    ds_a,
    ds_b,
    encoding: str = "raw",
):
    """Symmetric reconstruction dot ``x̂·ŷ`` for a SAME-CELL pair under
    either pinned encoding (round 16 — the residual × streaming
    composition, VERDICT r15 item 2).

    ``raw``: ``x̂·ŷ`` IS the code-vs-code ADC (:func:`pq_sym_adc_col`)
    — byte-identical to the pre-r16 scorer.

    ``residual``: codes quantize ``x − c`` with the pair's SHARED cell
    centroid c (the streaming pair stages only ever pair within a
    cell), so writing ``x̂ = c + r̂_x``:

        ``x̂·ŷ = ‖c‖² + c·r̂_x + c·r̂_y + r̂_x·r̂_y``, and from
        ``‖x̂‖² = ‖c‖² + 2·c·r̂_x + ‖r̂_x‖²``:
        ``c·r̂_x = (‖x̂‖² − ‖c‖² − ‖r̂_x‖²)/2`` —

    substituting both, the centroid terms CANCEL:

        ``x̂·ŷ = SDC(q_x, q_y) + (‖x̂‖² + ‖ŷ‖² − ‖r̂_x‖² −
        ‖r̂_y‖²) / 2``

    where ``‖x̂‖`` is the stored ``pq_norm`` (pq_encode stores the FULL
    reconstruction norm under every encoding) and ``‖r̂‖² = SDC(q, q) =
    Σ_i ‖c_i[code_i]‖²`` is the per-ROW :func:`pq_code_sqnorm_col` —
    no centroid join, no anchor LUT, no new stored column: the anchor
    channel the asymmetric read path carries explicitly
    (``ann_index.py`` residual reads) reduces to stored doubles for
    same-cell pairs. The measured-residual prefilter bound is UNCHANGED
    (``pq_err``/``pq_tnorm`` describe the full reconstruction
    regardless of encoding); the only float drift vs an explicit-anchor
    evaluation is sqrt-then-square ulp noise on ``pq_norm``, orders
    below the bound's 1e-9 headroom."""
    if encoding not in ("raw", "residual"):
        raise ValueError(
            f"encoding must be 'raw' or 'residual', got {encoding!r}"
        )
    base = pq_sym_adc_col(codebook, code_a, code_b)
    if encoding == "raw":
        return base
    return base + (
        nh_a * nh_a + nh_b * nh_b - ds_a - ds_b
    ) * F.lit(0.5)


def pq_pairs_from_cells(
    assigned: DataFrame,
    codebook: PQCodebook,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = 10_000,
    math: str = "float",
    skew_observation=None,
    encoding: str = "raw",
) -> DataFrame:
    """Within-cell near-dup pairs over a PQ-encoded, RESIDUAL-carrying
    frame (``pq_encode(with_residual=True)`` columns + ``cell``): the
    quadratic pair expansion carries m-byte CODES + three doubles
    through the cell exchange instead of the float vectors — the PQ
    twin of ``ann_index._quantized_pairs_from_cells`` (SQ8), the
    exchange that dominates SemDeDup at corpus scale.

    The prefilter is exactness-preserving by the PER-ROW MEASURED
    bound (PQ's answer to SQ8's closed form): writing x = x̂ + e_x
    with stored ``pq_err = ‖e‖`` and ``pq_tnorm = ‖x‖``,

        x·y = x̂·ŷ + x̂·e_y + e_x·ŷ + e_x·e_y, so
        |x·y − x̂·ŷ| ≤ ‖x̂‖·r_y + ‖ŷ‖·r_x + r_x·r_y   (Cauchy-Schwarz)

    and a pair survives iff ``x̂·ŷ/(‖x‖‖y‖) ≥ threshold − (‖x̂‖r_y +
    ‖ŷ‖r_x + r_x r_y)/(‖x‖‖y‖) − 1e-9``: no true pair can be dropped,
    false survivors die in the exact float confirm (joined back by id
    from the same frame), so the output is IDENTICAL to the float pair
    stage. ``x̂·ŷ`` is the symmetric (code-vs-code) ADC — m·dsub = dim
    multiplies per pair against the flat codebook literal, pure
    codegen, the same arithmetic as a float dot over ~1/12 the
    shuffled payload. ``math`` enters ONLY the exact confirm (the bound
    is stated for standard float math; the 1e-9 headroom covers ulp
    drift). Requires unique ids (the confirm
    joins by id); NULL-code/NULL-vector rows never pair.

    ``encoding`` (round 16) must match the frame's pinned code
    encoding: ``"residual"`` frames carry one extra per-row double
    (``‖D(codes)‖²``, computed pre-expansion) through the pair struct
    and score via :func:`pq_sym_recon_dot`'s centroid-cancelling
    identity — same bound, same confirm, verdicts identical to the
    float stage under either encoding."""
    from cassandra_analytics_spark.operators.dedup import (
        _bucket_candidate_pairs,
    )
    from cassandra_analytics_spark.operators.similarity import vector_op

    if encoding not in ("raw", "residual"):
        raise ValueError(
            f"encoding must be 'raw' or 'residual', got {encoding!r}"
        )
    # the confirm takes the math's Arrow kernels where it has them (r16:
    # the decimal expression pays 3d interpreted lambdas per surviving
    # pair — dot + both norms per PAIR)
    _pd, _rn = vector_op(math, "dot"), vector_op(math, "norm")
    m_ = codebook.m
    residual_enc = encoding == "residual"
    struct_fields = [
        F.col("pqcode").alias("q"),
        F.col("pq_norm").alias("nh"),
        F.col("pq_tnorm").alias("tn"),
        F.col("pq_err").alias("r"),
        F.col("cell").alias("c"),
    ]
    if residual_enc:
        # ‖D(codes)‖² per ROW, before the quadratic expansion — the
        # one extra double the centroid-cancelling identity needs
        struct_fields.append(
            pq_code_sqnorm_col(
                codebook, F.col("pqcode"), "pq_pairs_from_cells"
            ).alias("ds")
        )
    tagged = assigned.filter(
        F.col(vec_col).isNotNull() & F.col("pqcode").isNotNull()
    ).select(
        id_col,
        F.struct(*struct_fields).alias("__p"),
        F.col("cell").alias("__cell"),
    )
    pairs = _bucket_candidate_pairs(
        tagged, ["__cell"], id_col, "__p", max_cluster,
        skew_observation=skew_observation,
    )
    pa, pb = F.col("pa"), F.col("pb")
    len_guard = F.when(
        (F.size(pa["q"]) == F.lit(m_)) & (F.size(pb["q"]) == F.lit(m_)),
        F.lit(True),
    ).otherwise(
        F.raise_error(
            F.lit(
                f"pq_pairs_from_cells: codebook has m={m_} subspaces but "
                "found a code vector of another length — the frame was "
                "encoded with a different codebook"
            )
        ).cast("boolean")
    )
    # symmetric ADC: x̂·ŷ = Σ_i c_i[a_i]·c_i[b_i] against the flat
    # codebook literal (codes are stored as argmin − 128); both sides
    # go through the shared range guard — an out-of-range code from a
    # larger-ks codebook raises instead of NULLing the pair out of the
    # prefilter (which would silently break the exactness bound).
    # High dim routes through the Arrow kernel instead (guards inside;
    # see _PQ_EXPR_MAX_DIM — the HOF expression is interpreter-bound
    # at m·dsub lambdas per pair, the 512-d A/B finding). Residual
    # frames add the centroid-cancelling correction from the per-row
    # stored doubles (pq_sym_recon_dot's derivation).
    dot_rec = pq_sym_recon_dot(
        codebook, pa["q"], pb["q"], pa["nh"], pb["nh"],
        pa["ds"] if residual_enc else None,
        pb["ds"] if residual_enc else None,
        encoding=encoding,
    )
    approx = F.when(
        len_guard, F.try_divide(dot_rec, pa["tn"] * pb["tn"])
    )
    margin = F.try_divide(
        pa["nh"] * pb["r"] + pb["nh"] * pa["r"] + pa["r"] * pb["r"],
        pa["tn"] * pb["tn"],
    ) + F.lit(1e-9)
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
    va = assigned.select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("__va")
    )
    vb = assigned.select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("__vb")
    )
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


def pq_adc_topk(
    qdf: DataFrame,
    codebook: PQCodebook,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pqcode",
    norm_col: str = "pq_norm",
    vec_col: str | None = None,
    rescore_factor: int = 8,
    math: str = "float",
    rescore_mode: str = "pushdown",
    extra_dot=None,
) -> DataFrame:
    """Two-phase cosine top-k over a PQ-encoded corpus: phase 1 ranks by
    ADC — the query's per-subspace dot products against every codeword
    are precomputed driver-side into one m·ks literal table, and each
    row's score is m indexed lookups summed (``transform`` with index +
    ``element_at`` — pure codegen, the scan reads m bytes + one double
    per row); phase 2 rescores the top ``k * rescore_factor`` survivors
    with the exact ``math`` cosine (same machinery and ``rescore_mode``
    contract as ``quantized_topk`` — the two share phase 2).

    APPROXIMATION CONTRACT: PQ reconstruction error has no closed
    per-element bound (it is the subspace k-means residual), so
    phase-1 exactness is EMPIRICAL like SQ8's but coarser at equal m —
    the driver gate pins hash-exactness at the gate SFs and the
    planted-cluster recall sweep measures it at scale
    (PERF.md). NULL/unscorable rows never rank; a code vector whose
    length differs from m raises loudly.

    ``extra_dot`` (round 15, residual-encoded IVF-PQ layouts): optional
    SQL expression text ADDED to the ADC sum before normalization — the
    anchor's contribution ``q·centroid[cell]``, a per-cell constant
    the caller derives from the row's partition column. The stored
    ``norm_col`` already describes the full reconstruction, so only
    the dot needs the correction."""
    from cassandra_analytics_spark.operators.similarity import vector_math

    vector_math(math)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rescore_factor < 1:
        raise ValueError(f"rescore_factor must be >= 1, got {rescore_factor}")
    if rescore_mode not in ("pushdown", "join"):
        raise ValueError(
            f"rescore_mode must be 'pushdown' or 'join', got {rescore_mode!r}"
        )
    qv = [float(x) for x in query_vec]
    if not qv or not all(_math.isfinite(x) for x in qv):
        raise ValueError(
            "pq_adc_topk: query vector must be non-empty and finite"
        )
    if len(qv) != codebook.dim:
        raise ValueError(
            f"pq_adc_topk: codebook is {codebook.dim}-d but the query "
            f"vector is {len(qv)}-d"
        )
    qnorm = _math.sqrt(sum(x * x for x in qv))
    m, ks, dsub = codebook.m, codebook.ks, codebook.dsub
    # the ADC lookup table: lut[i*ks + j] = q_i · centroids[i][j]
    lut = [
        sum(
            qv[i * dsub + t] * codebook.centroids[i][j][t]
            for t in range(dsub)
        )
        for i in range(m)
        for j in range(ks)
    ]
    # the LUT rides the SQL text: one driver call for the whole score
    # (r17 measured ~0.26 s of py4j chatter for a 512-double F.lit list)
    c = quote_ident(code_col)
    dim_msg = sql_string(
        f"pq_adc_topk: codebook has m={m} subspaces but found a code "
        "vector of length "
    )
    # dim guard here, then the SHARED code-range guard (r13/r14 ADVICE
    # lows): a larger-ks encode would index past this LUT and NULL the
    # row out silently under non-ANSI element_at.
    guarded = (
        f"CASE WHEN {c} IS NULL THEN {c} WHEN NOT (size({c}) = {m}) THEN "
        f"CAST(raise_error(concat({dim_msg}, CAST(size({c}) AS STRING))) "
        f"AS ARRAY<TINYINT>) "
        f"ELSE {_guard_code_range_sql(c, ks, 'pq_adc_topk')} END"
    )
    # element_at is 1-based; stored code = argmin − 128
    adc = _fold_sql(
        f"transform({guarded}, (__c, __i) -> element_at({lit_vector_sql(lut)}, "
        f"__i * {ks} + CAST(__c AS INT) + 129))",
        "0D",
    )
    if extra_dot is not None:
        adc = f"{adc} + ({extra_dot})"
    approx = f"try_divide({adc}, {quote_ident(norm_col)} * {sql_double(qnorm)})"
    from cassandra_analytics_spark.operators.quantize import (
        _phase2_exact_topk,
    )

    return _phase2_exact_topk(
        qdf, approx, qv, k, id_col, vec_col, rescore_factor,
        rescore_mode, math,
    )


_PQ_SPEC_SCHEMA = "format string, dim int, m int, ks int, keep_vec boolean"


def _write_codebook(spark, index_path: str, codebook: PQCodebook) -> None:
    """Persist ``codebook`` as the ``{index_path}_codebook`` sidecar, one
    row per (subspace, code)."""
    write_sidecar(
        spark, f"{index_path}_codebook",
        [
            (i, j, list(codebook.centroids[i][j]))
            for i in range(codebook.m)
            for j in range(codebook.ks)
        ],
        "sub int, code int, centroid array<double>",
    )


def save_pq_index(
    df: DataFrame,
    index_path: str,
    codebook: PQCodebook | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = True,
    m: int = 16,
    ks: int = 256,
    sample_size: int = 20_000,
    iterations: int = 15,
    seed: int = 42,
) -> PQCodebook:
    """Materialize a PQ-encoded corpus as a PERSISTED layout — the PQ
    twin of the LSH/IVF layouts' spec discipline: the encoded table at
    ``index_path``, the codebook at ``{index_path}_codebook`` (one row
    per (subspace, code) centroid — metadata-sized), and a spec at
    ``{index_path}_spec`` pinning (dim, m, ks, keep_vec) so reads
    refuse a layout whose geometry they cannot honor. ``codebook=None``
    trains one here (:func:`train_pq_codebook`); passing one reuses an
    external fit. ``keep_vec=False`` drops the float column — 
    approximate-only reads at m bytes + one double per row (the
    archival-tier shape); ``query_pq_index`` then refuses rescore
    requests LOUDLY instead of silently returning approximate scores.

    The spec is deleted before the layout overwrite (crash mid-rebuild
    leaves a detectably spec-less layout, the LSH/IVF convention)."""
    spark = df.sparkSession
    if codebook is None:
        codebook = train_pq_codebook(
            df, vec_col=vec_col, m=m, ks=ks, sample_size=sample_size,
            iterations=iterations, seed=seed, id_col=id_col,
        )
    from cassandra_analytics_spark.fs import delete_path

    delete_path(spark, f"{index_path}_spec")
    pq_encode(
        df, codebook, id_col=id_col, vec_col=vec_col, keep_vec=keep_vec
    ).write.mode("overwrite").parquet(index_path)
    _write_codebook(spark, index_path, codebook)
    write_sidecar(
        spark, f"{index_path}_spec",
        [("pq-v1", codebook.dim, codebook.m, codebook.ks, keep_vec)],
        _PQ_SPEC_SCHEMA,
    )
    return codebook


def read_pq_spec(spark, index_path: str) -> dict:
    """The persisted spec of a PQ layout; loud on missing/corrupt."""
    from cassandra_analytics_spark.fs import read_sidecar

    rows = read_sidecar(spark, f"{index_path}_spec")
    if rows is None:
        raise ValueError(
            f"{index_path!r} has no persisted PQ spec "
            f"({index_path}_spec) — not a save_pq_index layout (or a "
            "rebuild crashed mid-write; rebuild with save_pq_index)"
        )
    if len(rows) != 1 or rows[0].get("format") != "pq-v1":
        raise ValueError(
            f"corrupt PQ spec at {index_path}_spec: expected one "
            f"'pq-v1' row, found {rows!r}"
        )
    return rows[0]


def load_pq_codebook(spark, index_path: str) -> PQCodebook:
    """Rehydrate the trained codebook of a persisted layout (bounded
    collect — m x ks rows of metadata, the centroid-table convention)."""
    return _resolve_ivf_pq_codebook(
        spark, index_path, read_pq_spec(spark, index_path), None,
        caller="load_pq_codebook",
    )


def query_pq_index(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rescore: bool = True,
    rescore_factor: int = 8,
    math: str = "float",
    rescore_mode: str = "pushdown",
    codebook: PQCodebook | None = None,
) -> DataFrame:
    """Top-k over a persisted PQ layout: rehydrate the pinned codebook,
    ADC-rank from the m-byte codes, exact-rescore from the layout's
    float column. ``rescore=True`` against a ``keep_vec=False`` layout
    is REFUSED loudly (the floats are not there — silently returning
    approximate scores would quietly weaken the caller's ask, the
    round-10 CL-selection lesson); pass ``rescore=False`` for the
    approximate-only read that layout is for.

    ``codebook=`` preloads the codebook ONCE for a query batch (the
    100x soak measured the per-call m·ks rehydration collect as real
    per-query overhead); it must MATCH the layout's spec geometry —
    a mismatched preload is refused, not silently mis-decoded."""
    spec = read_pq_spec(spark, index_path)
    codebook = _resolve_ivf_pq_codebook(
        spark, index_path, spec, codebook, caller="query_pq_index"
    )
    if rescore and not spec["keep_vec"]:
        raise ValueError(
            f"{index_path!r} was saved with keep_vec=False (codes-only "
            "archival layout) — exact rescoring needs the float column; "
            "pass rescore=False for approximate scores, or rebuild with "
            "keep_vec=True"
        )
    qdf = spark.read.parquet(index_path)
    return pq_adc_topk(
        qdf, codebook, query_vec, k=k, id_col=id_col,
        vec_col=vec_col if rescore else None,
        rescore_factor=rescore_factor, math=math,
        rescore_mode=rescore_mode,
    )


def append_to_pq_index(
    df: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: PQCodebook | None = None,
) -> None:
    """Append new vectors to a persisted PQ layout, encoding them with
    the FROZEN codebook pinned in the spec — encode-only, NO retrain:
    per-refresh cost is proportional to the BATCH, not the corpus, and
    the existing files are never rewritten (parquet ``append`` only
    adds files). The PQ twin of :func:`~cassandra_analytics_spark.
    operators.ann_index.append_to_ivf_index`'s incremental-ingest
    posture (reference analog: the bulk writer's append-only batch
    model, ``bulkwriter/CassandraBulkSourceRelation.java:116-131``).

    ``keep_vec`` FOLLOWS THE SPEC — an append that disagreed would
    leave a layout half codes-only, half float-carrying, silently
    breaking the rescore contract. ``codebook=`` preloads the trained
    codebook ONCE for a batch of appends (skipping the per-call m·ks
    rehydration collect); a preload whose (dim, m, ks) geometry
    differs from the spec is REFUSED — codes from a different
    codebook would silently mis-decode at read time. A batch vector
    whose length differs from the spec's dim raises loudly inside the
    encode batch (``pq_encode``'s guard)."""
    spark = df.sparkSession
    spec = read_pq_spec(spark, index_path)
    codebook = _resolve_ivf_pq_codebook(
        spark, index_path, spec, codebook, caller="append_to_pq_index"
    )
    pq_encode(
        df, codebook, id_col=id_col, vec_col=vec_col,
        keep_vec=spec["keep_vec"],
    ).write.mode("append").parquet(index_path)


_IVF_PQ_SPEC_SCHEMA = (
    "format string, dim int, m int, ks int, num_centroids int, "
    "keep_vec boolean, assignment string, sim_id string, "
    "residuals boolean, encoding string"
)


def _anchor_joined(tagged: DataFrame, centroids, anchor_col: str) -> DataFrame:
    """Attach each assigned row's coarse centroid as ``anchor_col`` (a
    broadcast join against the metadata-sized centroid table) — the
    residual-encoding anchor."""
    spark = tagged.sparkSession
    cent_df = local_df(
        spark,
        [(int(c), [float(x) for x in v]) for c, v in centroids],
        "cell int, __anchor array<double>",
    ).withColumnRenamed("__anchor", anchor_col)
    return tagged.join(F.broadcast(cent_df), "cell")


def save_ivf_pq_index(
    df: DataFrame,
    index_path: str,
    centroids: list[tuple[int, list[float]]] | None = None,
    num_centroids: int = 16,
    codebook: PQCodebook | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = True,
    m: int = 16,
    ks: int = 256,
    sample_size: int = 20_000,
    iterations: int = 15,
    seed: int = 42,
    assignment: str = "expr",
    math: str = "float",
    residuals: bool = False,
    encoding: str = "raw",
    train: str = "sample",
) -> tuple[list[tuple[int, list[float]]], PQCodebook]:
    """The FAISS IVF-PQ composition as a persisted layout: the corpus
    is cell-partitioned by nearest coarse centroid (the IVF side — a
    probe reads only its cells' directories, partition pruning) AND
    PQ-encoded inside every cell (the PQ side — the pruned scan reads
    m bytes + one double per row). Self-contained over the same layout
    discipline as :func:`save_pq_index`: spec (``ivf-pq-v1``) + coarse
    centroid table + codebook persist beside the data, spec deleted
    first so a torn rebuild is detectable.

    ``centroids=None`` samples ``num_centroids`` coarse centroids
    (:func:`~cassandra_analytics_spark.operators.similarity.
    sample_centroids`); ``train="kmeans"`` (round 16) instead FITS
    them with :func:`~cassandra_analytics_spark.operators.similarity.
    train_coarse_centroids` — the same learned coarse quantizer
    ``build_ivf_index(train="kmeans")`` gates on the clustered recall
    harness, and the natural partner of ``encoding="residual"``
    (residual codes quantize x − centroid, so tighter cells mean
    tighter residual clouds and smaller pq_err). ``codebook=None``
    trains the PQ codebooks here. ``assignment`` mirrors
    ``build_ivf_index``'s modes: ``"expr"`` (default) is the shared
    linear-size argmax expression — fine to k≈128, ties to the
    HIGHEST cid; ``"vectorized"`` (round 14) computes the argmax as
    one Arrow-batched numpy matmul per batch — REQUIRED at the k ∝ N
    codebook sizes corpus-scale SemDeDup needs (the expression form
    measured 1.5 MiB task binaries at k=256, PERF.md round 8), ties
    to the LOWEST cid. The mode is pinned in the spec; appends follow
    it via the shared ``ann_index._assign_cells`` so build and append
    can never pick different argmax forms for one layout.

    ``math="decimal12"`` switches CELL ASSIGNMENT to the portable
    decimal cosine of the oracle-exact SemDeDup queries (norm-once
    ``assign_nearest_cells``, lowest-cid ties), pinned in the spec so
    appends follow it — exactly ``build_ivf_index``'s contract.

    ``residuals=True`` stores ``pq_tnorm``/``pq_err`` next to the
    codes (``pq_encode(with_residual=True)``), turning the layout's
    approximation into a per-row PROVEN bound — required by the
    streaming SemDeDup PQ path's exactness-preserving prefilter. The
    flag is part of the spec; appends follow it automatically.

    ``encoding`` (round 15): ``"raw"`` (default, every pre-r15 layout)
    PQ-encodes the vectors directly; ``"residual"`` is the TRUE FAISS
    IVF-ADC composition — the codebook trains on and the codes
    quantize ``x − centroid[cell]`` (residuals span a far tighter
    distribution than raw vectors, so the same m·ks codebook spends
    its codewords where the data actually is; measured recall gain in
    PERF.md), while the stored ``pq_norm``/``pq_tnorm``/``pq_err``
    still describe the FULL reconstruction ``x̂ = centroid + ĉ`` so
    the rescore windows and the measured bound are unchanged. Reads
    add the per-cell constant ``q·centroid[cell]`` to the ADC sum
    (query_ivf_pq_index / ivf_knn_join do this automatically from the
    spec); the streaming SemDeDup pair stages REFUSE residual layouts
    (their symmetric code-vs-code scorer has no anchor channel — use
    encoding="raw" for stream-maintained layouts). The mode is pinned
    in the spec; appends follow it automatically."""
    from cassandra_analytics_spark.fs import delete_path
    from cassandra_analytics_spark.operators.ann_index import _assign_cells
    from cassandra_analytics_spark.operators.similarity import (
        sample_centroids,
        spec_assignment,
    )

    spark = df.sparkSession
    if assignment not in ("expr", "vectorized"):
        raise ValueError(
            f"assignment must be 'expr' or 'vectorized', got {assignment!r}"
        )
    if encoding not in ("raw", "residual"):
        raise ValueError(
            f"encoding must be 'raw' or 'residual', got {encoding!r}"
        )
    mode, sim_id = spec_assignment(math, assignment)
    if train not in ("sample", "kmeans"):
        raise ValueError(
            f"train must be 'sample' or 'kmeans', got {train!r}"
        )
    if centroids is not None and train != "sample":
        raise ValueError(
            "train='kmeans' fits the coarse codebook — passing "
            "centroids= too is ambiguous; drop one"
        )
    if centroids is None:
        if train == "kmeans":
            from cassandra_analytics_spark.operators.similarity import (
                train_coarse_centroids,
            )

            centroids = train_coarse_centroids(
                df, num_centroids, id_col=id_col, vec_col=vec_col,
                sample_size=sample_size, iterations=iterations, seed=seed,
            )
        else:
            centroids = sample_centroids(
                df, num_centroids, id_col=id_col, vec_col=vec_col, seed=seed
            )
    if not centroids:
        raise ValueError(
            "save_ivf_pq_index: no coarse centroids (empty corpus?) — "
            "an IVF layout needs at least one cell"
        )
    centroids = sorted((int(c), [float(x) for x in v]) for c, v in centroids)
    # cell from the FLOAT vector FIRST (same routing math as reads) —
    # residual encoding needs the assigned centroid as its anchor
    tagged = _assign_cells(
        df, centroids, mode, math, id_col, vec_col, passthrough=True
    )
    anchor = None
    if encoding == "residual":
        anchor = "__anchor"
        tagged = _anchor_joined(tagged, centroids, anchor)
        if codebook is None:
            # the codebook trains on the RESIDUALS — the whole point:
            # the residual cloud is tighter than the raw vectors, so
            # the same m x ks codewords quantize it with smaller error
            resid = tagged.withColumn(
                "__res",
                F.zip_with(
                    F.col(vec_col), F.col(anchor), lambda a, b: a - b
                ),
            )
            codebook = train_pq_codebook(
                resid, vec_col="__res", m=m, ks=ks,
                sample_size=sample_size, iterations=iterations,
                seed=seed, id_col=id_col,
            )
    elif codebook is None:
        codebook = train_pq_codebook(
            df, vec_col=vec_col, m=m, ks=ks, sample_size=sample_size,
            iterations=iterations, seed=seed, id_col=id_col,
        )
    delete_path(spark, f"{index_path}_spec")
    encoded = pq_encode(
        tagged, codebook, id_col=id_col, vec_col=vec_col, keep_vec=True,
        with_residual=residuals, anchor_col=anchor, extra_cols=("cell",),
    )
    if not keep_vec:
        encoded = encoded.drop(vec_col)
    encoded.write.mode("overwrite").partitionBy("cell").parquet(index_path)
    write_sidecar(
        spark, f"{index_path}_centroids", centroids,
        "cid int, centroid array<double>",
    )
    _write_codebook(spark, index_path, codebook)
    write_sidecar(
        spark, f"{index_path}_spec",
        [("ivf-pq-v1", codebook.dim, codebook.m, codebook.ks,
          len(centroids), keep_vec, mode, sim_id, residuals,
          encoding)],
        _IVF_PQ_SPEC_SCHEMA,
    )
    return centroids, codebook


def _normalize_ivf_pq_spec(spec: dict) -> dict:
    """Back-fill the contract fields older layouts lack, on a COPY of an
    already-format-verified ``ivf-pq-v1`` spec row dict — shared by
    :func:`read_ivf_pq_spec` and callers that hold the raw spec row
    already (the streaming trigger's per-stream metadata cache, r16)."""
    spec = dict(spec)
    # layouts written before round 14 lack the assignment/residual
    # fields — normalize so every reader sees the full contract
    spec.setdefault("assignment", "expr")
    spec.setdefault("sim_id", None)
    spec.setdefault("residuals", False)
    # layouts written before round 15 are raw-encoded by construction
    if spec.get("encoding") is None:
        spec["encoding"] = "raw"
    return spec


def read_ivf_pq_spec(spark, index_path: str) -> dict:
    """The persisted spec of an IVF-PQ layout; loud on missing/corrupt
    (including a plain-PQ layout presented at an IVF-PQ read path)."""
    from cassandra_analytics_spark.fs import read_sidecar

    rows = read_sidecar(spark, f"{index_path}_spec")
    if rows is None:
        raise ValueError(
            f"{index_path!r} has no persisted spec ({index_path}_spec) — "
            "not a save_ivf_pq_index layout (or a rebuild crashed "
            "mid-write; rebuild)"
        )
    if len(rows) != 1 or rows[0].get("format") != "ivf-pq-v1":
        raise ValueError(
            f"spec at {index_path}_spec is not an IVF-PQ layout "
            f"(expected one 'ivf-pq-v1' row, found {rows!r}) — flat PQ "
            "layouts read through query_pq_index"
        )
    return _normalize_ivf_pq_spec(rows[0])


def _resolve_ivf_pq_codebook(
    spark,
    index_path: str,
    spec: dict,
    codebook: PQCodebook | None,
    caller: str,
) -> PQCodebook:
    """Rehydrate a PQ / IVF-PQ layout's trained codebook (an m·ks-row
    sidecar read on the driver), or validate a caller-preloaded one against the
    spec geometry — shared by every query and append path so all
    refuse a mismatched preload identically (codes from a different
    codebook would silently mis-decode)."""
    if codebook is not None:
        if (codebook.dim, codebook.m, codebook.ks) != (
            spec["dim"], spec["m"], spec["ks"]
        ):
            raise ValueError(
                f"{caller}: preloaded codebook geometry "
                f"(dim={codebook.dim}, m={codebook.m}, ks={codebook.ks}) "
                f"does not match the layout spec (dim={spec['dim']}, "
                f"m={spec['m']}, ks={spec['ks']}) at {index_path!r}"
            )
        return codebook
    from cassandra_analytics_spark.fs import read_sidecar

    rows = read_sidecar(spark, f"{index_path}_codebook") or []
    want = spec["m"] * spec["ks"]
    if len(rows) != want:
        raise ValueError(
            f"corrupt PQ codebook at {index_path}_codebook: spec "
            f"says {want} centroids, found {len(rows)}"
        )
    books: dict[int, dict[int, tuple]] = {}
    for r in rows:
        books.setdefault(r["sub"], {})[r["code"]] = tuple(
            float(v) for v in r["centroid"]
        )
    return PQCodebook(
        dim=spec["dim"], m=spec["m"], ks=spec["ks"],
        centroids=tuple(
            tuple(books[i][j] for j in range(spec["ks"]))
            for i in range(spec["m"])
        ),
    )


def assign_with_ivf_pq_spec(
    df: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    math: str | None = None,
    codebook: PQCodebook | None = None,
    spec: dict | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    cnorms: dict[int, float] | None = None,
) -> DataFrame:
    """Tag ``df`` with the cell each row would occupy in the IVF-PQ
    layout at ``index_path`` AND its codes/norms under the FROZEN
    codebook — the assignment half of :func:`append_to_ivf_pq_index`
    (which writes the result), shared with the streaming SemDeDup PQ
    path (which needs the assignment for the batch-vs-corpus join
    before appending). Mirrors ``ann_index.assign_with_index_spec``'s
    math contract: the layout's own math, an explicit different
    ``math`` refused (a silent mismatch would split the same corpus
    across different cells depending on which call wrote it). The
    residual columns follow the spec. The float vector column is
    always present in the output (callers drop it per ``keep_vec``).

    ``spec``/``centroids`` (r16) preload the layout's frozen metadata —
    spec rows, coarse centroid table — so a caller that already holds
    them (the streaming trigger's per-stream cache) skips the two
    per-call metadata reads; both are immutable once the layout exists
    (appends never rewrite sidecars, compaction stashes them aside
    byte-identical), the same contract as ``codebook=``."""
    from cassandra_analytics_spark.operators.ann_index import (
        _assign_cells,
        read_centroids,
    )
    from cassandra_analytics_spark.operators.similarity import layout_math

    spark = df.sparkSession
    if spec is None:
        spec = read_ivf_pq_spec(spark, index_path)
    math = layout_math(math, spec, index_path, append=True)
    codebook = _resolve_ivf_pq_codebook(
        spark, index_path, spec, codebook, caller="assign_with_ivf_pq_spec"
    )
    if centroids is None:
        centroids = read_centroids(spark, index_path)
    centroids = sorted(centroids, key=lambda t: t[0])
    if not centroids:
        raise ValueError(
            f"assign_with_ivf_pq_spec: no coarse centroids at "
            f"{index_path}_centroids — corrupt layout; rebuild with "
            "save_ivf_pq_index"
        )
    # the SPEC's pinned mode through the shared builder — build and
    # append can never disagree
    tagged = _assign_cells(
        df, centroids, spec["assignment"], math, id_col, vec_col,
        passthrough=True, cnorms=cnorms,
    )
    anchor = None
    if spec["encoding"] == "residual":
        # the spec's pinned encoding: residual layouts code x − centroid
        # with the FROZEN codebook — an append that coded raw would
        # silently mis-decode at read time
        anchor = "__anchor"
        tagged = _anchor_joined(tagged, centroids, anchor)
    return pq_encode(
        tagged, codebook, id_col=id_col, vec_col=vec_col, keep_vec=True,
        with_residual=spec["residuals"], anchor_col=anchor,
        extra_cols=("cell",),
    )


def append_to_ivf_pq_index(
    df: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    math: str | None = None,
    codebook: PQCodebook | None = None,
) -> None:
    """Append new vectors to a persisted IVF-PQ layout: cell-assign
    each batch row against the PINNED coarse centroid table (with the
    spec's pinned assignment math) and PQ-encode it with the FROZEN
    codebook from the spec — encode-only, no retrain, no
    re-clustering. Per-refresh cost is proportional to the BATCH and
    existing cell directories only gain files (parquet ``append``
    under the same ``partitionBy`` layout) — the IVF-PQ member of the
    engine's incremental-ingest family (:func:`append_to_pq_index`,
    ``append_to_ivf_index``, ``append_to_ann_index``).

    ``keep_vec`` and ``residuals`` follow the spec (a mixed layout
    would silently break the rescore/prefilter contracts); a preloaded
    ``codebook=`` must match the spec geometry exactly (shared refusal
    with :func:`query_ivf_pq_index`); the layout's math is followed and
    a different explicit ``math`` refused (see
    :func:`assign_with_ivf_pq_spec`)."""
    spark = df.sparkSession
    spec = read_ivf_pq_spec(spark, index_path)
    tagged = assign_with_ivf_pq_spec(
        df, index_path, id_col=id_col, vec_col=vec_col,
        math=math, codebook=codebook, spec=spec,
    )
    if not spec["keep_vec"]:
        tagged = tagged.drop(vec_col)
    tagged.write.mode("append").partitionBy("cell").parquet(index_path)


def query_ivf_pq_index(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    num_probes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rescore: bool = True,
    rescore_factor: int = 8,
    math: str | None = None,
    rescore_mode: str = "pushdown",
    codebook: PQCodebook | None = None,
) -> DataFrame:
    """Top-k over an IVF-PQ layout: route to the ``num_probes`` nearest
    cells driver-side (centroid table is bounded metadata), scan ONLY
    those cell directories (the cell filter is a partition-column
    predicate), ADC-rank the pruned rows from their m-byte codes, and
    exact-rescore survivors from the float column. With ``num_probes =
    num_centroids`` the result is EXACT under the rescore window — the
    same probe-all guarantee the SQ8 IVF paths pin. ``rescore=True``
    against a ``keep_vec=False`` layout is refused loudly, and a
    preloaded ``codebook=`` must match the spec geometry — both the
    flat-PQ contracts.

    The rescore follows the IVF read contract
    (``similarity.layout_math``): the layout's own math, or ``math``."""
    from cassandra_analytics_spark.operators.ann_index import read_centroids
    from cassandra_analytics_spark.operators.similarity import (
        layout_math,
        nearest_cells_for,
    )

    if num_probes < 1:
        raise ValueError(f"num_probes must be >= 1, got {num_probes}")
    spec = read_ivf_pq_spec(spark, index_path)
    math = layout_math(math, spec, index_path)
    if rescore and not spec["keep_vec"]:
        raise ValueError(
            f"{index_path!r} was saved with keep_vec=False (codes-only "
            "archival layout) — pass rescore=False, or rebuild with "
            "keep_vec=True"
        )
    codebook = _resolve_ivf_pq_codebook(
        spark, index_path, spec, codebook, caller="query_ivf_pq_index"
    )
    centroids = read_centroids(spark, index_path)
    qv = [float(x) for x in query_vec]
    cells = nearest_cells_for(qv, centroids, num_probes)
    qdf = spark.read.parquet(index_path).filter(F.col("cell").isin(cells))
    extra = None
    if spec["encoding"] == "residual":
        # q·x̂ = q·centroid[cell] + ADC(q, residual codes): the anchor
        # term is a per-cell constant over the ≤num_probes probed
        # cells — a tiny map literal keyed on the partition column
        offs = {
            int(cid): sum(a * b for a, b in zip(qv, c))
            for cid, c in centroids
            if cid in set(cells)
        }
        entries = ", ".join(
            f"{cid}, {sql_double(off)}" for cid, off in sorted(offs.items())
        )
        extra = f"element_at(map({entries}), cell)"
    return pq_adc_topk(
        qdf, codebook, query_vec, k=k, id_col=id_col,
        vec_col=vec_col if rescore else None,
        rescore_factor=rescore_factor, math=math,
        rescore_mode=rescore_mode, extra_dot=extra,
    )
