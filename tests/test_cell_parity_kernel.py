"""Every Arrow kernel of the closed vector-math table
(``operators/similarity._MATH``) must be BIT-IDENTICAL to its op's
expression form on the same inputs, so :func:`vector_op` can dispatch by
work size without moving a vector to a different cell or changing a
score in the last ulp:

* ``(float, expr_cell)`` — the ``assignment="expr"`` argmax: same sims
  (same fold order), HIGHEST-cid ties, -2 pins for NULL / ragged /
  zero-norm / NaN inputs;
* ``(decimal12, norm_once_cell)`` — the norm-once argmax: LOWEST-cid
  ties, -2 pins for non-finite sims, the loud ragged-vector guard, and
  the ANSI decimal overflow raise;
* ``(decimal12, dot)`` / ``(decimal12, norm)`` — the portable pair dot
  and row norm (double products → ``CAST(decimal(28,12))`` HALF_UP →
  exact decimal left fold → double), including the ANSI edge semantics
  probed on the expression itself: NaN/Inf products NULL the fold,
  decimal overflow (per element OR prefix sum) raises, ragged pairs
  NULL (zip_with null-pad), empty arrays fold to 0.0.

The streaming trigger's pair scoring rides this dispatch, so a
divergence here changes published VERDICTS, not just scores.

Each case runs once: under the named test that claims it in ``NAMED``,
else in the per-entry sweep ``test_kernel_matches_expression``.
"""

from __future__ import annotations

import contextlib
import io
import random
import struct

import pyspark.sql.functions as F
import pytest

from cassandra_analytics_spark.operators.similarity import (
    _CELL_EXPR_MAX_WORK,
    MATHS,
    _expr_parity_cell_udf,
    assign_nearest_cells,
    centroid_norms,
    vector_math,
    vector_op,
)

NAN, INF = float("nan"), float("inf")
OVERFLOW = "NUMERIC_VALUE_OUT_OF_RANGE"


def _onehot(k, dim):
    return [(j, [float(j == i) for i in range(dim)]) for j in range(k)]


def _adversarial_cells():
    """Ties (duplicate centroid directions), zero-norm vectors, NaN and
    ±Inf components and NULL vectors — every branch of the argmax
    semantics."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),        # clean, nearest cid 3
        (2, [0.0, 1.0, 0.0, 0.0]),        # EXACT tie between cids 5 and 9
        (3, [0.0, 0.0, 0.0, 0.0]),        # zero norm -> -2 everywhere
        (4, [NAN, 1.0, 0.0, 0.0]),        # NaN -> -2 everywhere
        (6, None),                        # NULL -> -2 everywhere
        (7, [INF, 1.0, 0.0, 0.0]),        # +Inf -> -2 everywhere
        (8, [-INF, 0.5, 0.0, 0.0]),       # -Inf likewise
    ]
    cents = [
        (3, [2.0, 0.0, 0.0, 0.0]),
        (5, [0.0, 1.0, 0.0, 0.0]),
        (9, [0.0, 1.0, 0.0, 0.0]),        # duplicate direction of cid 5
    ]
    return rows, cents


def _random_cells(seed, n, dim, k, lo):
    rnd = random.Random(seed)
    rows = [(i, [rnd.uniform(lo, -lo) for _ in range(dim)]) for i in range(n)]
    cents = [(j, [rnd.uniform(lo, -lo) for _ in range(dim)]) for j in range(k)]
    return rows, cents


def _expr_cell_cases():
    adv, adv_c = _adversarial_cells()
    # ragged -> -2 everywhere in the bare argmax (the layouts wrap it in
    # the loud dimension guard)
    adv = adv + [(5, [1.0, 0.0])]
    # 200 random 16-d vectors x 40 centroids: work 640 > cutoff, the
    # dispatch region — the fold-order discipline keeps near-tie
    # argmaxes stable
    rnd_rows, rnd_c = _random_cells(7, 200, 16, 40, -1.0)
    return [
        # the load-bearing branches, pinned explicitly: exact tie ->
        # highest cid; every -2 row -> highest cid (array_max is
        # lexicographic over (sim, cid))
        dict(id="adversarial", rows=adv, cents=adv_c,
             pins={2: 9, 3: 9, 4: 9, 5: 9, 6: 9, 7: 9, 8: 9}),
        dict(id="random", rows=rnd_rows, cents=rnd_c),
    ]


def _norm_once_cell_cases():
    adv, adv_c = _adversarial_cells()
    # 150 random 16-d x 40 centroids (work 640 > cutoff) plus a zero
    # vector, a NULL, tiny magnitudes (products land near the decimal
    # quantum) and a constant vector
    rows, cents = _random_cells(11, 150, 16, 40, -2.0)
    rows += [
        (900, [0.0] * 16),
        (901, None),
        (902, [5.0e-7 * (j + 1) for j in range(16)]),
        (903, [1.0] * 16),
    ]
    # ±Inf elements cast to NULL under ANSI -> NULL sims -> -2 pin; the
    # raw fast path used to hit Decimal('Infinity').quantize (r16 ADVICE)
    inf_cents = [
        (j, [0.25 * ((i + j) % 4 + 1) for i in range(8)]) for j in range(80)
    ]
    inf_rows = [
        (1, [INF] + [1.0] * 7),           # +Inf -> NULL norm -> all -2
        (2, [-INF] + [0.5] * 7),          # -Inf likewise
        (3, [1.0, INF] + [0.0] * 6),      # Inf*c stays Inf -> NULL
        (4, [1.0] * 8),                   # clean control row
    ]
    return [
        # exact tie -> LOWEST cid; every -2 row -> the lowest cid
        dict(id="adversarial", rows=adv, cents=adv_c,
             pins={2: 5, 3: 3, 4: 3, 6: 3, 7: 3, 8: 3}),
        dict(id="random", rows=rows, cents=cents),
        dict(id="nonfinite", rows=inf_rows, cents=inf_cents,
             pins={1: 0, 2: 0, 3: 0}),
        # assignment is a verdict path: a ragged vector is data
        # corruption, never a silent lowest cell
        dict(id="ragged", rows=[(1, [1.0] * 8), (2, [1.0] * 5)],
             cents=_onehot(80, 8), raises="dimension mismatch"),
        # a square >= 1e16 after HALF_UP overflows decimal(28,12): the
        # kernel must not silently sum it in float (r16 ADVICE)
        dict(id="overflow", rows=[(1, [1e10] * 8)], cents=_onehot(80, 8),
             raises=OVERFLOW),
    ]


def _dot_cases():
    rng = random.Random(16)
    rows = []
    pid = 0
    for dim in (3, 8, 64):
        for _ in range(40):
            a = [rng.gauss(0, 1) * 10 ** rng.randint(-6, 4) for _ in range(dim)]
            b = [rng.gauss(0, 1) * 10 ** rng.randint(-6, 4) for _ in range(dim)]
            rows.append((pid, a, b))
            pid += 1
    rows += [
        (900, None, [1.0]),               # NULL side -> NULL
        (901, [1.0], None),
        (902, [1.0, 2.0], [3.0]),         # ragged -> NULL (zip_with pad)
        (903, [], []),                    # empty -> 0.0
        (904, [NAN, 1.0], [1.0, 1.0]),    # NaN product -> NULL fold
        (905, [INF], [1.0]),              # Inf product -> NULL fold
        (906, [1e300], [1e-300]),         # product 1.0 after extremes
        # products landing exactly ON .5e-12 HALF_UP boundaries
        (907, [1.5e-12, 2.5e-12, -3.5e-12], [1.0, 1.0, 1.0]),
        (908, [0.49999999999999994e-11], [0.1]),
        # tiny magnitudes that quantize to 0
        (909, [1e-20, -1e-20], [1.0, 1.0]),
    ]
    return [
        dict(id="random+adversarial", rows=rows,
             pins={903: struct.pack("<d", 0.0), 902: None}),
        # element overflow (product 1e20 cannot be decimal(28,12))
        dict(id="element-overflow", rows=[(0, [1e10], [1e10])],
             raises=OVERFLOW),
        # prefix-sum overflow (two 9e15 products)
        dict(id="prefix-overflow", rows=[(0, [9e15, 9e15], [1.0, 1.0])],
             raises=OVERFLOW),
        # prefix overflow BEFORE a NaN still raises (products are
        # materialized before the fold)
        dict(id="overflow-then-nan",
             rows=[(0, [9e15, 9e15, NAN], [1.0, 1.0, 1.0])], raises=OVERFLOW),
        # a NaN product BEFORE any overflow poisons the fold to NULL and
        # no later PREFIX overflow can fire (acc is NULL) ...
        dict(id="nan-then-prefix-overflow",
             rows=[(0, [NAN, 9e15, 9e15], [1.0, 1.0, 1.0])], pins={0: None}),
        # ... but a later ELEMENT overflow still raises
        dict(id="nan-then-element-overflow",
             rows=[(0, [NAN, 1e10], [1.0, 1e10])], raises=OVERFLOW),
    ]


def _norm_cases():
    rng = random.Random(17)
    rows = [
        (i, [rng.gauss(0, 1) * 10 ** rng.randint(-6, 3) for _ in range(16)])
        for i in range(60)
    ]
    rows += [
        (900, None),
        (901, []),                        # sqrt(0) = 0.0
        (902, [NAN, 1.0]),                # NULL fold -> NULL norm
        (903, [1e-20]),                   # quantizes to 0 -> norm 0.0
        (904, [0.7071067811865476] * 8),
        (905, [INF, 1.0]),                # Inf square -> NULL norm
    ]
    return [
        dict(id="random+adversarial", rows=rows,
             pins={901: struct.pack("<d", 0.0), 902: None, 905: None}),
        dict(id="overflow", rows=[(0, [1e10, 1.0])], raises=OVERFLOW),
    ]


CASES = {
    ("float", "expr_cell"): _expr_cell_cases,
    ("decimal12", "norm_once_cell"): _norm_once_cell_cases,
    ("decimal12", "dot"): _dot_cases,
    ("decimal12", "norm"): _norm_cases,
}

KERNEL_ENTRIES = [(m, op) for m in MATHS for op in vector_math(m).kernels]


def _evaluate(spark, math, op, form, case):
    """``{pid: value}`` of one form (``"exprs"``/``"kernels"``) of an op
    over a case's rows — IEEE bit patterns for dot/norm, cell ids for
    the argmaxes."""
    builders = getattr(vector_math(math), form)
    fn = builders[op]
    if op == "dot":
        schema = "pid long, a array<double>, b array<double>"
    else:
        schema = "pid long, a array<double>"
    df = spark.createDataFrame(case["rows"], schema)
    a = F.col("a")
    if op == "dot":
        col = fn(a, F.col("b"))
    elif op == "norm":
        col = fn(a)
    elif op == "expr_cell":
        col = fn(a, case["cents"])
    else:
        cnorms = centroid_norms(spark, case["cents"], math)
        col = fn(a, builders["norm"](a), case["cents"], cnorms)
    out = {}
    for r in df.select("pid", col.alias("v")).collect():
        if op in ("dot", "norm"):
            out[r.pid] = None if r.v is None else struct.pack("<d", r.v)
        else:
            out[r.pid] = r.v
    return out


def _check(spark, math, op, case):
    """One case: the kernel against its expression, value for value (or
    raising the same named error), plus the case's explicit pins."""
    if "raises" in case:
        for form in ("exprs", "kernels"):
            with pytest.raises(Exception, match=case["raises"]):
                _evaluate(spark, math, op, form, case)
        return
    expr = _evaluate(spark, math, op, "exprs", case)
    kern = _evaluate(spark, math, op, "kernels", case)
    assert expr == kern, case["id"]
    for pid, want in case.get("pins", {}).items():
        assert expr[pid] == want, (case["id"], pid)


# Case groups that keep a test name of their own (the pair-dot ones live
# in test_pair_parity_kernel.py); the per-entry sweep runs every other
# case, so each case runs exactly once.
NAMED = {
    "test_parity_on_adversarial_inputs":
        ("float", "expr_cell", ("adversarial",)),
    "test_parity_on_random_corpus": ("float", "expr_cell", ("random",)),
    "test_scaled_decimal_kernel_parity_random":
        ("decimal12", "norm_once_cell", ("random",)),
    "test_scaled_decimal_kernel_nonfinite_parity":
        ("decimal12", "norm_once_cell", ("nonfinite",)),
    "test_scaled_decimal_kernel_ragged_raises":
        ("decimal12", "norm_once_cell", ("ragged",)),
    "test_scaled_decimal_kernel_overflow_raises_both":
        ("decimal12", "norm_once_cell", ("overflow",)),
    "test_pair_dot_parity_random_and_adversarial":
        ("decimal12", "dot", ("random+adversarial",)),
    "test_pair_dot_overflow_raises_both":
        ("decimal12", "dot",
         ("element-overflow", "prefix-overflow", "overflow-then-nan")),
    "test_pair_dot_nan_after_overflowing_prefix_is_null_both":
        ("decimal12", "dot",
         ("nan-then-prefix-overflow", "nan-then-element-overflow")),
}


def check_named(spark, name):
    """Run the case group that ``NAMED`` files under test ``name``."""
    math, op, ids = NAMED[name]
    cases = {c["id"]: c for c in CASES[(math, op)]()}
    for cid in ids:
        _check(spark, math, op, cases[cid])


@pytest.mark.parametrize(
    "math,op", KERNEL_ENTRIES, ids=[f"{m}-{op}" for m, op in KERNEL_ENTRIES]
)
def test_kernel_matches_expression(spark, math, op):
    """Every table kernel has cases, every case a named group claims
    exists, and each remaining case of the entry matches."""
    cases = CASES[(math, op)]()
    named = {
        cid for m, o, ids in NAMED.values() if (m, o) == (math, op)
        for cid in ids
    }
    assert named <= {c["id"] for c in cases}
    for case in cases:
        if case["id"] not in named:
            _check(spark, math, op, case)


def test_parity_on_adversarial_inputs(spark):
    """Ties (duplicate centroids), zero-norm vectors, NaN and ±Inf
    components, ragged lengths and NULL vectors: highest-cid ties and
    -2 pins in both forms."""
    check_named(spark, "test_parity_on_adversarial_inputs")


def test_parity_on_random_corpus(spark):
    """200 random 16-d vectors x 40 centroids (work 640 > cutoff, the
    dispatch region): the fold-order discipline keeps near-tie argmaxes
    stable."""
    check_named(spark, "test_parity_on_random_corpus")


def test_scaled_decimal_kernel_parity_random(spark):
    """decimal12 norm-once assignment on a random corpus plus a zero
    vector, a NULL, near-quantum magnitudes and a constant vector."""
    check_named(spark, "test_scaled_decimal_kernel_parity_random")


def test_scaled_decimal_kernel_ragged_raises(spark):
    """Both forms raise the dimension-mismatch guard on a ragged vector
    (assignment is a verdict path, never a silent lowest cell)."""
    check_named(spark, "test_scaled_decimal_kernel_ragged_raises")


def test_scaled_decimal_kernel_nonfinite_parity(spark):
    """±Inf elements (NULL under ANSI) pin to the lowest cid in both
    forms instead of crashing the kernel."""
    check_named(spark, "test_scaled_decimal_kernel_nonfinite_parity")


def test_scaled_decimal_kernel_overflow_raises_both(spark):
    """A square that overflows decimal(28,12) raises
    NUMERIC_VALUE_OUT_OF_RANGE in both forms."""
    check_named(spark, "test_scaled_decimal_kernel_overflow_raises_both")


def test_vector_op_dispatch_rule():
    """The one dispatcher: a kernel exactly when the math has one for the
    op AND the per-row work exceeds the cutoff (or is unknown — the pair
    stages); the expression otherwise; a named error for an op the math
    does not have."""
    f, d = vector_math("float"), vector_math("decimal12")
    cut = _CELL_EXPR_MAX_WORK
    assert vector_op("float", "dot") is f.exprs["dot"]
    assert vector_op("float", "norm_once_cell", cut + 1) is f.exprs["norm_once_cell"]
    assert vector_op("float", "expr_cell", cut) is f.exprs["expr_cell"]
    assert vector_op("float", "expr_cell", cut + 1) is f.kernels["expr_cell"]
    assert vector_op("decimal12", "dot") is d.kernels["dot"]
    assert vector_op("decimal12", "norm", cut) is d.exprs["norm"]
    assert vector_op("decimal12", "norm", cut + 1) is d.kernels["norm"]
    with pytest.raises(ValueError, match="no 'expr_cell' form"):
        vector_op("decimal12", "expr_cell", 1)


def _plan_of(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_auto_dispatch_boundary(spark):
    """At or below the work cutoff the plan must stay pure-expression
    (no Python eval node); above it the Arrow kernel must appear."""
    emb = spark.range(1).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(i)) for i in range(8)]).alias("embedding"),
    )
    small, big = _onehot(4, 8), _onehot(80, 8)
    assert len(small) * 8 <= _CELL_EXPR_MAX_WORK < len(big) * 8

    def cell(cents):
        fn = vector_op("float", "expr_cell", len(cents) * 8)
        return emb.select(fn(F.col("embedding"), cents).alias("c"))

    p_small, p_big = _plan_of(cell(small)), _plan_of(cell(big))
    assert "ArrowEvalPython" not in p_small and "BatchEvalPython" not in p_small
    assert "ArrowEvalPython" in p_big


def test_scaled_decimal_kernel_plan_dispatch(spark):
    """decimal12 assignment above the cutoff -> ArrowEvalPython in the
    plan; below the cutoff (small codebook) -> pure expression. The
    float norm-once assignment has no kernel and stays an expression at
    any size."""
    emb = spark.createDataFrame(
        [(1, [1.0] * 8)], "vec_id long, embedding array<double>"
    )
    small, big = _onehot(4, 8), _onehot(80, 8)
    assert len(small) * 8 <= _CELL_EXPR_MAX_WORK < len(big) * 8
    p_small = _plan_of(assign_nearest_cells(emb, small, math="decimal12"))
    p_big = _plan_of(assign_nearest_cells(emb, big, math="decimal12"))
    assert "ArrowEvalPython" not in p_small
    assert "ArrowEvalPython" in p_big
    assert "ArrowEvalPython" not in _plan_of(assign_nearest_cells(emb, big))


def test_kernel_rejects_bad_codebook(spark):
    from cassandra_analytics_spark.operators.similarity import (
        validate_codebook,
    )

    with pytest.raises(ValueError):
        validate_codebook([(1, [1.0, 0.0]), (1, [0.0, 1.0])])
    with pytest.raises(ValueError):
        _expr_parity_cell_udf([(1, [1.0, 0.0]), (1, [0.0, 1.0])])


def test_semantic_pairs_identical_under_dispatch(spark):
    """End to end: semantic_pairs_from_cells under decimal12 (the pair
    dot and row norm run in the kernels) returns row- and bit-identical
    pairs to a brute-force within-cell self-join scored with the
    decimal12 EXPRESSIONS."""
    from cassandra_analytics_spark.operators.similarity import (
        semantic_pairs_from_cells,
    )

    rng = random.Random(18)
    base = [rng.gauss(0, 1) for _ in range(8)]
    rows = []
    for i in range(50):
        v = [x + rng.gauss(0, 0.05) for x in base]
        rows.append((i, i % 3, v))
    df = spark.createDataFrame(
        rows, "vec_id long, cell int, embedding array<double>"
    )
    d12 = vector_math("decimal12")

    def key(rows_):
        return sorted(
            (r.a, r.b, r.cell, r.cosine_sim.hex()) for r in rows_
        )

    left = df.select(
        F.col("vec_id").alias("a"), "cell", F.col("embedding").alias("va")
    )
    right = df.select(
        F.col("vec_id").alias("b"), "cell", F.col("embedding").alias("vb")
    )
    cos = F.try_divide(
        d12.dot(F.col("va"), F.col("vb")),
        d12.norm(F.col("va")) * d12.norm(F.col("vb")),
    )
    expr_pairs = key(
        left.join(right, "cell")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "cell", cos.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= 0.95)
        .collect()
    )
    kern_pairs = key(
        semantic_pairs_from_cells(df, 0.95, math="decimal12").collect()
    )
    assert expr_pairs == kern_pairs and len(kern_pairs) > 50
