"""Temporal joins Spark has no native operator for: as-of join and
bounded range join, built from shuffle-friendly primitives.

As-of join: the sort-based formulation — union the two sides tagged,
one window per key ordered by (ts, side) carrying the last right-side
match forward (``last(..., ignorenulls=True)``). One shuffle on the key,
no inequality join, no per-group Python. This is the plan that survives
100 TB: work is linear in rows, state is one row per partition frame.

Range join: bucketize the time axis at the range width; candidates are
an equi-join on (key, bucket) with the neighbor bucket explored via a
3-way bucket explode; an exact filter confirms. Turns an inequality join
(cross-product per key) into an equi-join with bounded fan-out.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_value_cols: Sequence[str] = (),
    direction: str = "backward",
    suffix: str = "_asof",
) -> DataFrame:
    """For each left row, attach the nearest right row with
    ``right_ts <= left_ts`` (backward; ``>=`` for forward) per key.

    Output: every left row + ``<right_ts><suffix>`` + each requested right
    value column as ``<col><suffix>`` (null when no match).
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")

    keys = list(on)
    carried = [right_ts] + [c for c in right_value_cols if c != right_ts]
    # a left column named like a generated output (<carried><suffix>)
    # would yield a DUPLICATE column name in the result — every
    # downstream select on it dies with an ambiguity error, or silently
    # reads whichever copy resolves first (round-9 executed probe)
    collisions = sorted(
        {f"{c}{suffix}" for c in carried} & set(left.columns)
    )
    if collisions:
        raise ValueError(
            f"asof_join output name collision: left column(s) {collisions} "
            f"match a carried-right output name (<col>{suffix!r}) — rename "
            "the left column or pass a different suffix"
        )

    lhs = left.withColumn("__side", F.lit(1))
    rhs = right.select(
        *keys, *[F.col(c) for c in carried]
    ).withColumn("__side", F.lit(0))

    # align schemas for the union: left contributes null right-cols and vice
    # versa. The carried columns travel as ONE struct so the window below
    # picks whole rows: carrying each column independently with
    # last(ignorenulls) would backfill a NULL cell of the nearest right
    # row from an OLDER right row — a frankenstein match mixing columns
    # of different rows.
    left_cols = [c for c in left.columns if c not in keys]
    r_struct = F.struct(*[F.col(c).alias(c) for c in carried])
    struct_dtype = rhs.select(r_struct.alias("__r")).schema["__r"].dataType
    # A NULL-timestamp right row can never satisfy either inequality
    # (SQL three-valued comparison), but under the window formulation it
    # would sort FIRST (asc nulls-first) and be carried into every left
    # row of its key until a real match appears — drop such rows up
    # front (round-7 hostile pass).
    rhs_aligned = rhs.filter(F.col(right_ts).isNotNull()).select(
        *keys,
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in left_cols],
        r_struct.alias("__r"),
        F.col(right_ts).alias("__ts"),
        "__side",
    )
    lhs_aligned = lhs.select(
        *keys,
        *left_cols,
        F.lit(None).cast(struct_dtype).alias("__r"),
        F.col(left_ts).alias("__ts"),
        "__side",
    )
    unioned = lhs_aligned.unionByName(rhs_aligned)

    # Deterministic tiebreak for DUPLICATE right rows at the same
    # (key, ts): without it, last(ignorenulls) returns whichever
    # duplicate the shuffle happened to order last — nondeterministic
    # output across runs. Ordering the carried struct ascending makes
    # the GREATEST value tuple win (the same convention as the LWW
    # merge's equal-writetime tiebreak). Map-typed carried columns join
    # the sort via their canonical sorted-entries projection
    # (merge.order_key_sql); only payloads with no canonical order at
    # all (Variant, CalendarInterval) leave the duplicate-right edge
    # nondeterministic.
    from cassandra_analytics_spark.operators.merge import order_key_sql

    r_key = order_key_sql("__r", struct_dtype)
    tiebreak = [F.expr(r_key).asc_nulls_first()] if r_key is not None else []
    if direction == "backward":
        # right rows sort before left at equal ts → match is <=
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__ts").asc(), F.col("__side").asc(), *tiebreak)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    else:
        # desc_nulls_FIRST (not Spark's desc default of nulls-last): a
        # NULL-timestamp LEFT row must see no carried right row — with
        # nulls last it would sort after every right row and pick up the
        # smallest right_ts as a bogus "forward" match (round-7 pass).
        w = (
            Window.partitionBy(*keys)
            .orderBy(
                F.col("__ts").desc_nulls_first(),
                F.col("__side").asc(),
                *tiebreak,
            )
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )

    matched = unioned.select(
        *keys,
        *left_cols,
        "__side",
        F.last(F.col("__r"), ignorenulls=True).over(w).alias("__r"),
    )
    return (
        matched.filter(F.col("__side") == 1)
        .select(
            *keys,
            *left_cols,
            *[F.col("__r").getField(c).alias(f"{c}{suffix}") for c in carried],
        )
    )


def range_join_pairs(
    df: DataFrame,
    key: str,
    ts: str,
    id_col: str,
    max_gap_seconds: int,
) -> DataFrame:
    """All pairs (a, b) of rows with the same ``key``, ``id_a < id_b`` and
    ``|ts_a − ts_b| <= max_gap_seconds`` — via bucketed equi-join.

    Each left row probes its own bucket and both neighbors (3-way explode);
    a pair within the gap spans at most one bucket boundary, so every
    qualifying pair is found exactly once. Fan-out is a constant 3×, and
    the join stays an equi-join on (key, bucket).
    """
    if max_gap_seconds < 1:
        # 0 threw ANSI DIVIDE_BY_ZERO from the bucket division deep
        # inside the job; a negative gap silently returned zero pairs
        # (round-8 continuation probe)
        raise ValueError(
            f"max_gap_seconds must be >= 1, got {max_gap_seconds}"
        )
    micros = F.unix_micros(F.col(ts))
    bucket = F.floor(micros / F.lit(max_gap_seconds * 1_000_000)).cast("long")
    base = df.select(
        F.col(key).alias("__k"),
        F.col(id_col).alias("__id"),
        micros.alias("__us"),
        bucket.alias("__b"),
    )
    probe = base.select(
        "__k",
        F.col("__id").alias("a"),
        F.col("__us").alias("us_a"),
        F.explode(
            F.array(F.col("__b") - 1, F.col("__b"), F.col("__b") + 1)
        ).alias("__b"),
    )
    build = base.select(
        "__k",
        F.col("__id").alias("b"),
        F.col("__us").alias("us_b"),
        "__b",
    )
    pairs = probe.join(build, ["__k", "__b"]).filter(
        (F.col("a") < F.col("b"))
        & (F.abs(F.col("us_a") - F.col("us_b")) <= max_gap_seconds * 1_000_000)
    )
    return pairs.select(
        F.col("__k").alias(key),
        "a",
        "b",
        ((F.col("us_b") - F.col("us_a")) / 1_000_000.0).alias("gap_seconds"),
    ).dropDuplicates([key, "a", "b"])
