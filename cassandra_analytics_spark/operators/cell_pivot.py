"""Cell→row pivot — the reference's M2 operator as a real transform.

The reference's storage model is cell-oriented: one timestamped cell per
(partition key, clustering key, column), sparse; the reader pivots the
cell stream into rows (``sparksql/SparkCellIterator.java:182-298``,
``FullRowBuilder.java:33-131``), handling per-cell LWW, row markers
(key-only rows), and static cells.

Spark-first formulation: ``groupBy(pk, ck).pivot(column)`` with a
``max_by(value, writetime)`` aggregate — per-cell last-write-wins in the
same shuffle that builds the row. Row markers are cells with a null
column name: they force row existence without contributing a value
(``AbstractStreamScanner.java:245-258``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROW_MARKER = "__row_marker__"


def cell_pivot(
    cells: DataFrame,
    partition_keys: Sequence[str],
    clustering_keys: Sequence[str] = (),
    column_col: str = "column",
    value_col: str = "value",
    writetime_col: str = "writetime",
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Pivot a sparse timestamped cell stream into rows.

    ``columns`` fixes the output column set (recommended — avoids the
    pivot's distinct-scan job and makes the schema stable); when omitted
    it is inferred with one distinct pass.

    Per output cell the max-writetime value wins (``max_by``). A row
    exists if it has any cell OR a row marker (cells whose column is
    ``ROW_MARKER``/null) — UPDATE-created rows without markers still
    appear iff they have at least one live cell, matching the reference.
    """
    if not partition_keys:
        # the pivot groups on the primary key: an empty key list silently
        # collapses every cell into one global row (round-8 probe)
        raise ValueError("cell_pivot needs at least one partition key")
    keys = list(partition_keys) + list(clustering_keys)
    if columns is None:
        columns = [
            r[0]
            for r in cells.select(column_col)
            .filter(
                F.col(column_col).isNotNull() & (F.col(column_col) != ROW_MARKER)
            )
            .distinct()
            .collect()
        ]
        columns = sorted(columns)

    normalized = cells.withColumn(
        column_col,
        F.when(F.col(column_col).isNull(), F.lit(ROW_MARKER)).otherwise(
            F.col(column_col)
        ),
    )
    # Writetime TIES resolve greatest-value-wins, matching Cassandra's
    # cell reconciliation (equal timestamps compare the values; the
    # reference inherits it via the SSTable merge) and the repo's LWW
    # tiebreak convention (merge.py, asof.py) — a bare max_by(value,
    # writetime) keeps whichever tied cell a task saw first (round-7
    # hostile pass). Map-typed values tiebreak via their canonical
    # sorted-entries projection (merge.order_key_sql); only values with
    # no canonical order keep the writetime-only ordering.
    from cassandra_analytics_spark.operators.merge import order_key_sql, quote_ident

    vkey = order_key_sql(value_col, cells.schema[value_col].dataType)
    if vkey is not None:
        order = F.expr(f"struct({quote_ident(writetime_col)}, {vkey})")
    else:
        order = F.col(writetime_col)
    pivoted = (
        normalized.groupBy(*keys)
        .pivot(column_col, list(columns) + [ROW_MARKER])
        .agg(F.max_by(F.col(value_col), order))
    )
    return pivoted.drop(ROW_MARKER)


def rows_to_cells(
    df: DataFrame,
    partition_keys: Sequence[str],
    clustering_keys: Sequence[str] = (),
    writetime_col: str = "writetime",
    value_columns: Sequence[str] | None = None,
) -> DataFrame:
    """Inverse transform for tests/fixtures: explode a row table into the
    sparse cell stream (one row per non-null cell + a row marker), all
    values stringified — mirroring how the reference's fixtures write
    individual cells."""
    keys = list(partition_keys) + list(clustering_keys)
    if value_columns is None:
        value_columns = [
            c for c in df.columns if c not in keys and c != writetime_col
        ]
    entries = [
        F.struct(
            F.lit(c).alias("column"), F.col(c).cast("string").alias("value")
        )
        for c in value_columns
    ]
    entries.append(
        F.struct(
            F.lit(ROW_MARKER).alias("column"), F.lit("").alias("value")
        )
    )
    exploded = df.select(
        *keys,
        F.col(writetime_col),
        F.explode(F.array(*entries)).alias("__cell"),
    ).select(
        *keys,
        F.col(writetime_col),
        F.col("__cell.column").alias("column"),
        F.col("__cell.value").alias("value"),
    )
    return exploded.filter(
        (F.col("column") == ROW_MARKER) | F.col("value").isNotNull()
    )
