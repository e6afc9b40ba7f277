"""Small local-data DataFrames through the Arrow batch path (r16).

``spark.createDataFrame(list_of_tuples)`` plans a PICKLED-RDD relation:
every job that touches it launches a Python worker to unpickle the rows
executor-side. In this runtime the SQL-side Python-runner never reuses
workers (a fresh pyspark.daemon per job — measured ~4.5-7 s of pure
worker startup to write a 16-row sidecar, guide §4: the boundary you
don't need is the boundary you remove). Routing the same rows through a
pandas DataFrame instead makes the driver serialize ONE Arrow batch
up front and the plan JVM-only — the identical 16-row write drops to
~0.2 s, and NOTHING downstream changes: same schema, same values, same
lazy semantics.

Use :func:`local_df` for every metadata-sized local relation on a hot
path (rescore survivor lists, routing tables); layout sidecars need no
relation at all (``fs.write_sidecar`` writes them on the driver). The
plain path remains for empty frames (no job ever runs a worker over
zero rows) and as the fallback for rows pandas/Arrow cannot represent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` via the Arrow path.

    ``rows`` is a list of tuples (or Rows); ``schema`` a DDL string or
    ``StructType``. Values round-trip identically to the plain path —
    the Arrow batch is built against the EXPLICIT schema, so the type
    coercions are Spark's, not pandas' dtype inference."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    st = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    if not rows:
        # JVM-only empty frame: createDataFrame([], schema) plans an
        # empty PYTHON partition that still launches a worker on every
        # action touching it (~1 s measured r16). A zero-row pyarrow
        # Table plans `LocalTableScan <empty>` (no workers, measured
        # r17) AND preserves the schema's nullability exactly — the
        # r16 `range(0).select(lit(None).cast(...))` form silently made
        # every column nullable (round-16 ADVICE).
        try:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            empty = pa.Table.from_pylist([], schema=to_arrow_schema(st))
            return spark.createDataFrame(empty, st)
        except Exception:
            # Arrow cannot represent this schema: keep the JVM-only
            # projection form (all-NULLABLE columns — acceptable for
            # the fallback; the pickled path would launch workers)
            return spark.range(0).select(
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in st.fields
                ]
            )
    try:
        import pandas as pd
        pdf = pd.DataFrame(
            [tuple(r) for r in rows], columns=[f.name for f in st.fields],
            dtype=object,
        )
        return spark.createDataFrame(pdf, st)
    except Exception:
        # pandas/Arrow cannot represent these rows — the pickled-RDD
        # path always can
        return spark.createDataFrame(rows, schema)
