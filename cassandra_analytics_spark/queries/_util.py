"""Shared helpers for oracle-exact numeric determinism.

Floating-point sums are order-sensitive; Spark and DuckDB aggregate in
different orders, so raw ``SUM(double)`` can differ in the low bits and
break a value-hash comparison. Convention used by every query here:

* quantize each addend to fixed-point: ``floor(x * 10^4 + 0.5)`` as a
  64-bit integer (pure IEEE ops — identical in both engines, no
  BigDecimal, no decimal codepath),
* sum the longs (exact, associative, fastest aggregation path),
* divide once at the end to return a double,
* express the oracle SQL with the *same* construction.

Overflow headroom: |x| ≤ 1e6 → ≤ 1e10 per row → safe to ~9·10^8 rows per
aggregation group (sf≈100 lineitem); beyond that raise the scale down or
switch the affected query to the decimal variant (``DEC``/``DEC_SQL``).

Per-row double arithmetic (products, sqrt) is IEEE-deterministic and safe;
only the reduction order needs the fixed-point detour.

Also here: :func:`scratch_dir`, the one place a query makes and removes
the scratch directory its written files live in.
"""

from __future__ import annotations

import contextlib
import shutil
import tempfile
from collections.abc import Iterator

from pyspark.sql import Column
from pyspark.sql import functions as F

# fixed-point scale for cross-engine-exact double sums
M = 10_000

# decimal fallback (wider headroom, ~2.8x slower) for window frames and
# high-precision cases
DEC = "decimal(28,6)"
DEC_SQL = "DECIMAL(28,6)"


def dsum(c: Column) -> Column:
    """Deterministic double sum: fixed-point long sum, one final divide."""
    return F.sum(F.floor(c * M + F.lit(0.5))).cast("double") / M


def dsum_sql(expr: str) -> str:
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * {M} + 0.5) AS BIGINT)) AS DOUBLE) / {M}"
    )


def davg(c: Column) -> Column:
    """Deterministic double avg: exact fixed-point sum / non-null count."""
    return dsum(c) / F.count(c)


def davg_sql(expr: str) -> str:
    return f"{dsum_sql(expr)} / COUNT({expr})"


@contextlib.contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """A fresh directory under the temp dir for the files one query run
    writes, removed whole on exit. A layout's sidecars
    (``<path>_spec``, ``<path>_centroids``, ``<path>_codebook``) sit next
    to it, so only removing the root removes everything; a result that
    reads these files must be materialized before the block exits."""
    path = tempfile.mkdtemp(prefix=prefix)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)
