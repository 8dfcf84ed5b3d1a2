"""Scalar-function surface + cross-engine determinism helpers.

The reference's scalar-function inventory (SURVEY §2.8: TRIM/LOWER/UPPER/
SPLIT/CAST/YEAR/MONTH/DAYOFWEEK/current_timestamp/ROUND/NULLIF/COALESCE)
is all built-in `pyspark.sql.functions`; this module re-exports the few
helpers our queries share plus the determinism shims the oracle
comparison needs (FIXTURES.md §4):

- ``dec``: route money arithmetic through DECIMAL so sums are *exact*
  and engine-independent (parallel double summation is order-dependent;
  decimal is not). Cast to DOUBLE only at the output boundary.
- ``fixed_clock``: injectable constant timestamp replacing
  ``current_timestamp()`` (reference uses it in every dbt model, e.g.
  ``dbt/analytics/models/staging/stg_users.sql:35``) so golden tests are
  deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Deterministic stand-in for current_timestamp() in test/oracle mode.
FIXED_CLOCK = "2024-01-01 00:00:00"


def fixed_clock() -> Column:
    return F.to_timestamp(F.lit(FIXED_CLOCK))


def dec(col: Column | str, scale: int = 2, precision: int = 18) -> Column:
    """Cast to DECIMAL(precision, scale) for exact aggregation."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Exact decimal SUM, surfaced as DOUBLE (same bits in any engine)."""
    return F.sum(dec(col, scale)).cast("double")
