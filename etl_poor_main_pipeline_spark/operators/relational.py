"""Relational core: the reference's operator surface (SURVEY §2.2-2.3) plus
the standard completion surface (§2.6) as thin idiomatic-Spark wrappers.

Reference citations:
- P2 literal column: analytics__us_weather.py:44 (a plain ``F.lit``)
- P3 CASE bucketing: analytics__us_weather.py:45-50
- P4 equality filter: analytics__us_weather.py:52
- P5 cast enforcement: utils/duckdb_utils.py:176-182 (see schema.enforce_schema)
- P6 truncate+cast: utils/postgres_utils.py:23-24
- U1 UNION ALL: dashboard__north_america_weather.py:38-68

Everything here is a pure DataFrame expression — Catalyst handles pushdown,
pruning, join strategy (broadcast below threshold, sort-merge otherwise),
and AQE re-plans skew at runtime. No custom physical operators exist or are
needed (SURVEY §4 conclusion).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def case_bucket(
    col: Column | str,
    bounds: Sequence[tuple[float, str]],
    otherwise: str,
) -> Column:
    """P3 searched-CASE range bucketing.

    ``bounds`` are (upper_exclusive, label) pairs evaluated in order —
    exactly the reference's ``CASE WHEN temperature < 0 THEN 'Freezing'
    WHEN temperature < 10 THEN 'Cold' ...`` (analytics__us_weather.py:45-50).
    NULL input falls through to the ELSE branch in both Spark and DuckDB
    (pinned in tests, SURVEY §7.5).
    """
    c = F.col(col) if isinstance(col, str) else col
    expr = None
    for upper, label in bounds:
        cond = c < F.lit(upper)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return expr.otherwise(otherwise)


TEMPERATURE_BUCKETS = [(0.0, "Freezing"), (10.0, "Cold"), (20.0, "Mild")]
TEMPERATURE_OTHERWISE = "Warm"


def temperature_category(col: Column | str = "temperature") -> Column:
    """The reference's exact silver bucketing expression."""
    return case_bucket(col, TEMPERATURE_BUCKETS, TEMPERATURE_OTHERWISE)


def filter_eq(df: DataFrame, col: str, value) -> DataFrame:
    """P4 equality filter; pushed to the parquet scan by Catalyst."""
    return df.filter(F.col(col) == F.lit(value))


def truncate_str(col: Column | str, length: int = 10) -> Column:
    """P6 cast-to-string + left-truncate (defensive ``date_id[:10]``,
    utils/postgres_utils.py:23-24)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(c.cast("string"), 1, length)


def union_all(*dfs: DataFrame) -> DataFrame:
    """U1 bag union. ``unionByName`` rather than positional ``union`` so
    schema drift fails loudly instead of silently misaligning columns."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


# ---- completion surface (§2.6): thin wrappers, Catalyst does the work ----


def join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str] | Column,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """Join with optional explicit broadcast of the right side.

    At 100 TB: dimension tables (region/nation/part at TPC-H shape) stay far
    under the broadcast threshold — broadcasting them removes the shuffle on
    the fact side entirely. AQE also auto-converts post-shuffle when stats
    allow; the explicit hint makes the plan deterministic.
    """
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=on, how=how)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    salt_buckets: int = 8,
) -> DataFrame:
    """Skew-mitigated equi-join: identical results to ``left.join(right,
    on)``, but hot keys spread across ``salt_buckets`` reducers.

    Left rows get a deterministic salt (hash of the whole row mod k);
    right rows replicate to all k salts; the join key becomes
    (key, salt). Use when one join key dominates (power-law keys) and the
    build side is too big to broadcast — AQE's skew-join handles moderate
    skew automatically, salting is the explicit heavy-hammer for extreme
    cases. Replication multiplies the right side by k: keep the smaller
    relation on the right.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt_buckets))
    l_salted = left.withColumn("_salt", salt)
    r_salted = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = l_salted.join(r_salted, on=[on, "_salt"], how=how)
    return out.drop("_salt")
