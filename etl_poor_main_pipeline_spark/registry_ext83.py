"""Operator registry, wave 84: pipeline-reliability tier — referential
integrity, forecast-quality backtest (MASE), hourly completeness.

Scale stances:
- Referential integrity: one LEFT ANTI join per FK edge (equi-keyed;
  Catalyst broadcasts the dim side where small, AQE picks shuffle joins
  for fact-fact) folded into per-edge counts — the audit every warehouse
  runs after a load. No row output, bounded one-row-per-edge result.
- Seasonal-naive MASE: the standard "is a model even worth it" forecast
  gate. The facts reduce to a calendar-bounded hourly series per type;
  the season lag (t-24) and the unit lag (t-1) are EQUI self-joins on the
  bucket index (never a window over the corpus), and both MAEs are exact
  micro-int aggregates.
- Hourly completeness: the per-type series joins a literal hour spine
  (driver-computed bounds from one tiny aggregate); missing-bucket
  counts, tail lag and the longest gap are spine-bounded arithmetic —
  longest-gap uses a partitioned window whose frame is the CALENDAR, not
  the corpus.

Reference parity: the reference's implicit contract (every weather row
joins a station/date; daily completeness) with no audit op anywhere —
this tier is the [EXT] generalization per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# Referential-integrity audit (X7 [EXT], §2.6 join family)
# --------------------------------------------------------------------------

_RI_EDGES = [
    # (child table, child key, parent table, parent key)
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def q_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 referential-integrity audit over the warehouse FK graph:
    for every declared child->parent edge, the child row count, rows
    with a NULL key, orphan rows (non-null key with no parent — LEFT
    ANTI equi join), and the orphan rate. The post-load gate that
    catches a broken upstream extract before silver publishes; one
    bounded row per edge."""
    outs = []
    for child, ck, parent, pk in _RI_EDGES:
        c = _t(spark, sf_dir, child).select(F.col(ck).alias("k"))
        p = (
            _t(spark, sf_dir, parent)
            .select(F.col(pk).alias("k"))
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        # one LEFT join + one aggregate per edge: null key, orphan
        # (non-null, no parent) and total counted in the same pass
        outs.append(
            c.join(p, "k", "left").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_child"),
                F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_null_keys"),
                F.sum(
                    F.when(F.col("k").isNotNull() & F.col("hit").isNull(), 1).otherwise(0)
                )
                .cast("bigint")
                .alias("n_orphans"),
            ).selectExpr(
                f"'{child}.{ck} -> {parent}.{pk}' as fk_edge",
                "n_child",
                "n_null_keys",
                "n_orphans",
                "cast(floor(1e6 * cast(n_orphans as double)"
                " / cast(n_child as double) + 0.5) as bigint) as orphan_rate_micro",
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("fk_edge")


def _oracle_ri() -> str:
    parts = []
    for child, ck, parent, pk in _RI_EDGES:
        parts.append(f"""
SELECT '{child}.{ck} -> {parent}.{pk}' AS fk_edge,
       (SELECT count(*) FROM {child})::BIGINT AS n_child,
       (SELECT count(*) FROM {child} WHERE {ck} IS NULL)::BIGINT AS n_null_keys,
       (SELECT count(*) FROM {child} c
         WHERE c.{ck} IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{ck})
       )::BIGINT AS n_orphans,
       cast(floor(1e6 * cast((SELECT count(*) FROM {child} c
         WHERE c.{ck} IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{ck}))
         AS double) / cast((SELECT count(*) FROM {child}) AS double) + 0.5)
         AS bigint) AS orphan_rate_micro""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY fk_edge"


# --------------------------------------------------------------------------
# Seasonal-naive MASE backtest (X7 [EXT])
# --------------------------------------------------------------------------

_MASE_SEASON = 24  # hourly series, daily season


def q_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 forecast-quality floor: per event_type hourly value
    totals (absolute integer hour index = unix_micros div 3600e6 — the
    session-independent convention), the seasonal-naive forecast
    value(t-{s}) is scored against the lag-1 naive via MASE =
    MAE_seasonal / MAE_naive — the scale-free gate a forecasting model
    must beat. Both lags are EQUI self-joins on the hour index;
    absolute errors are exact micro-ints; only hours where both the
    target and its lag exist score (no gap-fill bias)."""
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_type",
        "unix_micros(ts) div 3600000000 as h",
        "cast(floor(1e6 * value + 0.5) as bigint) as vm",
    )
    hourly = barrier(  # three equi self-joins read it
        e.groupBy("event_type", "h")
        .agg(F.sum("vm").cast("bigint").alias("v"))
    )
    lag_s = hourly.selectExpr(
        "event_type", f"h + {_MASE_SEASON} as h", "v as v_season"
    )
    lag_1 = hourly.selectExpr("event_type", "h + 1 as h", "v as v_prev")
    scored = hourly.join(lag_s, ["event_type", "h"]).join(
        lag_1, ["event_type", "h"]
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            F.sum(F.abs(F.col("v") - F.col("v_season"))).cast("bigint").alias("ae_s"),
            F.sum(F.abs(F.col("v") - F.col("v_prev"))).cast("bigint").alias("ae_1"),
        )
        .selectExpr(
            "event_type",
            "n_hours",
            "cast(floor(cast(ae_s as double) / cast(n_hours as double) + 0.5)"
            " as bigint) as mae_seasonal_micro",
            "cast(floor(cast(ae_1 as double) / cast(n_hours as double) + 0.5)"
            " as bigint) as mae_naive_micro",
            "cast(floor(1e6 * cast(ae_s as double) / cast(ae_1 as double) + 0.5)"
            " as bigint) as mase_micro",
        )
        .orderBy("event_type")
    )


_ORACLE_MASE = f"""
WITH e AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         cast(floor(1e6 * value + 0.5) AS bigint) AS vm
  FROM events
),
hourly AS (
  SELECT event_type, h, sum(vm)::BIGINT AS v FROM e GROUP BY 1, 2
),
scored AS (
  SELECT t.event_type, t.v, s.v AS v_season, p.v AS v_prev
  FROM hourly t
  JOIN hourly s ON s.event_type = t.event_type AND s.h = t.h - {_MASE_SEASON}
  JOIN hourly p ON p.event_type = t.event_type AND p.h = t.h - 1
)
SELECT event_type, count(*)::BIGINT AS n_hours,
       cast(floor(cast(sum(abs(v - v_season)) AS double)
                  / cast(count(*) AS double) + 0.5) AS bigint)
         AS mae_seasonal_micro,
       cast(floor(cast(sum(abs(v - v_prev)) AS double)
                  / cast(count(*) AS double) + 0.5) AS bigint)
         AS mae_naive_micro,
       cast(floor(1e6 * cast(sum(abs(v - v_season)) AS double)
                  / cast(sum(abs(v - v_prev)) AS double) + 0.5) AS bigint)
         AS mase_micro
FROM scored GROUP BY event_type ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Hourly completeness audit (X7 [EXT])
# --------------------------------------------------------------------------


def q_hourly_completeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 per-type hourly completeness: per event_type, expected
    hours span from the type's FIRST hour to the CORPUS's last hour
    (a late-starting type is not penalized for history before it
    existed; a stalled type is penalized up to now). Reports expected /
    present / missing hour counts, the completeness rate, the tail lag
    from the corpus's last hour, and the LONGEST missing-hour run
    (consecutive present-hour gaps via a lag window whose partition
    frame is the calendar-bounded per-type hour series, never the raw
    corpus). The freshness+completeness gate a scheduler consults
    before publishing a partition; hour index is unix_micros integer
    arithmetic (session-independent convention)."""
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_type", "unix_micros(ts) div 3600000000 as h"
    )
    present = e.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("_n")).drop("_n")
    bounds = e.agg(F.max("h").alias("h1"))
    w = Window.partitionBy("event_type").orderBy("h")
    runs = (
        present.crossJoin(F.broadcast(bounds))
        .withColumn("prev_h", F.lag("h").over(w))
        .selectExpr("event_type", "h", "h1", "coalesce(h - prev_h - 1, 0) as gap")
    )
    return (
        runs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_present"),
            F.max("gap").cast("bigint").alias("longest_gap_hours"),
            (F.max("h1") - F.max("h")).cast("bigint").alias("tail_lag_hours"),
            (F.max("h1") - F.min("h") + 1).cast("bigint").alias("n_expected"),
        )
        .selectExpr(
            "event_type",
            "n_expected",
            "n_present",
            "cast(n_expected - n_present as bigint) as n_missing",
            "cast(floor(1e6 * cast(n_present as double)"
            " / cast(n_expected as double) + 0.5) as bigint) as completeness_micro",
            "longest_gap_hours",
            "tail_lag_hours",
        )
        .orderBy("event_type")
    )


_ORACLE_COMPLETENESS = """
WITH e AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h FROM events
),
present AS (SELECT DISTINCT event_type, h FROM e),
bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
runs AS (
  SELECT p.event_type, p.h, b.h1,
         coalesce(p.h - lag(p.h) OVER (PARTITION BY p.event_type ORDER BY p.h)
                  - 1, 0) AS gap
  FROM present p CROSS JOIN bounds b
)
SELECT event_type,
       (max(h1) - min(h) + 1)::BIGINT AS n_expected,
       count(*)::BIGINT AS n_present,
       (max(h1) - min(h) + 1 - count(*))::BIGINT AS n_missing,
       cast(floor(1e6 * cast(count(*) AS double)
                  / cast(max(h1) - min(h) + 1 AS double) + 0.5) AS bigint)
         AS completeness_micro,
       max(gap)::BIGINT AS longest_gap_hours,
       (max(h1) - max(h))::BIGINT AS tail_lag_hours
FROM runs GROUP BY event_type ORDER BY event_type
"""


REGISTRY_EXT83: dict[str, QuerySpec] = {
    "referential_integrity_audit": QuerySpec(
        q_referential_integrity_audit, _oracle_ri(), "X7 [EXT] FK orphan audit"
    ),
    "seasonal_naive_mase": QuerySpec(
        q_seasonal_naive_mase, _ORACLE_MASE, "X7 [EXT] forecast MASE floor"
    ),
    "hourly_completeness_audit": QuerySpec(
        q_hourly_completeness_audit, _ORACLE_COMPLETENESS, "X7 [EXT] completeness gate"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_seasonal_naive_mase.__doc__ = q_seasonal_naive_mase.__doc__.format(s=_MASE_SEASON)  # noqa: E501
