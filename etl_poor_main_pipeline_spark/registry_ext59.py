"""Operator registry, wave 60: sorted-neighborhood dedup blocking,
event debouncing, and cohort LTV curves.

Scale stances:
- Sorted neighborhood: the OTHER classic entity-resolution blocking
  scheme (vs the hash/LSH blocking the X2 tier already has) — sort by
  a normalized key, compare only rank-neighbors within window w. The
  global sort rank is the Blelloch construction
  (operators/scan_prefix.global_rank_zero): range partitions +
  partitioned scans, NO single-partition window; the neighbor join is
  a band equi-join on rank buckets. The expensive verify (token
  Jaccard) runs only on w*n candidates.
- Debounce: gap-based duplicate-burst suppression via lag windows
  PARTITIONED by (user, type) — the stream-hygiene filter, stated
  explicitly as gap-to-previous-RAW-event (the parallel,
  deterministic variant; last-KEPT chaining is sequential by nature).
- Cohort LTV: first-touch cohorting via a per-user min, then integer
  cent revenue cumulated along cohort age with windows PARTITIONED by
  cohort — the growth-accounting standard.

Reference parity: none; [EXT] X2/X7/X9 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.text import tokens_expr
from .operators.scan_prefix import global_rank_zero
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# Sorted-neighborhood blocking (X2 [EXT])
# --------------------------------------------------------------------------

_SNM_WINDOW = 5
_SNM_KEYLEN = 24
_SNM_THRESH = 0.8


def q_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X2 sorted-neighborhood near-dup: documents sort by a
    normalized {k}-char prefix key; only rank-neighbors within a
    window of {w} are compared (token Jaccard >= {t}). The global
    rank is the Blelloch two-phase construction — no unpartitioned
    window — and the neighbor pairing is an equi-join on rank offsets
    1..{wm1}, so candidates are exactly (w-1)*n. The complementary
    blocking scheme to the lang/LSH buckets: catches near-dups whose
    similarity lives in a shared prefix."""
    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.lower(F.col("text")), r"\s+", " "), 1, _SNM_KEYLEN
        ).alias("sk"),
        F.array_distinct(
            F.transform(tokens_expr("text"), lambda t: F.xxhash64(t))
        ).alias("hs"),
    )
    n_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
    ranked = barrier(global_rank_zero(keyed, ["sk", "doc_id"], n_parts, out="r0"))
    offs = spark.range(1, _SNM_WINDOW).selectExpr("id as off")
    a = ranked.select(
        F.col("doc_id").alias("id_a"), F.col("hs").alias("hs_a"), F.col("r0")
    )
    b = ranked.select(
        F.col("doc_id").alias("id_b"), F.col("hs").alias("hs_b"), F.col("r0").alias("r2")
    )
    cand = (
        a.crossJoin(F.broadcast(offs))
        .withColumn("r2", F.col("r0") + F.col("off"))
        .join(b, "r2")
    )
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    union = F.size(F.col("hs_a")) + F.size(F.col("hs_b")) - inter
    jacc = inter.cast("double") / union
    return (
        cand.where(jacc >= F.lit(_SNM_THRESH))
        .select(
            F.least("id_a", "id_b").alias("id_lo"),
            F.greatest("id_a", "id_b").alias("id_hi"),
            F.floor(F.lit(1e6) * jacc + F.lit(0.5)).cast("bigint").alias("jacc_micro"),
        )
        .orderBy("id_lo", "id_hi")
    )


_ORACLE_SNM = rf"""
WITH keyed AS (
  SELECT doc_id,
         substr(regexp_replace(lower(text), '\s+', ' ', 'g'), 1, {_SNM_KEYLEN}) AS sk,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                                   t -> t <> '')) AS ts
  FROM documents
),
ranked AS (
  SELECT doc_id, ts,
         row_number() OVER (ORDER BY sk, doc_id) - 1 AS r0
  FROM keyed
),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ts AS ts_a, b.ts AS ts_b
  FROM ranked a JOIN ranked b
    ON b.r0 > a.r0 AND b.r0 <= a.r0 + {_SNM_WINDOW - 1}
),
scored AS (
  SELECT id_a, id_b,
         len(list_intersect(ts_a, ts_b)) * 1.0
           / (len(ts_a) + len(ts_b) - len(list_intersect(ts_a, ts_b))) AS jacc
  FROM cand
)
SELECT least(id_a, id_b) AS id_lo, greatest(id_a, id_b) AS id_hi,
       cast(floor(1e6 * jacc + 0.5) AS bigint) AS jacc_micro
FROM scored WHERE jacc >= {_SNM_THRESH}
ORDER BY id_lo, id_hi
"""


# --------------------------------------------------------------------------
# Event debounce (X7/X10 [EXT])
# --------------------------------------------------------------------------

_DEBOUNCE_MS = 60_000  # drop repeats within a minute of the previous raw event


def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X10 gap-debounce: per (user, event_type), an event
    within {ms}ms of the PREVIOUS raw event of the same key is a
    duplicate burst and gets dropped — the at-source hygiene filter
    before sessionization. Gap-to-previous-raw is the deterministic
    parallel variant (lag window partitioned by key); chaining to the
    last KEPT event is inherently sequential and is exactly what the
    stateful streaming tier (applyInPandasWithState) is for. Reports
    per type: total, kept, dropped."""
    w = Window.partitionBy("user_id", "event_type").orderBy("t_us", "event_id")
    e = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id", "event_type", F.unix_micros("ts").alias("t_us"), "event_id"
        )
        .withColumn("prev", F.lag("t_us").over(w))
        .withColumn(
            "kept",
            F.col("prev").isNull()
            | (F.col("t_us") - F.col("prev") > F.lit(_DEBOUNCE_MS * 1000)),
        )
    )
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(~F.col("kept"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
        )
        .orderBy("event_type")
    )


_ORACLE_DEBOUNCE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS t_us, event_id FROM events
),
l AS (
  SELECT event_type,
         (prev IS NULL OR t_us - prev > {_DEBOUNCE_MS * 1000}) AS kept
  FROM (
    SELECT event_type, t_us,
           lag(t_us) OVER (PARTITION BY user_id, event_type
                           ORDER BY t_us, event_id) AS prev
    FROM e
  )
)
SELECT event_type, count(*)::BIGINT AS n_total,
       sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       sum(CASE WHEN kept THEN 0 ELSE 1 END)::BIGINT AS n_dropped
FROM l GROUP BY 1 ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Cohort LTV curve (X9 [EXT])
# --------------------------------------------------------------------------


def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 cohort lifetime-value curve: users cohort by their
    first-seen week; purchase revenue (integer cents) accumulates
    along cohort age in weeks — the LTV triangle growth accounting
    reads. First-touch is a per-user min aggregate; the cumulative
    sum is a window PARTITIONED by cohort week; everything stays in
    integer cents."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.floor(F.unix_micros("ts") / F.lit(604_800_000_000)).cast("bigint").alias("wk"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint").alias("v"),
    )
    first = e.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    rev = (
        e.where(F.col("event_type") == "purchase")
        .join(first, "user_id")
        .groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("age_wk"))
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_buyers"),
            F.sum("v").cast("bigint").alias("revenue_c"),
        )
    )
    w = Window.partitionBy("cohort_wk").orderBy("age_wk")
    return (
        rev.withColumn("cum_revenue_c", F.sum("revenue_c").over(w).cast("bigint"))
        .orderBy("cohort_wk", "age_wk")
    )


_ORACLE_LTV = """
WITH e AS (
  SELECT user_id, event_type,
         cast(epoch_us(ts) // 604800000000 AS bigint) AS wk,
         cast(floor(value * 100.0 + 0.5) AS bigint) AS v
  FROM events
),
first AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1),
rev AS (
  SELECT f.cohort_wk, (e.wk - f.cohort_wk) AS age_wk,
         count(DISTINCT e.user_id)::BIGINT AS n_buyers,
         sum(e.v)::BIGINT AS revenue_c
  FROM e JOIN first f USING (user_id)
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT cohort_wk, age_wk, n_buyers, revenue_c,
       cast(sum(revenue_c) OVER (PARTITION BY cohort_wk ORDER BY age_wk)
            AS bigint) AS cum_revenue_c
FROM rev ORDER BY cohort_wk, age_wk
"""


REGISTRY_EXT59: dict[str, QuerySpec] = {
    "sorted_neighborhood_pairs": QuerySpec(
        q_sorted_neighborhood_pairs, _ORACLE_SNM, "X2 [EXT] SNM blocking"
    ),
    "event_debounce": QuerySpec(
        q_event_debounce, _ORACLE_DEBOUNCE, "X7/X10 [EXT] burst suppression"
    ),
    "cohort_ltv_curve": QuerySpec(q_cohort_ltv_curve, _ORACLE_LTV, "X9 [EXT] LTV triangle"),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_sorted_neighborhood_pairs.__doc__ = q_sorted_neighborhood_pairs.__doc__.format(k=_SNM_KEYLEN, w=_SNM_WINDOW, t=_SNM_THRESH, wm1=_SNM_WINDOW - 1)  # noqa: E501
q_event_debounce.__doc__ = q_event_debounce.__doc__.format(ms=_DEBOUNCE_MS)  # noqa: E501
