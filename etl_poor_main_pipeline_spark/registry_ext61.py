"""Operator registry, wave 62: curation tuning + temporal drift —
weekly KS drift series, quality-filter threshold sweep, and dedup
threshold sensitivity.

Scale stances:
- Weekly KS: the monitoring version of ks_two_sample_drift — each
  week's value distribution against the previous week's, per
  event_type. CDFs live on the (type x week x integer-cent-bin) grid:
  domain- and calendar-bounded, never row-bounded; comparisons stay
  integer-exact (cross-multiplied counts).
- Threshold sweep: one scan scores documents once; a literal-array
  explode of 9 thresholds turns the policy question ("how much
  survives at tau?") into one group-by — no re-scan per threshold.
- Dedup sensitivity: the candidate pair set is computed ONCE at the
  loosest threshold (same blocked join as dedup_jaccard_pairs), then
  bucketed into threshold bands — the tuning curve that picks the
  production threshold without re-running the pipeline per value.

Reference parity: none; [EXT] X2/X6/X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.text import quality_score_expr, token_count_ws
from .operators import dedup
from .registry import QuerySpec, _t
from .registry import _TOKS_SQL  # established oracle tokenizer fragment

# --------------------------------------------------------------------------
# Weekly KS drift series (X7 [EXT])
# --------------------------------------------------------------------------


def q_ks_weekly_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 drift time series: for each event_type and week, the
    two-sample KS statistic of the value distribution against the
    PREVIOUS week — the week-over-week drift monitor a training-data
    feed alarms on. CDFs are cumulative windows over the
    (type, week, cent-bin) grid (domain x calendar bounded, zero
    filled so absent bins don't bias the sup); the D statistic keeps
    the integer cross-multiplied form until one final micro."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_micros("ts") / F.lit(604_800_000_000)).cast("bigint").alias("wk"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint").alias("bin"),
    )
    b = e.groupBy("event_type", "wk", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    bins_t = b.select("event_type", "bin").distinct()
    weeks_t = b.select("event_type", "wk").distinct()
    grid = (
        bins_t.join(weeks_t, "event_type")
        .join(b, ["event_type", "wk", "bin"], "left")
        .select(
            "event_type", "wk", "bin", F.coalesce("c", F.lit(0)).alias("c")
        )
    )
    w = Window.partitionBy("event_type", "wk").orderBy("bin")
    cum = grid.withColumn("cum", F.sum("c").over(w))
    tot = b.groupBy("event_type", "wk").agg(F.sum("c").cast("bigint").alias("n"))
    cur = cum.join(tot, ["event_type", "wk"]).select(
        "event_type", "wk", "bin", F.col("cum").alias("cum_cur"), F.col("n").alias("n_cur")
    )
    prv = cum.join(tot, ["event_type", "wk"]).select(
        "event_type",
        (F.col("wk") + 1).alias("wk"),
        "bin",
        F.col("cum").alias("cum_prv"),
        F.col("n").alias("n_prv"),
    )
    d = (
        cur.join(prv, ["event_type", "wk", "bin"])
        .select(
            "event_type",
            "wk",
            "n_cur",
            "n_prv",
            F.abs(
                F.col("cum_cur") * F.col("n_prv") - F.col("cum_prv") * F.col("n_cur")
            ).alias("num"),
        )
        .groupBy("event_type", "wk", "n_cur", "n_prv")
        .agg(F.max("num").alias("d_num"))
    )
    return d.select(
        "event_type",
        "wk",
        "n_cur",
        "n_prv",
        F.floor(
            F.lit(1e6) * F.col("d_num") / (F.col("n_cur") * F.col("n_prv")) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("ks_micro"),
    ).orderBy("event_type", "wk")


_ORACLE_KS_WEEKLY = """
WITH e AS (
  SELECT event_type,
         cast(epoch_us(ts) // 604800000000 AS bigint) AS wk,
         cast(floor(value * 100.0 + 0.5) AS bigint) AS bin
  FROM events
),
b AS (
  SELECT event_type, wk, bin, count(*)::BIGINT AS c FROM e GROUP BY 1, 2, 3
),
grid AS (
  SELECT bt.event_type, wt.wk, bt.bin, coalesce(b.c, 0) AS c
  FROM (SELECT DISTINCT event_type, bin FROM b) bt
  JOIN (SELECT DISTINCT event_type, wk FROM b) wt USING (event_type)
  LEFT JOIN b ON b.event_type = bt.event_type AND b.wk = wt.wk AND b.bin = bt.bin
),
cum AS (
  SELECT event_type, wk, bin,
         sum(c) OVER (PARTITION BY event_type, wk ORDER BY bin) AS cum
  FROM grid
),
tot AS (SELECT event_type, wk, sum(c)::BIGINT AS n FROM b GROUP BY 1, 2),
cur AS (
  SELECT c.event_type, c.wk, c.bin, c.cum AS cum_cur, t.n AS n_cur
  FROM cum c JOIN tot t USING (event_type, wk)
),
prv AS (
  SELECT c.event_type, c.wk + 1 AS wk, c.bin, c.cum AS cum_prv, t.n AS n_prv
  FROM cum c JOIN tot t USING (event_type, wk)
),
d AS (
  SELECT cur.event_type, cur.wk, cur.n_cur, prv.n_prv,
         max(abs(cur.cum_cur * prv.n_prv - prv.cum_prv * cur.n_cur))::BIGINT
           AS d_num
  FROM cur JOIN prv USING (event_type, wk, bin)
  GROUP BY 1, 2, 3, 4
)
SELECT event_type, wk, n_cur, n_prv,
       cast(floor(1e6 * d_num / (n_cur * n_prv) + 0.5) AS bigint) AS ks_micro
FROM d ORDER BY event_type, wk
"""


# --------------------------------------------------------------------------
# Quality-filter threshold sweep (X6 [EXT])
# --------------------------------------------------------------------------

_SWEEP_THRESHOLDS = tuple(i * 100_000 for i in range(1, 10))  # 0.1 .. 0.9


def q_filter_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 curation planning: for each candidate quality-gate
    threshold tau in 0.1..0.9, how many documents and tokens survive —
    the yield curve read before committing a filter (pairs with
    quality_quantile_gate, which applies one). Documents are scored
    ONCE (the composite text quality heuristic on micro-ints); a
    9-element literal explode turns the sweep into a single group-by."""
    d = _t(spark, sf_dir, "documents").select(
        F.floor(F.lit(1e6) * quality_score_expr(F.col("text")) + F.lit(0.5))
        .cast("bigint")
        .alias("q_micro"),
        token_count_ws(F.col("text")).cast("bigint").alias("n_tok"),
    )
    ths = ", ".join(str(t) for t in _SWEEP_THRESHOLDS)
    swept = d.selectExpr("q_micro", "n_tok", f"explode(array({ths})) as tau_micro")
    return (
        swept.groupBy("tau_micro")
        .agg(
            F.sum(F.when(F.col("q_micro") >= F.col("tau_micro"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_kept"),
            F.sum(
                F.when(F.col("q_micro") >= F.col("tau_micro"), F.col("n_tok")).otherwise(0)
            )
            .cast("bigint")
            .alias("n_tokens_kept"),
        )
        .orderBy("tau_micro")
    )


from .functions.text import LANG_MARKERS, PUNCT_CLASS  # noqa: E402
from .session import barrier

_EN_SQL = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])
_ORACLE_SWEEP = f"""
WITH base AS (
  SELECT len({_TOKS_SQL}) AS n_tok,
         length(text) AS n_char,
         length(text) - length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g')) AS n_punct,
         len(list_filter({_TOKS_SQL}, t -> list_contains([{_EN_SQL}], t))) AS n_sw
  FROM documents
),
scored AS (
  SELECT cast(floor(1e6 * (0.5 * least(n_tok / 20.0, 1.0)
             + 0.3 * least((n_sw * 1.0 / greatest(n_tok, 1)) * 5.0, 1.0)
             + 0.2 * (1.0 - least((n_punct * 1.0 / greatest(n_char, 1)) * 4.0, 1.0)))
             + 0.5) AS bigint) AS q_micro,
         cast(n_tok AS bigint) AS n_tok
  FROM base
),
swept AS (
  SELECT s.q_micro, s.n_tok, t.tau_micro
  FROM scored s CROSS JOIN (SELECT unnest([{", ".join(str(t) for t in _SWEEP_THRESHOLDS)}]) AS tau_micro) t
)
SELECT tau_micro,
       sum(CASE WHEN q_micro >= tau_micro THEN 1 ELSE 0 END)::BIGINT AS n_docs_kept,
       sum(CASE WHEN q_micro >= tau_micro THEN n_tok ELSE 0 END)::BIGINT
         AS n_tokens_kept
FROM swept GROUP BY 1 ORDER BY tau_micro
"""


# --------------------------------------------------------------------------
# Dedup threshold sensitivity (X2 [EXT])
# --------------------------------------------------------------------------

_SENS_BANDS = (700_000, 800_000, 900_000)


def q_threshold_sensitivity_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X2 dedup threshold tuning: the candidate pair set is
    scored ONCE at the loosest threshold (0.7, same blocked join as
    dedup_jaccard_pairs), then counted per threshold band
    {b} — pairs and distinct documents involved at each candidate
    production threshold, the sensitivity curve that picks tau
    without re-running the pipeline per value."""
    d = _t(spark, sf_dir, "documents")
    pairs = barrier(dedup.jaccard_token_sets(
        d, threshold=0.7, block_cols=["lang"], length_window=16
    ).select(
        "id_a",
        "id_b",
        F.floor(F.lit(1e6) * F.col("jaccard") + F.lit(0.5)).cast("bigint").alias("jm"),
    ))
    ths = ", ".join(str(t) for t in _SENS_BANDS)
    swept = pairs.selectExpr("id_a", "id_b", "jm", f"explode(array({ths})) as tau")
    kept = swept.where(F.col("jm") >= F.col("tau"))
    n_pairs = kept.groupBy("tau").agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    n_docs = (
        kept.selectExpr("tau", "id_a as doc_id")
        .unionAll(kept.selectExpr("tau", "id_b as doc_id"))
        .groupBy("tau")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    )
    return (
        n_pairs.join(n_docs, "tau")
        .select(F.col("tau").cast("bigint").alias("tau_micro"), "n_pairs", "n_docs")
        .orderBy("tau_micro")
    )


_ORACLE_SENSITIVITY = rf"""
WITH toks AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                                   t -> t <> '')) AS tok_set
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         cast(floor(1e6 * (len(list_intersect(a.tok_set, b.tok_set)) * 1.0
               / len(list_distinct(list_concat(a.tok_set, b.tok_set)))) + 0.5)
              AS bigint) AS jm
  FROM toks a JOIN toks b
    ON a.doc_id < b.doc_id AND a.lang = b.lang
   AND abs(a.n_chars - b.n_chars) <= 16
  WHERE len(list_intersect(a.tok_set, b.tok_set)) * 1.0
        / len(list_distinct(list_concat(a.tok_set, b.tok_set))) >= 0.7
),
swept AS (
  SELECT p.*, t.tau FROM pairs p
  CROSS JOIN (SELECT unnest([{", ".join(str(t) for t in _SENS_BANDS)}]) AS tau) t
),
kept AS (SELECT * FROM swept WHERE jm >= tau),
np AS (SELECT tau, count(*)::BIGINT AS n_pairs FROM kept GROUP BY 1),
nd AS (
  SELECT tau, count(DISTINCT doc_id)::BIGINT AS n_docs FROM (
    SELECT tau, id_a AS doc_id FROM kept
    UNION ALL
    SELECT tau, id_b AS doc_id FROM kept
  ) GROUP BY 1
)
SELECT cast(tau AS bigint) AS tau_micro, np.n_pairs, nd.n_docs
FROM np JOIN nd USING (tau) ORDER BY tau_micro
"""


REGISTRY_EXT61: dict[str, QuerySpec] = {
    "ks_weekly_drift": QuerySpec(
        q_ks_weekly_drift, _ORACLE_KS_WEEKLY, "X7 [EXT] drift time series"
    ),
    "filter_threshold_sweep": QuerySpec(
        q_filter_threshold_sweep, _ORACLE_SWEEP, "X6 [EXT] curation yield curve"
    ),
    "threshold_sensitivity_curve": QuerySpec(
        q_threshold_sensitivity_curve, _ORACLE_SENSITIVITY, "X2 [EXT] dedup tuning"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_threshold_sensitivity_curve.__doc__ = q_threshold_sensitivity_curve.__doc__.format(b=_SENS_BANDS)  # noqa: E501
