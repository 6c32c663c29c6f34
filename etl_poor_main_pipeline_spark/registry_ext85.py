"""Operator registry, wave 86: winnowing candidate pairs, l-diversity,
Wilson-interval calibration bins.

Scale stances:
- Winnowing pairs: fingerprint-blocked EQUI self-join (the shape wave 83's
  docstring promised) with a STOP-FINGERPRINT cap: fingerprints shared by
  more than {cap} docs are dropped before pairing (the stop-word move —
  boilerplate fingerprints generate quadratic bucket blowups and zero
  dedup signal), so per-bucket pair fan-out is bounded by {cap}^2/2.
  Output is a TakeOrdered top-{k}.
- l-diversity: two bounded grouped aggregates over the same
  quasi-identifier grid as k_anonymity_risk, plus a QI-partitioned window
  for the dominant sensitive-value share (partition frame = the QI group,
  domain-bounded).
- Wilson bins: one aggregate to the {B}-bin frame, then closed-form
  score-interval arithmetic on exact-int counts (identical correctly-
  rounded doubles in both engines) — the error-bar upgrade of
  calibration_bins.

Reference parity: none; [EXT] X2/X7/X8 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .registry_ext82 import _WIN_K, _WIN_W, win_minima
from .session import barrier

# --------------------------------------------------------------------------
# Winnowing candidate pairs (X2 [EXT])
# --------------------------------------------------------------------------

_WP_STOP_CAP = 32  # fingerprints in more docs than this are boilerplate
_WP_MIN_SHARED = 2
_WP_TOPK = 20


def q_winnowing_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X2 near-dup candidate pairs from winnowing fingerprints:
    docs sharing >= {m} non-boilerplate fingerprints, ranked by shared
    count (top-{k}, id tiebreaks). Fingerprints held by more than
    {cap} docs are STOP-FINGERPRINTS and dropped before the equi
    self-join — bucket fan-out is bounded by {cap}^2/2 pairs per
    fingerprint, the same skew cap the MinHash LSH path uses. The join
    is equi on the fingerprint (blocked; never all-pairs), and the
    final cut is a TakeOrderedAndProject."""
    d = barrier(  # feeds the bucket-size filter + join
        win_minima(spark, sf_dir)
        .select("doc_id", "fp")
        .distinct()
    )
    keep = (
        d.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs").between(2, _WP_STOP_CAP))
        .select("fp")
    )
    dd = d.join(keep, "fp")
    a = dd.selectExpr("fp", "doc_id as a_id")
    b = dd.selectExpr("fp", "doc_id as b_id")
    return (
        a.join(b, "fp")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_fps"))
        .where(F.col("n_shared_fps") >= _WP_MIN_SHARED)
        .orderBy(F.desc("n_shared_fps"), F.asc("a_id"), F.asc("b_id"))
        .limit(_WP_TOPK)
    )


def _oracle_winnowing_pairs() -> str:
    toks = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"
    gram_concat = " || ' ' || ".join(f"tk[i + {d}]" for d in range(_WIN_K))
    return f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
g AS (
  SELECT doc_id,
         list_transform(range(1, len(tk) - {_WIN_K - 1} + 1), i ->
           ('0x' || substr(md5({gram_concat}), 1, 13))::BIGINT) AS gh
  FROM t
),
f AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(gh) - {_WIN_W - 1} + 1), i ->
           list_min(list_slice(gh, i, i + {_WIN_W - 1})))) AS fp
  FROM g WHERE len(gh) >= {_WIN_W}
),
d AS (SELECT doc_id, unnest(fp) AS fp FROM f),
keep AS (
  SELECT fp FROM d GROUP BY fp
  HAVING count(*) BETWEEN 2 AND {_WP_STOP_CAP}
),
dd AS (SELECT d.fp, d.doc_id FROM d JOIN keep USING (fp))
SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*)::BIGINT AS n_shared_fps
FROM dd a JOIN dd b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {_WP_MIN_SHARED}
ORDER BY n_shared_fps DESC, a_id ASC, b_id ASC
LIMIT {_WP_TOPK}
"""


# --------------------------------------------------------------------------
# l-diversity audit (X7/X8 [EXT])
# --------------------------------------------------------------------------

_LDIV_BIN = 64  # n_chars bucket width (QI granularity)
_LDIV_L = 3


def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X8 l-diversity audit, the attribute-disclosure
    companion of k_anonymity_risk: quasi-identifier = (lang,
    n_chars/{b} bucket), sensitive attribute = source. Per lang:
    QI-group count, groups with fewer than l={l} distinct sources,
    the minimum l, and the worst dominant-source share (homogeneity
    attack risk: a group where one source holds ~100% leaks the
    source even when k-anonymous). Grouped aggregates on bounded
    grids; the dominant share uses a QI-partitioned window."""
    d = _t(spark, sf_dir, "documents").select(
        "lang",
        F.floor(F.col("n_chars") / F.lit(_LDIV_BIN)).cast("bigint").alias("size_bin"),
        "source",
    )
    per_sv = d.groupBy("lang", "size_bin", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.partitionBy("lang", "size_bin")
    per_qi = (
        per_sv.withColumn("grp_n", F.sum("c").over(w))
        .withColumn("max_c", F.max("c").over(w))
        .groupBy("lang", "size_bin")
        .agg(
            F.countDistinct("source").cast("bigint").alias("l_distinct"),
            F.max("grp_n").cast("bigint").alias("grp_n"),
            F.max("max_c").cast("bigint").alias("max_c"),
        )
    )
    return (
        per_qi.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("l_distinct") < _LDIV_L, 1).otherwise(0))
            .cast("bigint")
            .alias("n_low_diversity_groups"),
            F.min("l_distinct").cast("bigint").alias("min_l"),
            F.max(
                F.floor(
                    F.lit(1e6) * F.col("max_c").cast("double") / F.col("grp_n").cast("double")
                    + F.lit(0.5)
                ).cast("bigint")
            ).alias("worst_dominant_share_micro"),
        )
        .orderBy("lang")
    )


_ORACLE_LDIV = f"""
WITH d AS (
  SELECT lang, cast(floor(n_chars / {_LDIV_BIN}.0) AS bigint) AS size_bin, source
  FROM documents
),
per_sv AS (
  SELECT lang, size_bin, source, count(*)::BIGINT AS c
  FROM d GROUP BY 1, 2, 3
),
per_qi AS (
  SELECT lang, size_bin,
         count(DISTINCT source)::BIGINT AS l_distinct,
         sum(c)::BIGINT AS grp_n,
         max(c)::BIGINT AS max_c
  FROM per_sv GROUP BY 1, 2
)
SELECT lang, count(*)::BIGINT AS n_groups,
       sum(CASE WHEN l_distinct < {_LDIV_L} THEN 1 ELSE 0 END)::BIGINT
         AS n_low_diversity_groups,
       min(l_distinct)::BIGINT AS min_l,
       max(cast(floor(1e6 * cast(max_c AS double) / cast(grp_n AS double) + 0.5)
                AS bigint)) AS worst_dominant_share_micro
FROM per_qi GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------------
# Wilson-interval calibration bins (X7 [EXT])
# --------------------------------------------------------------------------

_WILSON_Z = "1.959963984540054"  # 95% two-sided


def q_wilson_interval_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 calibration bins with Wilson score intervals: per
    value/50 probability bin, the observed purchase rate and its 95%
    Wilson interval — the error bars calibration_bins lacks, stable at
    small n and rates near 0/1 where the normal interval fails. One
    aggregate to the bin frame; the interval is closed-form arithmetic
    on exact-int (n, k) with z={z}, the same correctly-rounded doubles
    in both engines."""
    e = _t(spark, sf_dir, "events").selectExpr(
        "least(cast(floor(value / 50.0) as bigint), cast(9 as bigint)) as pbin",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END as y",
    )
    z = _WILSON_Z
    return (
        e.groupBy("pbin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("k"),
        )
        .selectExpr(
            "pbin",
            "n",
            "k",
            "cast(floor(1e6 * cast(k as double) / cast(n as double) + 0.5)"
            " as bigint) as rate_micro",
            f"cast(floor(1e6 * ((cast(k as double) / cast(n as double)"
            f" + {z} * {z} / (2.0 * cast(n as double))"
            f" - {z} * sqrt((cast(k as double) / cast(n as double))"
            f" * (1.0 - cast(k as double) / cast(n as double)) / cast(n as double)"
            f" + {z} * {z} / (4.0 * cast(n as double) * cast(n as double))))"
            f" / (1.0 + {z} * {z} / cast(n as double))) + 0.5) as bigint)"
            " as wilson_lo_micro",
            f"cast(floor(1e6 * ((cast(k as double) / cast(n as double)"
            f" + {z} * {z} / (2.0 * cast(n as double))"
            f" + {z} * sqrt((cast(k as double) / cast(n as double))"
            f" * (1.0 - cast(k as double) / cast(n as double)) / cast(n as double)"
            f" + {z} * {z} / (4.0 * cast(n as double) * cast(n as double))))"
            f" / (1.0 + {z} * {z} / cast(n as double))) + 0.5) as bigint)"
            " as wilson_hi_micro",
        )
        .orderBy("pbin")
    )


def _oracle_wilson() -> str:
    z = _WILSON_Z
    lo = (
        f"cast(floor(1e6 * ((cast(k AS double) / cast(n AS double)"
        f" + {z} * {z} / (2.0 * cast(n AS double))"
        f" - {z} * sqrt((cast(k AS double) / cast(n AS double))"
        f" * (1.0 - cast(k AS double) / cast(n AS double)) / cast(n AS double)"
        f" + {z} * {z} / (4.0 * cast(n AS double) * cast(n AS double))))"
        f" / (1.0 + {z} * {z} / cast(n AS double))) + 0.5) AS bigint)"
    )
    hi = lo.replace(f"- {z} * sqrt", f"+ {z} * sqrt")
    return f"""
WITH e AS (
  SELECT least(cast(floor(value / 50.0) AS bigint), 9) AS pbin,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
b AS (
  SELECT pbin, count(*)::BIGINT AS n, sum(y)::BIGINT AS k FROM e GROUP BY 1
)
SELECT pbin, n, k,
       cast(floor(1e6 * cast(k AS double) / cast(n AS double) + 0.5) AS bigint)
         AS rate_micro,
       {lo} AS wilson_lo_micro,
       {hi} AS wilson_hi_micro
FROM b ORDER BY pbin
"""


REGISTRY_EXT85: dict[str, QuerySpec] = {
    "winnowing_candidate_pairs": QuerySpec(
        q_winnowing_candidate_pairs, _oracle_winnowing_pairs(), "X2 [EXT] winnow pairs"
    ),
    "l_diversity_audit": QuerySpec(
        q_l_diversity_audit, _ORACLE_LDIV, "X7/X8 [EXT] attribute-disclosure audit"
    ),
    "wilson_interval_bins": QuerySpec(
        q_wilson_interval_bins, _oracle_wilson(), "X7 [EXT] Wilson calibration bins"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_winnowing_candidate_pairs.__doc__ = q_winnowing_candidate_pairs.__doc__.format(m=_WP_MIN_SHARED, k=_WP_TOPK, cap=_WP_STOP_CAP)  # noqa: E501
q_l_diversity_audit.__doc__ = q_l_diversity_audit.__doc__.format(b=_LDIV_BIN, l=_LDIV_L)  # noqa: E501
q_wilson_interval_bins.__doc__ = q_wilson_interval_bins.__doc__.format(z=_WILSON_Z)  # noqa: E501
