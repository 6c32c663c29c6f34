"""Wave 141 [EXT]: binary-classifier evaluation completers — Matthews
correlation at the exact median-score threshold, the tie-corrected KS
model-separation statistic (max |F_pos - F_neg| over the score CDF),
top-decile lift/capture with tie-inclusive thresholds, and the
Fowlkes-Mallows / Youden-J / balanced-accuracy row. Companions of the
shipped classifier_eval_metrics / pr_auc_average_precision /
gauc_grouped_auc / brier_decomposition / decile_lift_table.

Convention (same as pr_auc_average_precision): score = the centi value
cell ``vc = floor(100*value + 0.5)``, positive label = event_type =
'purchase'. All thresholds are exact order statistics on the CELL CDF
(rank-at-ceil, tie-inclusive), never interpolated percentiles — the
engines agree bit-for-bit on integer ranks.

Scale notes (the 100x question, per query):
- every query reduces the corpus to the centi score-cell frame first
  (bounded by the VALUE DOMAIN, ~33k cells, not the corpus), so the
  cumulative passes and threshold picks are constant-size at any scale;
- cumulative counts use operators.scan_prefix.exclusive_prefix_sum
  (partitioned Blelloch scan + triangular close) — no unpartitioned
  window anywhere;
- confusion counts are one map-side aggregate against a broadcast
  1-row threshold; count products stage through decimal(38,0)
  (HUGEINT in DuckDB) before the double divide, so tp*tn cannot
  overflow bigint even at 10^11 rows.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.scan_prefix import exclusive_prefix_sum
from .registry import QuerySpec, _t
from .session import barrier

_POS = "purchase"
_HUGE = "cast({x} as decimal(38,0))"


def _score_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc"),
            F.expr(f"cast(event_type = '{_POS}' as bigint)").alias("y"),
        )
        .groupBy("vc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nb"),
            F.sum("y").cast("bigint").alias("pb"),
        )
    )


_SQL_CELLS = f"""
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         count(*)::BIGINT AS nb,
         sum(CASE WHEN event_type = '{_POS}' THEN 1 ELSE 0 END)::BIGINT AS pb
  FROM events GROUP BY 1
"""


def _median_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared machinery: 2x2 confusion at the median-cell threshold
    (pred positive = vc >= value at ascending rank ceil(n/2), ties
    inclusive). Returns a broadcastable 1-row frame
    (n, n_pos, thr, tp, fp, fn, tn)."""
    cells = _score_cells(spark, sf_dir)
    cells = barrier(cells)  # totals + threshold + confusion
    tot = cells.agg(
        F.sum("nb").cast("bigint").alias("n"),
        F.sum("pb").cast("bigint").alias("n_pos"),
    )
    pref = exclusive_prefix_sum(cells, "vc", "nb", out="n_before")
    thr = (
        pref.crossJoin(F.broadcast(tot))
        .filter(F.expr("n_before + nb >= (n + 1) div 2"))
        .agg(F.min("vc").cast("bigint").alias("thr"))
    )
    return (
        cells.crossJoin(F.broadcast(thr))
        .crossJoin(F.broadcast(tot))
        .groupBy("n", "n_pos", "thr")
        .agg(
            F.sum(F.expr("if(vc >= thr, pb, cast(0 as bigint))"))
            .cast("bigint")
            .alias("tp"),
            F.sum(F.expr("if(vc >= thr, nb - pb, cast(0 as bigint))"))
            .cast("bigint")
            .alias("fp"),
        )
        .selectExpr(
            "n",
            "n_pos",
            "thr",
            "tp",
            "fp",
            "n_pos - tp AS fn",
            "(n - n_pos) - fp AS tn",
        )
    )


_SQL_MEDIAN_CONF = f"""
cells AS ({_SQL_CELLS}),
tot AS (SELECT sum(nb)::BIGINT AS n, sum(pb)::BIGINT AS n_pos FROM cells),
pref AS (
  SELECT vc, nb, pb,
         coalesce(sum(nb) OVER (ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS n_before
  FROM cells
),
thr AS (
  SELECT min(vc)::BIGINT AS thr
  FROM pref, tot WHERE n_before + nb >= (n + 1) // 2
),
conf AS (
  SELECT t.n, t.n_pos, h.thr,
         sum(CASE WHEN c.vc >= h.thr THEN c.pb ELSE 0 END)::BIGINT AS tp,
         sum(CASE WHEN c.vc >= h.thr THEN c.nb - c.pb ELSE 0 END)::BIGINT AS fp
  FROM cells c, thr h, tot t GROUP BY 1, 2, 3
),
conf4 AS (
  SELECT n, n_pos, thr, tp, fp, n_pos - tp AS fn, (n - n_pos) - fp AS tn
  FROM conf
)
"""


# --------------------------------------------------------------------------
# Matthews correlation coefficient (X7 [EXT])
# --------------------------------------------------------------------------


def q_matthews_corrcoef_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Matthews correlation coefficient (Matthews 1975) of the
    median-threshold value classifier for the 'purchase' label: the
    single confusion-matrix summary that stays honest under class
    imbalance (accuracy and F1 both degenerate). phi = (tp*tn - fp*fn)
    / sqrt((tp+fp)(tp+fn)(tn+fp)(tn+fn)); the numerator stages through
    decimal(38,0), the denominator multiplies four exact IEEE sqrts.
    Output one row: n, thr_vc, tp, fp, fn, tn, mcc_micro."""
    conf = _median_confusion(spark, sf_dir)
    num = (
        f"(cast({_HUGE.format(x='tp')} * tn"
        f" - {_HUGE.format(x='fp')} * fn as double))"
    )
    den = (
        "(sqrt(cast(tp + fp as double)) * sqrt(cast(tp + fn as double))"
        " * sqrt(cast(tn + fp as double)) * sqrt(cast(tn + fn as double)))"
    )
    mcc = f"CASE WHEN {den} > 0 THEN {num} / {den} ELSE 0.0D END"
    return conf.selectExpr(
        "n",
        "thr AS thr_vc",
        "tp",
        "fp",
        "fn",
        "tn",
        f"cast(floor(1e6 * ({mcc}) + 0.5) as bigint) AS mcc_micro",
    )


def _oracle_mcc() -> str:
    num = "(cast(tp::HUGEINT * tn - fp::HUGEINT * fn AS DOUBLE))"
    den = (
        "(sqrt(cast(tp + fp AS DOUBLE)) * sqrt(cast(tp + fn AS DOUBLE))"
        " * sqrt(cast(tn + fp AS DOUBLE)) * sqrt(cast(tn + fn AS DOUBLE)))"
    )
    mcc = f"CASE WHEN {den} > 0 THEN {num} / {den} ELSE 0.0 END"
    return f"""
WITH {_SQL_MEDIAN_CONF}
SELECT n, thr AS thr_vc, tp, fp, fn, tn,
       cast(floor(1e6 * ({mcc}) + 0.5) AS BIGINT) AS mcc_micro
FROM conf4
"""


# --------------------------------------------------------------------------
# KS model-separation statistic (X7 [EXT])
# --------------------------------------------------------------------------


def q_ks_model_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Kolmogorov-Smirnov separation of the value score
    between 'purchase' and non-purchase rows: D = max over score cells
    of |F_pos(vc) - F_neg(vc)| on the tie-corrected (inclusive-CDF)
    cell frame — the credit-scoring 'KS statistic' that summarizes a
    model's rank separation in one number. Differs from the shipped
    ks_two_sample_drift (period-vs-period drift on the same
    population) by comparing the LABEL-conditional distributions of
    one score. Output one row: n, n_pos, d_micro, vc_at_max (smallest
    cell achieving the max)."""
    cells = _score_cells(spark, sf_dir)
    cells = barrier(cells)  # totals + two scans + argmax
    tot = cells.agg(
        F.sum("nb").cast("bigint").alias("n"),
        F.sum("pb").cast("bigint").alias("n_pos"),
    )
    c1 = exclusive_prefix_sum(cells, "vc", "pb", out="p_before")
    c2 = exclusive_prefix_sum(c1, "vc", "nb", out="n_before")
    diff = (
        c2.crossJoin(F.broadcast(tot))
        .selectExpr(
            "vc",
            "n",
            "n_pos",
            "cast(floor(1e6 * abs("
            " cast(p_before + pb as double) / cast(n_pos as double)"
            " - cast((n_before + nb) - (p_before + pb) as double)"
            "   / cast(n - n_pos as double)"
            ") + 0.5) as bigint) AS dm",
        )
    )
    diff = barrier(diff)  # max pass + argmax pass
    dmax = diff.agg(F.max("dm").cast("bigint").alias("d_micro"))
    return (
        diff.crossJoin(F.broadcast(dmax))
        .filter(F.col("dm") == F.col("d_micro"))
        .groupBy("n", "n_pos", "d_micro")
        .agg(F.min("vc").cast("bigint").alias("vc_at_max"))
        .select("n", "n_pos", "d_micro", "vc_at_max")
    )


_ORACLE_KS_SEP = f"""
WITH cells AS ({_SQL_CELLS}),
tot AS (SELECT sum(nb)::BIGINT AS n, sum(pb)::BIGINT AS n_pos FROM cells),
cum AS (
  SELECT vc,
         sum(pb) OVER (ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cp,
         sum(nb) OVER (ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cn
  FROM cells
),
diff AS (
  SELECT vc, n, n_pos,
         cast(floor(1e6 * abs(
           cast(cp AS DOUBLE) / cast(n_pos AS DOUBLE)
           - cast(cn - cp AS DOUBLE) / cast(n - n_pos AS DOUBLE)
         ) + 0.5) AS BIGINT) AS dm
  FROM cum, tot
),
mx AS (SELECT max(dm)::BIGINT AS d_micro FROM diff)
SELECT d.n, d.n_pos, m.d_micro, min(d.vc)::BIGINT AS vc_at_max
FROM diff d, mx m WHERE d.dm = m.d_micro
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# Top-decile lift and capture (X7 [EXT])
# --------------------------------------------------------------------------


def q_lift_capture_topdecile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 top-decile lift: take every row whose score cell ties
    into the top ceil(n/10) by value (tie-INCLUSIVE threshold — the
    deterministic convention; interpolated cutoffs differ between
    engines), and report precision-in-decile / base-rate (lift) and
    the share of all positives captured. The triage number for 'how
    much better than random is reading the top 10%'. Output one row:
    n, n_pos, k_target, thr_vc, n_top, pos_top, lift_micro,
    capture_micro."""
    cells = _score_cells(spark, sf_dir)
    cells = barrier(cells)  # totals + threshold + topset
    tot = cells.agg(
        F.sum("nb").cast("bigint").alias("n"),
        F.sum("pb").cast("bigint").alias("n_pos"),
    )
    pref = exclusive_prefix_sum(cells, "vc", "nb", out="n_before")
    # cum-from-top at vc (inclusive) = n - n_before; threshold = largest
    # vc whose from-top count reaches k = ceil(n/10)
    thr = (
        pref.crossJoin(F.broadcast(tot))
        .filter(F.expr("n - n_before >= (n + 9) div 10"))
        .agg(F.max("vc").cast("bigint").alias("thr"))
    )
    top = (
        cells.crossJoin(F.broadcast(thr))
        .crossJoin(F.broadcast(tot))
        .groupBy("n", "n_pos", "thr")
        .agg(
            F.sum(F.expr("if(vc >= thr, nb, cast(0 as bigint))"))
            .cast("bigint")
            .alias("n_top"),
            F.sum(F.expr("if(vc >= thr, pb, cast(0 as bigint))"))
            .cast("bigint")
            .alias("pos_top"),
        )
    )
    lift = (
        "(cast(pos_top as double) / cast(n_top as double))"
        " / (cast(n_pos as double) / cast(n as double))"
    )
    return top.selectExpr(
        "n",
        "n_pos",
        "(n + 9) div 10 AS k_target",
        "thr AS thr_vc",
        "n_top",
        "pos_top",
        f"cast(floor(1e6 * ({lift}) + 0.5) as bigint) AS lift_micro",
        "cast(floor(1e6 * cast(pos_top as double) / cast(n_pos as double)"
        " + 0.5) as bigint) AS capture_micro",
    )


_ORACLE_LIFT = f"""
WITH cells AS ({_SQL_CELLS}),
tot AS (SELECT sum(nb)::BIGINT AS n, sum(pb)::BIGINT AS n_pos FROM cells),
pref AS (
  SELECT vc, nb, pb,
         coalesce(sum(nb) OVER (ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS n_before
  FROM cells
),
thr AS (
  SELECT max(vc)::BIGINT AS thr
  FROM pref, tot WHERE n - n_before >= (n + 9) // 10
),
top AS (
  SELECT t.n, t.n_pos, h.thr,
         sum(CASE WHEN c.vc >= h.thr THEN c.nb ELSE 0 END)::BIGINT AS n_top,
         sum(CASE WHEN c.vc >= h.thr THEN c.pb ELSE 0 END)::BIGINT AS pos_top
  FROM cells c, thr h, tot t GROUP BY 1, 2, 3
)
SELECT n, n_pos, (n + 9) // 10 AS k_target, thr AS thr_vc, n_top, pos_top,
       cast(floor(1e6 * ((cast(pos_top AS DOUBLE) / cast(n_top AS DOUBLE))
         / (cast(n_pos AS DOUBLE) / cast(n AS DOUBLE))) + 0.5) AS BIGINT)
         AS lift_micro,
       cast(floor(1e6 * cast(pos_top AS DOUBLE) / cast(n_pos AS DOUBLE)
         + 0.5) AS BIGINT) AS capture_micro
FROM top
"""


# --------------------------------------------------------------------------
# Fowlkes-Mallows / Youden J / balanced accuracy (X7 [EXT])
# --------------------------------------------------------------------------


def q_fowlkes_mallows_youden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the remaining single-number confusion summaries at the
    median-cell threshold: Fowlkes-Mallows index sqrt(precision *
    recall) (the geometric mean G-measure), Youden's J = tpr - fpr
    (the vertical ROC distance; also the KS value AT this threshold),
    and balanced accuracy (tpr + tnr)/2 — the imbalance-robust trio
    next to matthews_corrcoef_binary's phi. Output one row: n, thr_vc,
    fm_micro, youden_micro, balacc_micro."""
    conf = _median_confusion(spark, sf_dir)
    prec = "CASE WHEN tp + fp > 0 THEN cast(tp as double) / cast(tp + fp as double) ELSE 0.0D END"
    tpr = "CASE WHEN n_pos > 0 THEN cast(tp as double) / cast(n_pos as double) ELSE 0.0D END"
    fpr = "CASE WHEN n - n_pos > 0 THEN cast(fp as double) / cast(n - n_pos as double) ELSE 0.0D END"
    tnr = "CASE WHEN n - n_pos > 0 THEN cast(tn as double) / cast(n - n_pos as double) ELSE 0.0D END"
    return conf.selectExpr(
        "n",
        "thr AS thr_vc",
        f"cast(floor(1e6 * sqrt(({prec}) * ({tpr})) + 0.5) as bigint)"
        " AS fm_micro",
        f"cast(floor(1e6 * (({tpr}) - ({fpr})) + 0.5) as bigint)"
        " AS youden_micro",
        f"cast(floor(1e6 * (({tpr}) + ({tnr})) / 2.0D + 0.5) as bigint)"
        " AS balacc_micro",
    )


def _oracle_fm() -> str:
    prec = "CASE WHEN tp + fp > 0 THEN cast(tp AS DOUBLE) / cast(tp + fp AS DOUBLE) ELSE 0.0 END"
    tpr = "CASE WHEN n_pos > 0 THEN cast(tp AS DOUBLE) / cast(n_pos AS DOUBLE) ELSE 0.0 END"
    fpr = "CASE WHEN n - n_pos > 0 THEN cast(fp AS DOUBLE) / cast(n - n_pos AS DOUBLE) ELSE 0.0 END"
    tnr = "CASE WHEN n - n_pos > 0 THEN cast(tn AS DOUBLE) / cast(n - n_pos AS DOUBLE) ELSE 0.0 END"
    return f"""
WITH {_SQL_MEDIAN_CONF}
SELECT n, thr AS thr_vc,
       cast(floor(1e6 * sqrt(({prec}) * ({tpr})) + 0.5) AS BIGINT)
         AS fm_micro,
       cast(floor(1e6 * (({tpr}) - ({fpr})) + 0.5) AS BIGINT)
         AS youden_micro,
       cast(floor(1e6 * (({tpr}) + ({tnr})) / 2.0 + 0.5) AS BIGINT)
         AS balacc_micro
FROM conf4
"""


REGISTRY_EXT141: dict[str, QuerySpec] = {
    "matthews_corrcoef_binary": QuerySpec(
        q_matthews_corrcoef_binary, _oracle_mcc(), "X7 [EXT] MCC"
    ),
    "ks_model_separation": QuerySpec(
        q_ks_model_separation, _ORACLE_KS_SEP, "X7 [EXT] KS separation"
    ),
    "lift_capture_topdecile": QuerySpec(
        q_lift_capture_topdecile, _ORACLE_LIFT, "X7 [EXT] top-decile lift"
    ),
    "fowlkes_mallows_youden": QuerySpec(
        q_fowlkes_mallows_youden, _oracle_fm(), "X7 [EXT] FM/Youden/balacc"
    ),
}
