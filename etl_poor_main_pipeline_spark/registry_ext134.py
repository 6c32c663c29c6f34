"""Wave 134 [EXT]: kernel / dependence two-sample completers — distance
correlation (Szekely et al. 2007) between event value and hour-of-day,
maximum mean discrepancy with an RBF kernel between two cohorts' value
distributions, Conover's squared-ranks variance test, and the
Hosmer-Lemeshow calibration goodness-of-fit. Companions of the shipped
energy_distance_2samp / ecf_distance_2samp / mutual_information /
ansari_bradley_test / calibration_bins.

Scale notes (the 100x question, per query):
- distance_correlation: observations snap to a JOINT (deca-value x
  hour) ENUM frame (<= ~50 x 24 cells at ANY corpus size); the three
  V-statistic sums S1/S2/S3 are exact integer sums over joint-cell
  pairs (bounded self-join, sanctioned nested-loop category) and the
  margin row sums; dVar uses the same identity per margin.
- mmd_rbf_2samp: cohort values snap to UNIT value cells; the kernel
  sums run over cell pairs (bounded), exp micro-snapped per pair (the
  platt rule), weighted by exact cohort counts.
- conover_squared_ranks: absolute deviations from the micro-snapped
  cohort means band into CENTI DEVIATION CELLS; midranks come from one
  prefix walk (the CvM/KS sanction category); 4th-power rank moments
  stage through decimal(38,0) before the final divide.
- hosmer_lemeshow_gof: the sigmoid score snaps to MILLI cells (<= 1001
  by construction); decile cuts walk the score-cell CDF
  (decile_lift_table category); per-decile O/E are exact integer /
  micro sums.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_MMD_A, _MMD_B = "click", "purchase"
_MMD_SIGMA = 50  # RBF bandwidth in value units (literal)
_CSR_A, _CSR_B = "click", "view"
_DCOR_BIN = 10  # value units per dcor x-cell (deca-value bins)
_HL_G = 10  # Hosmer-Lemeshow groups
_HL_EVENT = "purchase"
_CHI8_95 = 15.507  # chi2(8) at 0.95
_Z_95 = 1.959964


# --------------------------------------------------------------------------
# Distance correlation between value and hour-of-day (X7 [EXT])
# --------------------------------------------------------------------------


def q_distance_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 distance correlation (Szekely, Rizzo & Bakirov 2007)
    between the event value (deca-value bins of {b} units) and the
    hour-of-day — dCor = 0 iff independence, catching the NONLINEAR
    dependence Pearson misses (the dependence companion of
    mutual_information). V-statistic form per margin pair:
    dCov^2 = S1 - 2*S2 + S3 with S1 the mean pairwise |dx||dy|, S2 the
    mean row-product, S3 the product of mean distances; dVar applies
    the same identity to one margin. All sums are exact integers over
    the bounded joint-cell frame. Output one row: n_events, n_cells,
    dcov2_micro, dvarx_micro, dvary_micro, dcor_milli."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(
            F.expr(
                f"cast(floor(value / {_DCOR_BIN}.0 + 0.5) as bigint)"
            ).alias("xa"),
            F.expr("cast((unix_micros(ts) div 3600000000) % 24 as bigint)")
            .alias("yh"),
        )
        .groupBy("xa", "yh")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    cells = barrier(cells)  # 3 self-join consumers
    n = cells.agg(F.sum("w").cast("bigint").alias("n"))
    c2 = cells.selectExpr("xa as xa2", "yh as yh2", "w as w2")
    # joint pair sums: S1 terms and per-cell row sums for x and y margins
    pair = cells.join(c2, F.expr("true")).selectExpr(
        "xa",
        "yh",
        "w",
        f"{_DEC.format(x='w')} * w2 * abs(xa - xa2) * abs(yh - yh2) AS s1_t",
        f"{_DEC.format(x='w2')} * abs(xa - xa2) AS rx_t",
        f"{_DEC.format(x='w2')} * abs(yh - yh2) AS ry_t",
        f"{_DEC.format(x='w')} * w2 * abs(xa - xa2) * abs(xa - xa2) AS s1x_t",
        f"{_DEC.format(x='w')} * w2 * abs(yh - yh2) * abs(yh - yh2) AS s1y_t",
    )
    rows_ = pair.groupBy("xa", "yh").agg(
        F.max("w").alias("w"),
        F.sum("s1_t").alias("s1_c"),
        F.sum("rx_t").alias("rx"),
        F.sum("ry_t").alias("ry"),
        F.sum("s1x_t").alias("s1x_c"),
        F.sum("s1y_t").alias("s1y_c"),
    )
    red = rows_.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("s1_c").alias("s1"),
        F.sum(F.expr(f"{_DEC.format(x='w')} * rx * ry")).alias("s2"),
        F.sum(F.expr(f"{_DEC.format(x='w')} * rx")).alias("ax"),
        F.sum(F.expr(f"{_DEC.format(x='w')} * ry")).alias("ay"),
        F.sum("s1x_c").alias("s1x"),
        F.sum(F.expr(f"{_DEC.format(x='w')} * rx * rx")).alias("s2x"),
        F.sum("s1y_c").alias("s1y"),
        F.sum(F.expr(f"{_DEC.format(x='w')} * ry * ry")).alias("s2y"),
    ).crossJoin(F.broadcast(n))
    nn = "cast(n as double)"
    dcov2 = (
        f"(cast(s1 as double) / ({nn} * {nn})"
        f" - 2.0 * cast(s2 as double) / ({nn} * {nn} * {nn})"
        f" + (cast(ax as double) / ({nn} * {nn}))"
        f" * (cast(ay as double) / ({nn} * {nn})))"
    )
    dvarx = (
        f"(cast(s1x as double) / ({nn} * {nn})"
        f" - 2.0 * cast(s2x as double) / ({nn} * {nn} * {nn})"
        f" + (cast(ax as double) / ({nn} * {nn}))"
        f" * (cast(ax as double) / ({nn} * {nn})))"
    )
    dvary = (
        f"(cast(s1y as double) / ({nn} * {nn})"
        f" - 2.0 * cast(s2y as double) / ({nn} * {nn} * {nn})"
        f" + (cast(ay as double) / ({nn} * {nn}))"
        f" * (cast(ay as double) / ({nn} * {nn})))"
    )
    dcor = f"sqrt({dcov2} / sqrt({dvarx} * {dvary}))"
    return red.selectExpr(
        "n AS n_events",
        "n_cells",
        f"cast(floor(1e6 * {dcov2} + 0.5) as bigint) AS dcov2_micro",
        f"cast(floor(1e6 * {dvarx} + 0.5) as bigint) AS dvarx_micro",
        f"cast(floor(1e6 * {dvary} + 0.5) as bigint) AS dvary_micro",
        f"cast(floor(1e3 * {dcor} + 0.5) as bigint) AS dcor_milli",
    )


def _oracle_dcor() -> str:
    nn = "cast(n AS DOUBLE)"
    dcov2 = (
        f"(cast(s1 AS DOUBLE) / ({nn} * {nn})"
        f" - 2.0 * cast(s2 AS DOUBLE) / ({nn} * {nn} * {nn})"
        f" + (cast(ax AS DOUBLE) / ({nn} * {nn}))"
        f" * (cast(ay AS DOUBLE) / ({nn} * {nn})))"
    )
    dvarx = (
        f"(cast(s1x AS DOUBLE) / ({nn} * {nn})"
        f" - 2.0 * cast(s2x AS DOUBLE) / ({nn} * {nn} * {nn})"
        f" + (cast(ax AS DOUBLE) / ({nn} * {nn}))"
        f" * (cast(ax AS DOUBLE) / ({nn} * {nn})))"
    )
    dvary = (
        f"(cast(s1y AS DOUBLE) / ({nn} * {nn})"
        f" - 2.0 * cast(s2y AS DOUBLE) / ({nn} * {nn} * {nn})"
        f" + (cast(ay AS DOUBLE) / ({nn} * {nn}))"
        f" * (cast(ay AS DOUBLE) / ({nn} * {nn})))"
    )
    dcor = f"sqrt({dcov2} / sqrt({dvarx} * {dvary}))"
    return f"""
WITH cells AS (
  SELECT cast(floor(value / {_DCOR_BIN}.0 + 0.5) AS BIGINT) AS xa,
         (epoch_us(ts) // 3600000000) % 24 AS yh,
         count(*)::BIGINT AS w
  FROM events GROUP BY 1, 2
),
pair AS (
  SELECT a.xa, a.yh, a.w,
         a.w::HUGEINT * b.w * abs(a.xa - b.xa) * abs(a.yh - b.yh) AS s1_t,
         b.w::HUGEINT * abs(a.xa - b.xa) AS rx_t,
         b.w::HUGEINT * abs(a.yh - b.yh) AS ry_t,
         a.w::HUGEINT * b.w * abs(a.xa - b.xa) * abs(a.xa - b.xa) AS s1x_t,
         a.w::HUGEINT * b.w * abs(a.yh - b.yh) * abs(a.yh - b.yh) AS s1y_t
  FROM cells a CROSS JOIN cells b
),
rows_ AS (
  SELECT xa, yh, max(w) AS w, sum(s1_t) AS s1_c, sum(rx_t) AS rx,
         sum(ry_t) AS ry, sum(s1x_t) AS s1x_c, sum(s1y_t) AS s1y_c
  FROM pair GROUP BY 1, 2
),
nrow AS (SELECT sum(w)::BIGINT AS n FROM cells),
red AS (
  SELECT count(*)::BIGINT AS n_cells, sum(s1_c) AS s1,
         sum(w::HUGEINT * rx * ry) AS s2,
         sum(w::HUGEINT * rx) AS ax, sum(w::HUGEINT * ry) AS ay,
         sum(s1x_c) AS s1x, sum(w::HUGEINT * rx * rx) AS s2x,
         sum(s1y_c) AS s1y, sum(w::HUGEINT * ry * ry) AS s2y
  FROM rows_
)
SELECT n AS n_events, n_cells,
       cast(floor(1e6 * {dcov2} + 0.5) AS BIGINT) AS dcov2_micro,
       cast(floor(1e6 * {dvarx} + 0.5) AS BIGINT) AS dvarx_micro,
       cast(floor(1e6 * {dvary} + 0.5) AS BIGINT) AS dvary_micro,
       cast(floor(1e3 * {dcor} + 0.5) AS BIGINT) AS dcor_milli
FROM red, nrow
"""


# --------------------------------------------------------------------------
# MMD with RBF kernel, two cohorts (X7 [EXT])
# --------------------------------------------------------------------------


def q_mmd_rbf_2samp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 maximum mean discrepancy (Gretton et al. 2012,
    V-statistic) between '{a}' and '{b}' event values with an RBF
    kernel of bandwidth sigma={s} value units:
    MMD^2 = mean k(a,a') + mean k(b,b') - 2*mean k(a,b). Values snap to
    UNIT cells; the kernel micro-snaps once per CELL PAIR (bounded
    self-join) and weights by exact cohort counts — the kernel-space
    companion of energy_distance_2samp (which uses |d| in place of
    exp). Output one row: n_a, n_b, kaa_micro, kbb_micro, kab_micro,
    mmd2_micro."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_MMD_A, _MMD_B)
    )
    cells = (
        e.select(
            F.expr("cast(floor(value + 0.5) as bigint)").alias("v"),
            F.expr(f"cast(event_type = '{_MMD_A}' as int)").alias("isa"),
        )
        .groupBy("v")
        .agg(
            F.sum("isa").cast("bigint").alias("ca"),
            F.sum(F.expr("1 - isa")).cast("bigint").alias("cb"),
        )
    )
    cells = barrier(cells)
    c2 = cells.selectExpr("v as v2", "ca as ca2", "cb as cb2")
    two_s2 = float(2 * _MMD_SIGMA * _MMD_SIGMA)
    k = (
        "cast(floor(1e6 * exp(-cast((v - v2) * (v - v2) as double)"
        f" / {two_s2!r}) + 0.5) as bigint)"
    )
    red = cells.join(c2, F.expr("true")).selectExpr(
        "ca",
        "cb",
        f"{k} AS km",
        "ca2",
        "cb2",
    ).agg(
        F.sum(F.expr(f"{_DEC.format(x='ca')} * ca2 * km")).alias("saa"),
        F.sum(F.expr(f"{_DEC.format(x='cb')} * cb2 * km")).alias("sbb"),
        F.sum(F.expr(f"{_DEC.format(x='ca')} * cb2 * km")).alias("sab"),
        F.sum(F.expr("if(cb2 = cb2, 0L, 0L)")).alias("_z"),
    )
    tot = cells.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    j = red.crossJoin(F.broadcast(tot))
    kaa = "(cast(saa as double) / (cast(na as double) * cast(na as double)))"
    kbb = "(cast(sbb as double) / (cast(nb as double) * cast(nb as double)))"
    kab = "(cast(sab as double) / (cast(na as double) * cast(nb as double)))"
    return j.selectExpr(
        "na AS n_a",
        "nb AS n_b",
        f"cast(floor({kaa} + 0.5) as bigint) AS kaa_micro",
        f"cast(floor({kbb} + 0.5) as bigint) AS kbb_micro",
        f"cast(floor({kab} + 0.5) as bigint) AS kab_micro",
        f"cast(floor({kaa} + {kbb} - 2.0 * {kab} + 0.5) as bigint)"
        " AS mmd2_micro",
    )


def _oracle_mmd() -> str:
    two_s2 = float(2 * _MMD_SIGMA * _MMD_SIGMA)
    kaa = "(cast(saa AS DOUBLE) / (cast(na AS DOUBLE) * cast(na AS DOUBLE)))"
    kbb = "(cast(sbb AS DOUBLE) / (cast(nb AS DOUBLE) * cast(nb AS DOUBLE)))"
    kab = "(cast(sab AS DOUBLE) / (cast(na AS DOUBLE) * cast(nb AS DOUBLE)))"
    return f"""
WITH cells AS (
  SELECT cast(floor(value + 0.5) AS BIGINT) AS v,
         sum(CASE WHEN event_type = '{_MMD_A}' THEN 1 ELSE 0 END)::BIGINT
           AS ca,
         sum(CASE WHEN event_type = '{_MMD_B}' THEN 1 ELSE 0 END)::BIGINT
           AS cb
  FROM events WHERE event_type IN ('{_MMD_A}', '{_MMD_B}')
  GROUP BY 1
),
red AS (
  SELECT sum(a.ca::HUGEINT * b.ca
             * cast(floor(1e6 * exp(-cast((a.v - b.v) * (a.v - b.v)
               AS DOUBLE) / {two_s2!r}) + 0.5) AS BIGINT)) AS saa,
         sum(a.cb::HUGEINT * b.cb
             * cast(floor(1e6 * exp(-cast((a.v - b.v) * (a.v - b.v)
               AS DOUBLE) / {two_s2!r}) + 0.5) AS BIGINT)) AS sbb,
         sum(a.ca::HUGEINT * b.cb
             * cast(floor(1e6 * exp(-cast((a.v - b.v) * (a.v - b.v)
               AS DOUBLE) / {two_s2!r}) + 0.5) AS BIGINT)) AS sab
  FROM cells a CROSS JOIN cells b
),
tot AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM cells)
SELECT na AS n_a, nb AS n_b,
       cast(floor({kaa} + 0.5) AS BIGINT) AS kaa_micro,
       cast(floor({kbb} + 0.5) AS BIGINT) AS kbb_micro,
       cast(floor({kab} + 0.5) AS BIGINT) AS kab_micro,
       cast(floor({kaa} + {kbb} - 2.0 * {kab} + 0.5) AS BIGINT)
         AS mmd2_micro
FROM red, tot
"""


# --------------------------------------------------------------------------
# Conover squared-ranks test for equal variances (X7 [EXT])
# --------------------------------------------------------------------------


def q_conover_squared_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Conover squared-ranks test (Conover & Iman 1978;
    Conover 3e §5.3) for equal DISPERSION between '{a}' and '{b}'
    values: rank the pooled absolute deviations |x - cohort mean|
    (midranks over CENTI deviation cells), T = sum of SQUARED ranks in
    sample A, z = (T - n1*mean R^2) / sd with the exact finite-sample
    moments — the variance companion of ansari_bradley_test (which
    scores from the ends in). Doubled midranks keep everything integer;
    4th-power moments stage through decimal(38,0). Output one row:
    n_a, n_b, t4 (4*T), z_milli, reject_05."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_CSR_A, _CSR_B)
    )
    vm = e.select(
        F.expr(f"cast(event_type = '{_CSR_A}' as int)").alias("isa"),
        F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
    )
    means = vm.groupBy("isa").agg(
        F.expr(
            "cast(floor(cast(sum(vm) as double) / count(*) + 0.5) as bigint)"
        ).alias("mu")
    )
    dev = (
        vm.join(F.broadcast(means), "isa")
        .select(
            "isa",
            F.expr("cast(floor(abs(vm - mu) / 1e4 + 0.5) as bigint)")
            .alias("dc"),
        )
        .groupBy("dc")
        .agg(
            F.sum("isa").cast("bigint").alias("c1"),
            F.sum(F.expr("1 - isa")).cast("bigint").alias("c2"),
        )
    )
    w = Window.orderBy("dc").rowsBetween(Window.unboundedPreceding, -1)
    walked = dev.select(
        "dc",
        "c1",
        "c2",
        F.coalesce(F.sum(F.expr("c1 + c2")).over(w), F.lit(0))
        .cast("bigint")
        .alias("below"),
    ).select(
        "c1",
        "c2",
        # doubled midrank of every obs in this cell: 2R = 2*below + (tie+1)
        F.expr("2 * below + (c1 + c2) + 1").cast("bigint").alias("r2"),
    )
    red = walked.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.expr(f"{_DEC.format(x='c1')} * r2 * r2")).alias("t4"),
        F.sum(F.expr(f"{_DEC.format(x='(c1 + c2)')} * r2 * r2")).alias("s4"),
        F.sum(
            F.expr(
                f"{_DEC.format(x='(c1 + c2)')} * r2 * r2"
                f" * {_DEC.format(x='r2')} * r2"
            )
        ).alias("q16"),
    )
    nn = "(cast(n1 as double) + cast(n2 as double))"
    rbar4 = f"(cast(s4 as double) / {nn})"
    et = f"(cast(n1 as double) * {rbar4})"
    vt = (
        f"(cast(n1 as double) * cast(n2 as double) / ({nn} * ({nn} - 1.0))"
        f" * (cast(q16 as double) - {nn} * {rbar4} * {rbar4}))"
    )
    z = f"((cast(t4 as double) - {et}) / sqrt({vt}))"
    return red.selectExpr(
        "n1 AS n_a",
        "n2 AS n_b",
        "cast(t4 as double) AS t4",
        f"cast(floor(1e3 * {z} + 0.5) as bigint) AS z_milli",
        f"abs({z}) > {_Z_95} AS reject_05",
    )


def _oracle_csr() -> str:
    nn = "(cast(n1 AS DOUBLE) + cast(n2 AS DOUBLE))"
    rbar4 = f"(cast(s4 AS DOUBLE) / {nn})"
    et = f"(cast(n1 AS DOUBLE) * {rbar4})"
    vt = (
        f"(cast(n1 AS DOUBLE) * cast(n2 AS DOUBLE) / ({nn} * ({nn} - 1.0))"
        f" * (cast(q16 AS DOUBLE) - {nn} * {rbar4} * {rbar4}))"
    )
    z = f"((cast(t4 AS DOUBLE) - {et}) / sqrt({vt}))"
    return f"""
WITH vm AS (
  SELECT CASE WHEN event_type = '{_CSR_A}' THEN 1 ELSE 0 END AS isa,
         cast(floor(value * 1e6 + 0.5) AS BIGINT) AS vm
  FROM events WHERE event_type IN ('{_CSR_A}', '{_CSR_B}')
),
means AS (
  SELECT isa, cast(floor(cast(sum(vm) AS DOUBLE) / count(*) + 0.5)
           AS BIGINT) AS mu
  FROM vm GROUP BY 1
),
dev AS (
  SELECT cast(floor(abs(v.vm - m.mu) / 1e4 + 0.5) AS BIGINT) AS dc,
         sum(v.isa)::BIGINT AS c1, sum(1 - v.isa)::BIGINT AS c2
  FROM vm v JOIN means m ON v.isa = m.isa
  GROUP BY 1
),
walked AS (
  SELECT c1, c2,
         (2 * coalesce(sum(c1 + c2) OVER (ORDER BY dc
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + (c1 + c2) + 1)::BIGINT AS r2
  FROM dev
),
red AS (
  SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2,
         sum(c1::HUGEINT * r2 * r2) AS t4,
         sum((c1 + c2)::HUGEINT * r2 * r2) AS s4,
         sum((c1 + c2)::HUGEINT * r2 * r2 * r2::HUGEINT * r2) AS q16
  FROM walked
)
SELECT n1 AS n_a, n2 AS n_b, cast(t4 AS DOUBLE) AS t4,
       cast(floor(1e3 * {z} + 0.5) AS BIGINT) AS z_milli,
       abs({z}) > {_Z_95} AS reject_05
FROM red
"""


# --------------------------------------------------------------------------
# Hosmer-Lemeshow calibration goodness of fit (X7 [EXT])
# --------------------------------------------------------------------------


def q_hosmer_lemeshow_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Hosmer-Lemeshow test: a pseudo-probability
    p = sigmoid((vm - mean)/sd), MILLI-snapped (so the score domain is
    a bounded <=1001-cell ENUM), predicts '{ev}'; observations split
    into {g} equal-count groups by score (cell-CDF decile cut — the
    decile_lift_table idiom), and
    chi2 = sum_g (O_g - E_g)^2 / (E_g * (1 - E_g/n_g)) with E_g the
    exact milli-sum of scores. df = {g}-2. A failing HL says the score
    needs recalibration (platt_calibration_newton is the fix). Output
    one row: n, n_groups, chi2_milli, reject_05."""
    e = _t(spark, sf_dir, "events")
    mom = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("cast(floor(value * 1e6 + 0.5) as bigint)"))
        .cast("bigint")
        .alias("s"),
        F.sum(
            F.expr(
                f"{_DEC.format(x='cast(floor(value * 1e6 + 0.5) as bigint)')}"
                " * cast(floor(value * 1e6 + 0.5) as bigint)"
            )
        ).alias("q"),
    )
    mu = "(cast(s as double) / cast(n as double))"
    sd = f"sqrt(cast(q as double) / cast(n as double) - {mu} * {mu})"
    scored = (
        e.select(
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
            F.expr(f"cast(event_type = '{_HL_EVENT}' as int)").alias("y"),
        )
        .crossJoin(F.broadcast(mom))
        .select(
            F.expr(
                "cast(floor(1e3 / (1.0 + exp(-(cast(vm as double)"
                f" - {mu}) / {sd})) + 0.5) as bigint)"
            ).alias("p"),
            "y",
        )
    )
    cells = scored.groupBy("p").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("y").cast("bigint").alias("o"),
    )
    w = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, 0)
    walked = cells.select(
        "p",
        "c",
        "o",
        F.sum("c").over(w).cast("bigint").alias("cum"),
    )
    tot = cells.agg(F.sum("c").cast("bigint").alias("n"))
    # group g = smallest g with cum <= ceil(g*n/G) boundary: assign each
    # cell the group of its LAST observation (cell-resolution cut)
    grouped = walked.crossJoin(F.broadcast(tot)).select(
        "p",
        "c",
        "o",
        F.expr(
            f"least(cast(((cum - 1) * {_HL_G}) div n as int), {_HL_G - 1})"
        ).alias("g"),
    )
    per_g = grouped.groupBy("g").agg(
        F.sum("c").cast("bigint").alias("ng"),
        F.sum("o").cast("bigint").alias("og"),
        F.sum(F.expr("c * p")).cast("bigint").alias("e_milli"),
    )
    term = (
        "((cast(og as double) - cast(e_milli as double) / 1e3)"
        " * (cast(og as double) - cast(e_milli as double) / 1e3)"
        " / ((cast(e_milli as double) / 1e3)"
        " * (1.0 - cast(e_milli as double) / (1e3 * cast(ng as double)))))"
    )
    red = per_g.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.expr(f"cast(floor(1e6 * {term} + 0.5) as bigint)"))
        .cast("bigint")
        .alias("chi2_micro"),
    )
    return red.selectExpr(
        "n",
        "n_groups",
        "cast(floor(cast(chi2_micro as double) / 1e3 + 0.5) as bigint)"
        " AS chi2_milli",
        f"cast(chi2_micro as double) / 1e6 > {_CHI8_95!r} AS reject_05",
    )


def _oracle_hl() -> str:
    mu = "(cast(s AS DOUBLE) / cast(n AS DOUBLE))"
    sd = f"sqrt(cast(q AS DOUBLE) / cast(n AS DOUBLE) - {mu} * {mu})"
    term = (
        "((cast(og AS DOUBLE) - cast(e_milli AS DOUBLE) / 1e3)"
        " * (cast(og AS DOUBLE) - cast(e_milli AS DOUBLE) / 1e3)"
        " / ((cast(e_milli AS DOUBLE) / 1e3)"
        " * (1.0 - cast(e_milli AS DOUBLE) / (1e3 * cast(ng AS DOUBLE)))))"
    )
    return f"""
WITH mom AS (
  SELECT count(*)::BIGINT AS n,
         sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))::BIGINT AS s,
         sum(cast(floor(value * 1e6 + 0.5) AS BIGINT)::HUGEINT
             * cast(floor(value * 1e6 + 0.5) AS BIGINT)) AS q
  FROM events
),
scored AS (
  SELECT cast(floor(1e3 / (1.0 + exp(-(cast(cast(floor(value * 1e6 + 0.5)
           AS BIGINT) AS DOUBLE) - {mu}) / {sd})) + 0.5) AS BIGINT) AS p,
         CASE WHEN event_type = '{_HL_EVENT}' THEN 1 ELSE 0 END AS y
  FROM events, mom
),
cells AS (
  SELECT p, count(*)::BIGINT AS c, sum(y)::BIGINT AS o
  FROM scored GROUP BY 1
),
walked AS (
  SELECT p, c, o, sum(c) OVER (ORDER BY p)::BIGINT AS cum FROM cells
),
tot AS (SELECT sum(c)::BIGINT AS n FROM cells),
grouped AS (
  SELECT p, c, o,
         least(cast(((cum - 1) * {_HL_G}) // n AS INT), {_HL_G - 1}) AS g
  FROM walked, tot
),
per_g AS (
  SELECT g, sum(c)::BIGINT AS ng, sum(o)::BIGINT AS og,
         sum(c * p)::BIGINT AS e_milli
  FROM grouped GROUP BY 1
),
red AS (
  SELECT sum(ng)::BIGINT AS n, count(*)::BIGINT AS n_groups,
         sum(cast(floor(1e6 * {term} + 0.5) AS BIGINT))::BIGINT
           AS chi2_micro
  FROM per_g
)
SELECT n, n_groups,
       cast(floor(cast(chi2_micro AS DOUBLE) / 1e3 + 0.5) AS BIGINT)
         AS chi2_milli,
       cast(chi2_micro AS DOUBLE) / 1e6 > {_CHI8_95!r} AS reject_05
FROM red
"""


REGISTRY_EXT134: dict[str, QuerySpec] = {
    "distance_correlation": QuerySpec(
        q_distance_correlation, _oracle_dcor(), "X7 [EXT] distance corr"
    ),
    "mmd_rbf_2samp": QuerySpec(
        q_mmd_rbf_2samp, _oracle_mmd(), "X7 [EXT] MMD RBF"
    ),
    "conover_squared_ranks": QuerySpec(
        q_conover_squared_ranks, _oracle_csr(), "X7 [EXT] Conover sq-ranks"
    ),
    "hosmer_lemeshow_gof": QuerySpec(
        q_hosmer_lemeshow_gof, _oracle_hl(), "X7 [EXT] Hosmer-Lemeshow"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_distance_correlation.__doc__ = q_distance_correlation.__doc__.format(b=_DCOR_BIN)  # noqa: E501
q_mmd_rbf_2samp.__doc__ = q_mmd_rbf_2samp.__doc__.format(a=_MMD_A, b=_MMD_B, s=_MMD_SIGMA)  # noqa: E501
q_conover_squared_ranks.__doc__ = q_conover_squared_ranks.__doc__.format(a=_CSR_A, b=_CSR_B)  # noqa: E501
q_hosmer_lemeshow_gof.__doc__ = q_hosmer_lemeshow_gof.__doc__.format(ev=_HL_EVENT, g=_HL_G)  # noqa: E501
