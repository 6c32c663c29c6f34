"""Wave 153 [EXT]: regression-influence and robust-outlier completers
— the generalized ESD (Rosner 1983) repeated-Grubbs outlier sweep,
Cook's (1977) distance over the daily trend (the top influential
days), the jackknife (Quenouille/Tukey) standard error of the OLS
slope from closed-form leave-one-out slopes, and Tukey's median
polish of the (event_type × weekday) two-way table. Companions of the
shipped grubbs_outlier_test / dixon_q_outlier / mad_outliers_robust
(outliers), trend_ols_newey_west (trend), anova_two_way /
fe_within_estimator (two-way structure).

Scale notes (the 100x question, per query):
- generalized_esd: 3 unrolled rounds over the CENTI value-cell frame;
  each round is one moment reduce + one argmax reduce + a 1-row
  broadcast decrement — bounded work per round at any corpus;
- cooks_distance / jackknife: the corpus reduces to the calendar-
  bounded daily spine; leverage/LOO slopes are closed forms from the
  broadcast global moments (no refitting); jackknife b_i snap micro
  so the variance reduce is exact integers;
- median_polish: 2 sweeps of row/col LOWER-MEDIAN removal over the
  35-cell enum table (odd group sizes make the element median exact;
  lower median is the declared even-size convention) — the raking_ipf
  shape, tiny-frame joins only.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_DAY_US = 86_400_000_000
_ESD_ROUNDS = 3


# --------------------------------------------------------------------------
# Generalized ESD (repeated Grubbs) (X7 [EXT])
# --------------------------------------------------------------------------


def q_generalized_esd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Rosner's (1983) generalized ESD: remove the most
    extreme value (max |x - x̄|, ties to the smallest cell) and
    recompute, 3 rounds — unlike single-shot Grubbs it is robust to
    masking by multiple outliers. Runs on the CENTI value-cell frame;
    each removal decrements one cell's weight via a broadcast 1-row
    join. Output per round: round_i, n_remaining, vc_removed,
    r_milli (the ESD statistic |x-x̄|/s)."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc")
        )
        .groupBy("vc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    cur = barrier(cells)
    outs = []
    for i in range(1, _ESD_ROUNDS + 1):
        m = cur.agg(
            F.sum("w").cast("bigint").alias("n"),
            F.sum(F.expr("w * vc")).cast("bigint").alias("s1"),
            F.sum(F.expr(f"{_DEC.format(x='w')} * vc * vc")).alias("s2"),
        )
        nn = "cast(n as double)"
        mean = f"(cast(s1 as double) / {nn})"
        sd = (
            f"sqrt((cast(s2 as double) - cast(s1 as double) * {mean})"
            f" / ({nn} - 1.0D))"
        )
        dev = cur.crossJoin(F.broadcast(m)).selectExpr(
            "vc",
            "w",
            "n",
            f"abs(cast(vc as double) - {mean}) AS adev",
            f"{sd} AS sd",
        )
        # argmax-with-tiebreak in ONE aggregate: lexicographic struct max
        # on (adev, -vc) picks the largest deviation, smallest cell
        pick = (
            dev.agg(
                F.expr("max(struct(adev, -vc AS nvc, n, sd))").alias("mx")
            )
            .selectExpr(
                f"cast({i} as bigint) AS round_i",
                "mx.n AS n_remaining",
                "cast(-mx.nvc as bigint) AS vc_removed",
                "cast(floor(1e3 * mx.adev / mx.sd + 0.5) as bigint)"
                " AS r_milli",
            )
        )
        pick = barrier(pick)  # output + decrement
        outs.append(pick)
        cur = barrier(
            cur.crossJoin(
                F.broadcast(pick.selectExpr("vc_removed AS vc_rm"))
            )
            .selectExpr(
                "vc",
                "if(vc = vc_rm, w - 1, w) AS w",
            )
            .filter("w > 0")
        )
    out = outs[0]
    for p in outs[1:]:
        out = out.unionAll(p)
    return out.orderBy("round_i")


def _oracle_esd() -> str:
    rounds = """
c0 AS (
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         count(*)::BIGINT AS w
  FROM events GROUP BY 1
)"""
    sel = []
    for i in range(1, _ESD_ROUNDS + 1):
        prev = f"c{i - 1}"
        nn = "cast(n AS DOUBLE)"
        mean = f"(cast(s1 AS DOUBLE) / {nn})"
        sd = (
            f"sqrt((cast(s2 AS DOUBLE) - cast(s1 AS DOUBLE) * {mean})"
            f" / ({nn} - 1.0))"
        )
        rounds += f""",
m{i} AS (
  SELECT sum(w)::BIGINT AS n, sum(w * vc)::BIGINT AS s1,
         sum(w::HUGEINT * vc * vc) AS s2
  FROM {prev}
),
d{i} AS (
  SELECT vc, w, n, abs(cast(vc AS DOUBLE) - {mean}) AS adev, {sd} AS sd
  FROM {prev}, m{i}
),
p{i} AS (
  SELECT {i}::BIGINT AS round_i, n AS n_remaining,
         min(vc)::BIGINT AS vc_removed,
         cast(floor(1e3 * adev / sd + 0.5) AS BIGINT) AS r_milli
  FROM d{i}
  WHERE adev = (SELECT max(adev) FROM d{i})
  GROUP BY 1, 2, 4
),
c{i} AS (
  SELECT c.vc, CASE WHEN c.vc = p.vc_removed THEN c.w - 1 ELSE c.w END AS w
  FROM {prev} c, p{i} p
  WHERE CASE WHEN c.vc = p.vc_removed THEN c.w - 1 ELSE c.w END > 0
)"""
        sel.append(f"SELECT * FROM p{i}")
    return (
        "WITH " + rounds + "\n" + "\nUNION ALL\n".join(sel)
        + "\nORDER BY round_i"
    )


# --------------------------------------------------------------------------
# Cook's distance on the daily trend (X7 [EXT])
# --------------------------------------------------------------------------


def _daily_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
        )
        .groupBy("d")
        .agg(
            F.expr(
                "cast(floor(cast(sum(vm) as double) / 1e3 + 0.5) as bigint)"
            ).alias("y")
        )
    )


_SQL_DAILY_TOTAL = f"""
  SELECT epoch_us(ts) // {_DAY_US} AS d,
         cast(floor(cast(sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))
              AS DOUBLE) / 1e3 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
"""


def q_cooks_distance_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Cook's (1977) distance for the daily-trend OLS:
    D_i = e_i²·h_i / (p·MSE·(1-h_i)²) with leverage
    h_i = 1/n + (t_i - t̄)²/Sxx and p = 2 — which days singlehandedly
    steer the slope. Coefficients snap milli (the ext140 convention);
    top 5 by snapped D with a day tiebreak. Output: day_t, e_milli,
    h_micro, cooks_d_milli."""
    daily = _daily_total(spark, sf_dir)
    daily = barrier(daily)  # moments + per-day pass
    mom = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("d").cast("bigint").alias("d0"),
        F.sum("d").cast("bigint").alias("sd_raw"),
        F.sum(F.expr("d * d")).cast("bigint").alias("sdd"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr(f"{_DEC.format(x='d')} * y")).alias("sdy"),
        F.sum(F.expr(f"{_DEC.format(x='y')} * y")).alias("syy"),
    )
    nn = "cast(n as double)"
    cxx = f"({nn} * cast(sdd as double) - cast(sd_raw as double) * cast(sd_raw as double))"
    cxy = f"({nn} * cast(sdy as double) - cast(sd_raw as double) * cast(sy as double))"
    cyy = f"({nn} * cast(syy as double) - cast(sy as double) * cast(sy as double))"
    b = f"({cxy} / {cxx})"
    a = f"((cast(sy as double) - {b} * cast(sd_raw as double)) / {nn})"
    coef = mom.selectExpr(
        "n",
        "d0",
        "sd_raw",
        "sdd",
        f"cast(floor({a} + 0.5) as bigint) AS am",
        f"cast(floor({b} + 0.5) as bigint) AS bm",
        f"({cyy} - {cxy} * {cxy} / {cxx}) / {nn} AS sse",
    )
    h = (
        "(1.0D / cast(n as double)"
        " + (cast(d as double) - cast(sd_raw as double) / cast(n as double))"
        " * (cast(d as double) - cast(sd_raw as double) / cast(n as double))"
        " / (cast(sdd as double) - cast(sd_raw as double)"
        "   * cast(sd_raw as double) / cast(n as double)))"
    )
    mse = "(sse / (cast(n as double) - 2.0D))"
    e_ = "cast(y - am - bm * d as double)"
    dcook = (
        f"(({e_} * {e_}) * {h} / (2.0D * {mse} * (1.0D - {h})"
        f" * (1.0D - {h})))"
    )
    return (
        daily.crossJoin(F.broadcast(coef))
        .selectExpr(
            "d - d0 AS day_t",
            f"cast(floor({e_} + 0.5) as bigint) AS e_milli",
            f"cast(floor(1e6 * {h} + 0.5) as bigint) AS h_micro",
            f"cast(floor(1e3 * {dcook} + 0.5) as bigint) AS cooks_d_milli",
        )
        .orderBy(F.desc("cooks_d_milli"), "day_t")
        .limit(5)
    )


def _oracle_cooks() -> str:
    nn = "cast(n AS DOUBLE)"
    cxx = f"({nn} * cast(sdd AS DOUBLE) - cast(sd_raw AS DOUBLE) * cast(sd_raw AS DOUBLE))"
    cxy = f"({nn} * cast(sdy AS DOUBLE) - cast(sd_raw AS DOUBLE) * cast(sy AS DOUBLE))"
    cyy = f"({nn} * cast(syy AS DOUBLE) - cast(sy AS DOUBLE) * cast(sy AS DOUBLE))"
    b = f"({cxy} / {cxx})"
    a = f"((cast(sy AS DOUBLE) - {b} * cast(sd_raw AS DOUBLE)) / {nn})"
    h = (
        "(1.0 / cast(n AS DOUBLE)"
        " + (cast(d AS DOUBLE) - cast(sd_raw AS DOUBLE) / cast(n AS DOUBLE))"
        " * (cast(d AS DOUBLE) - cast(sd_raw AS DOUBLE) / cast(n AS DOUBLE))"
        " / (cast(sdd AS DOUBLE) - cast(sd_raw AS DOUBLE)"
        "   * cast(sd_raw AS DOUBLE) / cast(n AS DOUBLE)))"
    )
    mse = "(sse / (cast(n AS DOUBLE) - 2.0))"
    e_ = "cast(y - am - bm * d AS DOUBLE)"
    dcook = (
        f"(({e_} * {e_}) * {h} / (2.0 * {mse} * (1.0 - {h})"
        f" * (1.0 - {h})))"
    )
    return f"""
WITH daily AS ({_SQL_DAILY_TOTAL}),
mom AS (
  SELECT count(*)::BIGINT AS n, min(d)::BIGINT AS d0,
         sum(d)::BIGINT AS sd_raw, sum(d * d)::BIGINT AS sdd,
         sum(y)::BIGINT AS sy, sum(d::HUGEINT * y) AS sdy,
         sum(y::HUGEINT * y) AS syy
  FROM daily
),
coef AS (
  SELECT n, d0, sd_raw, sdd,
         cast(floor({a} + 0.5) AS BIGINT) AS am,
         cast(floor({b} + 0.5) AS BIGINT) AS bm,
         ({cyy} - {cxy} * {cxy} / {cxx}) / {nn} AS sse
  FROM mom
)
SELECT d - d0 AS day_t,
       cast(floor({e_} + 0.5) AS BIGINT) AS e_milli,
       cast(floor(1e6 * {h} + 0.5) AS BIGINT) AS h_micro,
       cast(floor(1e3 * {dcook} + 0.5) AS BIGINT) AS cooks_d_milli
FROM daily, coef
ORDER BY cooks_d_milli DESC, day_t LIMIT 5
"""


# --------------------------------------------------------------------------
# Jackknife SE of the OLS slope (X7 [EXT])
# --------------------------------------------------------------------------


def q_jackknife_slope_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 delete-1 jackknife SE of the daily-trend slope: each
    leave-one-out slope b_(i) comes from the CLOSED FORM on the
    decremented moment sums (no refit), snapped micro so the jackknife
    variance (n-1)/n·Σ(b_(i)-b̄_J)² reduces over exact integers — the
    resampling-free influence-aware SE next to the model-based one.
    Output one row: n_days, b_full_micro, b_jack_mean_micro,
    se_jack_micro."""
    daily = _daily_total(spark, sf_dir)
    daily = barrier(daily)  # moments + LOO + reduce
    mom = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sd_raw"),
        F.sum(F.expr("d * d")).cast("bigint").alias("sdd"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr(f"{_DEC.format(x='d')} * y")).alias("sdy"),
    )
    nn = "cast(n as double)"
    b_full = (
        f"(({nn} * cast(sdy as double) - cast(sd_raw as double)"
        f" * cast(sy as double)) / ({nn} * cast(sdd as double)"
        f" - cast(sd_raw as double) * cast(sd_raw as double)))"
    )
    # LOO moments: n-1, sd-d, sdd-d², sy-y, sdy-dy
    np_ = "(cast(n as double) - 1.0D)"
    sx = "(cast(sd_raw as double) - cast(d as double))"
    sxx = "(cast(sdd as double) - cast(d as double) * cast(d as double))"
    syl = "(cast(sy as double) - cast(y as double))"
    sxy = "(cast(sdy as double) - cast(d as double) * cast(y as double))"
    b_i = (
        f"(({np_} * {sxy} - {sx} * {syl})"
        f" / ({np_} * {sxx} - {sx} * {sx}))"
    )
    loo = (
        daily.crossJoin(F.broadcast(mom))
        .selectExpr(
            "n",
            f"cast(floor(1e6 * {b_i} + 0.5) as bigint) AS bim",
        )
    )
    red = loo.groupBy("n").agg(
        F.sum("bim").cast("bigint").alias("sb"),
        F.sum(F.expr(f"{_DEC.format(x='bim')} * bim")).alias("sbb"),
    )
    var = (
        "((cast(n as double) - 1.0D) / cast(n as double)"
        " * (cast(sbb as double) - cast(sb as double) * cast(sb as double)"
        " / cast(n as double)) / 1e12)"
    )
    return (
        red.crossJoin(F.broadcast(mom.selectExpr(f"{b_full} AS bf", "n AS n2")))
        .selectExpr(
            "n AS n_days",
            "cast(floor(1e6 * bf + 0.5) as bigint) AS b_full_micro",
            "cast(floor(cast(sb as double) / cast(n as double) + 0.5)"
            " as bigint) AS b_jack_mean_micro",
            f"cast(floor(1e6 * sqrt({var}) + 0.5) as bigint)"
            " AS se_jack_micro",
        )
    )


def _oracle_jack() -> str:
    nn = "cast(n AS DOUBLE)"
    nm = "cast(mom.n AS DOUBLE)"
    b_full = (
        f"(({nm} * cast(sdy AS DOUBLE) - cast(sd_raw AS DOUBLE)"
        f" * cast(sy AS DOUBLE)) / ({nm} * cast(sdd AS DOUBLE)"
        f" - cast(sd_raw AS DOUBLE) * cast(sd_raw AS DOUBLE)))"
    )
    np_ = "(cast(n AS DOUBLE) - 1.0)"
    sx = "(cast(sd_raw AS DOUBLE) - cast(d AS DOUBLE))"
    sxx = "(cast(sdd AS DOUBLE) - cast(d AS DOUBLE) * cast(d AS DOUBLE))"
    syl = "(cast(sy AS DOUBLE) - cast(y AS DOUBLE))"
    sxy = "(cast(sdy AS DOUBLE) - cast(d AS DOUBLE) * cast(y AS DOUBLE))"
    b_i = (
        f"(({np_} * {sxy} - {sx} * {syl})"
        f" / ({np_} * {sxx} - {sx} * {sx}))"
    )
    var = (
        "((cast(r.n AS DOUBLE) - 1.0) / cast(r.n AS DOUBLE)"
        " * (cast(sbb AS DOUBLE) - cast(sb AS DOUBLE) * cast(sb AS DOUBLE)"
        " / cast(r.n AS DOUBLE)) / 1e12)"
    )
    return f"""
WITH daily AS ({_SQL_DAILY_TOTAL}),
mom AS (
  SELECT count(*)::BIGINT AS n, sum(d)::BIGINT AS sd_raw,
         sum(d * d)::BIGINT AS sdd, sum(y)::BIGINT AS sy,
         sum(d::HUGEINT * y) AS sdy
  FROM daily
),
loo AS (
  SELECT n, cast(floor(1e6 * {b_i} + 0.5) AS BIGINT) AS bim
  FROM daily, mom
),
red AS (
  SELECT n, sum(bim)::BIGINT AS sb, sum(bim::HUGEINT * bim) AS sbb
  FROM loo GROUP BY 1
)
SELECT r.n AS n_days,
       cast(floor(1e6 * {b_full} + 0.5) AS BIGINT) AS b_full_micro,
       cast(floor(cast(sb AS DOUBLE) / cast(r.n AS DOUBLE) + 0.5)
         AS BIGINT) AS b_jack_mean_micro,
       cast(floor(1e6 * sqrt({var}) + 0.5) AS BIGINT) AS se_jack_micro
FROM red r, mom
"""


# --------------------------------------------------------------------------
# Tukey median polish (X7 [EXT])
# --------------------------------------------------------------------------


def q_median_polish_2way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Tukey's median polish of the (event_type × weekday)
    mean-value table: alternately sweep LOWER-MEDIAN row and column
    effects out of the residuals (2 full sweeps), folding the medians
    of the effects into the grand term — the outlier-resistant
    decomposition next to anova_two_way's mean-based one. Group sizes
    are 7 and 5 (odd), so the element median is exact. Output per
    cell: event_type, dow0, y_micro, row_eff_micro, col_eff_micro,
    grand_micro, residual_micro."""
    e = _t(spark, sf_dir, "events")
    cell = (
        e.select(
            "event_type",
            F.expr("cast((dayofweek(ts) + 5) % 7 as bigint)").alias("dow0"),
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
        )
        .groupBy("event_type", "dow0")
        .agg(
            F.expr(
                "cast(floor(cast(sum(vm) as double) / count(*) + 0.5)"
                " as bigint)"
            ).alias("y")
        )
    )
    cell = barrier(cell)  # 2 sweeps x 2 directions
    # state: residual res (starts at y), row effects re, col effects ce,
    # grand g — all micro ints; lower median = element at (cnt+1) div 2
    # of the sorted list (exact for odd sizes, deterministic for even)
    med = (
        "element_at(array_sort(collect_list({x})),"
        " cast((count({x}) + 1) div 2 as int))"
    )
    state = cell.selectExpr(
        "event_type",
        "dow0",
        "y",
        "y AS res",
        "cast(0 as bigint) AS re",
        "cast(0 as bigint) AS ce",
        "cast(0 as bigint) AS g",
    )
    for _ in range(2):
        # row sweep: median over dows within each event_type
        rm = state.groupBy("event_type").agg(
            F.expr(med.format(x="res")).cast("bigint").alias("rmed")
        )
        state = barrier(
            state.join(F.broadcast(rm), "event_type")
            .selectExpr(
                "event_type",
                "dow0",
                "y",
                "res - rmed AS res",
                "re + rmed AS re",
                "ce",
                "g",
            )
        )
        # fold the median of row effects into the grand term
        gm = state.groupBy().agg(
            F.expr(
                "element_at(array_sort(collect_set(struct(re, event_type))),"
                " cast((count(distinct event_type) + 1) div 2 as int)).re"
            ).cast("bigint").alias("gmed")
        )
        state = barrier(
            state.crossJoin(F.broadcast(gm))
            .selectExpr(
                "event_type",
                "dow0",
                "y",
                "res",
                "re - gmed AS re",
                "ce",
                "g + gmed AS g",
            )
        )
        # column sweep: median over event_types within each dow
        cm = state.groupBy("dow0").agg(
            F.expr(med.format(x="res")).cast("bigint").alias("cmed")
        )
        state = barrier(
            state.join(F.broadcast(cm), "dow0")
            .selectExpr(
                "event_type",
                "dow0",
                "y",
                "res - cmed AS res",
                "re",
                "ce + cmed AS ce",
                "g",
            )
        )
        gm2 = state.groupBy().agg(
            F.expr(
                "element_at(array_sort(collect_set(struct(ce, dow0))),"
                " cast((count(distinct dow0) + 1) div 2 as int)).ce"
            ).cast("bigint").alias("gmed")
        )
        state = barrier(
            state.crossJoin(F.broadcast(gm2))
            .selectExpr(
                "event_type",
                "dow0",
                "y",
                "res",
                "re",
                "ce - gmed AS ce",
                "g + gmed AS g",
            )
        )
    return state.selectExpr(
        "event_type",
        "dow0",
        "y AS y_micro",
        "re AS row_eff_micro",
        "ce AS col_eff_micro",
        "g AS grand_micro",
        "res AS residual_micro",
    ).orderBy("event_type", "dow0")


def _oracle_polish() -> str:
    # lower median of a group: element (cnt+1)//2 of the sorted list
    med = "(list_sort(list({x})))[cast((count({x}) + 1) // 2 AS INT)]"
    sql = f"""
WITH cell AS (
  SELECT event_type,
         cast((dayofweek(ts) + 6) % 7 AS BIGINT) AS dow0,
         cast(floor(cast(sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))
           AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
s0 AS (
  SELECT event_type, dow0, y, y AS res, 0::BIGINT AS re, 0::BIGINT AS ce,
         0::BIGINT AS g
  FROM cell
)"""
    prev = "s0"
    step = 0
    for _ in range(2):
        step += 1
        sql += f""",
rm{step} AS (
  SELECT event_type, {med.format(x='res')} AS rmed
  FROM {prev} GROUP BY 1
),
sa{step} AS (
  SELECT s.event_type, s.dow0, s.y, s.res - r.rmed AS res,
         s.re + r.rmed AS re, s.ce, s.g
  FROM {prev} s JOIN rm{step} r USING (event_type)
),
gm{step} AS (
  SELECT (list_sort(list(re)))[cast((count(re) + 1) // 2 AS INT)] AS gmed
  FROM (SELECT DISTINCT event_type, re FROM sa{step})
),
sb{step} AS (
  SELECT event_type, dow0, y, res, re - gmed AS re, ce, g + gmed AS g
  FROM sa{step}, gm{step}
),
cmc{step} AS (
  SELECT dow0, {med.format(x='res')} AS cmed
  FROM sb{step} GROUP BY 1
),
sc{step} AS (
  SELECT s.event_type, s.dow0, s.y, s.res - c.cmed AS res, s.re,
         s.ce + c.cmed AS ce, s.g
  FROM sb{step} s JOIN cmc{step} c USING (dow0)
),
gn{step} AS (
  SELECT (list_sort(list(ce)))[cast((count(ce) + 1) // 2 AS INT)] AS gmed
  FROM (SELECT DISTINCT dow0, ce FROM sc{step})
),
sd{step} AS (
  SELECT event_type, dow0, y, res, re, ce - gmed AS ce, g + gmed AS g
  FROM sc{step}, gn{step}
)"""
        prev = f"sd{step}"
    sql += f"""
SELECT event_type, dow0, y AS y_micro, re AS row_eff_micro,
       ce AS col_eff_micro, g AS grand_micro, res AS residual_micro
FROM {prev} ORDER BY event_type, dow0
"""
    return sql


REGISTRY_EXT153: dict[str, QuerySpec] = {
    "generalized_esd_outliers": QuerySpec(
        q_generalized_esd_outliers, _oracle_esd(), "X7 [EXT] gESD"
    ),
    "cooks_distance_trend": QuerySpec(
        q_cooks_distance_trend, _oracle_cooks(), "X7 [EXT] Cook's D"
    ),
    "jackknife_slope_se": QuerySpec(
        q_jackknife_slope_se, _oracle_jack(), "X7 [EXT] jackknife SE"
    ),
    "median_polish_2way": QuerySpec(
        q_median_polish_2way, _oracle_polish(), "X7 [EXT] median polish"
    ),
}
