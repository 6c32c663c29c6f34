"""Wave 131 [EXT]: measurement-reliability and method-agreement
completers — Cronbach's alpha internal consistency, a two-way
random-effects intraclass correlation ICC(2,1), Gwet's AC1
chance-corrected agreement, Lin's concordance correlation coefficient,
and Bland-Altman limits of agreement. Together with the shipped
cohens_kappa / weighted_kappa_depth / fleiss_kappa_agreement /
krippendorff_alpha_nominal these complete the standard
reliability/agreement toolkit.

Scale notes (the 100x question, per query):
- cronbach_alpha: per-user per-item scores are conditional sums over
  the 5-value event_type ENUM (one groupBy(user) pass); item and total
  variances come from exact integer / decimal(38,0) moment sums — two
  keyless reduces, no window, no join.
- icc_2_1: the (user x time-tercile) score grid reduces map-side (3
  cells per user, mean micro-snapped; an empty cell scores 0 by
  documented convention so the design stays balanced); the two-way
  ANOVA mean squares assemble from four exact moment sums.
- gwet_ac1: the first-half/second-half band classification reduces to
  a 3x3 paired ENUM table (the stuart_maxwell_test frame); AC1 is
  constant-time arithmetic over its 9 cells.
- lin_ccc / bland_altman_limits: per-user half means micro-snap once;
  CCC is one keyless exact-moment reduce. Bland-Altman needs the
  limits BEFORE counting outliers — a broadcast of the 1-row moment
  frame back over the per-user differences (bounded broadcast by
  construction), never a second corpus scan.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_ITEMS = ("click", "error", "purchase", "signup", "view")
_SM_E1, _SM_E2 = 46_000_000, 53_000_000  # band edges (stuart_maxwell's)
_Z_95 = 1.959964


# --------------------------------------------------------------------------
# Cronbach's alpha (X7 [EXT])
# --------------------------------------------------------------------------


def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Cronbach (1951) alpha: are the {k} per-user event-type
    activity counts internally consistent as a scale measuring overall
    engagement? alpha = k/(k-1) * (1 - sum_i var_i / var_total), sample
    variances over users. All moments are exact integers (counts) /
    decimal squares, so alpha is exact until the final divides. Output
    one row: n_users, k_items, sum_item_var_milli, total_var_milli,
    alpha_milli."""
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        *[
            F.sum(F.expr(f"cast(event_type = '{it}' as int)"))
            .cast("bigint")
            .alias(f"c{i}")
            for i, it in enumerate(_ITEMS)
        ]
    )
    tot = " + ".join(f"c{i}" for i in range(len(_ITEMS)))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for i in range(len(_ITEMS)):
        aggs.append(F.sum(f"c{i}").cast("bigint").alias(f"s{i}"))
        aggs.append(
            F.sum(F.expr(f"{_DEC.format(x=f'c{i}')} * c{i}")).alias(f"q{i}")
        )
    aggs.append(F.sum(F.expr(tot)).cast("bigint").alias("st"))
    aggs.append(
        F.sum(F.expr(f"{_DEC.format(x=f'({tot})')} * ({tot})")).alias("qt")
    )
    m = per_user.agg(*aggs)
    # sample variance n*q - s^2 over n(n-1), assembled in doubles
    var = (
        "((cast(n as double) * cast({q} as double)"
        " - cast({s} as double) * cast({s} as double))"
        " / (cast(n as double) * (cast(n as double) - 1.0)))"
    )
    item_vars = " + ".join(
        var.format(q=f"q{i}", s=f"s{i}") for i in range(len(_ITEMS))
    )
    tot_var = var.format(q="qt", s="st")
    k = len(_ITEMS)
    alpha = (
        f"({k}.0 / {k - 1}.0 * (1.0 - ({item_vars}) / ({tot_var})))"
    )
    return m.selectExpr(
        "n AS n_users",
        f"cast({k} as bigint) AS k_items",
        f"cast(floor(1e3 * ({item_vars}) + 0.5) as bigint)"
        " AS sum_item_var_milli",
        f"cast(floor(1e3 * {tot_var} + 0.5) as bigint) AS total_var_milli",
        f"cast(floor(1e3 * {alpha} + 0.5) as bigint) AS alpha_milli",
    )


def _oracle_cronbach() -> str:
    k = len(_ITEMS)
    cols = ",\n         ".join(
        f"sum(CASE WHEN event_type = '{it}' THEN 1 ELSE 0 END)::BIGINT AS c{i}"
        for i, it in enumerate(_ITEMS)
    )
    tot = " + ".join(f"c{i}" for i in range(k))
    moments = ",\n         ".join(
        f"sum(c{i})::BIGINT AS s{i}, sum(c{i}::HUGEINT * c{i}) AS q{i}"
        for i in range(k)
    )
    var = (
        "((cast(n AS DOUBLE) * cast({q} AS DOUBLE)"
        " - cast({s} AS DOUBLE) * cast({s} AS DOUBLE))"
        " / (cast(n AS DOUBLE) * (cast(n AS DOUBLE) - 1.0)))"
    )
    item_vars = " + ".join(var.format(q=f"q{i}", s=f"s{i}") for i in range(k))
    tot_var = var.format(q="qt", s="st")
    alpha = f"({k}.0 / {k - 1}.0 * (1.0 - ({item_vars}) / ({tot_var})))"
    return f"""
WITH per_user AS (
  SELECT user_id,
         {cols}
  FROM events GROUP BY user_id
),
m AS (
  SELECT count(*)::BIGINT AS n,
         {moments},
         sum({tot})::BIGINT AS st,
         sum(({tot})::HUGEINT * ({tot})) AS qt
  FROM per_user
)
SELECT n AS n_users, cast({k} AS BIGINT) AS k_items,
       cast(floor(1e3 * ({item_vars}) + 0.5) AS BIGINT)
         AS sum_item_var_milli,
       cast(floor(1e3 * {tot_var} + 0.5) AS BIGINT) AS total_var_milli,
       cast(floor(1e3 * {alpha} + 0.5) AS BIGINT) AS alpha_milli
FROM m
"""


# --------------------------------------------------------------------------
# ICC(2,1) two-way random effects, single measures (X7 [EXT])
# --------------------------------------------------------------------------


def q_icc_2_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 intraclass correlation ICC(2,1) (Shrout & Fleiss 1979
    two-way random, single measures): subjects = users, raters = the 3
    time-terciles of the observation window, score = micro-snapped mean
    event value in that tercile (an empty cell scores 0 — documented
    balanced-design convention). From the two-way ANOVA mean squares
    MSR (rows/subjects), MSC (columns/raters), MSE:
    ICC = (MSR-MSE) / (MSR + (k-1)*MSE + k*(MSC-MSE)/n). Cell scores
    snap once; every SS assembles from exact decimal moment sums.
    Output one row: n_users, k_raters, msr_micro, msc_micro, mse_micro,
    icc_milli."""
    e = _t(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    )
    # tercile index 0/1/2, clamped so ts == t1 lands in tercile 2
    cell = (
        e.select(
            "user_id",
            F.unix_micros("ts").alias("u"),
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.expr(
                "least(cast((u - t0) * 3 div (t1 - t0 + 1) as int), 2)"
            ).alias("r"),
            "vm",
        )
        .groupBy("user_id", "r")
        .agg(
            F.expr(
                "cast(floor(cast(sum(vm) as double) / count(*) + 0.5)"
                " as bigint)"
            ).alias("x")
        )
    )
    # balanced grid: users x {0,1,2}, empty cells -> 0
    users = cell.select("user_id").distinct()
    grid = (
        users.crossJoin(
            users.sparkSession.range(3).select(F.col("id").cast("int").alias("r"))
        )
        .join(cell, ["user_id", "r"], "left")
        .select("user_id", "r", F.coalesce("x", F.lit(0)).alias("x"))
    )
    m = grid.agg(
        F.countDistinct("user_id").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("g"),
        F.sum(F.expr(f"{_DEC.format(x='x')} * x")).alias("q"),
    )
    rows_ = grid.groupBy("user_id").agg(F.sum("x").cast("bigint").alias("rs"))
    rowq = rows_.agg(F.sum(F.expr(f"{_DEC.format(x='rs')} * rs")).alias("qr"))
    cols_ = grid.groupBy("r").agg(F.sum("x").cast("bigint").alias("cs"))
    colq = cols_.agg(F.sum(F.expr(f"{_DEC.format(x='cs')} * cs")).alias("qc"))
    j = m.crossJoin(F.broadcast(rowq)).crossJoin(F.broadcast(colq))
    # SS in micro^2 doubles: total, rows, cols, error; k = 3 raters
    nk = "(cast(n as double) * 3.0)"
    cf = f"(cast(g as double) * cast(g as double) / {nk})"
    sst = f"(cast(q as double) - {cf})"
    ssr = f"(cast(qr as double) / 3.0 - {cf})"
    ssc = f"(cast(qc as double) / cast(n as double) - {cf})"
    sse = f"({sst} - {ssr} - {ssc})"
    msr = f"({ssr} / (cast(n as double) - 1.0))"
    msc = f"({ssc} / 2.0)"
    mse = f"({sse} / ((cast(n as double) - 1.0) * 2.0))"
    icc = (
        f"(({msr} - {mse}) / ({msr} + 2.0 * {mse}"
        f" + 3.0 * ({msc} - {mse}) / cast(n as double)))"
    )
    return j.selectExpr(
        "n AS n_users",
        "cast(3 as bigint) AS k_raters",
        f"cast(floor({msr} / 1e6 + 0.5) as bigint) AS msr_micro",
        f"cast(floor({msc} / 1e6 + 0.5) as bigint) AS msc_micro",
        f"cast(floor({mse} / 1e6 + 0.5) as bigint) AS mse_micro",
        f"cast(floor(1e3 * {icc} + 0.5) as bigint) AS icc_milli",
    )


def _oracle_icc() -> str:
    nk = "(cast(n AS DOUBLE) * 3.0)"
    cf = f"(cast(g AS DOUBLE) * cast(g AS DOUBLE) / {nk})"
    sst = f"(cast(q AS DOUBLE) - {cf})"
    ssr = f"(cast(qr AS DOUBLE) / 3.0 - {cf})"
    ssc = f"(cast(qc AS DOUBLE) / cast(n AS DOUBLE) - {cf})"
    sse = f"({sst} - {ssr} - {ssc})"
    msr = f"({ssr} / (cast(n AS DOUBLE) - 1.0))"
    msc = f"({ssc} / 2.0)"
    mse = f"({sse} / ((cast(n AS DOUBLE) - 1.0) * 2.0))"
    icc = (
        f"(({msr} - {mse}) / ({msr} + 2.0 * {mse}"
        f" + 3.0 * ({msc} - {mse}) / cast(n AS DOUBLE)))"
    )
    return f"""
WITH bounds AS (
  SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1 FROM events
),
cell AS (
  SELECT user_id,
         least(cast((epoch_us(ts) - t0) * 3 // (t1 - t0 + 1) AS INT), 2) AS r,
         cast(floor(cast(sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))
              AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS x
  FROM events, bounds GROUP BY 1, 2
),
grid AS (
  SELECT u.user_id, s.r, coalesce(c.x, 0) AS x
  FROM (SELECT DISTINCT user_id FROM cell) u
  CROSS JOIN (SELECT unnest([0, 1, 2]) AS r) s
  LEFT JOIN cell c ON c.user_id = u.user_id AND c.r = s.r
),
m AS (
  SELECT count(DISTINCT user_id)::BIGINT AS n, sum(x)::BIGINT AS g,
         sum(x::HUGEINT * x) AS q
  FROM grid
),
rq AS (
  SELECT sum(rs::HUGEINT * rs) AS qr
  FROM (SELECT user_id, sum(x)::BIGINT AS rs FROM grid GROUP BY 1)
),
cq AS (
  SELECT sum(cs::HUGEINT * cs) AS qc
  FROM (SELECT r, sum(x)::BIGINT AS cs FROM grid GROUP BY 1)
)
SELECT n AS n_users, cast(3 AS BIGINT) AS k_raters,
       cast(floor({msr} / 1e6 + 0.5) AS BIGINT) AS msr_micro,
       cast(floor({msc} / 1e6 + 0.5) AS BIGINT) AS msc_micro,
       cast(floor({mse} / 1e6 + 0.5) AS BIGINT) AS mse_micro,
       cast(floor(1e3 * {icc} + 0.5) AS BIGINT) AS icc_milli
FROM m, rq, cq
"""


# --------------------------------------------------------------------------
# Gwet's AC1 (X7 [EXT])
# --------------------------------------------------------------------------

_SQL_BANDED = f"""
  SELECT CASE WHEN m1 <= {_SM_E1} THEN 0 WHEN m1 <= {_SM_E2} THEN 1 ELSE 2 END
           AS b1,
         CASE WHEN m2 <= {_SM_E1} THEN 0 WHEN m2 <= {_SM_E2} THEN 1 ELSE 2 END
           AS b2
  FROM (
    SELECT CASE WHEN c1 = 0 THEN 0 ELSE cast(floor(cast(s1 AS DOUBLE)
             / cast(c1 AS DOUBLE) + 0.5) AS BIGINT) END AS m1,
           CASE WHEN c2 = 0 THEN 0 ELSE cast(floor(cast(s2 AS DOUBLE)
             / cast(c2 AS DOUBLE) + 0.5) AS BIGINT) END AS m2
    FROM (
      SELECT user_id,
             sum(CASE WHEN epoch_us(ts) * 2 >= t0 + t1 THEN 0 ELSE 1 END)
               ::BIGINT AS c1,
             sum(CASE WHEN epoch_us(ts) * 2 >= t0 + t1 THEN 1 ELSE 0 END)
               ::BIGINT AS c2,
             sum(CASE WHEN epoch_us(ts) * 2 >= t0 + t1 THEN 0
                 ELSE cast(floor(value * 1e6 + 0.5) AS BIGINT) END)
               ::BIGINT AS s1,
             sum(CASE WHEN epoch_us(ts) * 2 >= t0 + t1
                 THEN cast(floor(value * 1e6 + 0.5) AS BIGINT) ELSE 0 END)
               ::BIGINT AS s2
      FROM events,
           (SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
            FROM events) b
      GROUP BY user_id
    )
  )
"""


def _banded_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: (first-half band, second-half band) on the
    stuart_maxwell banding (registry_ext127.py) — the two 'raters'."""
    e = _t(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    )
    band = (
        "cast(if({m} <= " + str(_SM_E1) + ", 0, if({m} <= " + str(_SM_E2)
        + ", 1, 2)) as int)"
    )
    mean = (
        "if({c} = 0, 0L, cast(floor(cast({s} as double)"
        " / cast({c} as double) + 0.5) as bigint))"
    )
    return (
        e.select(
            "user_id",
            F.unix_micros("ts").alias("tsu"),
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            (F.col("tsu") * 2 >= F.col("t0") + F.col("t1"))
            .cast("int")
            .alias("h2"),
            "vm",
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("1 - h2")).cast("bigint").alias("c1"),
            F.sum("h2").cast("bigint").alias("c2"),
            F.sum(F.expr("vm * (1 - h2)")).cast("bigint").alias("s1"),
            F.sum(F.expr("vm * h2")).cast("bigint").alias("s2"),
        )
        .select(
            F.expr(band.format(m=mean.format(c="c1", s="s1"))).alias("b1"),
            F.expr(band.format(m=mean.format(c="c2", s="s2"))).alias("b2"),
        )
    )


def q_gwet_ac1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Gwet (2008) AC1: chance-corrected agreement between the
    first-half and second-half activity-band classifications (the
    stuart_maxwell_test 3x3 frame) that stays stable when a band
    dominates — the paradox-resistant alternative to cohens_kappa
    (which this corpus' band skew depresses). AC1 = (Pa - Pe)/(1 - Pe)
    with Pe = (1/(q-1)) * sum_k pi_k*(1 - pi_k), pi_k = (row_k+col_k)/(2n).
    Exact integer cell counts; one 9-cell ENUM reduce. Output one row:
    n_users, pa_milli, pe_milli, ac1_milli, kappa_milli (for
    comparison)."""
    tab = _banded_halves(spark, sf_dir).groupBy("b1", "b2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cell = "sum(if(b1 = {i} and b2 = {j}, c, 0L))"
    row = "sum(if(b1 = {i}, c, 0L))"
    col = "sum(if(b2 = {j}, c, 0L))"
    aggs = [
        F.sum("c").cast("bigint").alias("n"),
        F.expr(
            " + ".join(cell.format(i=i, j=i) for i in range(3))
        ).cast("bigint").alias("agree"),
    ]
    for k in range(3):
        aggs.append(
            F.expr(f"{row.format(i=k)} + {col.format(j=k)}")
            .cast("bigint")
            .alias(f"m{k}")
        )
        aggs.append(F.expr(row.format(i=k)).cast("bigint").alias(f"r{k}"))
        aggs.append(F.expr(col.format(j=k)).cast("bigint").alias(f"k{k}"))
    m = tab.agg(*aggs)
    pa = "(cast(agree as double) / cast(n as double))"
    pi = "(cast(m{k} as double) / (2.0 * cast(n as double)))"
    pe_ac1 = (
        "(("
        + " + ".join(f"{pi.format(k=k)} * (1.0 - {pi.format(k=k)})" for k in range(3))
        + ") / 2.0)"
    )
    pe_kappa = (
        "("
        + " + ".join(
            f"cast(r{k} as double) * cast(k{k} as double)"
            " / (cast(n as double) * cast(n as double))"
            for k in range(3)
        )
        + ")"
    )
    return m.selectExpr(
        "n AS n_users",
        f"cast(floor(1e3 * {pa} + 0.5) as bigint) AS pa_milli",
        f"cast(floor(1e3 * {pe_ac1} + 0.5) as bigint) AS pe_milli",
        f"cast(floor(1e3 * ({pa} - {pe_ac1}) / (1.0 - {pe_ac1}) + 0.5)"
        " as bigint) AS ac1_milli",
        f"cast(floor(1e3 * ({pa} - {pe_kappa}) / (1.0 - {pe_kappa}) + 0.5)"
        " as bigint) AS kappa_milli",
    )


def _oracle_gwet() -> str:
    cell = "sum(CASE WHEN b1 = {i} AND b2 = {j} THEN c ELSE 0 END)"
    row = "sum(CASE WHEN b1 = {i} THEN c ELSE 0 END)"
    col = "sum(CASE WHEN b2 = {j} THEN c ELSE 0 END)"
    marg = ",\n         ".join(
        f"({row.format(i=k)} + {col.format(j=k)})::BIGINT AS m{k},"
        f" {row.format(i=k)}::BIGINT AS r{k},"
        f" {col.format(j=k)}::BIGINT AS k{k}"
        for k in range(3)
    )
    pa = "(cast(agree AS DOUBLE) / cast(n AS DOUBLE))"
    pi = "(cast(m{k} AS DOUBLE) / (2.0 * cast(n AS DOUBLE)))"
    pe_ac1 = (
        "(("
        + " + ".join(f"{pi.format(k=k)} * (1.0 - {pi.format(k=k)})" for k in range(3))
        + ") / 2.0)"
    )
    pe_kappa = (
        "("
        + " + ".join(
            f"cast(r{k} AS DOUBLE) * cast(k{k} AS DOUBLE)"
            " / (cast(n AS DOUBLE) * cast(n AS DOUBLE))"
            for k in range(3)
        )
        + ")"
    )
    agree = " + ".join(cell.format(i=i, j=i) for i in range(3))
    return f"""
WITH banded AS ({_SQL_BANDED}),
tab AS (SELECT b1, b2, count(*)::BIGINT AS c FROM banded GROUP BY 1, 2),
m AS (
  SELECT sum(c)::BIGINT AS n, ({agree})::BIGINT AS agree,
         {marg}
  FROM tab
)
SELECT n AS n_users,
       cast(floor(1e3 * {pa} + 0.5) AS BIGINT) AS pa_milli,
       cast(floor(1e3 * {pe_ac1} + 0.5) AS BIGINT) AS pe_milli,
       cast(floor(1e3 * ({pa} - {pe_ac1}) / (1.0 - {pe_ac1}) + 0.5)
            AS BIGINT) AS ac1_milli,
       cast(floor(1e3 * ({pa} - {pe_kappa}) / (1.0 - {pe_kappa}) + 0.5)
            AS BIGINT) AS kappa_milli
FROM m
"""


# --------------------------------------------------------------------------
# Lin's concordance correlation coefficient (X7 [EXT])
# --------------------------------------------------------------------------


def _half_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: micro-snapped first-half and second-half mean values
    (the stuart_maxwell per-user frame before banding)."""
    e = _t(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    )
    mean = (
        "if({c} = 0, 0L, cast(floor(cast({s} as double)"
        " / cast({c} as double) + 0.5) as bigint))"
    )
    return (
        e.select(
            "user_id",
            F.unix_micros("ts").alias("tsu"),
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            (F.col("tsu") * 2 >= F.col("t0") + F.col("t1"))
            .cast("int")
            .alias("h2"),
            "vm",
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("1 - h2")).cast("bigint").alias("c1"),
            F.sum("h2").cast("bigint").alias("c2"),
            F.sum(F.expr("vm * (1 - h2)")).cast("bigint").alias("s1"),
            F.sum(F.expr("vm * h2")).cast("bigint").alias("s2"),
        )
        .select(
            F.expr(mean.format(c="c1", s="s1")).alias("x"),
            F.expr(mean.format(c="c2", s="s2")).alias("y"),
        )
    )


_SQL_HALF_MEANS = f"""
  SELECT CASE WHEN c1 = 0 THEN 0 ELSE cast(floor(cast(s1 AS DOUBLE)
           / cast(c1 AS DOUBLE) + 0.5) AS BIGINT) END AS x,
         CASE WHEN c2 = 0 THEN 0 ELSE cast(floor(cast(s2 AS DOUBLE)
           / cast(c2 AS DOUBLE) + 0.5) AS BIGINT) END AS y
  FROM (
    SELECT user_id,
           sum(CASE WHEN epoch_us(ts) * 2 >= t0 + t1 THEN 0 ELSE 1 END)
             ::BIGINT AS c1,
           sum(CASE WHEN epoch_us(ts) * 2 >= t0 + t1 THEN 1 ELSE 0 END)
             ::BIGINT AS c2,
           sum(CASE WHEN epoch_us(ts) * 2 >= t0 + t1 THEN 0
               ELSE cast(floor(value * 1e6 + 0.5) AS BIGINT) END)
             ::BIGINT AS s1,
           sum(CASE WHEN epoch_us(ts) * 2 >= t0 + t1
               THEN cast(floor(value * 1e6 + 0.5) AS BIGINT) ELSE 0 END)
             ::BIGINT AS s2
    FROM events,
         (SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
          FROM events) b
    GROUP BY user_id
  )
"""


def q_lin_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Lin (1989) concordance correlation coefficient: do the
    first-half and second-half per-user mean values agree along the
    45-degree line (not merely correlate)?
    CCC = 2*s_xy / (s_x^2 + s_y^2 + (mean_x - mean_y)^2), population
    moments — Pearson r times the bias-correction factor C_b. All
    moments are exact integer/decimal sums of snapped means. Output one
    row: n_users, r_milli, cb_milli, ccc_milli."""
    m = _half_means(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr(f"{_DEC.format(x='x')} * x")).alias("qx"),
        F.sum(F.expr(f"{_DEC.format(x='y')} * y")).alias("qy"),
        F.sum(F.expr(f"{_DEC.format(x='x')} * y")).alias("qxy"),
    )
    nn = "cast(n as double)"
    vx = f"(cast(qx as double) / {nn} - (cast(sx as double) / {nn}) * (cast(sx as double) / {nn}))"
    vy = f"(cast(qy as double) / {nn} - (cast(sy as double) / {nn}) * (cast(sy as double) / {nn}))"
    cxy = f"(cast(qxy as double) / {nn} - (cast(sx as double) / {nn}) * (cast(sy as double) / {nn}))"
    dm = f"((cast(sx as double) - cast(sy as double)) / {nn})"
    ccc = f"(2.0 * {cxy} / ({vx} + {vy} + {dm} * {dm}))"
    r = f"({cxy} / sqrt({vx} * {vy}))"
    return m.selectExpr(
        "n AS n_users",
        f"cast(floor(1e3 * {r} + 0.5) as bigint) AS r_milli",
        f"cast(floor(1e3 * {ccc} / {r} + 0.5) as bigint) AS cb_milli",
        f"cast(floor(1e3 * {ccc} + 0.5) as bigint) AS ccc_milli",
    )


def _oracle_ccc() -> str:
    nn = "cast(n AS DOUBLE)"
    vx = f"(cast(qx AS DOUBLE) / {nn} - (cast(sx AS DOUBLE) / {nn}) * (cast(sx AS DOUBLE) / {nn}))"
    vy = f"(cast(qy AS DOUBLE) / {nn} - (cast(sy AS DOUBLE) / {nn}) * (cast(sy AS DOUBLE) / {nn}))"
    cxy = f"(cast(qxy AS DOUBLE) / {nn} - (cast(sx AS DOUBLE) / {nn}) * (cast(sy AS DOUBLE) / {nn}))"
    dm = f"((cast(sx AS DOUBLE) - cast(sy AS DOUBLE)) / {nn})"
    ccc = f"(2.0 * {cxy} / ({vx} + {vy} + {dm} * {dm}))"
    r = f"({cxy} / sqrt({vx} * {vy}))"
    return f"""
WITH hm AS ({_SQL_HALF_MEANS}),
m AS (
  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         sum(x::HUGEINT * x) AS qx, sum(y::HUGEINT * y) AS qy,
         sum(x::HUGEINT * y) AS qxy
  FROM hm
)
SELECT n AS n_users,
       cast(floor(1e3 * {r} + 0.5) AS BIGINT) AS r_milli,
       cast(floor(1e3 * {ccc} / {r} + 0.5) AS BIGINT) AS cb_milli,
       cast(floor(1e3 * {ccc} + 0.5) AS BIGINT) AS ccc_milli
FROM m
"""


# --------------------------------------------------------------------------
# Bland-Altman limits of agreement (X7 [EXT])
# --------------------------------------------------------------------------


def q_bland_altman_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Bland & Altman (1986) limits of agreement between the
    first-half and second-half per-user mean values: mean difference
    (bias), sd of differences, limits = bias +/- 1.96*sd, and the count
    of users outside the limits (expected ~5%% under normality). The
    limits need the 1-row moment frame joined BACK over the per-user
    differences — a broadcast bounded by construction. Output one row:
    n_users, bias_micro, sd_micro, lo_micro, hi_micro, n_outside."""
    hm = _half_means(spark, sf_dir).select(
        F.expr("y - x").cast("bigint").alias("d")
    )
    hm = barrier(hm)  # two passes over the user frame
    m = hm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sd_sum"),
        F.sum(F.expr(f"{_DEC.format(x='d')} * d")).alias("qd"),
    )
    nn = "cast(n as double)"
    bias = f"(cast(sd_sum as double) / {nn})"
    sd = (
        f"sqrt(({nn} * cast(qd as double) - cast(sd_sum as double)"
        f" * cast(sd_sum as double)) / ({nn} * ({nn} - 1.0)))"
    )
    lims = m.selectExpr(
        "n",
        f"cast(floor({bias} + 0.5) as bigint) AS bias_micro",
        f"cast(floor({sd} + 0.5) as bigint) AS sd_micro",
        f"cast(floor({bias} - {_Z_95} * {sd} + 0.5) as bigint) AS lo_micro",
        f"cast(floor({bias} + {_Z_95} * {sd} + 0.5) as bigint) AS hi_micro",
    )
    out = hm.crossJoin(F.broadcast(lims)).agg(
        F.max("n").cast("bigint").alias("n_users"),
        F.max("bias_micro").cast("bigint").alias("bias_micro"),
        F.max("sd_micro").cast("bigint").alias("sd_micro"),
        F.max("lo_micro").cast("bigint").alias("lo_micro"),
        F.max("hi_micro").cast("bigint").alias("hi_micro"),
        F.sum(F.expr("cast(d < lo_micro or d > hi_micro as int)"))
        .cast("bigint")
        .alias("n_outside"),
    )
    return out


_ORACLE_BA = f"""
WITH hm AS (SELECT (y - x)::BIGINT AS d FROM ({_SQL_HALF_MEANS})),
m AS (
  SELECT count(*)::BIGINT AS n, sum(d)::BIGINT AS sd_sum,
         sum(d::HUGEINT * d) AS qd
  FROM hm
),
lims AS (
  SELECT n,
         cast(floor((cast(sd_sum AS DOUBLE) / cast(n AS DOUBLE)) + 0.5)
              AS BIGINT) AS bias_micro,
         cast(floor(sqrt((cast(n AS DOUBLE) * cast(qd AS DOUBLE)
              - cast(sd_sum AS DOUBLE) * cast(sd_sum AS DOUBLE))
              / (cast(n AS DOUBLE) * (cast(n AS DOUBLE) - 1.0))) + 0.5)
              AS BIGINT) AS sd_micro,
         cast(floor((cast(sd_sum AS DOUBLE) / cast(n AS DOUBLE))
              - {_Z_95} * sqrt((cast(n AS DOUBLE) * cast(qd AS DOUBLE)
              - cast(sd_sum AS DOUBLE) * cast(sd_sum AS DOUBLE))
              / (cast(n AS DOUBLE) * (cast(n AS DOUBLE) - 1.0))) + 0.5)
              AS BIGINT) AS lo_micro,
         cast(floor((cast(sd_sum AS DOUBLE) / cast(n AS DOUBLE))
              + {_Z_95} * sqrt((cast(n AS DOUBLE) * cast(qd AS DOUBLE)
              - cast(sd_sum AS DOUBLE) * cast(sd_sum AS DOUBLE))
              / (cast(n AS DOUBLE) * (cast(n AS DOUBLE) - 1.0))) + 0.5)
              AS BIGINT) AS hi_micro
  FROM m
)
SELECT max(n)::BIGINT AS n_users, max(bias_micro)::BIGINT AS bias_micro,
       max(sd_micro)::BIGINT AS sd_micro, max(lo_micro)::BIGINT AS lo_micro,
       max(hi_micro)::BIGINT AS hi_micro,
       sum(CASE WHEN d < lo_micro OR d > hi_micro THEN 1 ELSE 0 END)::BIGINT
         AS n_outside
FROM hm, lims
"""


REGISTRY_EXT131: dict[str, QuerySpec] = {
    "cronbach_alpha": QuerySpec(
        q_cronbach_alpha, _oracle_cronbach(), "X7 [EXT] Cronbach alpha"
    ),
    "icc_2_1": QuerySpec(q_icc_2_1, _oracle_icc(), "X7 [EXT] ICC(2,1)"),
    "gwet_ac1": QuerySpec(q_gwet_ac1, _oracle_gwet(), "X7 [EXT] Gwet AC1"),
    "lin_ccc": QuerySpec(q_lin_ccc, _oracle_ccc(), "X7 [EXT] Lin CCC"),
    "bland_altman_limits": QuerySpec(
        q_bland_altman_limits, _ORACLE_BA, "X7 [EXT] Bland-Altman"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_cronbach_alpha.__doc__ = q_cronbach_alpha.__doc__.format(k=len(_ITEMS))  # noqa: E501
