"""Wave 136 [EXT]: robust location / scale / skewness completers — the
Huber M-estimator of location (IRLS), the Rousseeuw-Croux Qn scale
estimator, the Tukey biweight location, and the medcouple robust
skewness with its adjusted-boxplot fences. Companions of the shipped
mad_outliers_robust / trimmed_mean_robust / winsorize_clip /
hodges_lehmann_shift / grubbs_outlier_test.

Scale notes (the 100x question, per query):
- huber_m_location / tukey_biweight_location: the corpus reduces
  map-side to CENTI VALUE CELLS; the median/MAD cuts are CDF walks over
  that bounded frame (the sanctioned order-statistic category) and each
  of the {k} IRLS steps is ONE aggregate over the checkpointed cell
  frame with per-cell micro-snapped weights (the platt parameter-walk
  rule).
- qn_scale_estimator / medcouple_skewness: pairwise frames run over
  UNIT value cells (<= ~500 rows at any corpus size — the
  hodges_lehmann difference-frame category); the k-th order statistic /
  weighted median of the pair kernel is one more CDF walk over the
  bounded pair-value cells. Cell-resolution estimators by design,
  documented in each docstring.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_IRLS_STEPS = 3
_HUBER_K = 1.345  # x robust sd
_BIWEIGHT_C = 4.685
_MAD_CONST = 1.4826
_QN_D = 2.2219  # Rousseeuw-Croux consistency constant


def _centi_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CENTI value cells (value*100 snapped) with counts."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc")
        )
        .groupBy("vc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )


_SQL_CENTI = """
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         count(*)::BIGINT AS w
  FROM events GROUP BY 1
"""


_SQL_IRLS_FRAME = f"""
cells AS ({_SQL_CENTI}),
walk AS (
  SELECT vc, sum(w) OVER (ORDER BY vc)::BIGINT AS cum FROM cells
),
tot AS (SELECT sum(w)::BIGINT AS n FROM cells),
med AS (
  SELECT min(vc)::BIGINT AS med_c, max(n)::BIGINT AS n
  FROM walk, tot WHERE cum >= (n + 1) // 2
),
dev AS (
  SELECT abs(vc - med_c) AS dc, med_c, n, sum(w)::BIGINT AS w
  FROM cells, med GROUP BY 1, 2, 3
),
mad AS (
  SELECT max(n)::BIGINT AS n, max(med_c)::BIGINT AS med_c,
         min(dc)::BIGINT AS mad_c
  FROM (SELECT dc, med_c, n, sum(w) OVER (ORDER BY dc)::BIGINT AS cum
        FROM dev)
  WHERE cum >= (n + 1) // 2
),
frame AS (SELECT cells.vc, cells.w, mad.n, mad.med_c, mad.mad_c
          FROM cells, mad)
"""


def _irls_query(tune: str, weight_expr: str, weight_sql: str):
    """Shared IRLS driver: 3 unrolled reweighted-mean steps over the
    centi-cell frame, starting from the cell median, with the given
    weight expression in terms of (u = x - mu in micro, k = tuning
    constant in micro). The Spark expression names |u| by an ``{au}``
    format placeholder (``k_micro`` is a column); the SQL twin reads a
    real ``au`` column.

    Round-14 shape: the centi cell frame is VALUE-DOMAIN bounded (a few
    hundred cells at any corpus size), so after the one corpus
    aggregation the whole walk — median CDF cross, MAD CDF cross, and
    the 3 IRLS reweighted means — runs as expression lambdas over ONE
    sorted cell array in a single-row frame. Arithmetic is unchanged
    cell algebra (exact integer/decimal sums; a sorted-order scan
    crosses the same (n+1) div 2 target the old min-over-filter did),
    but the old shape's 8 broadcast-exchange builds + global-window walk
    (21 scheduler jobs/query measured) collapse into the one corpus
    aggregation job."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        cells = _centi_cells(spark, sf_dir)
        row = cells.agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("vc"), F.col("w")))
            ).alias("cw"),
            F.sum("w").cast("bigint").alias("n"),
        )
        # lower-median rank target (n+1) div 2, first cell whose running
        # cum crosses it == min qualifying vc of the old filtered walk
        walk = (
            "aggregate({arr}, struct(cast(0 as bigint) as cum,"
            " cast(null as bigint) as hit), (acc, x) -> struct("
            "acc.cum + x.{wcol} as cum, coalesce(acc.hit,"
            " if(acc.cum + x.{wcol} >= (n + 1) div 2, x.{vcol},"
            " cast(null as bigint))) as hit)).hit"
        )
        row = row.selectExpr(
            "cw", "n", walk.format(arr="cw", wcol="w", vcol="vc") + " AS med_c"
        )
        dev = "sort_array(transform(cw, x -> struct(abs(x.vc - med_c) as dc, x.w as w)))"
        row = row.selectExpr(
            "cw",
            "n",
            "med_c",
            walk.format(arr=dev, wcol="w", vcol="dc") + " AS mad_c",
        )
        # tuning constant in micro: tune * 1.4826 * mad (centi -> micro)
        kmu = (
            f"cast(floor({tune} * {_MAD_CONST} * cast(mad_c as double) * 1e4"
            " + 0.5) as bigint)"
        )
        row = row.selectExpr("cw", "n", "med_c", "mad_c", f"{kmu} AS k_micro")
        mu_col = "cast(med_c * 10000 as bigint)"
        for s in range(_IRLS_STEPS):
            row = row.selectExpr(
                "cw", "n", "med_c", "mad_c", "k_micro", f"{mu_col} AS mu{s}"
            )
            # per-cell micro weight with au = |x_micro - mu|, then the
            # exact decimal sums the old per-step aggregate computed
            wm = f"cast({weight_expr.format(au=f'abs(x.vc * 10000 - mu{s})')} as bigint)"
            step = (
                "aggregate(cw, struct(cast(0 as decimal(38,0)) as num,"
                " cast(0 as decimal(38,0)) as den), (acc, x) -> struct("
                f"acc.num + cast(x.w as decimal(38,0)) * ({wm})"
                " * (x.vc * 10000) as num,"
                f" acc.den + cast(x.w as decimal(38,0)) * ({wm}) as den))"
            )
            mu_col = (
                f"cast(floor(cast(({step}).num as double)"
                f" / cast(({step}).den as double) + 0.5) as bigint)"
            )
        return row.selectExpr(
            "n",
            "med_c * 10000 AS median_micro",
            f"cast(floor({_MAD_CONST} * cast(mad_c as double) * 1e4 + 0.5)"
            " as bigint) AS s0_micro",
            "k_micro",
            f"{mu_col} AS m_location_micro",
        )

    def oracle() -> str:
        kmu = (
            f"cast(floor({tune} * {_MAD_CONST} * cast(mad_c AS DOUBLE) * 1e4"
            " + 0.5) AS BIGINT)"
        )
        steps = ""
        prev = "m0"
        for s in range(1, _IRLS_STEPS + 1):
            steps += f""",
st{s} AS (
  SELECT sum(w::HUGEINT * wm * x_micro) AS num, sum(w::HUGEINT * wm) AS den
  FROM (
    SELECT w, x_micro, cast({weight_sql} AS BIGINT) AS wm
    FROM (
      SELECT f.w, f.vc * 10000 AS x_micro, {kmu} AS k_micro,
             abs(f.vc * 10000 - m.mu) AS au
      FROM frame f, {prev} m
    )
  )
),
m{s} AS (
  SELECT cast(floor(cast(num AS DOUBLE) / cast(den AS DOUBLE) + 0.5)
           AS BIGINT) AS mu
  FROM st{s}
)"""
            prev = f"m{s}"
        return f"""
WITH {_SQL_IRLS_FRAME},
m0 AS (SELECT med_c * 10000 AS mu FROM mad){steps}
SELECT max(f.n)::BIGINT AS n,
       max(f.med_c) * 10000 AS median_micro,
       cast(floor({_MAD_CONST} * cast(max(f.mad_c) AS DOUBLE) * 1e4 + 0.5)
            AS BIGINT) AS s0_micro,
       max({kmu.replace('mad_c', 'f.mad_c')})::BIGINT AS k_micro,
       max(m.mu)::BIGINT AS m_location_micro
FROM frame f, {prev} m
"""

    return q, oracle


def q_huber_m_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Huber (1964) M-estimator of the value-distribution
    location: {s} unrolled IRLS steps from the cell median with weights
    w(u) = min(1, k/|u|), k = {k} * 1.4826*MAD — the robust mean that
    downweights (never discards) outliers, between trimmed_mean_robust
    (hard trim) and the mean. Cell-resolution (centi value cells);
    weights micro-snap per cell per step so both engines walk identical
    parameter sequences. Output one row: n, median_micro, s0_micro,
    k_micro, m_location_micro."""
    return _HUBER_Q(spark, sf_dir)


def q_tukey_biweight_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Tukey biweight (bisquare) location: {s} IRLS steps with
    the redescending weight w(u) = (1 - (u/c)^2)^2 for |u| < c else 0,
    c = {c} * 1.4826*MAD — unlike huber_m_location this gives GROSS
    outliers exactly zero weight. Same centi-cell IRLS frame and
    micro-snap discipline. Output one row: n, median_micro, s0_micro,
    k_micro, m_location_micro."""
    return _BIWEIGHT_Q(spark, sf_dir)


_HUBER_W_SPARK = (
    "if({au} <= k_micro, 1000000L,"
    " cast(floor(1e6 * cast(k_micro as double) / cast({au} as double) + 0.5)"
    " as bigint))"
)
_HUBER_W_SQL = (
    "CASE WHEN au <= k_micro THEN 1000000"
    " ELSE cast(floor(1e6 * cast(k_micro AS DOUBLE) / cast(au AS DOUBLE)"
    " + 0.5) AS BIGINT) END"
)
_BI_W_SPARK = (
    "if({au} >= k_micro, 0L,"
    " cast(floor(1e6 * pow(1.0 - (cast({au} as double) / cast(k_micro as double))"
    " * (cast({au} as double) / cast(k_micro as double)), 2.0) + 0.5) as bigint))"
)
_BI_W_SQL = (
    "CASE WHEN au >= k_micro THEN 0"
    " ELSE cast(floor(1e6 * pow(1.0 - (cast(au AS DOUBLE)"
    " / cast(k_micro AS DOUBLE)) * (cast(au AS DOUBLE)"
    " / cast(k_micro AS DOUBLE)), 2.0) + 0.5) AS BIGINT) END"
)

_HUBER_Q, _HUBER_ORACLE = _irls_query(_HUBER_K, _HUBER_W_SPARK, _HUBER_W_SQL)
_BIWEIGHT_Q, _BI_ORACLE = _irls_query(_BIWEIGHT_C, _BI_W_SPARK, _BI_W_SQL)


# --------------------------------------------------------------------------
# Rousseeuw-Croux Qn scale estimator (X7 [EXT])
# --------------------------------------------------------------------------


def q_qn_scale_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Qn scale (Rousseeuw & Croux 1993): the k-th smallest of
    the C(n,2) pairwise absolute differences, k = C(h,2) with
    h = n div 2 + 1, scaled by d = {d} — a 50%-breakdown scale
    estimator that, unlike the MAD, needs no location and keeps 82%
    Gaussian efficiency. Pairs run over UNIT value cells (<= ~500 rows;
    within-cell pairs contribute difference 0 with weight C(w,2)); the
    rank-select is one CDF walk over the bounded difference cells.
    Cell-resolution by design. Output one row: n, k_rank, q_raw_micro,
    qn_micro."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(F.expr("cast(floor(value + 0.5) as bigint)").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    cells = barrier(cells)
    c2 = cells.selectExpr("v as v2", "w as w2")
    diffs = (
        cells.join(c2, F.expr("v <= v2"))
        .selectExpr(
            "v2 - v AS d",
            f"if(v = v2, {_DEC.format(x='w')} * (w - 1) / 2,"
            f" {_DEC.format(x='w')} * w2) AS pairs",
        )
        .groupBy("d")
        .agg(F.sum("pairs").alias("pairs"))
    )
    tot = cells.agg(F.sum("w").cast("bigint").alias("n"))
    wd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    walk = (
        diffs.select(
            "d", F.sum("pairs").over(wd).alias("cum")
        )
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "d",
            "cum",
            "n",
            "cast((n div 2 + 1) as decimal(38,0))"
            " * (n div 2 + 1 - 1) / 2 AS k_rank",
        )
    )
    hit = walk.filter("cum >= k_rank").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max(F.expr("cast(k_rank as bigint)")).alias("k_rank"),
        F.min("d").cast("bigint").alias("q_raw"),
    )
    return hit.selectExpr(
        "n",
        "k_rank",
        "q_raw * 1000000 AS q_raw_micro",
        f"cast(floor({_QN_D} * cast(q_raw as double) * 1e6 + 0.5) as bigint)"
        " AS qn_micro",
    )


_ORACLE_QN = f"""
WITH cells AS (
  SELECT cast(floor(value + 0.5) AS BIGINT) AS v, count(*)::BIGINT AS w
  FROM events GROUP BY 1
),
diffs AS (
  SELECT b.v - a.v AS d,
         sum(CASE WHEN a.v = b.v THEN a.w::HUGEINT * (a.w - 1) / 2
             ELSE a.w::HUGEINT * b.w END) AS pairs
  FROM cells a JOIN cells b ON a.v <= b.v
  GROUP BY 1
),
tot AS (SELECT sum(w)::BIGINT AS n FROM cells),
walk AS (
  SELECT d, sum(pairs) OVER (ORDER BY d) AS cum, n,
         (n // 2 + 1)::HUGEINT * (n // 2 + 1 - 1) / 2 AS k_rank
  FROM diffs, tot
),
hit AS (
  SELECT max(n)::BIGINT AS n, max(cast(k_rank AS BIGINT))::BIGINT AS k_rank,
         min(d)::BIGINT AS q_raw
  FROM walk WHERE cum >= k_rank
)
SELECT n, k_rank, q_raw * 1000000 AS q_raw_micro,
       cast(floor({_QN_D} * cast(q_raw AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
         AS qn_micro
FROM hit
"""


# --------------------------------------------------------------------------
# Medcouple robust skewness + adjusted boxplot (X7 [EXT])
# --------------------------------------------------------------------------


def q_medcouple_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 medcouple (Brys, Hubert & Struyf 2004): the weighted
    median of the kernel h(xi, xj) = ((xj-m) - (m-xi)) / (xj-xi) over
    pairs xi <= m <= xj (xi < xj; pairs with xi = xj = m take h = 0 by
    the tie convention) — a 25%-breakdown skewness measure, plus the
    Hubert-Vandervieren (2008) adjusted-boxplot fences
    [Q1 - 1.5*exp(-4*MC)*IQR, Q3 + 1.5*exp(3*MC)*IQR] (MC >= 0 form;
    exponents swap sign for MC < 0) and the outlier count they flag.
    Pairs run over UNIT value cells (left-of-median x right-of-median,
    bounded); the kernel milli-snaps per pair cell and its weighted
    median is one CDF walk. Output one row: n, mc_milli,
    fence_lo_micro, fence_hi_micro, n_outliers."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(F.expr("cast(floor(value + 0.5) as bigint)").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    cells = barrier(cells)
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    walk = cells.select(
        "v", "w", F.sum("w").over(wv).cast("bigint").alias("cum")
    )
    tot = cells.agg(F.sum("w").cast("bigint").alias("n"))
    # lower median and quartiles at ranks (n+1) div 2, ceil(n/4), ceil(3n/4)
    cuts = (
        walk.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.min(F.expr("if(cum >= (n + 1) div 2, v, null)"))
            .cast("bigint")
            .alias("m"),
            F.min(F.expr("if(cum >= (n + 3) div 4, v, null)"))
            .cast("bigint")
            .alias("q1"),
            F.min(F.expr("if(cum >= (3 * n + 3) div 4, v, null)"))
            .cast("bigint")
            .alias("q3"),
        )
    )
    lhs = cells.crossJoin(F.broadcast(cuts)).filter("v <= m")
    rhs = cells.selectExpr("v as vr", "w as wr")
    kern = (
        lhs.join(rhs, F.expr("vr >= m and vr > v or (vr = v and v = m)"))
        .selectExpr(
            "n",
            "m",
            "q1",
            "q3",
            "if(v = vr, 0L,"
            " cast(floor(1e3 * (cast((vr - m) - (m - v) as double)"
            " / cast(vr - v as double)) + 0.5) as bigint)) AS h",
            f"if(v = vr, {_DEC.format(x='w')} * (w - 1) / 2,"
            f" {_DEC.format(x='w')} * wr) AS pairs",
        )
        .groupBy("n", "m", "q1", "q3", "h")
        .agg(F.sum("pairs").alias("pairs"))
    )
    wh = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    ktot = kern.groupBy().agg(F.sum("pairs").alias("tp"))
    mc = (
        kern.select(
            "n",
            "m",
            "q1",
            "q3",
            "h",
            F.sum("pairs").over(wh).alias("cum"),
        )
        .crossJoin(F.broadcast(ktot))
        .filter("cast(cum as double) * 2 >= cast(tp as double)")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.max("m").cast("bigint").alias("m"),
            F.max("q1").cast("bigint").alias("q1"),
            F.max("q3").cast("bigint").alias("q3"),
            F.min("h").cast("bigint").alias("mc_milli"),
        )
    )
    mcd = "(cast(mc_milli as double) / 1e3)"
    iqr = "(cast(q3 as double) - cast(q1 as double))"
    lo = (
        f"cast(floor(1e6 * (cast(q1 as double) - 1.5"
        f" * exp(if({mcd} >= 0.0, -4.0 * {mcd}, -3.0 * {mcd})) * {iqr})"
        " + 0.5) as bigint)"
    )
    hi = (
        f"cast(floor(1e6 * (cast(q3 as double) + 1.5"
        f" * exp(if({mcd} >= 0.0, 3.0 * {mcd}, 4.0 * {mcd})) * {iqr})"
        " + 0.5) as bigint)"
    )
    fences = mc.selectExpr(
        "n", "mc_milli", f"{lo} AS fence_lo_micro", f"{hi} AS fence_hi_micro"
    )
    out = (
        cells.crossJoin(F.broadcast(fences))
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.max("mc_milli").cast("bigint").alias("mc_milli"),
            F.max("fence_lo_micro").cast("bigint").alias("fence_lo_micro"),
            F.max("fence_hi_micro").cast("bigint").alias("fence_hi_micro"),
            F.sum(
                F.expr(
                    "if(v * 1000000 < fence_lo_micro"
                    " or v * 1000000 > fence_hi_micro, w, 0L)"
                )
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )
    return out


_ORACLE_MC = f"""
WITH cells AS (
  SELECT cast(floor(value + 0.5) AS BIGINT) AS v, count(*)::BIGINT AS w
  FROM events GROUP BY 1
),
walk AS (
  SELECT v, w, sum(w) OVER (ORDER BY v)::BIGINT AS cum FROM cells
),
tot AS (SELECT sum(w)::BIGINT AS n FROM cells),
cuts AS (
  SELECT max(n)::BIGINT AS n,
         min(CASE WHEN cum >= (n + 1) // 2 THEN v END)::BIGINT AS m,
         min(CASE WHEN cum >= (n + 3) // 4 THEN v END)::BIGINT AS q1,
         min(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END)::BIGINT AS q3
  FROM walk, tot
),
kern AS (
  SELECT c.n, c.m, c.q1, c.q3,
         CASE WHEN a.v = b.v THEN 0
              ELSE cast(floor(1e3 * (cast((b.v - c.m) - (c.m - a.v)
                   AS DOUBLE) / cast(b.v - a.v AS DOUBLE)) + 0.5) AS BIGINT)
         END AS h,
         sum(CASE WHEN a.v = b.v THEN a.w::HUGEINT * (a.w - 1) / 2
             ELSE a.w::HUGEINT * b.w END) AS pairs
  FROM cells a, cells b, cuts c
  WHERE a.v <= c.m AND ((b.v >= c.m AND b.v > a.v)
        OR (b.v = a.v AND a.v = c.m))
  GROUP BY 1, 2, 3, 4, 5
),
ktot AS (SELECT sum(pairs) AS tp FROM kern),
mc AS (
  SELECT max(n)::BIGINT AS n, max(m)::BIGINT AS m, max(q1)::BIGINT AS q1,
         max(q3)::BIGINT AS q3, min(h)::BIGINT AS mc_milli
  FROM (SELECT n, m, q1, q3, h, sum(pairs) OVER (ORDER BY h) AS cum
        FROM kern), ktot
  WHERE cast(cum AS DOUBLE) * 2 >= cast(tp AS DOUBLE)
),
fences AS (
  SELECT n, mc_milli,
         cast(floor(1e6 * (cast(q1 AS DOUBLE) - 1.5
              * exp(CASE WHEN cast(mc_milli AS DOUBLE) / 1e3 >= 0.0
                    THEN -4.0 * cast(mc_milli AS DOUBLE) / 1e3
                    ELSE -3.0 * cast(mc_milli AS DOUBLE) / 1e3 END)
              * (cast(q3 AS DOUBLE) - cast(q1 AS DOUBLE))) + 0.5)
              AS BIGINT) AS fence_lo_micro,
         cast(floor(1e6 * (cast(q3 AS DOUBLE) + 1.5
              * exp(CASE WHEN cast(mc_milli AS DOUBLE) / 1e3 >= 0.0
                    THEN 3.0 * cast(mc_milli AS DOUBLE) / 1e3
                    ELSE 4.0 * cast(mc_milli AS DOUBLE) / 1e3 END)
              * (cast(q3 AS DOUBLE) - cast(q1 AS DOUBLE))) + 0.5)
              AS BIGINT) AS fence_hi_micro
  FROM mc
)
SELECT max(f.n)::BIGINT AS n, max(f.mc_milli)::BIGINT AS mc_milli,
       max(f.fence_lo_micro)::BIGINT AS fence_lo_micro,
       max(f.fence_hi_micro)::BIGINT AS fence_hi_micro,
       sum(CASE WHEN c.v * 1000000 < f.fence_lo_micro
                OR c.v * 1000000 > f.fence_hi_micro THEN c.w
           ELSE 0 END)::BIGINT AS n_outliers
FROM cells c, fences f
"""


REGISTRY_EXT136: dict[str, QuerySpec] = {
    "huber_m_location": QuerySpec(
        q_huber_m_location, _HUBER_ORACLE(), "X7 [EXT] Huber M-location"
    ),
    "tukey_biweight_location": QuerySpec(
        q_tukey_biweight_location, _BI_ORACLE(), "X7 [EXT] Tukey biweight"
    ),
    "qn_scale_estimator": QuerySpec(
        q_qn_scale_estimator, _ORACLE_QN, "X7 [EXT] Qn scale"
    ),
    "medcouple_skewness": QuerySpec(
        q_medcouple_skewness, _ORACLE_MC, "X7 [EXT] medcouple"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_huber_m_location.__doc__ = q_huber_m_location.__doc__.format(s=_IRLS_STEPS, k=_HUBER_K)  # noqa: E501
q_tukey_biweight_location.__doc__ = q_tukey_biweight_location.__doc__.format(s=_IRLS_STEPS, c=_BIWEIGHT_C)  # noqa: E501
q_qn_scale_estimator.__doc__ = q_qn_scale_estimator.__doc__.format(d=_QN_D)  # noqa: E501
