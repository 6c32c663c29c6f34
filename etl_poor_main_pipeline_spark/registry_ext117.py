"""Wave 117 [EXT]: the Anderson-Darling two-sample completer of the drift
family, multicollinearity screening for feature pipelines, and the
DAU/WAU stickiness product metric.

Scale notes (the 100x question, per query):
- anderson_darling_2samp: both samples reduce map-side to CENTI VALUE
  CELLS; the variance-weighted CDF walk keeps exact integer numerators
  (decimal(38,0)/HUGEINT staged) per cell with one micro-snap per term
  — the tail-sensitive member KS/CvM/Kuiper/Mood lack.
- vif_collinearity: three per-document features reduce to ONE
  decimal-staged moment aggregate; VIFs come from the closed-form 3x3
  correlation inversion with micro-snapped pairwise r.
- dau_wau_stickiness: the (user, day) distinct frame is corpus-bounded
  (users x calendar days); WAU joins that frame to a LITERAL 0..6
  offset grid (7x linear, no window), so the rolling distinct is an
  equi-join + grouped count-distinct — the shape that survives any user
  count.

Reference parity: none; [EXT] X7/X9 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_DAY_US = 86_400_000_000
_AD_A, _AD_B = "click", "purchase"


# --------------------------------------------------------------------------
# Anderson-Darling two-sample test on centi value cells (X7 [EXT])
# --------------------------------------------------------------------------


def q_anderson_darling_2samp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 two-sample Anderson-Darling statistic (Scholz-Stephens
    k=2, discrete/cell form) between '{a}' and '{b}' event values — the
    VARIANCE-WEIGHTED CDF distance: weights 1/(B(N-B)) make it the most
    tail-sensitive member of the shipped family (KS: sup; CvM: unweighted
    integral; Kuiper: rotation-invariant sup). Per pooled value cell j
    with width l_j, pooled prefix B_j and per-sample prefixes M_aj/M_bj:
    A2 = sum_(B_j<N) l_j * [ (N*M_aj - na*B_j)^2/na + (N*M_bj - nb*B_j)^2
    /nb ] / (B_j*(N-B_j)) / N — integer numerators staged through
    decimal(38,0), one micro-snap per cell term. Output one row: n_a,
    n_b, n_cells, a2_micro."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type").isin(_AD_A, _AD_B))
    cells = (
        e.select(
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("vc"),
            F.when(F.col("event_type") == _AD_A, F.lit(1))
            .otherwise(F.lit(0))
            .alias("isa"),
        )
        .groupBy("vc")
        .agg(
            F.sum("isa").cast("bigint").alias("ca"),
            F.sum(F.lit(1) - F.col("isa")).cast("bigint").alias("cb"),
        )
    )
    w = Window.orderBy("vc").rowsBetween(Window.unboundedPreceding, 0)
    pref = cells.select(
        (F.col("ca") + F.col("cb")).alias("lj"),
        F.sum("ca").over(w).cast("bigint").alias("ma"),
        F.sum("cb").over(w).cast("bigint").alias("mb"),
    )
    tot = pref.agg(
        F.max("ma").cast("bigint").alias("na"),
        F.max("mb").cast("bigint").alias("nb"),
        F.count(F.lit(1)).cast("bigint").alias("ncells"),
    )
    term = (
        "cast(floor(1e6 * cast(lj as double) * ("
        "  cast(cast(na + nb as decimal(38,0)) * cast(ma as decimal(38,0))"
        "     - cast(na as decimal(38,0)) * cast(ma + mb as decimal(38,0))"
        "     as double)"
        "  * cast(cast(na + nb as decimal(38,0)) * cast(ma as decimal(38,0))"
        "     - cast(na as decimal(38,0)) * cast(ma + mb as decimal(38,0))"
        "     as double) / cast(na as double)"
        " + cast(cast(na + nb as decimal(38,0)) * cast(mb as decimal(38,0))"
        "     - cast(nb as decimal(38,0)) * cast(ma + mb as decimal(38,0))"
        "     as double)"
        "  * cast(cast(na + nb as decimal(38,0)) * cast(mb as decimal(38,0))"
        "     - cast(nb as decimal(38,0)) * cast(ma + mb as decimal(38,0))"
        "     as double) / cast(nb as double))"
        " / (cast(ma + mb as double) * cast(na + nb - ma - mb as double))"
        " / cast(na + nb as double) + 0.5) as bigint)"
    )
    return (
        pref.crossJoin(F.broadcast(tot))
        .filter(F.expr("ma + mb < na + nb"))
        .select("na", "nb", "ncells", F.expr(term).alias("t"))
        .groupBy("na", "nb", "ncells")
        .agg(F.sum("t").cast("bigint").alias("a2_micro"))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            F.col("ncells").alias("n_cells"),
            "a2_micro",
        )
    )


_ORACLE_AD = f"""
WITH cells AS (
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         sum(CASE WHEN event_type = '{_AD_A}' THEN 1 ELSE 0 END)::BIGINT AS ca,
         sum(CASE WHEN event_type = '{_AD_B}' THEN 1 ELSE 0 END)::BIGINT AS cb
  FROM events WHERE event_type IN ('{_AD_A}', '{_AD_B}')
  GROUP BY 1
),
pref AS (
  SELECT ca + cb AS lj,
         sum(ca) OVER (ORDER BY vc)::BIGINT AS ma,
         sum(cb) OVER (ORDER BY vc)::BIGINT AS mb
  FROM cells
),
tot AS (SELECT max(ma)::BIGINT AS na, max(mb)::BIGINT AS nb,
               count(*)::BIGINT AS ncells FROM pref),
terms AS (
  SELECT na, nb, ncells,
         cast(floor(1e6 * cast(lj AS DOUBLE) * (
             cast((na + nb)::HUGEINT * ma::HUGEINT
                - na::HUGEINT * (ma + mb)::HUGEINT AS DOUBLE)
           * cast((na + nb)::HUGEINT * ma::HUGEINT
                - na::HUGEINT * (ma + mb)::HUGEINT AS DOUBLE)
             / cast(na AS DOUBLE)
           + cast((na + nb)::HUGEINT * mb::HUGEINT
                - nb::HUGEINT * (ma + mb)::HUGEINT AS DOUBLE)
           * cast((na + nb)::HUGEINT * mb::HUGEINT
                - nb::HUGEINT * (ma + mb)::HUGEINT AS DOUBLE)
             / cast(nb AS DOUBLE))
          / (cast(ma + mb AS DOUBLE) * cast(na + nb - ma - mb AS DOUBLE))
          / cast(na + nb AS DOUBLE) + 0.5) AS BIGINT) AS t
  FROM pref, tot
  WHERE ma + mb < na + nb
)
SELECT na AS n_a, nb AS n_b, ncells AS n_cells,
       sum(t)::BIGINT AS a2_micro
FROM terms
GROUP BY na, nb, ncells
"""


# --------------------------------------------------------------------------
# Variance inflation factors over document features (X7 [EXT])
# --------------------------------------------------------------------------


def q_vif_collinearity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 variance inflation factors for the three stock document
    features (n_chars, token count, distinct-token count) — the
    feature-engineering "are these columns redundant?" screen run before
    any regression/model fit; VIF > 10 means the feature is ~linearly
    determined by the others. One decimal-staged moment pass; pairwise r
    micro-snapped; VIF_i = 1/(1 - R2_i) from the closed-form 3-variable
    inversion, milli-snapped. Output one row: n_docs, r12_micro,
    r13_micro, r23_micro, vif1_milli, vif2_milli, vif3_milli."""
    d = _t(spark, sf_dir, "documents")
    feats = d.select(
        F.col("n_chars").alias("x1"),
        F.expr("size(filter(split(lower(text), '\\\\s+'), t -> t <> ''))").alias(
            "x2"
        ),
        F.expr(
            "size(array_distinct(filter(split(lower(text), '\\\\s+'),"
            " t -> t <> '')))"
        ).alias("x3"),
    )
    dec = "cast({e} as decimal(38,0))"
    mom = feats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.expr(f"sum({dec.format(e=a)})").alias(f"s{a[1]}")
            for a in ("x1", "x2", "x3")
        ],
        *[
            F.expr(f"sum({dec.format(e=a)} * {dec.format(e=b)})").alias(
                f"s{a[1]}{b[1]}"
            )
            for a, b in (
                ("x1", "x1"),
                ("x2", "x2"),
                ("x3", "x3"),
                ("x1", "x2"),
                ("x1", "x3"),
                ("x2", "x3"),
            )
        ],
    )

    def r(i: int, j: int) -> str:
        return (
            f"(cast(floor(1e6 * (cast(n as double) * cast(s{i}{j} as double)"
            f" - cast(s{i} as double) * cast(s{j} as double))"
            f" / sqrt((cast(n as double) * cast(s{i}{i} as double)"
            f"         - cast(s{i} as double) * cast(s{i} as double))"
            f"      * (cast(n as double) * cast(s{j}{j} as double)"
            f"         - cast(s{j} as double) * cast(s{j} as double)))"
            " + 0.5) as bigint))"
        )

    r12, r13, r23 = r(1, 2), r(1, 3), r(2, 3)

    def vif(rij: str, rik: str, rjk: str) -> str:
        # R2_i = (rij^2 + rik^2 - 2 rij rik rjk) / (1 - rjk^2), micro ints in
        return (
            "cast(floor(1e3 / greatest(1e-9, 1.0 -"
            f" (({rij} / 1e6) * ({rij} / 1e6) + ({rik} / 1e6) * ({rik} / 1e6)"
            f"  - 2.0 * ({rij} / 1e6) * ({rik} / 1e6) * ({rjk} / 1e6))"
            f" / greatest(1e-9, 1.0 - ({rjk} / 1e6) * ({rjk} / 1e6)))"
            " + 0.5) as bigint)"
        )

    return mom.select(
        F.col("n").alias("n_docs"),
        F.expr(r12).alias("r12_micro"),
        F.expr(r13).alias("r13_micro"),
        F.expr(r23).alias("r23_micro"),
        F.expr(vif(r12, r13, r23)).alias("vif1_milli"),
        F.expr(vif(r12, r23, r13)).alias("vif2_milli"),
        F.expr(vif(r13, r23, r12)).alias("vif3_milli"),
    )


def _vif_oracle() -> str:
    def r(i: int, j: int) -> str:
        return (
            f"(cast(floor(1e6 * (cast(n AS DOUBLE) * cast(s{i}{j} AS DOUBLE)"
            f" - cast(s{i} AS DOUBLE) * cast(s{j} AS DOUBLE))"
            f" / sqrt((cast(n AS DOUBLE) * cast(s{i}{i} AS DOUBLE)"
            f"         - cast(s{i} AS DOUBLE) * cast(s{i} AS DOUBLE))"
            f"      * (cast(n AS DOUBLE) * cast(s{j}{j} AS DOUBLE)"
            f"         - cast(s{j} AS DOUBLE) * cast(s{j} AS DOUBLE)))"
            " + 0.5) AS BIGINT))"
        )

    r12, r13, r23 = r(1, 2), r(1, 3), r(2, 3)

    def vif(rij: str, rik: str, rjk: str) -> str:
        return (
            "cast(floor(1e3 / greatest(1e-9, 1.0 -"
            f" (({rij} / 1e6) * ({rij} / 1e6) + ({rik} / 1e6) * ({rik} / 1e6)"
            f"  - 2.0 * ({rij} / 1e6) * ({rik} / 1e6) * ({rjk} / 1e6))"
            f" / greatest(1e-9, 1.0 - ({rjk} / 1e6) * ({rjk} / 1e6)))"
            " + 0.5) AS BIGINT)"
        )

    return rf"""
WITH feats AS (
  SELECT n_chars AS x1,
         len(list_filter(string_split_regex(lower(text), '\s+'),
             t -> t <> ''))::BIGINT AS x2,
         len(list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
             t -> t <> '')))::BIGINT AS x3
  FROM documents
),
mom AS (
  SELECT count(*)::BIGINT AS n,
         sum(x1::HUGEINT) AS s1, sum(x2::HUGEINT) AS s2, sum(x3::HUGEINT) AS s3,
         sum(x1::HUGEINT * x1::HUGEINT) AS s11,
         sum(x2::HUGEINT * x2::HUGEINT) AS s22,
         sum(x3::HUGEINT * x3::HUGEINT) AS s33,
         sum(x1::HUGEINT * x2::HUGEINT) AS s12,
         sum(x1::HUGEINT * x3::HUGEINT) AS s13,
         sum(x2::HUGEINT * x3::HUGEINT) AS s23
  FROM feats
)
SELECT n AS n_docs,
       {r12} AS r12_micro,
       {r13} AS r13_micro,
       {r23} AS r23_micro,
       {vif(r12, r13, r23)} AS vif1_milli,
       {vif(r12, r23, r13)} AS vif2_milli,
       {vif(r13, r23, r12)} AS vif3_milli
FROM mom
"""


# --------------------------------------------------------------------------
# DAU / rolling-7-day WAU stickiness (X9 [EXT])
# --------------------------------------------------------------------------


def q_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 daily active users over rolling-7-day weekly active users
    (DAU/WAU "stickiness") — the product-analytics engagement staple.
    The (user, day) distinct frame is corpus-bounded (users x calendar
    days); WAU equi-joins that frame onto a LITERAL 0..6 day-offset grid
    (7x linear fan-out, no window, no self-join), then one grouped
    count-distinct per target day. Days with fewer than 7 prior calendar
    days report their partial window (documented). Output per day: day,
    dau, wau, stickiness_micro."""
    e = _t(spark, sf_dir, "events")
    ud = barrier(
        e.select(
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day"),
            F.col("user_id"),
        )
        .distinct(),
        eager=True,
    )
    dau = ud.groupBy("day").agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    offs = spark.range(0, 7).select(F.col("id").alias("off"))
    days = ud.select("day").distinct()
    wau = (
        ud.crossJoin(F.broadcast(offs))
        .select((F.col("day") + F.col("off")).alias("tday"), "user_id")
        .join(days.select(F.col("day").alias("tday")), "tday")
        .groupBy("tday")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )
    return (
        dau.join(wau, dau.day == wau.tday)
        .select(
            "day",
            "dau",
            "wau",
            F.expr(
                "cast(floor(1e6 * cast(dau as double) / cast(wau as double)"
                " + 0.5) as bigint)"
            ).alias("stickiness_micro"),
        )
        .orderBy("day")
    )


_ORACLE_DAU = f"""
WITH ud AS (
  SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS day, user_id FROM events
),
dau AS (SELECT day, count(DISTINCT user_id)::BIGINT AS dau FROM ud GROUP BY day),
offs AS (SELECT unnest(range(0, 7)) AS off),
days AS (SELECT DISTINCT day AS tday FROM ud),
wau AS (
  SELECT tday, count(DISTINCT user_id)::BIGINT AS wau
  FROM (
    SELECT ud.day + offs.off AS tday, ud.user_id
    FROM ud CROSS JOIN offs
  ) shifted JOIN days USING (tday)
  GROUP BY tday
)
SELECT dau.day, dau.dau, wau.wau,
       cast(floor(1e6 * cast(dau.dau AS DOUBLE) / cast(wau.wau AS DOUBLE)
            + 0.5) AS BIGINT) AS stickiness_micro
FROM dau JOIN wau ON wau.tday = dau.day
ORDER BY dau.day
"""


REGISTRY_EXT117: dict[str, QuerySpec] = {
    "anderson_darling_2samp": QuerySpec(
        q_anderson_darling_2samp, _ORACLE_AD, "X7 [EXT] Anderson-Darling 2-sample"
    ),
    "vif_collinearity": QuerySpec(
        q_vif_collinearity, _vif_oracle(), "X7 [EXT] variance inflation factors"
    ),
    "dau_wau_stickiness": QuerySpec(
        q_dau_wau_stickiness, _ORACLE_DAU, "X9 [EXT] DAU/WAU stickiness"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_anderson_darling_2samp.__doc__ = q_anderson_darling_2samp.__doc__.format(a=_AD_A, b=_AD_B)  # noqa: E501
