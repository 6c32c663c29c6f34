"""Wave 152 [EXT]: multiple-comparison and effect-size completers —
Holm's (1979) step-down Bonferroni over the (event_type × weekday)
z-test family, Benjamini-Yekutieli (2001) FDR under arbitrary
dependence (the harmonic-corrected BH), the Agresti-Coull (1998)
binomial interval (the "add z² pseudo-observations" companion of the
shipped wilson_interval_bins), and the ANOVA effect-size trio
η² / ω² / Cohen's f². Companions of fdr_bh_correction
(registry_ext69), tukey_hsd_pairs, anova_f_between_groups.

Conventions: the test family is fdr_bh_correction's (event_type,
Monday-0 dow) cell z-tests with the Bowling logistic Φ approximation
(identical text both engines, registry_ext69:231); intervals use
z = 1.959963984540054.

Scale notes (the 100x question, per query):
- holm / BY: the corpus reduces to the |types|×7 = 35-cell test frame;
  ranks and step-down cummaxes run as non-equi self-joins over that
  enum-bounded frame (the fdr_bh idiom — never a window, never the
  corpus); the BY harmonic constant folds from sequence(1, m) with
  nano-snapped reciprocals;
- agresti_coull: one 7-row dow frame, closed-form interval;
- cohens_f2: one conditional aggregate to the 5-row type frame with
  decimal-staged squares; the per-group sy²/n term is a same-text
  double floor (the cluster_design_effect precedent).

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_PHI = "(1.0 / (1.0 + exp(-1.5976 * {z} - 0.070566 * {z} * {z} * {z})))"
_Z95 = 1.959963984540054
_ALPHA_MICRO = 100_000  # alpha = 0.10, in p-micro units


def _test_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, dow0, p_micro) — the fdr_bh_correction z-test
    family (registry_ext69): cell mean vs global mean, two-sided p via
    the Bowling logistic Φ."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast((dayofweek(ts) + 5) % 7 as bigint)").alias("dow0"),
        F.floor(F.lit(1e6) * F.col("value") + F.lit(0.5))
        .cast("bigint")
        .alias("vm"),
    )
    g = ev.groupBy("event_type", "dow0").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("vm").cast("bigint").alias("s_g"),
    )
    glob = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum("vm").cast("bigint").alias("s_all"),
        F.sum((F.col("vm") * F.col("vm")).cast("decimal(38,0)")).alias(
            "ss_all"
        ),
    )
    tests = g.crossJoin(F.broadcast(glob)).selectExpr(
        "event_type",
        "dow0",
        """cast(floor(
             ((cast(s_g as double) / cast(n_g as double)
               - cast(s_all as double) / cast(n_all as double))
              / (sqrt((cast(ss_all as double)
                       - cast(s_all as double)
                         * (cast(s_all as double) / cast(n_all as double)))
                      / (cast(n_all as double) - 1))
                 / sqrt(cast(n_g as double))))
             * 1000000.0 + 0.5) as bigint) as z_micro""",
    )
    az = "abs(cast(z_micro as double) / 1000000.0)"
    return tests.selectExpr(
        "event_type",
        "dow0",
        f"cast(floor(2.0 * (1.0 - {_PHI.format(z=az)}) * 1000000.0 + 0.5)"
        " as bigint) as p_micro",
    )


_SQL_TEST_FAMILY = f"""
ev AS (
  SELECT event_type,
         cast((dayofweek(ts) + 6) % 7 AS BIGINT) AS dow0,
         cast(floor(1e6 * value + 0.5) AS BIGINT) AS vm
  FROM events
),
g AS (
  SELECT event_type, dow0, count(*)::BIGINT AS n_g, sum(vm)::BIGINT AS s_g
  FROM ev GROUP BY 1, 2
),
gtot AS (
  SELECT count(*)::BIGINT AS n_all, sum(vm)::BIGINT AS s_all,
         sum(vm::HUGEINT * vm) AS ss_all
  FROM ev
),
tests AS (
  SELECT event_type, dow0,
         cast(floor(
           ((cast(s_g AS DOUBLE) / cast(n_g AS DOUBLE)
             - cast(s_all AS DOUBLE) / cast(n_all AS DOUBLE))
            / (sqrt((cast(ss_all AS DOUBLE)
                     - cast(s_all AS DOUBLE)
                       * (cast(s_all AS DOUBLE) / cast(n_all AS DOUBLE)))
                    / (cast(n_all AS DOUBLE) - 1))
               / sqrt(cast(n_g AS DOUBLE))))
           * 1000000.0 + 0.5) AS BIGINT) AS z_micro
  FROM g, gtot
),
fam AS (
  SELECT event_type, dow0,
         cast(floor(2.0 * (1.0 - {_PHI.format(z="abs(cast(z_micro AS DOUBLE) / 1000000.0)")})
           * 1000000.0 + 0.5) AS BIGINT) AS p_micro
  FROM tests
)
"""


# --------------------------------------------------------------------------
# Holm step-down Bonferroni (X7 [EXT])
# --------------------------------------------------------------------------


def q_holm_bonferroni_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Holm (1979): rank the family's p-values ascending and
    adjust p_(i) to max_{j≤i} min(1, (m-j+1)·p_(j)) — uniformly more
    powerful than plain Bonferroni at the same FWER, no independence
    assumption. Rank and step-down cummax run as two non-equi
    self-joins over the 35-cell frame. Output per cell: event_type,
    dow0, p_micro, p_holm_micro, reject_10."""
    fam = _test_family(spark, sf_dir)
    fam = barrier(fam)  # rank join + cummax join
    m = fam.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    ranked = (
        fam.alias("a")
        .join(
            fam.alias("b"),
            F.expr(
                "b.p_micro < a.p_micro OR (b.p_micro = a.p_micro AND"
                " (b.event_type < a.event_type OR (b.event_type ="
                " a.event_type AND b.dow0 <= a.dow0)))"
            ),
        )
        .groupBy("a.event_type", "a.dow0", "a.p_micro")
        .agg(F.count(F.lit(1)).cast("bigint").alias("rk"))
    )
    ranked = barrier(ranked)  # cummax join
    holm = (
        ranked.alias("x")
        .join(ranked.alias("y"), F.expr("y.rk <= x.rk"))
        .crossJoin(F.broadcast(m))
        .groupBy("x.event_type", "x.dow0", "x.p_micro")
        .agg(
            F.max(
                F.expr("least((m - y.rk + 1) * y.p_micro,"
                       " cast(1000000 as bigint))")
            )
            .cast("bigint")
            .alias("p_holm_micro")
        )
    )
    return holm.selectExpr(
        "event_type",
        "dow0",
        "p_micro",
        "p_holm_micro",
        f"p_holm_micro <= {_ALPHA_MICRO} AS reject_10",
    ).orderBy("event_type", "dow0")


_ORACLE_HOLM = f"""
WITH {_SQL_TEST_FAMILY},
m AS (SELECT count(*)::BIGINT AS m FROM fam),
ranked AS (
  SELECT a.event_type, a.dow0, a.p_micro, count(*)::BIGINT AS rk
  FROM fam a JOIN fam b
    ON b.p_micro < a.p_micro OR (b.p_micro = a.p_micro AND
       (b.event_type < a.event_type OR (b.event_type = a.event_type
        AND b.dow0 <= a.dow0)))
  GROUP BY 1, 2, 3
)
SELECT x.event_type, x.dow0, x.p_micro,
       max(least((m.m - y.rk + 1) * y.p_micro, 1000000))::BIGINT
         AS p_holm_micro,
       max(least((m.m - y.rk + 1) * y.p_micro, 1000000))
         <= {_ALPHA_MICRO} AS reject_10
FROM ranked x JOIN ranked y ON y.rk <= x.rk, m
GROUP BY 1, 2, 3
ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Benjamini-Yekutieli FDR (X7 [EXT])
# --------------------------------------------------------------------------


def q_benjamini_yekutieli_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Benjamini-Yekutieli (2001): BH with the harmonic
    penalty c(m) = Σ_{i≤m} 1/i — FDR control under ARBITRARY
    dependence (the BH twin, fdr_bh_correction, assumes positive
    dependence). Critical value at rank i: (i/m)·(α/c(m)); reciprocal
    terms snap nano so c(m) is an exact sum. Rejection is the STEP-UP
    rule (mirrors registry_ext69's BH): k* = max{i : p_(i) ≤ crit_i},
    reject ALL ranks ≤ k* — a per-cell p ≤ crit comparison would
    wrongly un-reject cells below k* whose own p exceeds their own
    critical value (round-11 ADVICE fix). Output per cell:
    event_type, dow0, p_micro, crit_by_micro, reject_by."""
    fam = _test_family(spark, sf_dir)
    fam = barrier(fam)  # rank join + crit pass
    m = fam.agg(F.count(F.lit(1)).cast("bigint").alias("m")).selectExpr(
        "m",
        # harmonic number c(m), nano-snapped reciprocals, exact sum
        "aggregate(sequence(1, cast(m as int)), cast(0 as bigint),"
        " (acc, i) -> acc + cast(floor(1e9 / cast(i as double) + 0.5)"
        " as bigint)) AS cm_nano",
    )
    ranked = (
        fam.alias("a")
        .join(
            fam.alias("b"),
            F.expr(
                "b.p_micro < a.p_micro OR (b.p_micro = a.p_micro AND"
                " (b.event_type < a.event_type OR (b.event_type ="
                " a.event_type AND b.dow0 <= a.dow0)))"
            ),
        )
        .groupBy("a.event_type", "a.dow0", "a.p_micro")
        .agg(F.count(F.lit(1)).cast("bigint").alias("rk"))
    )
    crit = (
        f"cast(floor(cast(rk as double) / cast(m as double)"
        f" * ({_ALPHA_MICRO}.0D / (cast(cm_nano as double) / 1e9)) + 0.5)"
        " as bigint)"
    )
    withcut = ranked.crossJoin(F.broadcast(m)).selectExpr(
        "event_type",
        "dow0",
        "p_micro",
        "rk",
        f"{crit} AS crit_by_micro",
    )
    kmax = withcut.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_micro") <= F.col("crit_by_micro"), F.col("rk")
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("k_max")
    )
    return (
        withcut.crossJoin(F.broadcast(kmax))
        .select(
            "event_type",
            "dow0",
            "p_micro",
            "crit_by_micro",
            (F.col("rk") <= F.col("k_max")).alias("reject_by"),
        )
        .orderBy("event_type", "dow0")
    )


_ORACLE_BY = f"""
WITH {_SQL_TEST_FAMILY},
m AS (
  -- generate_series can't take a subquery bound (documented DuckDB
  -- limitation): cross a fixed 1..100000 series and filter to i <= m.
  -- The bound is ~3000x the enum-bounded family (|event_type| x 7 = 35);
  -- the CASE error() guard makes any silent c(m) truncation impossible
  -- if the family ever outgrows it (round-11 ADVICE fix).
  SELECT f.m,
         sum(cast(floor(1e9 / cast(t.i AS DOUBLE) + 0.5) AS BIGINT))
           AS cm_nano
  FROM (SELECT CASE WHEN count(*) > 100000
               THEN error('_ORACLE_BY: family size exceeds the harmonic'
                          || ' series bound 100000 - raise the bound')
               ELSE count(*)::BIGINT END AS m FROM fam) f,
       generate_series(1, 100000) t(i)
  WHERE t.i <= f.m
  GROUP BY 1
),
ranked AS (
  SELECT a.event_type, a.dow0, a.p_micro, count(*)::BIGINT AS rk
  FROM fam a JOIN fam b
    ON b.p_micro < a.p_micro OR (b.p_micro = a.p_micro AND
       (b.event_type < a.event_type OR (b.event_type = a.event_type
        AND b.dow0 <= a.dow0)))
  GROUP BY 1, 2, 3
),
withcut AS (
  SELECT event_type, dow0, p_micro, rk,
         cast(floor(cast(rk AS DOUBLE) / cast(m AS DOUBLE)
           * ({_ALPHA_MICRO}.0 / (cast(cm_nano AS DOUBLE) / 1e9)) + 0.5)
           AS BIGINT) AS crit_by_micro
  FROM ranked, m
),
kmax AS (
  SELECT coalesce(max(CASE WHEN p_micro <= crit_by_micro THEN rk END),
                  0)::BIGINT AS k_max
  FROM withcut
)
SELECT event_type, dow0, p_micro, crit_by_micro,
       rk <= k_max AS reject_by
FROM withcut CROSS JOIN kmax
ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Agresti-Coull interval (X7 [EXT])
# --------------------------------------------------------------------------


def q_agresti_coull_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Agresti & Coull (1998) "add z² pseudo-observations"
    95% binomial interval for the per-weekday purchase share:
    ñ = n + z², p̃ = (x + z²/2)/ñ, p̃ ± z·sqrt(p̃(1-p̃)/ñ), clamped
    to [0,1] — simpler than Wilson (wilson_interval_bins) with nearly
    identical coverage. Output per dow: dow0, n, x, p_milli,
    lo_micro, hi_micro."""
    e = _t(spark, sf_dir, "events")
    g = (
        e.select(
            F.expr("cast((dayofweek(ts) + 5) % 7 as bigint)").alias("dow0"),
            F.expr("cast(event_type = 'purchase' as bigint)").alias("y"),
        )
        .groupBy("dow0")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("x"),
        )
    )
    z2 = f"({_Z95!r} * {_Z95!r})"
    nt = f"(cast(n as double) + {z2})"
    pt = f"((cast(x as double) + {z2} / 2.0D) / {nt})"
    hw = f"({_Z95!r} * sqrt({pt} * (1.0D - {pt}) / {nt}))"
    return g.selectExpr(
        "dow0",
        "n",
        "x",
        "cast(floor(1e3 * cast(x as double) / cast(n as double) + 0.5)"
        " as bigint) AS p_milli",
        f"greatest(cast(floor(1e6 * ({pt} - {hw}) + 0.5) as bigint),"
        " cast(0 as bigint)) AS lo_micro",
        f"least(cast(floor(1e6 * ({pt} + {hw}) + 0.5) as bigint),"
        " cast(1000000 as bigint)) AS hi_micro",
    ).orderBy("dow0")


def _oracle_ac() -> str:
    z2 = f"({_Z95!r} * {_Z95!r})"
    nt = f"(cast(n AS DOUBLE) + {z2})"
    pt = f"((cast(x AS DOUBLE) + {z2} / 2.0) / {nt})"
    hw = f"({_Z95!r} * sqrt({pt} * (1.0 - {pt}) / {nt}))"
    return f"""
WITH g AS (
  SELECT cast((dayofweek(ts) + 6) % 7 AS BIGINT) AS dow0,
         count(*)::BIGINT AS n,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
             END)::BIGINT AS x
  FROM events GROUP BY 1
)
SELECT dow0, n, x,
       cast(floor(1e3 * cast(x AS DOUBLE) / cast(n AS DOUBLE) + 0.5)
         AS BIGINT) AS p_milli,
       greatest(cast(floor(1e6 * ({pt} - {hw}) + 0.5) AS BIGINT),
         0::BIGINT) AS lo_micro,
       least(cast(floor(1e6 * ({pt} + {hw}) + 0.5) AS BIGINT),
         1000000::BIGINT) AS hi_micro
FROM g ORDER BY dow0
"""


# --------------------------------------------------------------------------
# ANOVA effect sizes (X7 [EXT])
# --------------------------------------------------------------------------


def q_cohens_f2_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the ANOVA effect-size trio for value ~ event_type:
    η² = SSB/SST (variance explained), the less-biased
    ω² = (SSB - (k-1)·MSW)/(SST + MSW), and Cohen's (1988)
    f² = η²/(1-η²) — the practical-significance companions of
    anova_f_between_groups' p-value. y in CENTI units, squares
    decimal-staged, per-group sy²/n a same-text double floor.
    Output one row: n, k, eta2_micro, omega2_micro, f2_micro."""
    e = _t(spark, sf_dir, "events")
    g = (
        e.select(
            "event_type",
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("y"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.expr(f"{_DEC.format(x='y')} * y")).alias("syy"),
        )
        .selectExpr(
            "n",
            "sy",
            "syy",
            "cast(floor(cast(sy as double) * cast(sy as double)"
            " / cast(n as double) + 0.5) as bigint) AS bss",
        )
    )
    m = g.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("sy").cast("bigint").alias("ty"),
        F.sum("syy").alias("tyy"),
        F.sum(F.expr(f"{_DEC.format(x='bss')}")).alias("tb"),
    )
    nn = "cast(nt as double)"
    kk = "cast(k as double)"
    sst = f"(cast(tyy as double) - cast(ty as double) * cast(ty as double) / {nn})"
    ssb = f"(cast(tb as double) - cast(ty as double) * cast(ty as double) / {nn})"
    msw = f"(({sst} - {ssb}) / ({nn} - {kk}))"
    eta2 = f"({ssb} / {sst})"
    omega2 = f"(({ssb} - ({kk} - 1.0D) * {msw}) / ({sst} + {msw}))"
    f2 = f"({eta2} / (1.0D - {eta2}))"
    return m.selectExpr(
        "nt AS n",
        "k",
        f"cast(floor(1e6 * {eta2} + 0.5) as bigint) AS eta2_micro",
        f"cast(floor(1e6 * {omega2} + 0.5) as bigint) AS omega2_micro",
        f"cast(floor(1e6 * {f2} + 0.5) as bigint) AS f2_micro",
    )


_ORACLE_F2 = """
WITH g AS (
  SELECT event_type, count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
         sum(y::HUGEINT * y) AS syy,
         cast(floor(cast(sum(y) AS DOUBLE) * cast(sum(y) AS DOUBLE)
           / cast(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS bss
  FROM (SELECT event_type,
          cast(floor(value * 100.0 + 0.5) AS BIGINT) AS y FROM events)
  GROUP BY 1
),
m AS (
  SELECT sum(n)::BIGINT AS nt, count(*)::BIGINT AS k,
         sum(sy)::BIGINT AS ty, sum(syy) AS tyy, sum(bss::HUGEINT) AS tb
  FROM g
),
d AS (
  SELECT nt, k,
         (cast(tyy AS DOUBLE) - cast(ty AS DOUBLE) * cast(ty AS DOUBLE)
           / cast(nt AS DOUBLE)) AS sst,
         (cast(tb AS DOUBLE) - cast(ty AS DOUBLE) * cast(ty AS DOUBLE)
           / cast(nt AS DOUBLE)) AS ssb
  FROM m
),
d2 AS (
  SELECT nt, k, sst, ssb,
         ((sst - ssb) / (cast(nt AS DOUBLE) - cast(k AS DOUBLE))) AS msw
  FROM d
)
SELECT nt AS n, k,
       cast(floor(1e6 * (ssb / sst) + 0.5) AS BIGINT) AS eta2_micro,
       cast(floor(1e6 * ((ssb - (cast(k AS DOUBLE) - 1.0) * msw)
         / (sst + msw)) + 0.5) AS BIGINT) AS omega2_micro,
       cast(floor(1e6 * ((ssb / sst) / (1.0 - (ssb / sst))) + 0.5)
         AS BIGINT) AS f2_micro
FROM d2
"""


REGISTRY_EXT152: dict[str, QuerySpec] = {
    "holm_bonferroni_correction": QuerySpec(
        q_holm_bonferroni_correction, _ORACLE_HOLM, "X7 [EXT] Holm FWER"
    ),
    "benjamini_yekutieli_fdr": QuerySpec(
        q_benjamini_yekutieli_fdr, _ORACLE_BY, "X7 [EXT] BY FDR"
    ),
    "agresti_coull_interval": QuerySpec(
        q_agresti_coull_interval, _oracle_ac(), "X7 [EXT] Agresti-Coull"
    ),
    "cohens_f2_effect": QuerySpec(
        q_cohens_f2_effect, _ORACLE_F2, "X7 [EXT] ANOVA effect sizes"
    ),
}
