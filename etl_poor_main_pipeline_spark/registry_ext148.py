"""Wave 148 [EXT]: variance-homogeneity and agreement completers —
Bartlett's (1937) K-group variance test with its small-sample C
correction, the Hartley (1950) F-max + Cochran (1941) C variance-
outlier ratios, Scott's (1955) pi (the pooled-marginal two-rater
agreement that Cohen's kappa generalizes), and Krippendorff's alpha
with the ORDINAL metric (the interval between category marginals).
Companions of the shipped levene_brown_forsythe / ansari_bradley /
mood_median / conover_squared_ranks (spread tests) and cohens_kappa /
fleiss_kappa / gwet_ac1 / krippendorff_alpha_nominal (agreement).

Conventions: variance groups = the 5 event types (enum-bounded group
frame); rater units/coders = the krippendorff_alpha_nominal synthetic
annotation task (units = event days, coders = user_id mod 7, rating =
first event_type of the coder's day, registry_ext96:347).

Scale notes (the 100x question, per query):
- bartlett / variance ratios: one conditional aggregate to the 5-row
  group frame (y in CENTI units; y² stages decimal; the per-group
  sy²/n between-SS term is a same-text double floor, the
  cluster_design_effect precedent); ln(S²) snaps micro per group so
  the weighted ln sum is exact integers;
- scott_pi: the two raters' unit frames join on the calendar-bounded
  unit key; pi folds to one division over exact integer po/pe
  numerators on the common 4N² denominator;
- krippendorff ordinal: the distance matrix is |types|² = 25 cells
  built from the marginals (enum-bounded broadcast); the per-unit
  pair fan-out is coders² ≤ 49; LCM(1..6)=60 clears every 1/(m-1)
  to a whole number and the ×4-scaled squared ordinal distance
  cancels between D_o and D_e.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_KA_CODERS = 7
_KA_LCM = 60  # lcm(1..6)
_CHI4_95 = 9.487729036781154  # chi-square(4) upper-5% critical value
#: alphabetical event-type ranks for the ordinal metric
_RANKS = {"click": 1, "error": 2, "purchase": 3, "signup": 4, "view": 5}


def _group_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type variance frame (5 rows): n, sample variance S²
    (centi² units, double), micro-snapped ln(S²), and micro-snapped
    S² for exact cross-group reductions."""
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
    )
    s2 = (
        "((cast(syy as double) - cast(floor(cast(sy as double)"
        " * cast(sy as double) / cast(n as double) + 0.5) as double))"
        " / (cast(n as double) - 1.0D))"
    )
    return g.selectExpr(
        "event_type",
        "n",
        "cast(floor(cast(sy as double) * cast(sy as double)"
        " / cast(n as double) + 0.5) as bigint) AS bss",
        "syy",
        f"cast(floor(1e6 * {s2} + 0.5) as bigint) AS s2m",
        f"cast(floor(1e6 * ln({s2}) + 0.5) as bigint) AS lnm",
    )


_SQL_GROUP_VAR = """
g AS (
  SELECT event_type, count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
         sum(y::HUGEINT * y) AS syy
  FROM (SELECT event_type,
          cast(floor(value * 100.0 + 0.5) AS BIGINT) AS y FROM events)
  GROUP BY 1
),
gv AS (
  SELECT event_type, n,
         cast(floor(cast(sy AS DOUBLE) * cast(sy AS DOUBLE)
           / cast(n AS DOUBLE) + 0.5) AS BIGINT) AS bss,
         syy,
         cast(floor(1e6 * ((cast(syy AS DOUBLE)
           - cast(floor(cast(sy AS DOUBLE) * cast(sy AS DOUBLE)
             / cast(n AS DOUBLE) + 0.5) AS DOUBLE))
           / (cast(n AS DOUBLE) - 1.0)) + 0.5) AS BIGINT) AS s2m,
         cast(floor(1e6 * ln((cast(syy AS DOUBLE)
           - cast(floor(cast(sy AS DOUBLE) * cast(sy AS DOUBLE)
             / cast(n AS DOUBLE) + 0.5) AS DOUBLE))
           / (cast(n AS DOUBLE) - 1.0)) + 0.5) AS BIGINT) AS lnm
  FROM g
)
"""


# --------------------------------------------------------------------------
# Bartlett's test (X7 [EXT])
# --------------------------------------------------------------------------


def q_bartlett_variance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Bartlett (1937): are the value variances equal across
    the 5 event types? χ² = [(N-k)·ln(Sp²) - Σ(n_i-1)·ln(S_i²)] / C
    with C = 1 + (Σ1/(n_i-1) - 1/(N-k)) / (3(k-1)) — the
    likelihood-ratio variance test (power against normal-tailed
    alternatives; the shipped levene_brown_forsythe is its robust
    twin). ln terms snap micro, harmonic terms snap nano, so the
    cross-group sums are exact integers. Output one row: n, k,
    bartlett_milli, reject_05 (chi²(4))."""
    gv = _group_var(spark, sf_dir)
    m = gv.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("syy").alias("tyy"),
        F.sum(F.expr(f"{_DEC.format(x='bss')}")).alias("tb"),
        F.sum(F.expr("(n - 1) * lnm")).cast("bigint").alias("wln"),
        F.sum(F.expr("cast(floor(1e9 / cast(n - 1 as double) + 0.5)"
                     " as bigint)")).cast("bigint").alias("hsum"),
    )
    nn = "cast(nt as double)"
    kk = "cast(k as double)"
    sp2 = f"((cast(tyy as double) - cast(tb as double)) / ({nn} - {kk}))"
    c = (
        f"(1.0D + (cast(hsum as double) / 1e9 - 1.0D / ({nn} - {kk}))"
        f" / (3.0D * ({kk} - 1.0D)))"
    )
    stat = (
        f"((({nn} - {kk}) * cast(cast(floor(1e6 * ln({sp2}) + 0.5)"
        f" as bigint) as double) / 1e6 - cast(wln as double) / 1e6)"
        f" / {c})"
    )
    return m.selectExpr(
        "nt AS n",
        "k",
        f"cast(floor(1e3 * {stat} + 0.5) as bigint) AS bartlett_milli",
        f"{stat} > {_CHI4_95!r} AS reject_05",
    )


def _oracle_bartlett() -> str:
    nn = "cast(nt AS DOUBLE)"
    kk = "cast(k AS DOUBLE)"
    sp2 = f"((cast(tyy AS DOUBLE) - cast(tb AS DOUBLE)) / ({nn} - {kk}))"
    c = (
        f"(1.0 + (cast(hsum AS DOUBLE) / 1e9 - 1.0 / ({nn} - {kk}))"
        f" / (3.0 * ({kk} - 1.0)))"
    )
    stat = (
        f"((({nn} - {kk}) * cast(cast(floor(1e6 * ln({sp2}) + 0.5)"
        f" AS BIGINT) AS DOUBLE) / 1e6 - cast(wln AS DOUBLE) / 1e6)"
        f" / {c})"
    )
    return f"""
WITH {_SQL_GROUP_VAR},
m AS (
  SELECT sum(n)::BIGINT AS nt, count(*)::BIGINT AS k, sum(syy) AS tyy,
         sum(bss::HUGEINT) AS tb, sum((n - 1) * lnm)::BIGINT AS wln,
         sum(cast(floor(1e9 / cast(n - 1 AS DOUBLE) + 0.5)
           AS BIGINT))::BIGINT AS hsum
  FROM gv
)
SELECT nt AS n, k,
       cast(floor(1e3 * {stat} + 0.5) AS BIGINT) AS bartlett_milli,
       {stat} > {_CHI4_95!r} AS reject_05
FROM m
"""


# --------------------------------------------------------------------------
# Hartley F-max + Cochran C (X7 [EXT])
# --------------------------------------------------------------------------


def q_variance_outlier_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the two classic variance-outlier screens on the same
    5-group frame: Hartley's F-max = max(S²)/min(S²) (1950) and
    Cochran's C = max(S²)/ΣS² (1941) — quick table-lookup
    complements to Bartlett's full LR test. S² snaps micro per group
    so the max/min/sum reduce over exact integers. Output one row:
    k, n, fmax_milli, cochran_c_milli."""
    gv = _group_var(spark, sf_dir)
    m = gv.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nt"),
        F.max("s2m").cast("bigint").alias("mx"),
        F.min("s2m").cast("bigint").alias("mn"),
        F.sum("s2m").cast("bigint").alias("ts"),
    )
    return m.selectExpr(
        "k",
        "nt AS n",
        "cast(floor(1e3 * cast(mx as double) / cast(mn as double) + 0.5)"
        " as bigint) AS fmax_milli",
        "cast(floor(1e3 * cast(mx as double) / cast(ts as double) + 0.5)"
        " as bigint) AS cochran_c_milli",
    )


_ORACLE_VAR_RATIO = f"""
WITH {_SQL_GROUP_VAR},
m AS (
  SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nt,
         max(s2m)::BIGINT AS mx, min(s2m)::BIGINT AS mn,
         sum(s2m)::BIGINT AS ts
  FROM gv
)
SELECT k, nt AS n,
       cast(floor(1e3 * cast(mx AS DOUBLE) / cast(mn AS DOUBLE) + 0.5)
         AS BIGINT) AS fmax_milli,
       cast(floor(1e3 * cast(mx AS DOUBLE) / cast(ts AS DOUBLE) + 0.5)
         AS BIGINT) AS cochran_c_milli
FROM m
"""


# --------------------------------------------------------------------------
# Ratings frame shared by the agreement queries
# --------------------------------------------------------------------------


def _ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(unit u = event day, coder c = user_id mod 7, rating v = first
    event_type of the coder's day) — the krippendorff_alpha_nominal
    synthetic annotation task (registry_ext96:347)."""
    e = _t(spark, sf_dir, "events")
    wr = Window.partitionBy("u", "c").orderBy("ts", "event_id")
    return (
        e.select(
            F.expr("unix_micros(ts) div 86400000000").alias("u"),
            F.pmod(F.col("user_id"), F.lit(_KA_CODERS)).alias("c"),
            "ts",
            "event_id",
            "event_type",
        )
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select("u", "c", F.col("event_type").alias("v"))
    )


_SQL_RATINGS = f"""
r AS (
  SELECT u, c, event_type AS v FROM (
    SELECT epoch_us(ts) // 86400000000 AS u,
           user_id % {_KA_CODERS} AS c, event_type,
           row_number() OVER (PARTITION BY epoch_us(ts) // 86400000000,
             user_id % {_KA_CODERS} ORDER BY ts, event_id) AS rn
    FROM events
  ) WHERE rn = 1
)
"""


# --------------------------------------------------------------------------
# Scott's pi (X7 [EXT])
# --------------------------------------------------------------------------


def q_scott_pi_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Scott (1955) pi between coders 0 and 1 on units both
    rated: chance agreement uses the POOLED marginal (vs Cohen's
    per-rater marginals — pi ≤ kappa always), the right correction
    when raters are exchangeable annotators drawn from one pool.
    pi = (4N·agree - Σn_v²) / (4N² - Σn_v²) in exact integers.
    Output one row: n_units, agree, pi_micro."""
    r = _ratings(spark, sf_dir)
    r = barrier(r)  # two coder slices + marginals
    r0 = r.where("c = 0").select("u", F.col("v").alias("v0"))
    r1 = r.where("c = 1").select("u", F.col("v").alias("v1"))
    both = r0.join(r1, "u")
    both = barrier(both)  # counts + marginals
    nn = both.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("cast(v0 = v1 as bigint)")).cast("bigint")
        .alias("agree"),
    )
    marg = (
        both.selectExpr("v0 AS v")
        .unionAll(both.selectExpr("v1 AS v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nv"))
        .agg(F.sum(F.expr(f"{_DEC.format(x='nv')} * nv")).alias("sq"))
    )
    return (
        nn.crossJoin(F.broadcast(marg))
        .selectExpr(
            "n AS n_units",
            "agree",
            "cast(floor(1e6 * cast(4 * n * agree - cast(sq as bigint)"
            " as double) / cast(4 * n * n - cast(sq as bigint) as double)"
            " + 0.5) as bigint) AS pi_micro",
        )
    )


_ORACLE_SCOTT = f"""
WITH {_SQL_RATINGS},
both_r AS (
  SELECT a.u, a.v AS v0, b.v AS v1
  FROM (SELECT u, v FROM r WHERE c = 0) a
  JOIN (SELECT u, v FROM r WHERE c = 1) b USING (u)
),
nn AS (
  SELECT count(*)::BIGINT AS n,
         sum(CASE WHEN v0 = v1 THEN 1 ELSE 0 END)::BIGINT AS agree
  FROM both_r
),
marg AS (
  SELECT sum(nv::HUGEINT * nv) AS sq FROM (
    SELECT v, count(*)::BIGINT AS nv FROM (
      SELECT v0 AS v FROM both_r UNION ALL SELECT v1 AS v FROM both_r
    ) GROUP BY 1
  )
)
SELECT n AS n_units, agree,
       cast(floor(1e6 * cast(4 * n * agree - cast(sq AS BIGINT)
         AS DOUBLE) / cast(4 * n * n - cast(sq AS BIGINT) AS DOUBLE)
         + 0.5) AS BIGINT) AS pi_micro
FROM nn, marg
"""


# --------------------------------------------------------------------------
# Krippendorff's alpha, ordinal metric (X7 [EXT])
# --------------------------------------------------------------------------


def q_krippendorff_alpha_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Krippendorff's alpha with the ORDINAL distance
    δ(a,b) = Σ_{g=rank(a)..rank(b)} n_g - (n_a + n_b)/2 over the
    alphabetical event-type ranks — near-miss disagreements (adjacent
    categories) cost less than far ones, the right metric when labels
    are ordered severities. The ×4-scaled squared distance
    d2s = (2Σ - n_a - n_b)² is exact integer and cancels between D_o
    and D_e; LCM(1..6)=60 clears 1/(m_u-1). Same units/coders as the
    nominal twin. Output one row: n_units, n_ratings, alpha_micro."""
    r = _ratings(spark, sf_dir)
    mu = r.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    rm = r.join(mu.where(F.col("m") >= 2), "u")
    rm = barrier(rm)  # marginals + pairs + units
    rank_case = "CASE " + " ".join(
        f"WHEN v = '{v}' THEN {k}" for v, k in _RANKS.items()
    ) + " END"
    marg = (
        rm.groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nv"))
        .selectExpr("v", "nv", f"{rank_case} AS rk")
    )
    marg = barrier(marg)  # 3-way enum cross
    # 25-cell distance matrix: between-sum over ranks in [min,max]
    dist = (
        marg.selectExpr("v AS va", "nv AS na", "rk AS ra")
        .crossJoin(marg.selectExpr("v AS vb", "nv AS nb", "rk AS rb"))
        .crossJoin(marg.selectExpr("nv AS ng", "rk AS rg"))
        .where("rg >= least(ra, rb) AND rg <= greatest(ra, rb)")
        .groupBy("va", "vb", "na", "nb")
        .agg(F.sum("ng").cast("bigint").alias("bs"))
        .selectExpr(
            "va",
            "vb",
            "na",
            "nb",
            "(2 * bs - na - nb) * (2 * bs - na - nb) AS d2s",
        )
    )
    dist = barrier(dist)  # S join + E reduce
    s = (
        rm.alias("a")
        .join(
            rm.alias("b"),
            (F.col("a.u") == F.col("b.u")) & (F.col("a.c") != F.col("b.c")),
        )
        # no explicit broadcast hint: dist sits behind a checkpoint
        # (LogicalRDD) whose cardinality the broadcast guard can't bound;
        # the frame is provably 25 rows and AQE broadcasts it on its own
        .join(
            dist.selectExpr("va", "vb", "d2s"),
            (F.col("a.v") == F.col("va")) & (F.col("b.v") == F.col("vb")),
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.expr(
                        f"cast({_KA_LCM} div (a.m - 1) as decimal(38,0))"
                        " * d2s"
                    )
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("s_scaled")
        )
    )
    tot = rm.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    e_red = dist.where("va <> vb").agg(
        F.sum(
            F.expr(f"{_DEC.format(x='na')} * nb * d2s")
        ).alias("e_scaled")
    )
    n_units = rm.select("u").distinct().count()
    return (
        s.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(e_red))
        .selectExpr(
            f"cast({n_units} as bigint) AS n_units",
            "n AS n_ratings",
            f"CASE WHEN e_scaled IS NULL OR e_scaled = 0"
            f" THEN cast(1000000 as bigint)"
            f" ELSE cast(floor(1e6 * (1.0D - cast(s_scaled as double)"
            f" * cast(n - 1 as double) / ({float(_KA_LCM)!r}"
            f" * cast(e_scaled as double))) + 0.5) as bigint) END"
            " AS alpha_micro",
        )
    )


_ORACLE_KA_ORD = f"""
WITH {_SQL_RATINGS},
mu AS (SELECT u, count(*)::BIGINT AS m FROM r GROUP BY 1),
rm AS (
  SELECT r.u, r.c, r.v, mu.m FROM r JOIN mu USING (u) WHERE mu.m >= 2
),
marg AS (
  SELECT v, count(*)::BIGINT AS nv,
         CASE {' '.join(f"WHEN v = '{v}' THEN {k}" for v, k in _RANKS.items())}
           END AS rk
  FROM rm GROUP BY 1
),
dist AS (
  SELECT a.v AS va, b.v AS vb, a.nv AS na, b.nv AS nb,
         (2 * sum(g.nv) - a.nv - b.nv)
           * (2 * sum(g.nv) - a.nv - b.nv) AS d2s
  FROM marg a, marg b, marg g
  WHERE g.rk >= least(a.rk, b.rk) AND g.rk <= greatest(a.rk, b.rk)
  GROUP BY 1, 2, 3, 4
),
s AS (
  SELECT coalesce(sum(({_KA_LCM} // (a.m - 1))::HUGEINT * d.d2s), 0)
           AS s_scaled
  FROM rm a JOIN rm b ON a.u = b.u AND a.c <> b.c
  JOIN dist d ON a.v = d.va AND b.v = d.vb
),
tot AS (SELECT count(*)::BIGINT AS n FROM rm),
e_red AS (
  SELECT sum(na::HUGEINT * nb * d2s) AS e_scaled
  FROM dist WHERE va <> vb
),
nu AS (SELECT count(DISTINCT u)::BIGINT AS n_units FROM rm)
SELECT nu.n_units, tot.n AS n_ratings,
       CASE WHEN e_red.e_scaled IS NULL OR e_red.e_scaled = 0
         THEN 1000000::BIGINT
         ELSE cast(floor(1e6 * (1.0 - cast(s_scaled AS DOUBLE)
           * cast(tot.n - 1 AS DOUBLE) / ({float(_KA_LCM)!r}
           * cast(e_red.e_scaled AS DOUBLE))) + 0.5) AS BIGINT) END
         AS alpha_micro
FROM s, tot, e_red, nu
"""


REGISTRY_EXT148: dict[str, QuerySpec] = {
    "bartlett_variance_test": QuerySpec(
        q_bartlett_variance_test, _oracle_bartlett(), "X7 [EXT] Bartlett"
    ),
    "variance_outlier_ratios": QuerySpec(
        q_variance_outlier_ratios, _ORACLE_VAR_RATIO,
        "X7 [EXT] Fmax/Cochran C",
    ),
    "scott_pi_agreement": QuerySpec(
        q_scott_pi_agreement, _ORACLE_SCOTT, "X7 [EXT] Scott pi"
    ),
    "krippendorff_alpha_ordinal": QuerySpec(
        q_krippendorff_alpha_ordinal, _ORACLE_KA_ORD,
        "X7 [EXT] ordinal alpha",
    ),
}
