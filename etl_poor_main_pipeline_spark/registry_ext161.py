"""Wave 161 [EXT]: two-sample distance, post-hoc, divergence-family,
ordinal-scale, and symbolic-series completers — the 1-D Wasserstein
(earth-mover) distance between two event-value distributions (the
integral-of-|CDF-gap| metric the shipped energy_distance_2samp and
ks_two_sample_drift each only half-capture), the Baumgartner-Weiss-
Schindler (1998) rank test (weighted squared CDF gaps — more power in
the tails than KS/CvM, added to scipy 1.12 as bws_test), Dunn's (1964)
Kruskal-Wallis post-hoc with Bonferroni control (the nonparametric
sibling of the shipped tukey_hsd_pairs), the Cressie-Read (1984) power-
divergence family over the event-type multinomial (one λ axis holding
Pearson χ², the G-test, Freeman-Tukey, Neyman, and the recommended
λ=2/3 member — the G-test completer), Bross (1958) ridit analysis
(mean ridits per group wrt the pooled reference, Fleiss z), and the
PAA/SAX symbolic approximation of the daily series (Lin/Keogh 2003 —
the time-series representation under the shipped sample_entropy /
permutation_entropy family).

Conventions (documented, since implementations differ):
- wasserstein_distance_2samp: W1 = Σ_cells |F_A - F_B|·gap over pooled
  centi cells; exact integer numerator Σ|cumA·n_b - cumB·n_a|·gap
  staged decimal(38,0)/HUGEINT, divided once by n_a·n_b·100 (centi →
  value units). Identical to scipy.stats.wasserstein_distance on the
  centi-quantized samples.
- bws_test: ties get pooled MIDRANKS (centi cells), within-group
  indices i are the tie run's index range (order inside a run is
  irrelevant — the i-set is fixed); B per Baumgartner et al. (1998)
  eq. 1-2, reject_05 at the paper's asymptotic b=2.493. Each i-term
  snaps nano before the bigint sum.
- dunn_posthoc_pairs: pooled midranks via 2R = 2·nb + l + 1 integers,
  tie term ΣT = Σ(l³-l) staged decimal; z_ij per Dunn (1964) with the
  tie-corrected variance; Bonferroni m = k(k-1)/2 = 10 two-sided at
  α=0.05 → |z| > Φ⁻¹(1-0.0025) = 2.8070 (milli literal both engines).
- cressie_read_divergence: PD(λ) = 2/(λ(λ+1))·ΣO[(O/E)^λ - 1] with
  E = N/k uniform-null expecteds; λ ∈ {1, 2/3, -1/2, -2} plus the
  λ→0 (G = 2ΣO·ln(O/E)) and λ→-1 (modified G = 2ΣE·ln(E/O)) limits;
  pow/ln snap micro before the O-weighted sum; χ²(k-1) critical from
  the data-derived k (registry_ext155 lookup).
- ridit_analysis: ridits wrt the POOLED distribution (Bross's
  original), r_c = (nb + l/2)/N as exact ×2N integers; z per Fleiss
  (1981): SE(mean ridit) = 1/sqrt(12·n_j) under the homogeneity null
  (no tie correction — documented).
- sax_paa_daily: calendar day means (micro), day-rank → 12 equal-count
  PAA segments (seg = floor(rank·12/T)), z-normalized by the DAILY
  series' population moments, alphabet-4 Gaussian breakpoints
  ±0.6744897501960817 and 0 (micro literals both engines).

Scale notes (the 100x question, per query):
- wasserstein/bws/dunn/ridit reduce map-side to centi value cells
  before any join or window (the wave-96..160 dense-cell discipline);
  bws's per-i expansion is LINEAR (one row per observation, generated
  from cells by sequence/range explode — no per-row window, no join
  back to the raw table).
- cressie_read folds to the 5-row event-type frame; sax_paa to the
  calendar-bounded daily frame. Nothing quadratic, nothing collected.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.scan_prefix import (
    exclusive_prefix_sum,
    exclusive_prefix_sums,
)
from .registry import QuerySpec, _t
from .registry_ext155 import _chi2_crit_micro
from .session import barrier

_WD_A, _WD_B = "click", "purchase"

#: Cressie-Read members as EXACT integer stats over the snapped term
#: sums (tX are integer decimal(38,0)/HUGEINT micro sums): 2/(λ(λ+1))
#: = 1, 9/5, -8, 1, and the two limit forms carry 2 directly. Same
#: text both engines (``cast(x as bigint)`` spark == duck).
_CR_STATS = (
    ("pearson_chi2", 1000, "cast(t1 as bigint)"),
    ("cressie_read", 667,
     "cast(floor(cast(18 * t23 as double) / 10.0 + 0.5) as bigint)"),
    ("freeman_tukey", -500, "cast(-8 * tm12 as bigint)"),
    ("neyman", -2000, "cast(tm2 as bigint)"),
    ("g_test", 0, "cast(2 * tg as bigint)"),
    ("mod_g_test", -1000, "cast(2 * tmg as bigint)"),
)
#: Dunn-Bonferroni two-sided critical value at alpha=0.05, m=10 pairs:
#: qnorm(1 - 0.05/20) = 2.8070337683438114 (milli-compare)
_DUNN_Z_CRIT_MILLI = 2_807
#: BWS asymptotic 5% critical value b (Baumgartner et al. 1998, Table 1)
_BWS_B_CRIT_MICRO = 2_493_000
#: SAX alphabet-4 Gaussian breakpoint qnorm(0.75) (micro-compare)
_SAX_BP_MICRO = 674_490  # floor(1e6*0.6744897501960817 + 0.5)


# --------------------------------------------------------------------------
# 1-D Wasserstein (earth mover's) distance, two-sample (X7 [EXT])
# --------------------------------------------------------------------------


def _wd_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled centi cells over the two samples: (vc, ca, cb)."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_WD_A, _WD_B)
    )
    # three prefix scans (idx/ca/cb) + the pooled/per-side reuse in
    # bws would each recompute the events scan+agg otherwise
    return barrier(
        e.select(
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc"),
            F.expr(f"cast(event_type = '{_WD_A}' as int)").alias("isa"),
        )
        .groupBy("vc")
        .agg(
            F.sum("isa").cast("bigint").alias("ca"),
            F.sum(F.expr("1 - isa")).cast("bigint").alias("cb"),
        )
    )


def q_wasserstein_distance_2samp(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] X7 1-D Wasserstein-1 distance between the click and
    purchase event-value distributions: W1 = ∫|F_A - F_B| dx evaluated exactly
    on the pooled centi cells — Σ_i |cumA_i·n_b - cumB_i·n_a|·gap_i
    (gap_i = vc_{i+1} - vc_i via a rank-adjacency equi-join, the
    quesenberry_miller pattern; no global window), staged through
    decimal(38,0), divided once by n_a·n_b·100. Output one row: n_a,
    n_b, w1_micro (value units)."""
    cells = _wd_cells(spark, sf_dir)
    fr = barrier(exclusive_prefix_sums(
        cells.withColumn("one", F.lit(1).cast("bigint")),
        "vc",
        {"one": "idx0", "ca": "pa", "cb": "pb"},
    ).selectExpr(
        "vc",
        "idx0 + 1 AS idx",
        "pa + ca AS cuma",
        "pb + cb AS cumb",
    ))  # adjacency join + tot + terms
    nxt = fr.selectExpr("idx - 1 AS idx", "vc AS vc_next")
    tot = fr.agg(
        F.max("cuma").cast("bigint").alias("na"),
        F.max("cumb").cast("bigint").alias("nb"),
    )
    terms = (
        fr.join(nxt, "idx")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "na",
            "nb",
            "abs(cast(cuma as decimal(38,0)) * nb"
            " - cast(cumb as decimal(38,0)) * na)"
            " * (vc_next - vc) AS num",
        )
    )
    return terms.groupBy("na", "nb").agg(
        F.sum("num").alias("num")
    ).selectExpr(
        "na AS n_a",
        "nb AS n_b",
        "cast(floor(1e6 * cast(num as double)"
        " / (cast(na as double) * cast(nb as double) * 100.0) + 0.5)"
        " as bigint) AS w1_micro",
    )


_ORACLE_WD = f"""
WITH cells AS (
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         sum(CASE WHEN event_type = '{_WD_A}' THEN 1 ELSE 0 END)::BIGINT
           AS ca,
         sum(CASE WHEN event_type = '{_WD_B}' THEN 1 ELSE 0 END)::BIGINT
           AS cb
  FROM events WHERE event_type IN ('{_WD_A}', '{_WD_B}')
  GROUP BY 1
),
fr AS (
  SELECT vc,
         sum(ca) OVER (ORDER BY vc)::BIGINT AS cuma,
         sum(cb) OVER (ORDER BY vc)::BIGINT AS cumb,
         lead(vc) OVER (ORDER BY vc) AS vc_next
  FROM cells
),
tot AS (SELECT max(cuma)::BIGINT AS na, max(cumb)::BIGINT AS nb FROM fr)
SELECT na AS n_a, nb AS n_b,
       cast(floor(1e6 * cast(sum(abs(cuma::HUGEINT * nb - cumb::HUGEINT
           * na) * (vc_next - vc)) AS DOUBLE)
         / (cast(na AS DOUBLE) * cast(nb AS DOUBLE) * 100.0) + 0.5)
         AS BIGINT) AS w1_micro
FROM fr, tot
WHERE vc_next IS NOT NULL
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Baumgartner-Weiss-Schindler rank test (X7 [EXT])
# --------------------------------------------------------------------------


def q_bws_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Baumgartner-Weiss-Schindler (1998) two-sample rank
    test between click and purchase event values: B = (B_X + B_Y)/2 with
    B_X = (1/m)·Σ_i (R_i - (m+n)/m·i)² / [i/(m+1)·(1-i/(m+1))·
    n(m+n)/m] — variance-weighted squared CDF gaps, heavier-tailed
    power than KS/CvM (scipy 1.12 bws_test). Ties take pooled
    midranks; the within-group index range per tie run is generated by
    a LINEAR sequence explode from the cells (no per-row window).
    Each i-term snaps nano. Output one row: n_a, n_b, b_x_micro,
    b_y_micro, b_stat_micro, reject_05 (asymptotic b=2.493)."""
    cells = _wd_cells(spark, sf_dir)
    # ONE Blelloch pass carries all three cumulatives (pooled rank plus
    # both per-side observation indexes — zero-count cells add nothing
    # to a cumsum, so the unfiltered per-side prefixes equal the old
    # filtered ones at every surviving cell): round 14 fold of the
    # former three passes / six broadcast builds.
    fr = barrier(exclusive_prefix_sums(
        cells.withColumn("l", F.expr("ca + cb")),
        "vc",
        {"l": "nb0", "ca": "ia_a", "cb": "ia_b"},
    ).selectExpr(
        "vc", "ca", "cb", "2 * nb0 + l + 1 AS r2", "ia_a", "ia_b"
    ))  # feeds both per-side frames + mn
    out = []
    for side, col, ia in (("a", "ca", "ia_a"), ("b", "cb", "ia_b")):
        out.append(
            fr.filter(F.col(col) > 0)
            .selectExpr(
                f"'{side}' AS side", "r2", f"{ia} AS ia",
                f"explode(sequence({ia} + 1, {ia} + {col})) AS i",
            )
        )
    rows = out[0].unionAll(out[1])
    # m, n per side are the side totals (identical to the old max-i)
    mn = fr.agg(
        F.sum("ca").cast("bigint").alias("m_a"),
        F.sum("cb").cast("bigint").alias("m_b"),
    )
    terms = rows.crossJoin(F.broadcast(mn)).selectExpr(
        "side",
        """cast(floor(1e9 *
             (cast(r2 as double) / 2.0
              - (cast(m_a + m_b as double)
                 / if(side = 'a', cast(m_a as double), cast(m_b as double)))
                * i) *
             (cast(r2 as double) / 2.0
              - (cast(m_a + m_b as double)
                 / if(side = 'a', cast(m_a as double), cast(m_b as double)))
                * i)
           / ((cast(i as double)
               / (if(side = 'a', cast(m_a as double), cast(m_b as double))
                  + 1.0))
              * (1.0 - cast(i as double)
                 / (if(side = 'a', cast(m_a as double), cast(m_b as double))
                    + 1.0))
              * if(side = 'a', cast(m_b as double), cast(m_a as double))
              * cast(m_a + m_b as double)
              / if(side = 'a', cast(m_a as double), cast(m_b as double)))
           + 0.5) as bigint) AS t_nano""",
    )
    agg = terms.groupBy("side").agg(F.sum("t_nano").alias("s_nano"))
    piv = agg.groupBy().pivot("side", ["a", "b"]).sum("s_nano")
    return piv.crossJoin(F.broadcast(mn)).selectExpr(
        "m_a AS n_a",
        "m_b AS n_b",
        "cast(floor(cast(a as double) / 1e3 / m_a + 0.5) as bigint)"
        " AS b_x_micro",
        "cast(floor(cast(b as double) / 1e3 / m_b + 0.5) as bigint)"
        " AS b_y_micro",
        "cast(floor((cast(a as double) / 1e3 / m_a"
        " + cast(b as double) / 1e3 / m_b) / 2.0 + 0.5) as bigint)"
        " AS b_stat_micro",
        "cast(floor((cast(a as double) / 1e3 / m_a"
        " + cast(b as double) / 1e3 / m_b) / 2.0 + 0.5) as bigint)"
        f" > {_BWS_B_CRIT_MICRO} AS reject_05",
    )


_ORACLE_BWS = f"""
WITH cells AS (
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         sum(CASE WHEN event_type = '{_WD_A}' THEN 1 ELSE 0 END)::BIGINT
           AS ca,
         sum(CASE WHEN event_type = '{_WD_B}' THEN 1 ELSE 0 END)::BIGINT
           AS cb
  FROM events WHERE event_type IN ('{_WD_A}', '{_WD_B}')
  GROUP BY 1
),
pooled AS (
  SELECT vc,
         2 * coalesce(sum(ca + cb) OVER (ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           + (ca + cb) + 1 AS r2
  FROM cells
),
rows_ AS (
  SELECT 'a' AS side, r2,
         unnest(range(ia + 1, ia + c + 1)) AS i
  FROM (
    SELECT vc, ca AS c,
           coalesce(sum(ca) OVER (ORDER BY vc
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
             AS ia
    FROM cells WHERE ca > 0
  ) JOIN pooled USING (vc)
  UNION ALL
  SELECT 'b' AS side, r2,
         unnest(range(ia + 1, ia + c + 1)) AS i
  FROM (
    SELECT vc, cb AS c,
           coalesce(sum(cb) OVER (ORDER BY vc
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
             AS ia
    FROM cells WHERE cb > 0
  ) JOIN pooled USING (vc)
),
mn AS (
  SELECT sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END)::BIGINT AS m_a,
         sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END)::BIGINT AS m_b
  FROM rows_
),
terms AS (
  SELECT side,
         cast(floor(1e9 *
             (cast(r2 AS DOUBLE) / 2.0
              - (cast(m_a + m_b AS DOUBLE)
                 / (CASE WHEN side = 'a' THEN cast(m_a AS DOUBLE)
                         ELSE cast(m_b AS DOUBLE) END)) * i) *
             (cast(r2 AS DOUBLE) / 2.0
              - (cast(m_a + m_b AS DOUBLE)
                 / (CASE WHEN side = 'a' THEN cast(m_a AS DOUBLE)
                         ELSE cast(m_b AS DOUBLE) END)) * i)
           / ((cast(i AS DOUBLE)
               / ((CASE WHEN side = 'a' THEN cast(m_a AS DOUBLE)
                        ELSE cast(m_b AS DOUBLE) END) + 1.0))
              * (1.0 - cast(i AS DOUBLE)
                 / ((CASE WHEN side = 'a' THEN cast(m_a AS DOUBLE)
                          ELSE cast(m_b AS DOUBLE) END) + 1.0))
              * (CASE WHEN side = 'a' THEN cast(m_b AS DOUBLE)
                      ELSE cast(m_a AS DOUBLE) END)
              * cast(m_a + m_b AS DOUBLE)
              / (CASE WHEN side = 'a' THEN cast(m_a AS DOUBLE)
                      ELSE cast(m_b AS DOUBLE) END))
           + 0.5) AS BIGINT) AS t_nano
  FROM rows_, mn
),
agg AS (
  SELECT sum(CASE WHEN side = 'a' THEN t_nano ELSE 0 END)::BIGINT AS sa,
         sum(CASE WHEN side = 'b' THEN t_nano ELSE 0 END)::BIGINT AS sb
  FROM terms
)
SELECT m_a AS n_a, m_b AS n_b,
       cast(floor(cast(sa AS DOUBLE) / 1e3 / m_a + 0.5) AS BIGINT)
         AS b_x_micro,
       cast(floor(cast(sb AS DOUBLE) / 1e3 / m_b + 0.5) AS BIGINT)
         AS b_y_micro,
       cast(floor((cast(sa AS DOUBLE) / 1e3 / m_a
         + cast(sb AS DOUBLE) / 1e3 / m_b) / 2.0 + 0.5) AS BIGINT)
         AS b_stat_micro,
       cast(floor((cast(sa AS DOUBLE) / 1e3 / m_a
         + cast(sb AS DOUBLE) / 1e3 / m_b) / 2.0 + 0.5) AS BIGINT)
         > {_BWS_B_CRIT_MICRO} AS reject_05
FROM agg, mn
"""


# --------------------------------------------------------------------------
# Dunn's Kruskal-Wallis post-hoc with Bonferroni control (X7 [EXT])
# --------------------------------------------------------------------------


def q_dunn_posthoc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Dunn (1964) post-hoc: after Kruskal-Wallis says "the
    five event types differ", WHICH pairs? z_ij = (R̄_i - R̄_j) /
    sqrt(V·(1/n_i + 1/n_j)) with V = (N(N+1) - ΣT/(N-1))/12 (tie-
    corrected, ΣT = Σ(l³-l) over pooled centi cells); Bonferroni
    m = 10 two-sided at α=0.05 → |z| > 2.8070. Midrank sums stay exact
    via 2R = 2nb + l + 1 integers; the 5-row rank frame fans out
    through a broadcast pair join (the tukey_hsd_pairs pattern).
    Output per pair: ti, tj, n_i, n_j, z_milli, reject_bonf05."""
    e = _t(spark, sf_dir, "events")
    cells2 = barrier(  # pooled prefix + grp join
        e.select(
            "event_type",
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc"),
        )
        .groupBy("vc", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    pooled = exclusive_prefix_sum(
        cells2.groupBy("vc").agg(F.sum("c").cast("bigint").alias("l")),
        "vc", "l", out="nb0",
    )
    glob = pooled.agg(
        F.max(F.expr("nb0 + l")).cast("bigint").alias("n"),
        F.sum(
            F.expr(
                "cast(l as decimal(38,0)) * l * l - l"
            )
        ).alias("st"),
    )
    grp = (
        cells2.join(pooled.selectExpr("vc", "l", "2 * nb0 + l + 1 AS r2"),
                    "vc")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("bigint").alias("nj"),
            F.sum(F.expr("cast(c as decimal(38,0)) * r2")).alias("sr2"),
        )
    )
    a = grp.select(
        F.col("event_type").alias("ti"),
        F.col("nj").alias("ni"),
        F.col("sr2").alias("si"),
    )
    # fixed 5-value event-type domain; LIMIT is the plan-guard
    # boundedness witness for the pair fan-out (tukey_hsd pattern)
    b = grp.limit(64).select(
        F.col("event_type").alias("tj"),
        F.col("nj").alias("njj"),
        F.col("sr2").alias("sj"),
    )
    zexpr = (
        "(cast(si as double) / 2.0 / ni - cast(sj as double) / 2.0 / njj)"
        " / sqrt((cast(n as double) * (n + 1)"
        "         - cast(st as double) / (cast(n as double) - 1.0)) / 12.0"
        "        * (1.0 / ni + 1.0 / njj))"
    )
    return (
        a.join(F.broadcast(b), F.col("ti") < F.col("tj"))
        .crossJoin(F.broadcast(glob))
        .selectExpr(
            "ti",
            "tj",
            "ni AS n_i",
            "njj AS n_j",
            f"cast(floor(1e3 * ({zexpr}) + 0.5) as bigint) AS z_milli",
            f"abs(cast(floor(1e3 * ({zexpr}) + 0.5) as bigint))"
            f" > {_DUNN_Z_CRIT_MILLI} AS reject_bonf05",
        )
        .orderBy("ti", "tj")
    )


_ORACLE_DUNN = f"""
WITH cells2 AS (
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc, event_type,
         count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
pooled AS (
  SELECT vc, l,
         2 * coalesce(sum(l) OVER (ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           + l + 1 AS r2
  FROM (SELECT vc, sum(c)::BIGINT AS l FROM cells2 GROUP BY 1)
),
gl AS (
  SELECT sum(l)::BIGINT AS n,
         sum(l::HUGEINT * l * l - l) AS st
  FROM pooled
),
grp AS (
  SELECT event_type, sum(c)::BIGINT AS nj,
         sum(c::HUGEINT * r2) AS sr2
  FROM cells2 JOIN pooled USING (vc)
  GROUP BY 1
)
SELECT a.event_type AS ti, b.event_type AS tj,
       a.nj AS n_i, b.nj AS n_j,
       cast(floor(1e3 * ((cast(a.sr2 AS DOUBLE) / 2.0 / a.nj
           - cast(b.sr2 AS DOUBLE) / 2.0 / b.nj)
         / sqrt((cast(n AS DOUBLE) * (n + 1)
                 - cast(st AS DOUBLE) / (cast(n AS DOUBLE) - 1.0)) / 12.0
                * (1.0 / a.nj + 1.0 / b.nj))) + 0.5) AS BIGINT) AS z_milli,
       abs(cast(floor(1e3 * ((cast(a.sr2 AS DOUBLE) / 2.0 / a.nj
           - cast(b.sr2 AS DOUBLE) / 2.0 / b.nj)
         / sqrt((cast(n AS DOUBLE) * (n + 1)
                 - cast(st AS DOUBLE) / (cast(n AS DOUBLE) - 1.0)) / 12.0
                * (1.0 / a.nj + 1.0 / b.nj))) + 0.5) AS BIGINT))
         > {_DUNN_Z_CRIT_MILLI} AS reject_bonf05
FROM grp a JOIN grp b ON a.event_type < b.event_type, gl
"""


# --------------------------------------------------------------------------
# Cressie-Read power-divergence family (X7 [EXT])
# --------------------------------------------------------------------------


def q_cressie_read_divergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] X7 Cressie-Read (1984) power-divergence family over the
    event-type multinomial vs the uniform null E = N/k: PD(λ) =
    2/(λ(λ+1))·Σ O[(O/E)^λ - 1] for λ ∈ {1 Pearson χ², 2/3 recommended,
    -1/2 Freeman-Tukey, -2 Neyman} plus the λ→0 (G-test, 2ΣO·ln(O/E))
    and λ→-1 (modified G, 2ΣE·ln(E/O)) limits — six statistics, one
    member of which (G) completes the shipped chi-square family.
    pow/ln snap micro before the O-weighted sums; all six share one
    5-row scan. reject_05 against χ²(k-1) with k data-derived
    (registry_ext155 lookup). Output 6 rows: member, lambda_milli,
    stat_micro, reject_05."""
    e = _t(spark, sf_dir, "events")
    grp = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    tot = grp.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    base = grp.crossJoin(F.broadcast(tot)).selectExpr(
        "o", "n", "k",
        "cast(o as double) * k / cast(n as double) AS r",  # O/E
    )
    # micro-snapped pow/ln per row, O-weighted nano sums
    def pd_term(lam: str) -> str:
        return (
            f"cast(o as decimal(38,0)) * (cast(floor(1e6 *"
            f" power(r, {lam}) + 0.5) as bigint) - 1000000)"
        )

    terms = base.selectExpr(
        "n", "k",
        f"{pd_term('1.0')} AS t1",
        f"{pd_term('2.0 / 3.0')} AS t23",
        f"{pd_term('-0.5')} AS tm12",
        f"{pd_term('-2.0')} AS tm2",
        "cast(o as decimal(38,0))"
        " * cast(floor(1e6 * ln(r) + 0.5) as bigint) AS tg",
        "cast(floor(1e6 * (cast(n as double) / k) * (0.0 - cast(floor(1e6"
        " * ln(r) + 0.5) as bigint) / 1e6) + 0.5) as bigint) AS tmg",
    )
    agg = terms.groupBy("n", "k").agg(
        *[
            F.sum(c).alias(c)
            for c in ("t1", "t23", "tm12", "tm2", "tg", "tmg")
        ]
    )
    crit = _chi2_crit_micro("k")
    frames = []
    # 2/(λ(λ+1)) multipliers are exact rationals: keep the stats
    # integer (the λ=2/3 member is the only one needing a division —
    # one correctly-rounded double divide, FMA-immune; a multi-op
    # double chain diverged in the last ulp between engines)
    for member, lam_milli, stat in _CR_STATS:
        frames.append(
            agg.selectExpr(
                f"'{member}' AS member",
                f"cast({lam_milli} as bigint) AS lambda_milli",
                f"{stat} AS stat_micro",
                f"{stat} > {crit} AS reject_05",
            )
        )
    res = frames[0]
    for f_ in frames[1:]:
        res = res.unionAll(f_)
    return res.orderBy("member")


def _oracle_cr() -> str:
    def pd_term(lam: str) -> str:
        return (
            f"sum(o::HUGEINT * (cast(floor(1e6 * pow(r, {lam}) + 0.5)"
            f" AS BIGINT) - 1000000))"
        )

    crit = _chi2_crit_micro("k")
    parts = []
    for member, lam_milli, stat in _CR_STATS:
        parts.append(f"""
SELECT '{member}' AS member, cast({lam_milli} AS BIGINT) AS lambda_milli,
       {stat} AS stat_micro, {stat} > {crit} AS reject_05
FROM sums""")
    return f"""
WITH grp AS (
  SELECT event_type, count(*)::BIGINT AS o FROM events GROUP BY 1
),
tot AS (SELECT sum(o)::BIGINT AS n, count(*)::BIGINT AS k FROM grp),
base AS (
  SELECT o, n, k, cast(o AS DOUBLE) * k / cast(n AS DOUBLE) AS r
  FROM grp, tot
),
sums AS (
  SELECT n, k,
         {pd_term('1.0')} AS t1,
         {pd_term('2.0 / 3.0')} AS t23,
         {pd_term('-0.5')} AS tm12,
         {pd_term('-2.0')} AS tm2,
         sum(o::HUGEINT * cast(floor(1e6 * ln(r) + 0.5) AS BIGINT)) AS tg,
         sum(cast(floor(1e6 * (cast(n AS DOUBLE) / k)
           * (0.0 - cast(floor(1e6 * ln(r) + 0.5) AS BIGINT) / 1e6) + 0.5)
           AS BIGINT)) AS tmg
  FROM base GROUP BY 1, 2
)
{" UNION ALL ".join(parts)}
"""


_ORACLE_CR = _oracle_cr()


# --------------------------------------------------------------------------
# Bross ridit analysis (X7 [EXT])
# --------------------------------------------------------------------------


def q_ridit_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Bross (1958) ridit analysis: ridits from the POOLED
    centi-value distribution, r_c = (nb + l/2)/N kept exact as ×2N
    integers (2N·r = 2nb + l); per event type the mean ridit and the
    Fleiss (1981) z = (R̄_j - 1/2)·sqrt(12·n_j) under the homogeneity
    null (no tie correction — documented convention). Output per
    event_type: n_j, mean_ridit_micro, z_milli, reject_05."""
    e = _t(spark, sf_dir, "events")
    cells2 = barrier(  # pooled prefix + grp join
        e.select(
            "event_type",
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc"),
        )
        .groupBy("vc", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    pooled = exclusive_prefix_sum(
        cells2.groupBy("vc").agg(F.sum("c").cast("bigint").alias("l")),
        "vc", "l", out="nb0",
    ).selectExpr("vc", "2 * nb0 + l AS r2n")  # 2N·ridit
    glob = cells2.agg(F.sum("c").cast("bigint").alias("n"))
    grp = (
        cells2.join(pooled, "vc")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("bigint").alias("nj"),
            F.sum(F.expr("cast(c as decimal(38,0)) * r2n")).alias("sr"),
        )
    )
    return grp.crossJoin(F.broadcast(glob)).selectExpr(
        "event_type",
        "nj AS n_j",
        "cast(floor(1e6 * cast(sr as double)"
        " / (2.0 * cast(n as double) * nj) + 0.5) as bigint)"
        " AS mean_ridit_micro",
        "cast(floor(1e3 * (cast(sr as double)"
        " / (2.0 * cast(n as double) * nj) - 0.5)"
        " * sqrt(12.0 * nj) + 0.5) as bigint) AS z_milli",
        "abs(cast(floor(1e3 * (cast(sr as double)"
        " / (2.0 * cast(n as double) * nj) - 0.5)"
        " * sqrt(12.0 * nj) + 0.5) as bigint)) > 1960 AS reject_05",
    ).orderBy("event_type")


_ORACLE_RIDIT = """
WITH cells2 AS (
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc, event_type,
         count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
pooled AS (
  SELECT vc,
         2 * coalesce(sum(l) OVER (ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           + l AS r2n
  FROM (SELECT vc, sum(c)::BIGINT AS l FROM cells2 GROUP BY 1)
),
gl AS (SELECT sum(c)::BIGINT AS n FROM cells2),
grp AS (
  SELECT event_type, sum(c)::BIGINT AS nj,
         sum(c::HUGEINT * r2n) AS sr
  FROM cells2 JOIN pooled USING (vc)
  GROUP BY 1
)
SELECT event_type, nj AS n_j,
       cast(floor(1e6 * cast(sr AS DOUBLE)
         / (2.0 * cast(n AS DOUBLE) * nj) + 0.5) AS BIGINT)
         AS mean_ridit_micro,
       cast(floor(1e3 * (cast(sr AS DOUBLE)
         / (2.0 * cast(n AS DOUBLE) * nj) - 0.5)
         * sqrt(12.0 * nj) + 0.5) AS BIGINT) AS z_milli,
       abs(cast(floor(1e3 * (cast(sr AS DOUBLE)
         / (2.0 * cast(n AS DOUBLE) * nj) - 0.5)
         * sqrt(12.0 * nj) + 0.5) AS BIGINT)) > 1960 AS reject_05
FROM grp, gl
"""


# --------------------------------------------------------------------------
# PAA + SAX symbolic approximation of the daily series (X7 [EXT])
# --------------------------------------------------------------------------

_DAY_US = 86_400_000_000


def q_sax_paa_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 PAA + SAX (Lin, Keogh et al. 2003) of the daily mean
    series: day means (micro-snapped), day-rank r (prefix over the
    calendar-bounded daily cells) → 12 equal-count PAA segments
    (seg = (r-1)·12 div T), segment mean, z-normalized by the DAILY
    series' population moments, then mapped to the alphabet-4 symbol
    via the Gaussian quartile breakpoints ±0.67449/0 (micro literals).
    Output 12 rows: seg, n_days, paa_micro, z_milli, symbol."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.selectExpr(
            f"unix_micros(ts) div {_DAY_US} AS d",
            "cast(floor(value * 1e6 + 0.5) as bigint) AS vm",
        )
        .groupBy("d")
        .agg(
            F.expr(
                "cast(floor(cast(sum(vm) as double) / count(*) + 0.5)"
                " as bigint)"
            ).alias("x")
        )
    )
    ranked = barrier(exclusive_prefix_sum(
        daily.withColumn("one", F.lit(1).cast("bigint")), "d", "one",
        out="r0",
    ))  # mom pass + seg pass
    mom = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.expr("cast(x as decimal(38,0)) * x")).alias("sxx"),
    )
    seg = (
        ranked.crossJoin(F.broadcast(mom))
        .selectExpr("t", "sx", "sxx", "(r0 * 12) div t AS seg", "x")
        .groupBy("seg", "t", "sx", "sxx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("x").cast("bigint").alias("sseg"),
        )
    )
    z = (
        "(cast(sseg as double) / n_days - cast(sx as double) / t)"
        " / sqrt(cast(sxx as double) / t"
        "        - (cast(sx as double) / t) * (cast(sx as double) / t))"
    )
    zm = f"cast(floor(1e3 * ({z}) + 0.5) as bigint)"
    return seg.selectExpr(
        "seg",
        "n_days",
        "cast(floor(cast(sseg as double) / n_days + 0.5) as bigint)"
        " AS paa_micro",
        f"{zm} AS z_milli",
        f"case when {zm} * 1000 < -{_SAX_BP_MICRO} then 'a'"
        f" when {zm} * 1000 < 0 then 'b'"
        f" when {zm} * 1000 < {_SAX_BP_MICRO} then 'c'"
        " else 'd' end AS symbol",
    ).orderBy("seg")


_ORACLE_SAX = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_DAY_US} AS d,
         cast(floor(cast(sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))
             AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS x
  FROM events GROUP BY 1
),
ranked AS (
  SELECT d, x,
         (row_number() OVER (ORDER BY d) - 1)::BIGINT AS r0
  FROM daily
),
mom AS (
  SELECT count(*)::BIGINT AS t, sum(x)::BIGINT AS sx,
         sum(x::HUGEINT * x) AS sxx
  FROM ranked
),
seg AS (
  SELECT (r0 * 12) // t AS seg, t, sx, sxx,
         count(*)::BIGINT AS n_days, sum(x)::BIGINT AS sseg
  FROM ranked, mom
  GROUP BY 1, 2, 3, 4
)
SELECT seg, n_days,
       cast(floor(cast(sseg AS DOUBLE) / n_days + 0.5) AS BIGINT)
         AS paa_micro,
       cast(floor(1e3 * ((cast(sseg AS DOUBLE) / n_days
           - cast(sx AS DOUBLE) / t)
         / sqrt(cast(sxx AS DOUBLE) / t
                - (cast(sx AS DOUBLE) / t) * (cast(sx AS DOUBLE) / t)))
         + 0.5) AS BIGINT) AS z_milli,
       CASE WHEN cast(floor(1e3 * ((cast(sseg AS DOUBLE) / n_days
                - cast(sx AS DOUBLE) / t)
              / sqrt(cast(sxx AS DOUBLE) / t
                     - (cast(sx AS DOUBLE) / t)
                       * (cast(sx AS DOUBLE) / t))) + 0.5) AS BIGINT)
              * 1000 < -{_SAX_BP_MICRO} THEN 'a'
            WHEN cast(floor(1e3 * ((cast(sseg AS DOUBLE) / n_days
                - cast(sx AS DOUBLE) / t)
              / sqrt(cast(sxx AS DOUBLE) / t
                     - (cast(sx AS DOUBLE) / t)
                       * (cast(sx AS DOUBLE) / t))) + 0.5) AS BIGINT)
              * 1000 < 0 THEN 'b'
            WHEN cast(floor(1e3 * ((cast(sseg AS DOUBLE) / n_days
                - cast(sx AS DOUBLE) / t)
              / sqrt(cast(sxx AS DOUBLE) / t
                     - (cast(sx AS DOUBLE) / t)
                       * (cast(sx AS DOUBLE) / t))) + 0.5) AS BIGINT)
              * 1000 < {_SAX_BP_MICRO} THEN 'c'
            ELSE 'd' END AS symbol
FROM seg
"""


REGISTRY_EXT161: dict[str, QuerySpec] = {
    "wasserstein_distance_2samp": QuerySpec(
        q_wasserstein_distance_2samp, _ORACLE_WD,
        "X7 [EXT] 1-D Wasserstein",
    ),
    "bws_test": QuerySpec(
        q_bws_test, _ORACLE_BWS, "X7 [EXT] Baumgartner-Weiss-Schindler"
    ),
    "dunn_posthoc_pairs": QuerySpec(
        q_dunn_posthoc_pairs, _ORACLE_DUNN, "X7 [EXT] Dunn post-hoc"
    ),
    "cressie_read_divergence": QuerySpec(
        q_cressie_read_divergence, _ORACLE_CR,
        "X7 [EXT] Cressie-Read family",
    ),
    "ridit_analysis": QuerySpec(
        q_ridit_analysis, _ORACLE_RIDIT, "X7 [EXT] Bross ridit"
    ),
    "sax_paa_daily": QuerySpec(
        q_sax_paa_daily, _ORACLE_SAX, "X7 [EXT] PAA/SAX symbols"
    ),
}
