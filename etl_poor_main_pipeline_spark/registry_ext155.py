"""Wave 155 [EXT]: k-sample EDF and normal-scores completers — the
Scholz-Stephens (1987) k-sample Anderson-Darling A2akN with the
midrank (tie) adjustment over all five event types, Lepage's (1971)
combined location-scale test (standardized Wilcoxon + Ansari-Bradley
quadratic form), Fligner-Killeen's (1976) normal-scores scale test
with the Conover χ² normalization, and the van der Waerden (1952)
normal-scores location test. Companions of the shipped
anderson_darling_2samp / cramer_von_mises_2samp / kuiper_two_sample
(two-sample EDF), ansari_bradley_test / mood_median_test /
conover_squared_ranks / levene_brown_forsythe (scale), and
kruskal_wallis_rank_test (k-group location).

The normal-scores tests need Φ⁻¹: :func:`_probit_sql` emits Acklam's
(2003) rational approximation (max |ε| ≈ 1.15e-9) as IDENTICAL text
for both engines; its tail branches snap ln() to the nano grid before
sqrt (the house transcendental rule), everything else is +,*,/,sqrt —
IEEE-deterministic under same text. Scores snap micro before any
cross-cell sum so both engines add identical integers.

Tie handling is exact cell algebra throughout (the wave-122/154
category): per pooled centi cell [a..b] the midrank is carried as the
INTEGER 2*r̄ = 2*nb + l + 1, per-group cumulative midcounts as
2*M = 2*prefix + f, and the Ansari-Bradley per-run score sums reuse
the wave-122 closed forms (2*Σa and 12*Σa² exact in
decimal(38,0)/HUGEINT, no per-row ranks anywhere).

Scale notes (the 100x question, per query):
- anderson_darling_ksamp: corpus → (event_type × centi-cell) counts
  map-side; the pooled prefix is one Blelloch scan over value-domain
  cells and the per-group prefix a PARTITIONED (|enum| groups) window;
  per-cell inner terms snap nano, so the double square (N·2M - n_j·2B)²
  is same-text deterministic and everything after it is exact integer
  sums. Statistic is the RAW A2akN plus (k, N): the Scholz-Stephens
  standardization constants g, h are corpus-length harmonic sums (not
  value-bounded) and standardization is driver-trivial from published
  tables once N is known.
- lepage_location_scale: the click/purchase pooled cell frame feeds
  BOTH components off one prefix walk: Wilcoxon W as Σ ca·(2nb+l+1)/2
  with the standard Σ(l³-l)/12 tie variance, Ansari-Bradley via the
  wave-122 closed run forms. L = z_W² + z_AB² ~ χ²(2).
- fligner_killeen_test / van_der_waerden_test: group medians come off
  per-group PARTITIONED cumulative walks (lower-median convention,
  ext153); the pooled |x-med| (resp. raw) cell frame is value-domain
  bounded; scores = probit of exact rational midrank fractions.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .operators.scan_prefix import exclusive_prefix_sum
from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_LP_A, _LP_B = "click", "purchase"
#: χ² upper-5% critical values (micro-compare at call sites)
_CHI2_2_95_MICRO = 5_991_465  # qchisq(.95, 2) = 5.991464547107979
_CHI2_4_95_MICRO = 9_487_729  # qchisq(.95, 4) = 9.487729036781154


def _chi2_crit_micro(k_expr: str) -> str:
    """5% χ²(k-1) critical value (micro) derived from the data-derived
    group count ``k_expr`` — identical CASE text on both engines, so a
    corpus with an absent event type keeps df and reject_05 aligned
    with the reported k (k=2..6 covers the 5-type events table plus
    dropout)."""
    return (
        f"CASE {k_expr} WHEN 2 THEN 3841459 WHEN 3 THEN 5991465"
        " WHEN 4 THEN 7814728 WHEN 5 THEN 9487729"
        " WHEN 6 THEN 11070498 END"
    )

# Acklam (2003) inverse-normal-CDF rational approximation coefficients
_ACK_A = (
    "-3.969683028665376e+01", "2.209460984245205e+02",
    "-2.759285104469687e+02", "1.383577518672690e+02",
    "-3.066479806614716e+01", "2.506628277459239e+00",
)
_ACK_B = (
    "-5.447609879822406e+01", "1.615858368580409e+02",
    "-1.556989798598866e+02", "6.680131188771972e+01",
    "-1.328068155288572e+01",
)
_ACK_C = (
    "-7.784894002430293e-03", "-3.223964580411365e-01",
    "-2.400758277161838e+00", "-2.549732539343734e+00",
    "4.374664141464968e+00", "2.938163982698783e+00",
)
_ACK_D = (
    "7.784695709041462e-03", "3.224671290700398e-01",
    "2.445134137142996e+00", "3.754408661907416e+00",
)
_ACK_PLOW = "0.02425"


def _horner(coeffs, var: str, trail_one: bool = False) -> str:
    """Horner-form polynomial text ((c0*v + c1)*v + ...) — identical
    character-for-character in both engines."""
    expr = f"({coeffs[0]})"
    for c in coeffs[1:]:
        expr = f"({expr} * {var} + ({c}))"
    if trail_one:
        expr = f"({expr} * {var} + 1.0)"
    return expr


def _sln(u: str) -> str:
    """ln snapped to the nano grid (house transcendental rule): JVM and
    libm disagree in the last ulp on ~13% of ln inputs, and the tail
    branches feed ln into sqrt and a rational polynomial."""
    return f"(cast(floor(1e9 * ln({u}) + 0.5) as double) / 1e9)"


def _probit_sql(p: str) -> str:
    """Acklam's Φ⁻¹(p) for ``p`` a (0,1) double expression — emit with a
    SIMPLE column reference (the text repeats p many times)."""
    qc = f"({p} - 0.5)"
    rc = f"({qc} * {qc})"
    central = (
        f"({qc} * {_horner(_ACK_A, rc)} / {_horner(_ACK_B, rc, trail_one=True)})"
    )
    ql = f"sqrt(-2.0 * {_sln(p)})"
    low = f"({_horner(_ACK_C, ql)} / {_horner(_ACK_D, ql, trail_one=True)})"
    qh = f"sqrt(-2.0 * {_sln(f'(1.0 - {p})')})"
    high = f"(-({_horner(_ACK_C, qh)}) / {_horner(_ACK_D, qh, trail_one=True)})"
    return (
        f"(CASE WHEN {p} < {_ACK_PLOW} THEN {low} "
        f"WHEN {p} > 1.0 - {_ACK_PLOW} THEN {high} "
        f"ELSE {central} END)"
    )


_TYPES = ("click", "error", "purchase", "signup", "view")
_TYPES_LIST = ", ".join(f"'{t}'" for t in _TYPES)


# --------------------------------------------------------------------------
# Scholz-Stephens k-sample Anderson-Darling (X7 [EXT])
# --------------------------------------------------------------------------


def q_anderson_darling_ksamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Scholz & Stephens (1987) k-sample Anderson-Darling with
    the midrank (discrete/tie) adjustment, k = 5 event types:

      A2akN = (N-1)/N · Σ_j (1/n_j) Σ_i (l_i/N) ·
              (N·M_ij - n_j·B_i)² / (B_i(N-B_i) - N·l_i/4)

    with B_i / M_ij the pooled / per-group MIDPOINT cumulative counts
    (prefix + half the cell), carried as exact integers 2B = 2·nb + l
    and 2M = 2·mb + f so the quarter denominators clear:
    4·den = 2B·(2N-2B) - N·l. The inner sum runs over EVERY pooled
    cell for EVERY sample (cells where sample j is absent still
    contribute through M_ij), so the (group × pooled-cell) grid is
    densified by exploding the literal event-type enum (the ext148
    _RANKS precedent) and inner-joining the observed group frame —
    no nested-loop join anywhere. The per-(group,cell) inner term
    snaps nano before the exact integer sum. Output one row: k, n,
    and a2_akn_micro (raw statistic; the standardization constants
    are corpus-length harmonic sums — see module docstring)."""
    e = _t(spark, sf_dir, "events")
    gcells = (
        e.select(
            "event_type",
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc"),
        )
        .groupBy("event_type", "vc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    gcells = barrier(gcells)  # pooled + per-group passes
    cells = gcells.groupBy("vc").agg(F.sum("f").cast("bigint").alias("l"))
    pooled = exclusive_prefix_sum(cells, "vc", "l", out="nb")
    nj = gcells.groupBy("event_type").agg(F.sum("f").cast("bigint").alias("n_j"))
    tot = nj.agg(
        F.sum("n_j").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    types_arr = ", ".join(f"'{t}'" for t in _TYPES)
    dense = (
        pooled.selectExpr(
            "vc", "l", "nb", f"explode(array({types_arr})) AS event_type"
        )
        # inner join the OBSERVED group frame: only groups present in the
        # data survive (nj sits above a checkpoint — equi-join, no hint;
        # AQE broadcasts the small side itself)
        .join(nj, "event_type")
        .join(gcells, ["event_type", "vc"], "left")
        .withColumn("f", F.coalesce(F.col("f"), F.lit(0).cast("bigint")))
    )
    w_g = (
        Window.partitionBy("event_type")
        .orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frame = (
        dense.withColumn(
            "mb", F.coalesce(F.sum("f").over(w_g), F.lit(0).cast("bigint"))
        )
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "event_type",
            "n_j",
            "n",
            "k",
            "l",
            "2 * mb + f AS m2",
            "2 * nb + l AS b2",
        )
    )
    # inner = (l/N) · ((N·m2 - n_j·b2)/2)² / ((b2·(2N-b2) - N·l)/4)
    #       = l · (N·m2 - n_j·b2)² / (N · (b2·(2N-b2) - N·l))
    q = "(cast(n as double) * cast(m2 as double) - cast(n_j as double) * cast(b2 as double))"
    den4 = (
        f"({_DEC.format(x='b2')} * (2 * n - b2) - {_DEC.format(x='n')} * l)"
    )
    inner = (
        f"cast(l as double) * {q} * {q}"
        f" / (cast(n as double) * cast({den4} as double))"
    )
    per_g = (
        frame.selectExpr(
            "event_type",
            "n_j",
            "n",
            "k",
            f"cast(floor(1e9 * ({inner}) + 0.5) as bigint) AS t_nano",
        )
        .groupBy("event_type", "n_j", "n", "k")
        .agg(F.sum("t_nano").cast("bigint").alias("s_nano"))
    )
    return (
        per_g.selectExpr(
            "n",
            "k",
            # Σ_j S_j / n_j, nano-snapped per group before the 5-term sum
            "cast(floor(cast(s_nano as double) / cast(n_j as double) + 0.5)"
            " as bigint) AS sj_nano",
        )
        .groupBy("n", "k")
        .agg(F.sum("sj_nano").cast("bigint").alias("sum_nano"))
        .selectExpr(
            "k",
            "n",
            "cast(floor((cast(n as double) - 1.0) / cast(n as double)"
            " * cast(sum_nano as double) / 1e3 + 0.5) as bigint)"
            " AS a2_akn_micro",
        )
    )


_AD_K_INNER = (
    "cast(l AS DOUBLE) * "
    "(cast(n AS DOUBLE) * cast(m2 AS DOUBLE)"
    " - cast(n_j AS DOUBLE) * cast(b2 AS DOUBLE)) * "
    "(cast(n AS DOUBLE) * cast(m2 AS DOUBLE)"
    " - cast(n_j AS DOUBLE) * cast(b2 AS DOUBLE))"
    " / (cast(n AS DOUBLE) * cast(b2::HUGEINT * (2 * n - b2)"
    " - n::HUGEINT * l AS DOUBLE))"
)

_ORACLE_AD_KSAMP = f"""
WITH gcells AS (
  SELECT event_type, cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         count(*)::BIGINT AS f
  FROM events GROUP BY 1, 2
),
cells AS (SELECT vc, sum(f)::BIGINT AS l FROM gcells GROUP BY 1),
pooled AS (
  SELECT vc, l,
         coalesce(sum(l) OVER (ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS nb
  FROM cells
),
nj AS (SELECT event_type, sum(f)::BIGINT AS n_j FROM gcells GROUP BY 1),
tot AS (SELECT sum(n_j)::BIGINT AS n, count(*)::BIGINT AS k FROM nj),
dense AS (
  SELECT p.vc, p.l, p.nb, t.event_type, nj.n_j,
         coalesce(g.f, 0)::BIGINT AS f
  FROM pooled p
  CROSS JOIN (SELECT unnest([{_TYPES_LIST}]) AS event_type) t
  JOIN nj USING (event_type)
  LEFT JOIN gcells g ON g.event_type = t.event_type AND g.vc = p.vc
),
gpref AS (
  SELECT event_type, vc, n_j, l, nb, f,
         coalesce(sum(f) OVER (PARTITION BY event_type ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS mb
  FROM dense
),
frame AS (
  SELECT event_type, n_j, n, k, l,
         2 * mb + f AS m2, 2 * nb + l AS b2
  FROM gpref, tot
),
per_g AS (
  SELECT event_type, n_j, n, k,
         sum(cast(floor(1e9 * ({_AD_K_INNER}) + 0.5) AS BIGINT))::BIGINT
           AS s_nano
  FROM frame GROUP BY 1, 2, 3, 4
)
SELECT k, n,
       cast(floor((cast(n AS DOUBLE) - 1.0) / cast(n AS DOUBLE)
         * cast(sum(cast(floor(cast(s_nano AS DOUBLE)
             / cast(n_j AS DOUBLE) + 0.5) AS BIGINT)) AS DOUBLE)
         / 1e3 + 0.5) AS BIGINT) AS a2_akn_micro
FROM per_g
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Lepage combined location-scale test (X7 [EXT])
# --------------------------------------------------------------------------

_LP_ZW = """
  ((cast(w2 AS DOUBLE) - cast(m AS DOUBLE) * (cast(nn AS DOUBLE) + 1.0))
   / 2.0)
  / sqrt(cast(m AS DOUBLE) * cast(nb2 AS DOUBLE)
         * (cast(nn AS DOUBLE) + 1.0) / 12.0
         - cast(m AS DOUBLE) * cast(nb2 AS DOUBLE) * cast(tie3 AS DOUBLE)
           / (12.0 * cast(nn AS DOUBLE) * (cast(nn AS DOUBLE) - 1.0)))
"""
_LP_ZA = """
  ((cast(wa_micro AS DOUBLE) / 1e6)
   - cast(m AS DOUBLE) * cast(suma2 AS DOUBLE) / (2.0 * cast(nn AS DOUBLE)))
  / sqrt(cast(m AS DOUBLE) * cast(nb2 AS DOUBLE)
         * (cast(nn AS DOUBLE) * cast(sumaa12 AS DOUBLE) / 12.0
            - (cast(suma2 AS DOUBLE) / 2.0) * (cast(suma2 AS DOUBLE) / 2.0))
         / (cast(nn AS DOUBLE) * cast(nn AS DOUBLE)
            * (cast(nn AS DOUBLE) - 1.0)))
"""


def q_lepage_location_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Lepage (1971) combined location-scale test between
    '{a}' and '{b}' event values: L = z_W² + z_AB² ~ χ²(2), with z_W
    the tie-corrected Wilcoxon rank-sum z (midranks exact as
    W = Σ ca·(2·nb+l+1)/2; Var subtracts Σ(l³-l)/(12N(N-1))) and z_AB
    the Conover general-scores Ansari-Bradley z off the wave-122
    closed run forms (2Σa, 12Σa² exact integers per cell; only the
    per-cell midrank-average score double-snaps micro). Output one
    row: n_a, n_b, zw_milli, za_milli, lepage_micro, reject_05."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type").isin(_LP_A, _LP_B))
    cells = (
        e.select(
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc"),
            F.expr(f"cast(event_type = '{_LP_A}' as int)").alias("isa"),
        )
        .groupBy("vc")
        .agg(
            F.sum("isa").cast("bigint").alias("ca"),
            F.count(F.lit(1)).cast("bigint").alias("l"),
        )
    )
    pref = exclusive_prefix_sum(cells, "vc", "l", out="nb")
    tot = pref.agg(F.max(F.expr("nb + l")).cast("bigint").alias("nn"))
    # wave-122 ansari closed run forms over r = nb+1 .. nb+l, k = N+1
    terms = (
        pref.crossJoin(F.broadcast(tot))
        .selectExpr(
            "ca",
            "l",
            "nb AS bef",
            "nn",
            "nn + 1 AS k",
            "greatest(cast(0 as bigint), least((nn + 1) div 2 - nb, l)) AS m1",
            f"{_DEC.format(x='ca')} * (2 * nb + l + 1) AS w2c",
            f"{_DEC.format(x='l')} * l * l - l AS t3c",
        )
        .selectExpr(
            "ca",
            "l",
            "nn",
            "k",
            "w2c",
            "t3c",
            f"{_DEC.format(x='m1')} * k - {_DEC.format(x='m1')} * (2 * (bef + 1) + m1 - 1)"
            f" + {_DEC.format(x='(l - m1)')} * (2 * (bef + 1 + m1) + (l - m1) - 1)"
            f" - {_DEC.format(x='(l - m1)')} * k AS sabs",
            f"{_DEC.format(x='l')} * (2 * bef + l + 1) AS sr2",
            f"{_DEC.format(x='(bef + l)')} * (bef + l + 1) * (2 * (bef + l) + 1)"
            f" - {_DEC.format(x='bef')} * (bef + 1) * (2 * bef + 1) AS srr6",
        )
        .selectExpr(
            "ca",
            "l",
            "nn",
            "w2c",
            "t3c",
            f"{_DEC.format(x='l')} * k - sabs AS s2",
            f"3 * {_DEC.format(x='l')} * k * k - 6 * {_DEC.format(x='k')} * sabs"
            f" + (3 * {_DEC.format(x='l')} * k * k - 6 * {_DEC.format(x='k')} * sr2"
            " + 2 * srr6) AS ssq12",
        )
    )
    sums = terms.agg(
        F.max("nn").alias("nn"),
        F.sum("ca").cast("bigint").alias("m"),
        F.sum(F.expr("l - ca")).cast("bigint").alias("nb2"),
        F.sum("w2c").alias("w2"),
        F.sum("t3c").alias("tie3"),
        F.sum(
            F.expr(
                "cast(floor(1e6 * cast(ca as double) * cast(s2 as double)"
                " / (2.0 * cast(l as double)) + 0.5) as bigint)"
            )
        ).alias("wa_micro"),
        F.sum("s2").alias("suma2"),
        F.sum("ssq12").alias("sumaa12"),
    )
    return sums.selectExpr(
        "m AS n_a",
        "nb2 AS n_b",
        f"cast(floor(1e3 * {_LP_ZW} + 0.5) as bigint) AS zw_milli",
        f"cast(floor(1e3 * {_LP_ZA} + 0.5) as bigint) AS za_milli",
        f"cast(floor(1e6 * ({_LP_ZW} * {_LP_ZW} + {_LP_ZA} * {_LP_ZA})"
        " + 0.5) as bigint) AS lepage_micro",
        f"cast(floor(1e6 * ({_LP_ZW} * {_LP_ZW} + {_LP_ZA} * {_LP_ZA})"
        f" + 0.5) as bigint) > {_CHI2_2_95_MICRO} AS reject_05",
    )


_ORACLE_LEPAGE = f"""
WITH cells AS (
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         sum(CASE WHEN event_type = '{_LP_A}' THEN 1 ELSE 0 END)::BIGINT AS ca,
         count(*)::BIGINT AS l
  FROM events WHERE event_type IN ('{_LP_A}', '{_LP_B}')
  GROUP BY 1
),
pref AS (
  SELECT ca, l,
         coalesce(sum(l) OVER (ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS nb
  FROM cells
),
tot AS (SELECT max(nb + l)::BIGINT AS nn FROM pref),
base AS (
  SELECT ca, l, nb AS bef, nn, nn + 1 AS k,
         greatest(0, least((nn + 1) // 2 - nb, l)) AS m1,
         ca::HUGEINT * (2 * nb + l + 1) AS w2c,
         l::HUGEINT * l * l - l AS t3c
  FROM pref, tot
),
closed AS (
  SELECT ca, l, nn, k, w2c, t3c,
         m1::HUGEINT * k - m1::HUGEINT * (2 * (bef + 1) + m1 - 1)
           + (l - m1)::HUGEINT * (2 * (bef + 1 + m1) + (l - m1) - 1)
           - (l - m1)::HUGEINT * k AS sabs,
         l::HUGEINT * (2 * bef + l + 1) AS sr2,
         (bef + l)::HUGEINT * (bef + l + 1) * (2 * (bef + l) + 1)
           - bef::HUGEINT * (bef + 1) * (2 * bef + 1) AS srr6
  FROM base
),
terms AS (
  SELECT ca, l, nn, w2c, t3c,
         l::HUGEINT * k - sabs AS s2,
         3 * l::HUGEINT * k * k - 6 * k::HUGEINT * sabs
           + (3 * l::HUGEINT * k * k - 6 * k::HUGEINT * sr2 + 2 * srr6) AS ssq12
  FROM closed
),
sums AS (
  SELECT max(nn) AS nn, sum(ca)::BIGINT AS m, sum(l - ca)::BIGINT AS nb2,
         sum(w2c) AS w2, sum(t3c) AS tie3,
         sum(cast(floor(1e6 * cast(ca AS DOUBLE) * cast(s2 AS DOUBLE)
             / (2.0 * cast(l AS DOUBLE)) + 0.5) AS BIGINT))::BIGINT
           AS wa_micro,
         sum(s2) AS suma2,
         sum(ssq12) AS sumaa12
  FROM terms
)
SELECT m AS n_a, nb2 AS n_b,
       cast(floor(1e3 * {_LP_ZW} + 0.5) AS BIGINT) AS zw_milli,
       cast(floor(1e3 * {_LP_ZA} + 0.5) AS BIGINT) AS za_milli,
       cast(floor(1e6 * ({_LP_ZW} * {_LP_ZW} + {_LP_ZA} * {_LP_ZA})
         + 0.5) AS BIGINT) AS lepage_micro,
       cast(floor(1e6 * ({_LP_ZW} * {_LP_ZW} + {_LP_ZA} * {_LP_ZA})
         + 0.5) AS BIGINT) > {_CHI2_2_95_MICRO} AS reject_05
FROM sums
"""


# --------------------------------------------------------------------------
# normal-scores machinery shared by Fligner-Killeen / van der Waerden
# --------------------------------------------------------------------------


def _scored_pooled_cells(gcells: DataFrame, p_num: str, p_den: str):
    """Pool (event_type, zc, f) cells, prefix-walk them, and attach the
    micro-snapped probit score of the exact rational midrank fraction
    ``p = p_num / p_den`` (both expression texts over nb, l, n)."""
    cells = gcells.groupBy("zc").agg(F.sum("f").cast("bigint").alias("l"))
    pooled = exclusive_prefix_sum(cells, "zc", "l", out="nb")
    tot = gcells.agg(F.sum("f").cast("bigint").alias("n"))
    pp = f"(cast({p_num} as double) / cast({p_den} as double))"
    scored = (
        pooled.crossJoin(F.broadcast(tot))
        .selectExpr("zc", "l", "nb", "n", f"{pp} AS pp")
        .selectExpr(
            "zc",
            "n",
            f"cast(floor(1e6 * {_probit_sql('pp')} + 0.5) as bigint) AS am",
        )
    )
    return scored


_SQL_SCORED = """
cells AS (SELECT zc, sum(f)::BIGINT AS l FROM gcells GROUP BY 1),
pooled AS (
  SELECT zc, l,
         coalesce(sum(l) OVER (ORDER BY zc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS nb
  FROM cells
),
tot AS (SELECT sum(f)::BIGINT AS n FROM gcells),
scored AS (
  SELECT zc, n,
         cast(floor(1e6 * {probit} + 0.5) AS BIGINT) AS am
  FROM (SELECT zc, l, nb, n,
               cast({p_num} AS DOUBLE) / cast({p_den} AS DOUBLE) AS pp
        FROM pooled, tot)
)
"""


def _normal_scores_stat(
    gcells: DataFrame, scored: DataFrame, centered: bool
) -> DataFrame:
    """Conover χ² quadratic form over per-group mean scores. With
    ``centered`` (Fligner-Killeen): X² = Σ n_j(Ā_j-ā)²/V²,
    V² = (Σa² - N·ā²)/(N-1); without (van der Waerden):
    T = Σ n_j·Ā_j²/s², s² = Σa²/(N-1). Per-group terms snap nano
    before the k-term sum (exact integer adds)."""
    per_g = (
        gcells.join(scored, "zc")
        .groupBy("event_type")
        .agg(
            F.sum("f").cast("bigint").alias("n_j"),
            F.sum(F.expr(f"{_DEC.format(x='f')} * am")).alias("sa_j"),
            F.sum(F.expr(f"{_DEC.format(x='f')} * am * am")).alias("saa_j"),
            F.max("n").cast("bigint").alias("n_g"),
        )
    )
    glob = per_g.agg(
        F.max("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("sa_j").alias("sa"),
        F.sum("saa_j").alias("saa"),
    )
    abar = "(cast(sa as double) / 1e6 / cast(n as double))"
    if centered:
        v2 = (
            f"((cast(saa as double) / 1e12 - cast(n as double)"
            f" * {abar} * {abar}) / (cast(n as double) - 1.0))"
        )
        term = (
            f"cast(n_j as double) * (cast(sa_j as double) / 1e6"
            f" / cast(n_j as double) - {abar})"
            f" * (cast(sa_j as double) / 1e6 / cast(n_j as double) - {abar})"
        )
    else:
        v2 = "(cast(saa as double) / 1e12 / (cast(n as double) - 1.0))"
        term = (
            "cast(n_j as double) * (cast(sa_j as double) / 1e6"
            " / cast(n_j as double))"
            " * (cast(sa_j as double) / 1e6 / cast(n_j as double))"
        )
    return (
        per_g.crossJoin(F.broadcast(glob))
        .selectExpr(
            "n",
            "k",
            "sa",
            "saa",
            f"cast(floor(1e9 * ({term}) + 0.5) as bigint) AS t_nano",
        )
        .groupBy("n", "k", "sa", "saa")
        .agg(F.sum("t_nano").cast("bigint").alias("num_nano"))
        .selectExpr(
            "k",
            "n",
            f"cast(floor(cast(num_nano as double) / 1e3 / {v2} + 0.5)"
            " as bigint) AS stat_micro",
            f"cast(floor(cast(num_nano as double) / 1e3 / {v2} + 0.5)"
            f" as bigint) > {_chi2_crit_micro('k')} AS reject_05",
        )
    )


def _sql_normal_scores_tail(centered: bool) -> str:
    abar = "(cast(sa AS DOUBLE) / 1e6 / cast(n AS DOUBLE))"
    if centered:
        v2 = (
            f"((cast(saa AS DOUBLE) / 1e12 - cast(n AS DOUBLE)"
            f" * {abar} * {abar}) / (cast(n AS DOUBLE) - 1.0))"
        )
        term = (
            f"cast(n_j AS DOUBLE) * (cast(sa_j AS DOUBLE) / 1e6"
            f" / cast(n_j AS DOUBLE) - {abar})"
            f" * (cast(sa_j AS DOUBLE) / 1e6 / cast(n_j AS DOUBLE) - {abar})"
        )
    else:
        v2 = "(cast(saa AS DOUBLE) / 1e12 / (cast(n AS DOUBLE) - 1.0))"
        term = (
            "cast(n_j AS DOUBLE) * (cast(sa_j AS DOUBLE) / 1e6"
            " / cast(n_j AS DOUBLE))"
            " * (cast(sa_j AS DOUBLE) / 1e6 / cast(n_j AS DOUBLE))"
        )
    return f"""
per_g AS (
  SELECT event_type, sum(f)::BIGINT AS n_j,
         sum(f::HUGEINT * am) AS sa_j,
         sum(f::HUGEINT * am * am) AS saa_j,
         max(n)::BIGINT AS n_g
  FROM gcells JOIN scored USING (zc)
  GROUP BY 1
),
gtot AS (
  SELECT max(n_g)::BIGINT AS n, count(*)::BIGINT AS k,
         sum(sa_j) AS sa, sum(saa_j) AS saa
  FROM per_g
)
SELECT k, n,
       cast(floor(cast(sum(cast(floor(1e9 * ({term}) + 0.5) AS BIGINT))
           AS DOUBLE) / 1e3 / {v2} + 0.5) AS BIGINT) AS stat_micro,
       cast(floor(cast(sum(cast(floor(1e9 * ({term}) + 0.5) AS BIGINT))
           AS DOUBLE) / 1e3 / {v2} + 0.5) AS BIGINT)
         > {_chi2_crit_micro('k')} AS reject_05
FROM per_g, gtot
GROUP BY 1, 2, sa, saa
"""


# --------------------------------------------------------------------------
# Fligner-Killeen normal-scores scale test (X7 [EXT])
# --------------------------------------------------------------------------


def q_fligner_killeen_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Fligner-Killeen (1976) k-group scale test, Conover χ²
    form: pooled midranks R̄ of |x - med_j| (group lower-medians,
    ext153 convention), scores a = Φ⁻¹(1/2 + R̄/(2(N+1))) as the exact
    rational p = (2N + 3 + 2·nb + l)/(4(N+1)) through Acklam's probit
    (micro-snapped), X² = Σ n_j(Ā_j - ā)²/V² ~ χ²(k-1). Output one
    row: k, n, stat_micro, reject_05."""
    e = _t(spark, sf_dir, "events")
    vcells = (
        e.select(
            "event_type",
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc"),
        )
        .groupBy("event_type", "vc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    vcells = barrier(vcells)  # median + z-cell passes
    w_g = (
        Window.partitionBy("event_type")
        .orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    med = (
        vcells.withColumn("cum", F.sum("f").over(w_g))
        .withColumn(
            "n_j", F.sum("f").over(Window.partitionBy("event_type"))
        )
        .filter(F.expr("cum >= (n_j + 1) div 2"))
        .groupBy("event_type")
        .agg(F.min("vc").alias("med"))
    )
    gcells = (
        vcells.join(med, "event_type")
        .selectExpr("event_type", "abs(vc - med) AS zc", "f")
        .groupBy("event_type", "zc")
        .agg(F.sum("f").cast("bigint").alias("f"))
    )
    gcells = barrier(gcells)  # pooled + per-group passes
    scored = _scored_pooled_cells(
        gcells, p_num="2 * n + 3 + 2 * nb + l", p_den="4 * (n + 1)"
    )
    return _normal_scores_stat(gcells, scored, centered=True)


_ORACLE_FK = f"""
WITH vcells AS (
  SELECT event_type, cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         count(*)::BIGINT AS f
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, min(vc) AS med
  FROM (
    SELECT event_type, vc, f,
           sum(f) OVER (PARTITION BY event_type ORDER BY vc) AS cum,
           sum(f) OVER (PARTITION BY event_type) AS n_j
    FROM vcells
  )
  WHERE cum >= (n_j + 1) // 2
  GROUP BY 1
),
gcells AS (
  SELECT event_type, abs(vc - med) AS zc, sum(f)::BIGINT AS f
  FROM vcells JOIN med USING (event_type)
  GROUP BY 1, 2
),
{_SQL_SCORED.format(
    probit=_probit_sql('pp'),
    p_num='2 * n + 3 + 2 * nb + l',
    p_den='4 * (n + 1)',
)},
{_sql_normal_scores_tail(centered=True).lstrip()}
"""


# --------------------------------------------------------------------------
# van der Waerden normal-scores location test (X7 [EXT])
# --------------------------------------------------------------------------


def q_van_der_waerden_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 van der Waerden (1952) k-group normal-scores location
    test, Conover form: pooled midranks of the raw values, scores
    a = Φ⁻¹(R̄/(N+1)) as the exact rational p = (2·nb + l + 1)/(2(N+1))
    through Acklam's probit (micro-snapped),
    T = Σ n_j·Ā_j²/s² ~ χ²(k-1) with s² = Σa²/(N-1). Output one row:
    k, n, stat_micro, reject_05."""
    e = _t(spark, sf_dir, "events")
    gcells = (
        e.select(
            "event_type",
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("zc"),
        )
        .groupBy("event_type", "zc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    gcells = barrier(gcells)  # pooled + per-group passes
    scored = _scored_pooled_cells(
        gcells, p_num="2 * nb + l + 1", p_den="2 * (n + 1)"
    )
    return _normal_scores_stat(gcells, scored, centered=False)


_ORACLE_VDW = f"""
WITH gcells AS (
  SELECT event_type, cast(floor(value * 100.0 + 0.5) AS BIGINT) AS zc,
         count(*)::BIGINT AS f
  FROM events GROUP BY 1, 2
),
{_SQL_SCORED.format(
    probit=_probit_sql('pp'),
    p_num='2 * nb + l + 1',
    p_den='2 * (n + 1)',
)},
{_sql_normal_scores_tail(centered=False).lstrip()}
"""


REGISTRY_EXT155: dict[str, QuerySpec] = {
    "anderson_darling_ksamp": QuerySpec(
        q_anderson_darling_ksamp, _ORACLE_AD_KSAMP, "X7 [EXT] k-sample AD"
    ),
    "lepage_location_scale": QuerySpec(
        q_lepage_location_scale, _ORACLE_LEPAGE, "X7 [EXT] Lepage"
    ),
    "fligner_killeen_test": QuerySpec(
        q_fligner_killeen_test, _ORACLE_FK, "X7 [EXT] Fligner-Killeen"
    ),
    "van_der_waerden_test": QuerySpec(
        q_van_der_waerden_test, _ORACLE_VDW, "X7 [EXT] van der Waerden"
    ),
}

q_lepage_location_scale.__doc__ = q_lepage_location_scale.__doc__.format(
    a=_LP_A, b=_LP_B
)
