"""Wave 159 [EXT]: scale-test, spacings, outlier-screen, and
concentration completers — Siegel-Tukey's (1960) alternating-rank
dispersion test in the Conover general-scores frame, the
Quesenberry-Miller (1977) spacings statistic (Greenwood plus the
adjacent-product cross term — the recommended tie-robust spacings
test), Dixon's (1950) Q ratios for both extremes of the daily series,
and the Lorenz concentration curve at the population deciles (the
10-row companion of gini_mean_difference). Companions of the shipped
ansari_bradley_test / lepage_location_scale / conover_squared_ranks
(scale tests), greenwood_spacing_stat / rao_spacing_test (spacings),
generalized_esd / mad_outliers_robust (outlier screens).

Siegel-Tukey convention (documented, since implementations differ for
odd N): scores are generated by the closed alternating pattern —
position r in the low half (r ≤ m = ⌈N/2⌉) scores 2r-1 if r is odd
else 2r; position r in the high half scores 2s if s = N+1-r is odd
else 2s-1. For even N this is exactly the classic 1,4,5,8,…/2,3,6,7,…
permutation of 1..N; for odd N the middle position scores N+1 when m
is even (not a permutation) — harmless under the CONOVER
GENERAL-SCORES moments E[W] = n_a·ΣA/N and
Var[W] = n_a·n_b·(N·ΣA² - (ΣA)²)/(N²(N-1)), which hold for ANY score
assignment. Per tie run the score sums have closed integer forms
(odd/even arithmetic subseries split at m), staged ×1 and ×3 so no
division appears before the final double.

Scale notes (the 100x question, per query):
- siegel_tukey_test: pooled centi cells + one Blelloch prefix; every
  run's ΣA, 3·ΣA² are exact integers in decimal(38,0)/HUGEINT.
- quesenberry_miller_spacings: occupied minute cells (≤1440), two
  rank-adjacency equi-joins; a cell's f-1 duplicate points are ZERO
  spacings, so every cross product touching one vanishes and the
  cross term survives only between consecutive occupied cells whose
  successor is singly occupied.
- dixon_q_extremes: four order statistics off one prefix walk over
  the calendar-bounded daily-mean cells.
- lorenz_value_deciles: centi value cells + two Blelloch prefixes
  (counts and value sums); each decile row interpolates INSIDE its
  tie run exactly (svb + vc·(r_k - nb)), order-statistic convention.

Reference parity: none; [EXT] X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.scan_prefix import exclusive_prefix_sum
from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_DAY_US = 86_400_000_000
_ST_A, _ST_B = "click", "purchase"


# --------------------------------------------------------------------------
# Siegel-Tukey alternating-rank dispersion test (X7 [EXT])
# --------------------------------------------------------------------------

# closed odd/even subseries helpers over an integer range [a..b] (empty
# when a > b), emitted as same-text SQL on bigint operands:
#   cnt_odd  = (b+1) div 2 - a div 2
#   sum_odd  = cnt_odd * (first_odd + last_odd) / 2   (carried x2)
# (evens analogous). All assembled into S1 = Σ st(r) and
# S23 = 3·Σ st(r)² per run.


def _st_run_sums(
    lo: str, hi: str, n: str, low_half: bool, dec, idiv: str, imod
) -> tuple[str, str]:
    """(S1, 3·S2) closed forms for Σ st(r), Σ st(r)² over r ∈ [lo..hi].

    low half (r ≤ m): st = 2r - [r odd]  ->
      S1 = 2·Σr - n_odd;  S2 = 4Σr² - 4Σ_{odd}r + n_odd
    high half: with s = N+1-r (s runs [N+1-hi .. N+1-lo]):
      st = 2s - [s even] ->
      S1 = 2·Σs - n_even;  S2 = 4Σs² - 4Σ_{even}s + n_even

    ``dec``/``idiv``/``imod`` are the dialect's decimal-staging cast,
    integer-division operator, and non-negative-mod function (every
    operand here is ≥ 0 by construction, so mod == pmod).
    """
    if low_half:
        a, b = lo, hi
        par_first = f"({a} + (1 - {imod(a)}))"  # first odd >= a
        par_last = f"({b} - (1 - {imod(b)}))"  # last odd <= b
        cnt_par = f"(({b} + 1) {idiv} 2 - {a} {idiv} 2)"  # odds in [a,b]
    else:
        a, b = f"({n} + 1 - {hi})", f"({n} + 1 - {lo})"
        par_first = f"({a} + {imod(a)})"  # first even >= a
        par_last = f"({b} - {imod(b)})"  # last even <= b
        cnt_par = f"({b} {idiv} 2 - ({a} - 1) {idiv} 2)"  # evens in [a,b]
    ln = f"({b} - {a} + 1)"
    sum_r2 = f"({dec(ln)} * ({a} + {b}))"  # 2·Σr
    # 6·Σr² = b(b+1)(2b+1) - (a-1)a(2a-1)
    sum_rr6 = (
        f"({dec(b)} * ({b} + 1) * (2 * {b} + 1)"
        f" - {dec(f'({a} - 1)')} * {a} * (2 * {a} - 1))"
    )
    sum_par2 = f"({dec(cnt_par)} * ({par_first} + {par_last}))"
    s1 = f"(if({ln} <= 0, {dec('0')}, {sum_r2} - {cnt_par}))"
    # score(r) = 2r - [r has run parity], so 3·S2 = 3·Σ(2r - p)²
    # = 12Σr² - 12·Σ_{par}r + 3·n_par; sum_par2 = cnt·(first+last)
    # = 2·Σ_{par}r, hence 3·S2 = 2·sum_rr6 - 6·sum_par2 + 3·cnt_par.
    s23 = (
        f"(if({ln} <= 0, {dec('0')},"
        f" 2 * {sum_rr6} - 6 * {sum_par2} + 3 * {cnt_par}))"
    )
    return s1, s23


def _st_sql(dialect: str) -> dict[str, str]:
    """Score-sum expressions per dialect ('spark' | 'duck'): the math is
    character-identical, only the decimal cast, integer division, and
    mod spellings differ."""
    if dialect == "spark":
        dec = lambda x: f"cast({x} as decimal(38,0))"  # noqa: E731
        idiv = "div"
        imod = lambda x: f"pmod({x}, 2)"  # noqa: E731
    else:
        dec = lambda x: f"cast({x} AS HUGEINT)"  # noqa: E731
        idiv = "//"
        imod = lambda x: f"mod({x}, 2)"  # noqa: E731
    m = f"((nn + 1) {idiv} 2)"
    lo_s1, lo_s23 = _st_run_sums(
        "ra", f"least(rb, {m})", "nn", True, dec, idiv, imod
    )
    hi_s1, hi_s23 = _st_run_sums(
        f"greatest(ra, {m} + 1)", "rb", "nn", False, dec, idiv, imod
    )
    return {
        "s1": f"({lo_s1} + {hi_s1})",
        "s23": f"({lo_s23} + {hi_s23})",
    }


_ST_Z = """
  ((cast(w_micro AS DOUBLE) / 1e6)
   - cast(m AS DOUBLE) * cast(suma AS DOUBLE) / cast(nn AS DOUBLE))
  / sqrt(cast(m AS DOUBLE) * cast(nb2 AS DOUBLE)
         * (cast(nn AS DOUBLE) * cast(suma23 AS DOUBLE) / 3.0
            - cast(suma AS DOUBLE) * cast(suma AS DOUBLE))
         / (cast(nn AS DOUBLE) * cast(nn AS DOUBLE)
            * (cast(nn AS DOUBLE) - 1.0)))
"""


def q_siegel_tukey_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Siegel-Tukey (1960) dispersion test between '{a}' and
    '{b}' event values: alternating end-in ranks concentrate LOW scores
    at both extremes, so a small A-score sum means MORE dispersion in
    A. Scores per the module-docstring closed pattern; per tie run the
    sums ΣA and 3·ΣA² are exact integers (odd/even subseries split at
    the half point), only the per-cell midrank-average score
    double-snaps micro (the Ansari-Bradley staging); Conover
    general-scores normal approximation. Output one row: n_a, n_b,
    w_micro, suma, suma23, z_milli, reject_05 (suma/suma23 are the
    exact integers ΣA and 3·ΣA² for direct test pinning)."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type").isin(_ST_A, _ST_B))
    cells = (
        e.select(
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc"),
            F.expr(f"cast(event_type = '{_ST_A}' as int)").alias("isa"),
        )
        .groupBy("vc")
        .agg(
            F.sum("isa").cast("bigint").alias("ca"),
            F.count(F.lit(1)).cast("bigint").alias("l"),
        )
    )
    pref = exclusive_prefix_sum(cells, "vc", "l", out="nb")
    tot = pref.agg(F.max(F.expr("nb + l")).cast("bigint").alias("nn"))
    sums_sql = _st_sql("spark")
    terms = pref.crossJoin(F.broadcast(tot)).selectExpr(
        "ca",
        "l",
        "nn",
        "nb + 1 AS ra",
        "nb + l AS rb",
    ).selectExpr(
        "ca",
        "l",
        "nn",
        f"{sums_sql['s1']} AS s1",
        f"{sums_sql['s23']} AS s23",
    )
    sums = terms.agg(
        F.max("nn").alias("nn"),
        F.sum("ca").cast("bigint").alias("m"),
        F.sum(F.expr("l - ca")).cast("bigint").alias("nb2"),
        F.sum(
            F.expr(
                "cast(floor(1e6 * cast(ca as double) * cast(s1 as double)"
                " / cast(l as double) + 0.5) as bigint)"
            )
        ).alias("w_micro"),
        F.sum("s1").alias("suma"),
        F.sum("s23").alias("suma23"),
    )
    return sums.selectExpr(
        "m AS n_a",
        "nb2 AS n_b",
        "w_micro",
        # exact integer invariants exposed so tests can pin the closed
        # run forms (ΣA and 3·ΣA²) against a direct per-rank recompute
        "cast(suma as bigint) AS suma",
        "cast(suma23 as bigint) AS suma23",
        f"cast(floor(1e3 * {_ST_Z} + 0.5) as bigint) AS z_milli",
        f"abs(cast(floor(1e3 * {_ST_Z} + 0.5) as bigint)) > 1960"
        " AS reject_05",
    )


def _oracle_st() -> str:
    sums_sql = _st_sql("duck")
    return f"""
WITH cells AS (
  SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
         sum(CASE WHEN event_type = '{_ST_A}' THEN 1 ELSE 0 END)::BIGINT AS ca,
         count(*)::BIGINT AS l
  FROM events WHERE event_type IN ('{_ST_A}', '{_ST_B}')
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
terms AS (
  SELECT ca, l, nn, {sums_sql['s1']} AS s1, {sums_sql['s23']} AS s23
  FROM (SELECT ca, l, nn, nb + 1 AS ra, nb + l AS rb FROM pref, tot)
),
sums AS (
  SELECT max(nn) AS nn, sum(ca)::BIGINT AS m, sum(l - ca)::BIGINT AS nb2,
         sum(cast(floor(1e6 * cast(ca AS DOUBLE) * cast(s1 AS DOUBLE)
             / cast(l AS DOUBLE) + 0.5) AS BIGINT))::BIGINT AS w_micro,
         sum(s1) AS suma,
         sum(s23) AS suma23
  FROM terms
)
SELECT m AS n_a, nb2 AS n_b, w_micro,
       cast(suma AS BIGINT) AS suma,
       cast(suma23 AS BIGINT) AS suma23,
       cast(floor(1e3 * {_ST_Z} + 0.5) AS BIGINT) AS z_milli,
       abs(cast(floor(1e3 * {_ST_Z} + 0.5) AS BIGINT)) > 1960 AS reject_05
FROM sums
"""


_ORACLE_ST = _oracle_st()


# --------------------------------------------------------------------------
# Quesenberry-Miller spacings statistic (X7 [EXT])
# --------------------------------------------------------------------------


def q_quesenberry_miller_spacings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] X7 Quesenberry & Miller (1977) spacings statistic on the
    minute-of-day circle: B = Σ D_i² + Σ D_i·D_{i+1} over the n
    circular spacings (D normalized so Σ D = 1) — the Greenwood sum
    plus the adjacent-product cross term, recommended over Greenwood
    for power. A cell's f-1 duplicate points are ZERO spacings, so
    every cross product touching one vanishes: the cross term survives
    only between consecutive occupied cells whose SUCCESSOR holds a
    single point. Exact integers: B·1440² = Σ gap² + Σ gap·gap_next·
    [f_next = 1]. Output one row: n, b_nano, n_b_micro (= n·B)."""
    e = _t(spark, sf_dir, "events")
    cells = barrier(
        e.select(
            F.expr(f"(unix_micros(ts) % {_DAY_US}) div 60000000").alias("mc")
        )
        .groupBy("mc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    ranked = exclusive_prefix_sum(
        cells.withColumn("one", F.lit(1).cast("bigint")), "mc", "one", out="r0"
    ).select("mc", "f", "r0")
    tot = ranked.agg(
        F.max("r0").cast("bigint").alias("rmax"),
        F.sum("f").cast("bigint").alias("n"),
    )
    # circular successor: r0+1, wrapping rmax -> 0
    nxt = ranked.crossJoin(F.broadcast(tot)).selectExpr(
        "if(r0 = 0, rmax, r0 - 1) AS r0",
        "mc AS mc_next",
        "f AS f_next",
        "n",
        "rmax",
    )
    gaps = (
        ranked.join(nxt, "r0")
        .selectExpr(
            "n",
            "r0",
            "f",
            "f_next",
            "pmod(mc_next - mc, 1440) + if(mc_next = mc, 1440, 0) AS gap",
        )
    )
    gaps = barrier(gaps)  # squared + cross passes
    nxt_gap = gaps.crossJoin(
        F.broadcast(gaps.agg(F.max("r0").cast("bigint").alias("rmax2")))
    ).selectExpr(
        "if(r0 = 0, rmax2, r0 - 1) AS r0",
        "gap AS gap_next",
    )
    red = (
        gaps.join(nxt_gap, "r0")
        .groupBy("n")
        .agg(
            F.sum(F.expr(f"{_DEC.format(x='gap')} * gap")).alias("sg2"),
            F.sum(
                F.expr(
                    f"if(f_next = 1, {_DEC.format(x='gap')} * gap_next,"
                    " cast(0 as decimal(38,0)))"
                )
            ).alias("sx"),
        )
    )
    b = "((cast(sg2 as double) + cast(sx as double)) / (1440.0 * 1440.0))"
    return red.selectExpr(
        "n",
        f"cast(floor(1e9 * {b} + 0.5) as bigint) AS b_nano",
        f"cast(floor(1e6 * cast(n as double) * {b} + 0.5) as bigint)"
        " AS n_b_micro",
    )


_ORACLE_QM = f"""
WITH cells AS (
  SELECT (epoch_us(ts) % {_DAY_US}) // 60000000 AS mc,
         count(*)::BIGINT AS f
  FROM events GROUP BY 1
),
ranked AS (
  SELECT mc, f, row_number() OVER (ORDER BY mc)::BIGINT - 1 AS r0
  FROM cells
),
tot AS (SELECT max(r0)::BIGINT AS rmax, sum(f)::BIGINT AS n FROM ranked),
gaps AS (
  SELECT n, a.r0, a.f, b.f AS f_next,
         CASE WHEN b.mc = a.mc THEN 1440
              ELSE ((b.mc - a.mc) % 1440 + 1440) % 1440 END AS gap
  FROM ranked a
  JOIN ranked b
    ON b.r0 = CASE WHEN a.r0 = (SELECT rmax FROM tot) THEN 0
                   ELSE a.r0 + 1 END, tot
),
red AS (
  SELECT a.n,
         sum(a.gap::HUGEINT * a.gap) AS sg2,
         sum(CASE WHEN a.f_next = 1 THEN a.gap::HUGEINT * b.gap
                  ELSE 0::HUGEINT END) AS sx
  FROM gaps a
  JOIN gaps b
    ON b.r0 = CASE WHEN a.r0 = (SELECT rmax FROM tot) THEN 0
                   ELSE a.r0 + 1 END
  GROUP BY 1
)
SELECT n,
       cast(floor(1e9 * ((cast(sg2 AS DOUBLE) + cast(sx AS DOUBLE))
         / (1440.0 * 1440.0)) + 0.5) AS BIGINT) AS b_nano,
       cast(floor(1e6 * cast(n AS DOUBLE)
         * ((cast(sg2 AS DOUBLE) + cast(sx AS DOUBLE))
            / (1440.0 * 1440.0)) + 0.5) AS BIGINT) AS n_b_micro
FROM red
"""


# --------------------------------------------------------------------------
# Dixon Q extremes screen (X7 [EXT])
# --------------------------------------------------------------------------


def q_dixon_q_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Dixon (1950) Q ratios for both extremes of the daily
    mean-value series: Q_low = (x₍₂₎-x₍₁₎)/(x₍ₙ₎-x₍₁₎),
    Q_high = (x₍ₙ₎-x₍ₙ₋₁₎)/(x₍ₙ₎-x₍₁₎) — the classic small-sample
    gap/range outlier screen (tabulated critical values; raw ratios
    reported). Duplicate extremes give Q = 0 by the order-statistic
    convention. Output one row: n_days, x1, x2, xn1, xn (micro),
    q_low_micro, q_high_micro."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("d"),
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
        )
        .groupBy("d")
        .agg(
            F.expr(
                "cast(floor(cast(sum(vm) as double) / count(1) + 0.5)"
                " as bigint)"
            ).alias("x")
        )
    )
    cells = daily.groupBy("x").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    pref = exclusive_prefix_sum(cells, "x", "f", out="nb")
    tot = pref.agg(F.max(F.expr("nb + f")).cast("bigint").alias("n"))
    red = pref.crossJoin(F.broadcast(tot)).groupBy("n").agg(
        F.min(F.expr("if(nb + f >= 1, x, null)")).cast("bigint").alias("x1"),
        F.min(F.expr("if(nb + f >= 2, x, null)")).cast("bigint").alias("x2"),
        F.max(F.expr("if(nb < n - 1, x, null)")).cast("bigint").alias("xn1"),
        F.max("x").cast("bigint").alias("xn"),
    )
    return red.selectExpr(
        "n AS n_days",
        "x1",
        "x2",
        "xn1",
        "xn",
        # Degenerate range (all daily means equal) => Q := 0 on BOTH
        # engines; unguarded x/0 yields null here but inf in DuckDB.
        "if(xn = x1, cast(0 as bigint),"
        " cast(floor(1e6 * cast(x2 - x1 as double) / cast(xn - x1 as double)"
        " + 0.5) as bigint)) AS q_low_micro",
        "if(xn = x1, cast(0 as bigint),"
        " cast(floor(1e6 * cast(xn - xn1 as double) / cast(xn - x1 as double)"
        " + 0.5) as bigint)) AS q_high_micro",
    )


_ORACLE_DIXON = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_DAY_US} AS d,
         cast(floor(cast(sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))
             AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS x
  FROM events GROUP BY 1
),
cells AS (SELECT x, count(*)::BIGINT AS f FROM daily GROUP BY 1),
pref AS (
  SELECT x, f,
         coalesce(sum(f) OVER (ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS nb
  FROM cells
),
tot AS (SELECT max(nb + f)::BIGINT AS n FROM pref),
red AS (
  SELECT n,
         min(CASE WHEN nb + f >= 1 THEN x END)::BIGINT AS x1,
         min(CASE WHEN nb + f >= 2 THEN x END)::BIGINT AS x2,
         max(CASE WHEN nb < n - 1 THEN x END)::BIGINT AS xn1,
         max(x)::BIGINT AS xn
  FROM pref, tot GROUP BY 1
)
SELECT n AS n_days, x1, x2, xn1, xn,
       CASE WHEN xn = x1 THEN 0
            ELSE cast(floor(1e6 * cast(x2 - x1 AS DOUBLE)
              / cast(xn - x1 AS DOUBLE) + 0.5) AS BIGINT)
       END AS q_low_micro,
       CASE WHEN xn = x1 THEN 0
            ELSE cast(floor(1e6 * cast(xn - xn1 AS DOUBLE)
              / cast(xn - x1 AS DOUBLE) + 0.5) AS BIGINT)
       END AS q_high_micro
FROM red
"""


# --------------------------------------------------------------------------
# Lorenz curve at population deciles (X7 [EXT])
# --------------------------------------------------------------------------


def q_lorenz_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Lorenz concentration curve of the event-value
    distribution at the population deciles: for k = 1..10,
    L(k) = Σ_{i ≤ r_k} x₍ᵢ₎ / Σ x with r_k = ⌈k·n/10⌉ (order-statistic
    convention, no interpolation BETWEEN observations; the partial tie
    run contributes exactly svb + vc·(r_k - nb)). Ten rows:
    k, rank_k, pop_share_micro, cum_value_share_micro — the curve the
    Gini index (gini_mean_difference) integrates."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(
            F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("vc")
        )
        .groupBy("vc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
        .withColumn("fv", F.expr(f"cast({_DEC.format(x='f')} * vc as bigint)"))
    )
    pref = exclusive_prefix_sum(cells, "vc", "f", out="nb")
    pref = exclusive_prefix_sum(pref, "vc", "fv", out="svb")
    tot = pref.agg(
        F.max(F.expr("nb + f")).cast("bigint").alias("n"),
        F.sum("fv").cast("bigint").alias("sv"),
    )
    dec = (
        pref.crossJoin(F.broadcast(tot))
        .selectExpr(
            "*", "explode(sequence(1, 10)) AS k"
        )
        .selectExpr(
            "k",
            "n",
            "sv",
            "nb",
            "f",
            "vc",
            "svb",
            "(k * n + 9) div 10 AS rk",
        )
        .filter(F.expr("nb < rk AND rk <= nb + f"))
    )
    return dec.selectExpr(
        "k",
        "rk AS rank_k",
        "cast(floor(1e6 * cast(rk as double) / cast(n as double) + 0.5)"
        " as bigint) AS pop_share_micro",
        f"cast(floor(1e6 * (cast(svb as double) + cast(vc as double)"
        " * cast(rk - nb as double)) / cast(sv as double) + 0.5)"
        " as bigint) AS cum_value_share_micro",
    ).orderBy("k")


_ORACLE_LORENZ = """
WITH cells AS (
  SELECT vc, f, f::HUGEINT * vc AS fv
  FROM (
    SELECT cast(floor(value * 100.0 + 0.5) AS BIGINT) AS vc,
           count(*)::BIGINT AS f
    FROM events GROUP BY 1
  )
),
pref AS (
  SELECT vc, f, fv,
         coalesce(sum(f) OVER (ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS nb,
         coalesce(sum(fv) OVER (ORDER BY vc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::HUGEINT
           AS svb
  FROM cells
),
tot AS (SELECT max(nb + f)::BIGINT AS n, sum(fv)::HUGEINT AS sv FROM pref),
dec AS (
  SELECT k, n, sv, nb, f, vc, svb, (k * n + 9) // 10 AS rk
  FROM pref, tot, generate_series(1, 10) s(k)
  WHERE nb < (k * n + 9) // 10 AND (k * n + 9) // 10 <= nb + f
)
SELECT k, rk AS rank_k,
       cast(floor(1e6 * cast(rk AS DOUBLE) / cast(n AS DOUBLE) + 0.5)
         AS BIGINT) AS pop_share_micro,
       cast(floor(1e6 * (cast(svb AS DOUBLE) + cast(vc AS DOUBLE)
         * cast(rk - nb AS DOUBLE)) / cast(sv AS DOUBLE) + 0.5)
         AS BIGINT) AS cum_value_share_micro
FROM dec
ORDER BY k
"""


REGISTRY_EXT159: dict[str, QuerySpec] = {
    "siegel_tukey_test": QuerySpec(
        q_siegel_tukey_test, _ORACLE_ST, "X7 [EXT] Siegel-Tukey"
    ),
    "quesenberry_miller_spacings": QuerySpec(
        q_quesenberry_miller_spacings, _ORACLE_QM, "X7 [EXT] Q-M spacings"
    ),
    "dixon_q_extremes": QuerySpec(
        q_dixon_q_extremes, _ORACLE_DIXON, "X7 [EXT] Dixon Q"
    ),
    "lorenz_value_deciles": QuerySpec(
        q_lorenz_value_deciles, _ORACLE_LORENZ, "X7 [EXT] Lorenz deciles"
    ),
}

q_siegel_tukey_test.__doc__ = q_siegel_tukey_test.__doc__.format(
    a=_ST_A, b=_ST_B
)
