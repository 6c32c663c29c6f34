"""Operator registry, wave 81: EXACT rank statistics via value-cell
reduction — the scale-safe exemplar for pairwise-exact statistics that
VERDICT r4 asked for (What's wrong #4 named the sampled Kendall tau as the
minimal fix; this wave ships the exact full-corpus computation next to it).

Scale stances (shared by all three queries):
- The corpus NEVER self-joins. Docs reduce to cells keyed by the VALUE
  pair (lang, n_chars, token_count) with a count — one hash aggregate.
  Cell cardinality is bounded by the value domains (|X| x |Y| per lang,
  length-like features with bounded ranges), NOT by corpus rows: at 100 TB
  the cell frame is the same few thousand rows it is at sf0.1, and every
  pairwise quantity is a product of cell counts.
- The cell pair join is EQUI-keyed on lang (SortMergeJoin; the triangular
  (sx, sy) condition is a post-filter), so the quadratic-join plan guard
  (tests/test_plan_guards.py) stays clean by construction.
- Spearman needs no pair join at all: average ranks of tied values come
  from a partitioned cumulative over the per-axis value cells, and the
  correlation is one exact-integer moment aggregate over the docs.
  Rank moments use decimal(38,0) sums (rank^2 terms reach 4n^3, past
  bigint at ~10^9 rows; DuckDB's HUGEINT widens the same way).

Every count is an exact bigint product; the only doubles are final
correctly-rounded divisions/sqrts of identical integers, so both engines
land on identical micro values.

Reference parity: none (no stats surface in the reference); [EXT] X6/X7
tier per BASELINE.json. Sampled sibling: kendall_tau_rankings
(registry_ext71.py) keeps the count-bounded-sample idiom for UNBOUNDED
value domains, where the cell reduction stops helping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_TOKCOUNT = "cast(size(filter(split(lower(text), '\\\\s+'), t -> t <> '')) as bigint)"
_TOKCOUNT_DUCK = (
    "len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''))::BIGINT"
)


def _doc_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, sx=n_chars, sy=token count) per doc — the two orderings every
    query in this wave compares."""
    return _t(spark, sf_dir, "documents").selectExpr(
        "lang", "cast(n_chars as bigint) as sx", f"{_TOKCOUNT} as sy"
    )


def _concordance_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang concordant/discordant/tie pair counts, exact over the WHOLE
    corpus, from the cell reduction: same-cell pairs are joint ties
    (C(cnt,2)); cross-cell pairs contribute cnt_a*cnt_b to exactly one
    bucket by the sign pattern of (dx, dy). The triangular condition
    (sx, sy) < (sx', sy') lexicographic counts each unordered cell pair
    once."""
    # the cell frame feeds three consumers (same-cell aggregate + both
    # triangular sides); it is domain-bounded, so materializing it once
    # is O(|X|*|Y|) at ANY corpus size — the corpus itself is scanned
    # exactly once
    cells = barrier(
        _doc_values(spark, sf_dir)
        .groupBy("lang", "sx", "sy")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    same = cells.groupBy("lang").agg(
        F.sum("cnt").cast("bigint").alias("n_docs"),
        (F.sum(F.col("cnt") * (F.col("cnt") - 1)) / 2).cast("bigint").alias("t_same"),
    )
    a, b = cells.alias("a"), cells.alias("b")
    cross = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (
                (F.col("a.sx") < F.col("b.sx"))
                | ((F.col("a.sx") == F.col("b.sx")) & (F.col("a.sy") < F.col("b.sy")))
            ),
        )
        .select(
            F.col("a.lang").alias("lang"),
            (F.col("a.cnt") * F.col("b.cnt")).alias("w"),
            (F.col("a.sx") - F.col("b.sx")).alias("dx"),
            (F.col("a.sy") - F.col("b.sy")).alias("dy"),
        )
        .groupBy("lang")
        .agg(
            F.sum(F.when(F.col("dx") == 0, F.col("w")).otherwise(0))
            .cast("bigint")
            .alias("tx_cross"),
            F.sum(F.when((F.col("dx") != 0) & (F.col("dy") == 0), F.col("w")).otherwise(0))
            .cast("bigint")
            .alias("ty_cross"),
            F.sum(
                F.when(
                    (F.col("dx") != 0) & (F.col("dy") != 0) & (F.col("dx") * F.col("dy") > 0),
                    F.col("w"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("concordant"),
            F.sum(
                F.when(
                    (F.col("dx") != 0) & (F.col("dy") != 0) & (F.col("dx") * F.col("dy") < 0),
                    F.col("w"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("discordant"),
        )
    )
    return (
        same.join(cross, "lang", "left")
        .select(
            "lang",
            "n_docs",
            (F.col("n_docs") * (F.col("n_docs") - 1) / 2).cast("bigint").alias("n_pairs"),
            F.coalesce("concordant", F.lit(0)).cast("bigint").alias("concordant"),
            F.coalesce("discordant", F.lit(0)).cast("bigint").alias("discordant"),
            (F.coalesce("tx_cross", F.lit(0)) + F.col("t_same"))
            .cast("bigint")
            .alias("ties_x"),
            (F.coalesce("ty_cross", F.lit(0)) + F.col("t_same"))
            .cast("bigint")
            .alias("ties_y"),
            F.col("t_same").cast("bigint").alias("ties_xy"),
        )
    )


# Shared oracle CTE: the same cell reduction in DuckDB.
_ORACLE_CELLS_CTE = f"""
WITH d AS (
  SELECT lang, n_chars::BIGINT AS sx, {_TOKCOUNT_DUCK} AS sy FROM documents
),
cells AS (
  SELECT lang, sx, sy, count(*)::BIGINT AS cnt FROM d GROUP BY 1, 2, 3
),
same AS (
  SELECT lang, sum(cnt)::BIGINT AS n_docs,
         (sum(cnt * (cnt - 1)) / 2)::BIGINT AS t_same
  FROM cells GROUP BY lang
),
cross_p AS (
  SELECT a.lang,
         sum(CASE WHEN a.sx = b.sx THEN a.cnt * b.cnt ELSE 0 END)::BIGINT AS tx_cross,
         sum(CASE WHEN a.sx <> b.sx AND a.sy = b.sy THEN a.cnt * b.cnt ELSE 0 END)::BIGINT AS ty_cross,
         sum(CASE WHEN a.sx <> b.sx AND a.sy <> b.sy
                   AND (a.sx - b.sx) * (a.sy - b.sy) > 0
                  THEN a.cnt * b.cnt ELSE 0 END)::BIGINT AS concordant,
         sum(CASE WHEN a.sx <> b.sx AND a.sy <> b.sy
                   AND (a.sx - b.sx) * (a.sy - b.sy) < 0
                  THEN a.cnt * b.cnt ELSE 0 END)::BIGINT AS discordant
  FROM cells a JOIN cells b
    ON a.lang = b.lang
   AND (a.sx < b.sx OR (a.sx = b.sx AND a.sy < b.sy))
  GROUP BY a.lang
),
conc AS (
  SELECT s.lang, s.n_docs,
         (s.n_docs * (s.n_docs - 1) / 2)::BIGINT AS n_pairs,
         coalesce(c.concordant, 0)::BIGINT AS concordant,
         coalesce(c.discordant, 0)::BIGINT AS discordant,
         (coalesce(c.tx_cross, 0) + s.t_same)::BIGINT AS ties_x,
         (coalesce(c.ty_cross, 0) + s.t_same)::BIGINT AS ties_y,
         s.t_same::BIGINT AS ties_xy
  FROM same s LEFT JOIN cross_p c USING (lang)
)
"""


# --------------------------------------------------------------------------
# Exact Kendall tau-b (X6/X7 [EXT])
# --------------------------------------------------------------------------


def q_kendall_tau_exact_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6/X7 EXACT full-corpus Kendall tau-b between the n_chars
    and token-count orderings per lang — no sampling: the corpus
    reduces to (lang, sx, sy) value cells and every pair count is a
    product of cell counts (module docstring has the 100 TB argument;
    kendall_tau_rankings is the count-bounded-sample sibling for
    unbounded domains). tau-b = (C - D)/sqrt((n0 - tx)(n0 - ty)),
    every term an exact bigint."""
    g = _concordance_cells(spark, sf_dir)
    tau = (F.col("concordant") - F.col("discordant")).cast("double") / F.sqrt(
        (F.col("n_pairs") - F.col("ties_x")).cast("double")
        * (F.col("n_pairs") - F.col("ties_y")).cast("double")
    )
    return g.select(
        "lang",
        "n_docs",
        "n_pairs",
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        "ties_xy",
        F.floor(tau * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("tau_b_micro"),
    ).orderBy("lang")


_ORACLE_TAU_EXACT = (
    _ORACLE_CELLS_CTE
    + """
SELECT lang, n_docs, n_pairs, concordant, discordant, ties_x, ties_y, ties_xy,
       cast(floor(cast(concordant - discordant AS double)
                  / sqrt(cast(n_pairs - ties_x AS double)
                         * cast(n_pairs - ties_y AS double))
                  * 1000000.0 + 0.5) AS bigint) AS tau_b_micro
FROM conc ORDER BY lang
"""
)


# --------------------------------------------------------------------------
# Somers' D + Goodman-Kruskal gamma (X6/X7 [EXT])
# --------------------------------------------------------------------------


def q_somers_d_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6/X7 the other two concordance measures from the same
    exact cell machinery: Goodman-Kruskal gamma = (C-D)/(C+D) (ignores
    all ties) and Somers' D with sy as the dependent axis,
    D_yx = (C-D)/(n0 - tx) — the measure behind AUC-style rank
    agreement (D_yx = 2*AUC - 1 for binary y). Same bounded cell frame
    as kendall_tau_exact_cells; zero extra passes over the corpus."""
    g = _concordance_cells(spark, sf_dir)
    cd = (F.col("concordant") - F.col("discordant")).cast("double")
    return g.select(
        "lang",
        "n_docs",
        "concordant",
        "discordant",
        F.floor(cd / (F.col("concordant") + F.col("discordant")).cast("double") * F.lit(1e6) + F.lit(0.5))
        .cast("bigint")
        .alias("gamma_micro"),
        F.floor(cd / (F.col("n_pairs") - F.col("ties_x")).cast("double") * F.lit(1e6) + F.lit(0.5))
        .cast("bigint")
        .alias("somers_d_yx_micro"),
    ).orderBy("lang")


_ORACLE_SOMERS = (
    _ORACLE_CELLS_CTE
    + """
SELECT lang, n_docs, concordant, discordant,
       cast(floor(cast(concordant - discordant AS double)
                  / cast(concordant + discordant AS double) * 1000000.0 + 0.5)
            AS bigint) AS gamma_micro,
       cast(floor(cast(concordant - discordant AS double)
                  / cast(n_pairs - ties_x AS double) * 1000000.0 + 0.5)
            AS bigint) AS somers_d_yx_micro
FROM conc ORDER BY lang
"""
)


# --------------------------------------------------------------------------
# Exact Spearman rho with tie-averaged ranks (X6/X7 [EXT])
# --------------------------------------------------------------------------


def q_spearman_rho_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6/X7 EXACT Spearman rho per lang with proper average
    ranks for ties, no pair join and no global window: per-axis value
    cells get DOUBLED average ranks R2(v) = 2*(# smaller) + cnt + 1
    (integers; the factor 2 cancels in the correlation) via a
    cumulative over the per-lang value cells — a window PARTITIONED by
    lang whose frame is the bounded cell list, not the corpus. Docs
    join their two ranks through broadcasts of those bounded cell
    maps, and rho is Pearson on the exact-integer rank pairs: moments
    sum in decimal(38,0) (rank^2 terms pass bigint near 10^9 rows),
    the final fold two correctly-rounded double ops."""
    d = _doc_values(spark, sf_dir)

    def rank_map(col: str) -> DataFrame:
        cells = d.groupBy("lang", col).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        w = (
            Window.partitionBy("lang")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return cells.select(
            "lang",
            F.col(col),
            (
                2 * F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c") + 1
            ).cast("bigint").alias(f"r2_{col}"),
        )
    ranked = d.join(F.broadcast(rank_map("sx")), ["lang", "sx"]).join(
        F.broadcast(rank_map("sy")), ["lang", "sy"]
    )
    dec = "decimal(38,0)"
    m = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("r2_sx").cast(dec)).alias("sx_"),
        F.sum(F.col("r2_sy").cast(dec)).alias("sy_"),
        F.sum((F.col("r2_sx") * F.col("r2_sx")).cast(dec)).alias("sxx"),
        F.sum((F.col("r2_sy") * F.col("r2_sy")).cast(dec)).alias("syy"),
        F.sum((F.col("r2_sx") * F.col("r2_sy")).cast(dec)).alias("sxy"),
    )
    num = (F.col("n").cast(dec) * F.col("sxy") - F.col("sx_") * F.col("sy_")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n").cast(dec) * F.col("sxx") - F.col("sx_") * F.col("sx_")).cast("double")
    ) * F.sqrt(
        (F.col("n").cast(dec) * F.col("syy") - F.col("sy_") * F.col("sy_")).cast("double")
    )
    return m.select(
        "lang",
        "n",
        F.floor(num / den * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("rho_micro"),
    ).orderBy("lang")


_ORACLE_SPEARMAN = f"""
WITH d AS (
  SELECT lang, n_chars::BIGINT AS sx, {_TOKCOUNT_DUCK} AS sy FROM documents
),
cx AS (
  SELECT lang, sx, count(*)::BIGINT AS c FROM d GROUP BY 1, 2
),
rx AS (
  SELECT lang, sx,
         (2 * coalesce(sum(c) OVER (PARTITION BY lang ORDER BY sx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + c + 1)::BIGINT AS r2_sx
  FROM cx
),
cy AS (
  SELECT lang, sy, count(*)::BIGINT AS c FROM d GROUP BY 1, 2
),
ry AS (
  SELECT lang, sy,
         (2 * coalesce(sum(c) OVER (PARTITION BY lang ORDER BY sy
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + c + 1)::BIGINT AS r2_sy
  FROM cy
),
ranked AS (
  SELECT d.lang, r2_sx, r2_sy
  FROM d JOIN rx USING (lang, sx) JOIN ry USING (lang, sy)
),
m AS (
  SELECT lang, count(*)::BIGINT AS n,
         sum(r2_sx::DECIMAL(38,0)) AS sx_, sum(r2_sy::DECIMAL(38,0)) AS sy_,
         sum((r2_sx * r2_sx)::DECIMAL(38,0)) AS sxx,
         sum((r2_sy * r2_sy)::DECIMAL(38,0)) AS syy,
         sum((r2_sx * r2_sy)::DECIMAL(38,0)) AS sxy
  FROM ranked GROUP BY lang
)
SELECT lang, n,
       cast(floor(cast(n::DECIMAL(38,0) * sxy - sx_ * sy_ AS double)
                  / (sqrt(cast(n::DECIMAL(38,0) * sxx - sx_ * sx_ AS double))
                     * sqrt(cast(n::DECIMAL(38,0) * syy - sy_ * sy_ AS double)))
                  * 1000000.0 + 0.5) AS bigint) AS rho_micro
FROM m ORDER BY lang
"""


REGISTRY_EXT80: dict[str, QuerySpec] = {
    "kendall_tau_exact_cells": QuerySpec(
        q_kendall_tau_exact_cells, _ORACLE_TAU_EXACT, "X6/X7 [EXT] exact tau-b, cell-reduced"
    ),
    "somers_d_cells": QuerySpec(
        q_somers_d_cells, _ORACLE_SOMERS, "X6/X7 [EXT] gamma + Somers' D"
    ),
    "spearman_rho_exact": QuerySpec(
        q_spearman_rho_exact, _ORACLE_SPEARMAN, "X6/X7 [EXT] exact tie-averaged Spearman"
    ),
}
