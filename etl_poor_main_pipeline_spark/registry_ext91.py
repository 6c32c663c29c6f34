"""Operator registry, wave 92: curation-audit tier — cross-source
duplicate-leakage containment matrix, Simpson's-paradox aggregation-bias
screen, and Bradley-Terry pairwise-preference strengths (MM iterations).

Scale stances:
- Leakage matrix: doc fingerprints equi-join ON FINGERPRINT across
  sources; per-fingerprint fanout is bounded by n_sources^2 (a small
  enum squared), never corpus x corpus.
- Simpson screen: per-group and pooled OLS slopes from exact
  milli-quantized integer moment sums (decimal-staged per the overflow
  rule) — two grouped aggregates and a broadcast reduce.
- Bradley-Terry: the corpus pass is ONE bounded self-join (user-day
  keyed, per-key fanout = events per user-day) reduced to an
  item x item games table (item = event_type, a small enum); the MM
  iterations then run entirely on that tiny frame with every iterate
  snapped to the micro grid (the transcendental/division determinism
  rule) before feeding the next round.

Reference parity: none; [EXT] X7/X9 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# Cross-source duplicate leakage (X1/X7 [EXT])
# --------------------------------------------------------------------------


def q_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X1/X7 cross-source duplicate-leakage matrix: for each
    ORDERED source pair (a, b), the containment |FP_a intersect FP_b| /
    |FP_a| of exact text fingerprints — the audit that tells a curation
    pipeline which "independent" sources are actually re-crawls of each
    other (and in which direction: a mirror has high containment in its
    origin, not vice versa). The fingerprint is the md5 of the first 8
    lowercased tokens — the prefix shingle that catches re-crawls with
    per-source boilerplate tails (whole-text md5 finds zero cross-source
    dups on this corpus: a vacuous check). Fingerprints equi-join on the
    md5 key; fanout per fingerprint is bounded by the source enum
    squared. Pairs with zero overlap are omitted (the interesting rows
    are the leaks)."""
    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.expr(
            r"md5(concat_ws(' ', slice(filter(split(lower(text), '\\s+'),"
            r" t -> t <> ''), 1, 8)))"
        ).alias("fp"),
    ).distinct()
    per_src = d.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_fp"))
    a = d.selectExpr("source as src_a", "fp")
    b = d.selectExpr("source as src_b", "fp")
    shared = (
        a.join(b, "fp")
        .where(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(per_src.selectExpr("source as src_a", "n_fp as n_fp_a")),
            "src_a",
        )
        .selectExpr(
            "src_a",
            "src_b",
            "n_fp_a",
            "n_shared",
            "cast(floor(1e6 * cast(n_shared as double) / cast(n_fp_a as double)"
            " + 0.5) as bigint) as containment_micro",
        )
        .orderBy("src_a", "src_b")
    )


_ORACLE_LEAKAGE = r"""
WITH d AS (
  SELECT DISTINCT source,
         md5(array_to_string(list_filter(string_split_regex(lower(text), '\s+'),
             t -> t <> '')[1:8], ' ')) AS fp
  FROM documents
),
per_src AS (SELECT source, count(*)::BIGINT AS n_fp FROM d GROUP BY 1),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS n_shared
  FROM d a JOIN d b ON a.fp = b.fp AND a.source <> b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, p.n_fp AS n_fp_a, n_shared,
       cast(floor(1e6 * cast(n_shared AS double) / cast(p.n_fp AS double)
            + 0.5) AS bigint) AS containment_micro
FROM shared JOIN per_src p ON p.source = shared.src_a
ORDER BY src_a, src_b
"""


# --------------------------------------------------------------------------
# Simpson's-paradox aggregation-bias screen (X7 [EXT])
# --------------------------------------------------------------------------

_SIMPSON_SLOPE = (
    "(cast(n as double) * cast(sxy as double)"
    " - cast(sx as double) * cast(sy as double))"
    " / (cast(n as double) * cast(sxx as double)"
    " - cast(sx as double) * cast(sx as double))"
)


def q_simpsons_paradox_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Simpson's-paradox screen for the discount->revenue
    relationship grouped by return flag: the pooled OLS slope of
    net price on discount vs each group's slope, counting groups whose
    slope sign OPPOSES the pooled sign — the aggregation-bias audit
    that says whether a corpus-wide trend survives disaggregation (if
    most groups disagree with the pool, the pooled number is a mix
    artifact). Exact milli-quantized integer moments staged through
    decimal; slope arithmetic uses identical expression text in both
    engines. One row: pooled slope, group count, opposing-sign count,
    and the paradox flag (majority opposition)."""
    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag as grp",
        "cast(floor(1e3 * l_discount + 0.5) as bigint) as xk",
        "cast(floor(1e3 * l_extendedprice * (1.0 - l_discount) + 0.5) as bigint) as yk",
    )
    g = li.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("xk").cast("decimal(19,0)")).alias("sx"),
        F.sum(F.col("yk").cast("decimal(19,0)")).alias("sy"),
        F.sum((F.col("xk") * F.col("yk")).cast("decimal(19,0)")).alias("sxy"),
        F.sum((F.col("xk") * F.col("xk")).cast("decimal(19,0)")).alias("sxx"),
    )
    slopes = g.selectExpr("grp", f"{_SIMPSON_SLOPE} as slope")
    pooled = g.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxy").alias("sxy"),
        F.sum("sxx").alias("sxx"),
    ).selectExpr(f"{_SIMPSON_SLOPE} as pooled_slope")
    return (
        slopes.crossJoin(F.broadcast(pooled))
        .agg(
            F.floor(F.lit(1e6) * F.first("pooled_slope") + F.lit(0.5))
            .cast("bigint")
            .alias("pooled_slope_micro"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum(
                F.when(
                    F.signum(F.col("slope")) * F.signum(F.col("pooled_slope")) < 0, 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_opposing"),
        )
        .selectExpr(
            "pooled_slope_micro",
            "n_groups",
            "n_opposing",
            "n_opposing * 2 > n_groups as paradox",
        )
    )


_ORACLE_SIMPSON = f"""
WITH li AS (
  SELECT l_returnflag AS grp,
         cast(floor(1e3 * l_discount + 0.5) AS bigint) AS xk,
         cast(floor(1e3 * l_extendedprice * (1.0 - l_discount) + 0.5) AS bigint) AS yk
  FROM lineitem
),
g AS (
  SELECT grp, count(*)::BIGINT AS n,
         sum(xk::HUGEINT) AS sx, sum(yk::HUGEINT) AS sy,
         sum(xk::HUGEINT * yk) AS sxy, sum(xk::HUGEINT * xk) AS sxx
  FROM li GROUP BY 1
),
slopes AS (SELECT grp, {_SIMPSON_SLOPE} AS slope FROM g),
pooled AS (
  SELECT {_SIMPSON_SLOPE} AS pooled_slope FROM (
    SELECT sum(n)::BIGINT AS n, sum(sx) AS sx, sum(sy) AS sy,
           sum(sxy) AS sxy, sum(sxx) AS sxx
    FROM g
  )
)
SELECT cast(floor(1e6 * any_value(pooled_slope) + 0.5) AS bigint) AS pooled_slope_micro,
       count(*)::BIGINT AS n_groups,
       sum(CASE WHEN sign(slope) * sign(pooled_slope) < 0 THEN 1 ELSE 0 END)::BIGINT
         AS n_opposing,
       sum(CASE WHEN sign(slope) * sign(pooled_slope) < 0 THEN 1 ELSE 0 END) * 2
         > count(*) AS paradox
FROM slopes CROSS JOIN pooled
"""


# --------------------------------------------------------------------------
# Bradley-Terry pairwise-preference strengths (X7/X9 [EXT])
# --------------------------------------------------------------------------

_BT_ITERS = 3


def q_bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X9 Bradley-Terry strengths from implicit pairwise
    preferences — the model pairwise human-preference data (RLHF
    comparisons, search interleaving) is fit with: each (user, day)
    with two different event types forms a comparison won by the
    higher milli-value (ties dropped); {it} MM iterations of
    w_i <- W_i / sum_j n_ij / (w_i + w_j) from w=1, each iterate
    snapped to the micro grid before the next round (cross-engine
    determinism rule). The corpus pass is one user-day-keyed bounded
    self-join reduced to an item x item games table (items = the
    event-type enum); iterations run on that tiny frame. Output per
    item: games, wins, and the final strength normalized to sum 1e6
    over items."""
    e = _t(spark, sf_dir, "events").selectExpr(
        "user_id",
        "unix_micros(ts) div 86400000000 as day",
        "event_type",
        "cast(floor(1e3 * value + 0.5) as bigint) as vk",
    )
    # best observation per (user, day, type): max milli-value
    obs = e.groupBy("user_id", "day", "event_type").agg(F.max("vk").alias("vk"))
    a = obs.selectExpr("user_id", "day", "event_type as ia", "vk as va")
    b = obs.selectExpr("user_id", "day", "event_type as ib", "vk as vb")
    games = barrier(
        a.join(b, ["user_id", "day"])
        .where(F.col("ia") < F.col("ib"))
        .where(F.col("va") != F.col("vb"))  # ties carry no BT information
        .groupBy("ia", "ib")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_games"),
            F.sum(F.when(F.col("va") > F.col("vb"), 1).otherwise(0))
            .cast("bigint")
            .alias("wins_a"),
        )
    )
    # symmetric per-item view: games and wins per (item, opponent)
    sym = games.selectExpr(
        "ia as i", "ib as j", "n_games", "wins_a as wins"
    ).unionAll(
        games.selectExpr("ib as i", "ia as j", "n_games", "n_games - wins_a as wins")
    )
    items = sym.groupBy("i").agg(
        F.sum("n_games").cast("bigint").alias("games"),
        F.sum("wins").cast("bigint").alias("wins"),
    )
    w = items.select("i", F.lit(1.0).alias("w"))
    for _ in range(_BT_ITERS):
        denom = (
            sym.join(w.selectExpr("i", "w as wi"), "i")
            .join(w.selectExpr("i as j", "w as wj"), "j")
            .groupBy("i")
            .agg(
                F.sum(
                    (
                        F.col("n_games").cast("double")
                        / (F.col("wi") + F.col("wj"))
                    ).cast("decimal(38,16)")
                ).alias("d")
            )
        )
        w = (
            items.join(denom, "i")
            .selectExpr(
                "i",
                # micro-snap each iterate: floor(1e6*x+0.5)/1e6 in both engines
                "floor(1e6 * (cast(wins as double) / cast(d as double)) + 0.5)"
                " / 1e6 as w",
            )
        )
    tot = w.agg(F.sum(F.col("w").cast("decimal(38,16)")).alias("tw"))
    return (
        items.join(w, "i")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "i as event_type",
            "games",
            "wins",
            "cast(floor(1e6 * w / cast(tw as double) + 0.5) as bigint)"
            " as strength_micro",
        )
        .orderBy("event_type")
    )


def _bt_oracle() -> str:
    parts = [
        """WITH e AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day, event_type,
         cast(floor(1e3 * value + 0.5) AS bigint) AS vk
  FROM events
),
obs AS (
  SELECT user_id, day, event_type, max(vk) AS vk FROM e GROUP BY 1, 2, 3
),
games AS (
  SELECT a.event_type AS ia, b.event_type AS ib,
         count(*)::BIGINT AS n_games,
         sum(CASE WHEN a.vk > b.vk THEN 1 ELSE 0 END)::BIGINT AS wins_a
  FROM obs a JOIN obs b
    ON a.user_id = b.user_id AND a.day = b.day
   AND a.event_type < b.event_type AND a.vk <> b.vk
  GROUP BY 1, 2
),
sym AS (
  SELECT ia AS i, ib AS j, n_games, wins_a AS wins FROM games
  UNION ALL
  SELECT ib AS i, ia AS j, n_games, n_games - wins_a AS wins FROM games
),
items AS (
  SELECT i, sum(n_games)::BIGINT AS games, sum(wins)::BIGINT AS wins
  FROM sym GROUP BY 1
),
w0 AS (SELECT i, 1.0::DOUBLE AS w FROM items)"""
    ]
    prev = "w0"
    for it in range(1, _BT_ITERS + 1):
        parts.append(
            f""",
d{it} AS (
  SELECT sym.i,
         sum(cast(cast(n_games AS double) / (wi.w + wj.w) AS decimal(38,16))) AS d
  FROM sym
  JOIN {prev} wi ON wi.i = sym.i
  JOIN {prev} wj ON wj.i = sym.j
  GROUP BY 1
),
w{it} AS (
  SELECT items.i,
         floor(1e6 * (cast(wins AS double) / cast(d AS double)) + 0.5) / 1e6 AS w
  FROM items JOIN d{it} USING (i)
)"""
        )
        prev = f"w{it}"
    parts.append(
        f""",
tot AS (SELECT sum(cast(w AS decimal(38,16))) AS tw FROM {prev})
SELECT items.i AS event_type, games, wins,
       cast(floor(1e6 * w / cast(tw AS double) + 0.5) AS bigint) AS strength_micro
FROM items JOIN {prev} USING (i) CROSS JOIN tot
ORDER BY event_type"""
    )
    return "".join(parts)


REGISTRY_EXT91: dict[str, QuerySpec] = {
    "cross_source_leakage": QuerySpec(
        q_cross_source_leakage, _ORACLE_LEAKAGE, "X1/X7 [EXT] dup leakage matrix"
    ),
    "simpsons_paradox_screen": QuerySpec(
        q_simpsons_paradox_screen, _ORACLE_SIMPSON, "X7 [EXT] aggregation-bias screen"
    ),
    "bradley_terry_strengths": QuerySpec(
        q_bradley_terry_strengths, _bt_oracle(), "X7/X9 [EXT] pairwise preference MM"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_bradley_terry_strengths.__doc__ = q_bradley_terry_strengths.__doc__.format(it=_BT_ITERS)  # noqa: E501
