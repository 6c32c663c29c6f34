"""Operator registry, wave 76: record linkage, collaborative
filtering, and causal-inference estimation.

Scale stances:
- Fellegi-Sunter: candidate pairs form inside nation BLOCKS only
  (never all-pairs); agreement-pattern m/u probabilities and the
  decision table are exact-count aggregates over the blocked pairs;
  log-likelihood weights fold in double from identical ints.
- Item-item CF: co-occurrence counts shuffle on basket id (order),
  pair generation is bounded by basket size; cosine folds from exact
  co-occurrence / marginal counts and top-k uses item-partitioned
  windows only.
- DiD: one conditional four-cell aggregate over exact micro moments
  against a broadcast 1-row midpoint — the canonical 2x2
  difference-in-differences with a pooled-variance t statistic.

Reference parity: none; [EXT] X7/X9 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .operators.dedup import spread
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record linkage (X9 [EXT])
# --------------------------------------------------------------------------

# deterministic "second source" perturbations (simulating a sibling CRM):
#   custkey % 3 == 0  -> acctbal rounded to nearest 100
#   custkey % 5 == 0  -> mktsegment lost (NULL)
#   custkey % 11 == 0 -> nationkey off by one (blocks the true match out)
_FS_LLR_MATCH = 2.0  # natural-log LLR thresholds
_FS_LLR_NONMATCH = -2.0


def _fs_source_b_exprs(dialect: str) -> list[str]:
    return [
        "c_custkey AS b_key",
        "c_name AS b_name",
        "CASE WHEN c_custkey % 11 = 0 THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS b_nation",
        "CASE WHEN c_custkey % 3 = 0 THEN floor(c_acctbal / 100.0 + 0.5) * 100.0 ELSE c_acctbal END AS b_bal",
        "CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS b_seg",
    ]


def q_fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 Fellegi-Sunter probabilistic record linkage: source A
    is the customer table; source B is a deterministic perturbation of
    it (rounded balances, lost segments, shifted nations — the sibling
    CRM scenario). Candidate pairs form ONLY inside nation blocks;
    each pair gets a 3-bit agreement pattern (balance within 1.0,
    segment equal, name equal). m/u probabilities per comparator are
    measured EXACTLY against ground truth (same custkey) and the
    output is the Fellegi-Sunter decision table: one row per
    agreement pattern with exact pair counts, match purity, the
    summed log-likelihood ratio, and the match / possible / non-match
    classification at ln-LLR thresholds (+{t}/-{nt}). Blocked
    quadratic + exact-count aggregates — the 100 TB linkage
    shape."""
    c = _t(spark, sf_dir, "customer")
    # ~9M nation-blocked pair comparisons ride the probe side; spread the
    # one-split scan across cores (no-op at scale)
    a = spread(c).selectExpr(
        "c_custkey AS a_key",
        "c_name AS a_name",
        "c_nationkey AS a_nation",
        "c_acctbal AS a_bal",
        "c_mktsegment AS a_seg",
    )
    b = c.selectExpr(*_fs_source_b_exprs("spark"))
    pairs = a.join(b, F.col("a_nation") == F.col("b_nation")).selectExpr(
        "cast(a_key = b_key as boolean) AS is_true",
        "cast(abs(a_bal - b_bal) <= 1.0 as boolean) AS ag_bal",
        "cast(coalesce(a_seg = b_seg, false) as boolean) AS ag_seg",
        "cast(a_name = b_name as boolean) AS ag_name",
    )
    pat = barrier(  # feeds the decision rows AND m/u
        pairs.groupBy("ag_bal", "ag_seg", "ag_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("is_true"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_true"),
        )
    )
    # comparator m/u over the full candidate population: EXACT sums over
    # the <=8-row pattern table (every pair lands in exactly one pattern
    # cell, so summing n_true / n_pairs-n_true per comparator flag equals
    # the full-population conditional counts) — this removes the second
    # ~9M-pair evaluation of the block join the old two-aggregate plan
    # paid; integers identical by construction.
    mu = pat.agg(
        F.sum("n_true").cast("bigint").alias("nm"),
        F.sum(F.col("n_pairs") - F.col("n_true")).cast("bigint").alias("nu"),
        *[
            x
            for f in ("ag_bal", "ag_seg", "ag_name")
            for x in (
                F.sum(F.when(F.col(f), F.col("n_true")).otherwise(0))
                .cast("bigint")
                .alias(f"m_{f}"),
                F.sum(
                    F.when(F.col(f), F.col("n_pairs") - F.col("n_true")).otherwise(0)
                )
                .cast("bigint")
                .alias(f"u_{f}"),
            )
        ],
    )
    j = pat.crossJoin(F.broadcast(mu))
    llr_terms = []
    for f in ("ag_bal", "ag_seg", "ag_name"):
        # clamp away degenerate 0/1 rates (a comparator that always or
        # never agrees among matches would otherwise yield +-inf weights)
        m = F.least(
            F.greatest(F.col(f"m_{f}").cast("double") / F.col("nm").cast("double"), F.lit(1e-6)),
            F.lit(0.999999),
        )
        u = F.least(
            F.greatest(F.col(f"u_{f}").cast("double") / F.col("nu").cast("double"), F.lit(1e-6)),
            F.lit(0.999999),
        )
        llr_terms.append(
            F.when(F.col(f), F.log(m / u)).otherwise(
                F.log((1.0 - m) / (1.0 - u))
            )
        )
    llr = llr_terms[0] + llr_terms[1] + llr_terms[2]
    return j.select(
        "ag_bal",
        "ag_seg",
        "ag_name",
        "n_pairs",
        "n_true",
        F.floor(llr * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("llr_micro"),
        F.when(llr >= _FS_LLR_MATCH, F.lit("match"))
        .when(llr <= _FS_LLR_NONMATCH, F.lit("non_match"))
        .otherwise(F.lit("possible"))
        .alias("decision"),
    ).orderBy(F.desc("llr_micro"))


def _oracle_fs() -> str:
    b_exprs = ", ".join(_fs_source_b_exprs("duck"))
    llr_terms = []
    for f in ("ag_bal", "ag_seg", "ag_name"):
        m = f"least(greatest(cast(m_{f} AS double) / cast(nm AS double), 1e-6), 0.999999)"
        u = f"least(greatest(cast(u_{f} AS double) / cast(nu AS double), 1e-6), 0.999999)"
        llr_terms.append(
            f"CASE WHEN {f} THEN ln({m} / {u}) ELSE ln((1.0 - {m}) / (1.0 - {u})) END"
        )
    llr = " + ".join(llr_terms)
    return f"""
WITH a AS (
  SELECT c_custkey AS a_key, c_name AS a_name, c_nationkey AS a_nation,
         c_acctbal AS a_bal, c_mktsegment AS a_seg
  FROM customer
),
b AS (SELECT {b_exprs} FROM customer),
pairs AS (
  SELECT a_key = b_key AS is_true,
         abs(a_bal - b_bal) <= 1.0 AS ag_bal,
         coalesce(a_seg = b_seg, false) AS ag_seg,
         a_name = b_name AS ag_name
  FROM a JOIN b ON a_nation = b_nation
),
pat AS (
  SELECT ag_bal, ag_seg, ag_name, count(*)::BIGINT AS n_pairs,
         sum(CASE WHEN is_true THEN 1 ELSE 0 END)::BIGINT AS n_true
  FROM pairs GROUP BY 1, 2, 3
),
mu AS (
  SELECT sum(CASE WHEN is_true THEN 1 ELSE 0 END)::BIGINT AS nm,
         sum(CASE WHEN NOT is_true THEN 1 ELSE 0 END)::BIGINT AS nu,
         sum(CASE WHEN is_true AND ag_bal THEN 1 ELSE 0 END)::BIGINT AS m_ag_bal,
         sum(CASE WHEN NOT is_true AND ag_bal THEN 1 ELSE 0 END)::BIGINT AS u_ag_bal,
         sum(CASE WHEN is_true AND ag_seg THEN 1 ELSE 0 END)::BIGINT AS m_ag_seg,
         sum(CASE WHEN NOT is_true AND ag_seg THEN 1 ELSE 0 END)::BIGINT AS u_ag_seg,
         sum(CASE WHEN is_true AND ag_name THEN 1 ELSE 0 END)::BIGINT AS m_ag_name,
         sum(CASE WHEN NOT is_true AND ag_name THEN 1 ELSE 0 END)::BIGINT AS u_ag_name
  FROM pairs
)
SELECT ag_bal, ag_seg, ag_name, n_pairs, n_true,
       cast(floor(({llr}) * 1000000.0 + 0.5) AS bigint) AS llr_micro,
       CASE WHEN ({llr}) >= {_FS_LLR_MATCH} THEN 'match'
            WHEN ({llr}) <= {_FS_LLR_NONMATCH} THEN 'non_match'
            ELSE 'possible' END AS decision
FROM pat CROSS JOIN mu
ORDER BY llr_micro DESC
"""


# --------------------------------------------------------------------------
# Item-item collaborative filtering (X3/X9 [EXT])
# --------------------------------------------------------------------------

_CF_TOPK = 5
_CF_MIN_CO = 2


def q_itemcf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X3/X9 item-item collaborative filtering: baskets are
    orders (distinct parts per l_orderkey); item-pair co-occurrence
    counts come from a basket-keyed self-join (bounded by basket
    size, shuffles on the basket key only); cosine similarity =
    co / sqrt(n_a * n_b) over exact bigint counts; each item reports
    its top-{k} neighbors (min co-occurrence {m}, cosine micro,
    neighbor-id tie-break) via an item-PARTITIONED window. The
    classic "customers also bought" batch job."""
    # three consumers (item counts + both self-join sides): checkpoint
    # so the distinct shuffle runs once, not three times
    li = barrier(
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    item_n = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    a = li.selectExpr("l_orderkey", "l_partkey as pa")
    b = li.selectExpr("l_orderkey", "l_partkey as pb")
    co = (
        a.join(b, "l_orderkey")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
        .where(F.col("co") >= _CF_MIN_CO)
    )
    sym = co.unionAll(
        co.selectExpr("pb as pa", "pa as pb", "co")
    )
    scored = (
        sym.join(F.broadcast(item_n.selectExpr("l_partkey as pa", "n_orders as na")), "pa")
        .join(F.broadcast(item_n.selectExpr("l_partkey as pb", "n_orders as nb")), "pb")
        .select(
            "pa",
            "pb",
            "co",
            F.floor(
                F.col("co").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
                * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("cos_micro"),
        )
    )
    w = Window.partitionBy("pa").orderBy(F.desc("cos_micro"), F.asc("pb"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _CF_TOPK)
        .select("pa", F.col("rk").cast("bigint").alias("rk"), "pb", "co", "cos_micro")
        .orderBy("pa", "rk")
    )


_ORACLE_ITEMCF = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
item_n AS (SELECT l_partkey, count(*)::BIGINT AS n_orders FROM li GROUP BY 1),
co AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*)::BIGINT AS co
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_CF_MIN_CO}
),
sym AS (
  SELECT pa, pb, co FROM co UNION ALL SELECT pb AS pa, pa AS pb, co FROM co
),
scored AS (
  SELECT s.pa, s.pb, s.co,
         cast(floor(cast(s.co AS double)
                    / sqrt(cast(na.n_orders AS double) * cast(nb.n_orders AS double))
                    * 1000000.0 + 0.5) AS bigint) AS cos_micro
  FROM sym s
  JOIN item_n na ON na.l_partkey = s.pa
  JOIN item_n nb ON nb.l_partkey = s.pb
)
SELECT pa, cast(rk AS bigint) AS rk, pb, co, cos_micro FROM (
  SELECT *, row_number() OVER (PARTITION BY pa ORDER BY cos_micro DESC, pb ASC) AS rk
  FROM scored
) WHERE rk <= {_CF_TOPK}
ORDER BY pa, rk
"""


# --------------------------------------------------------------------------
# Difference-in-differences (X7 [EXT])
# --------------------------------------------------------------------------


def q_difference_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 difference-in-differences: treatment = odd user_id,
    post-period = second half of the observed time range (midpoint
    from a broadcast 1-row min/max aggregate). The 2x2 cell means
    come from ONE conditional aggregate over exact value micros;
    DiD = (post_T - pre_T) - (post_C - pre_C), with a
    pooled-variance standard error and t statistic from the same
    exact moments. The parallel-trends estimator every quasi-
    experiment starts with."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    )
    cells = (
        ev.select(
            (F.col("user_id") % 2 == 1).alias("treat"),
            F.unix_micros("ts").alias("tsu"),
            F.floor(F.lit(1e6) * F.col("value") + F.lit(0.5)).cast("bigint").alias("vm"),
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            "treat",
            (F.col("tsu") * 2 >= F.col("t0") + F.col("t1")).alias("post"),
            "vm",
        )
    )
    aggs = []
    for t in (False, True):
        for p in (False, True):
            tag = f"{'t' if t else 'c'}_{'post' if p else 'pre'}"
            cond = (F.col("treat") == t) & (F.col("post") == p)
            aggs += [
                F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(f"n_{tag}"),
                F.sum(F.when(cond, F.col("vm")).otherwise(0))
                .cast("bigint")
                .alias(f"s_{tag}"),
                F.sum(
                    F.when(cond, (F.col("vm") * F.col("vm")).cast("decimal(38,0)")).otherwise(
                        F.lit(0).cast("decimal(38,0)")
                    )
                ).alias(f"ss_{tag}"),
            ]
    red = cells.agg(*aggs)
    means = {}
    varn = []
    for tag in ("c_pre", "c_post", "t_pre", "t_post"):
        n = F.col(f"n_{tag}").cast("double")
        m = F.col(f"s_{tag}").cast("double") / n
        means[tag] = m
        v = (F.col(f"ss_{tag}").cast("double") - F.col(f"s_{tag}").cast("double") * m) / (
            n - 1
        )
        varn.append(v / n)
    did = (means["t_post"] - means["t_pre"]) - (means["c_post"] - means["c_pre"])
    se = F.sqrt(varn[0] + varn[1] + varn[2] + varn[3])
    return red.select(
        *[F.col(f"n_{t}") for t in ("c_pre", "c_post", "t_pre", "t_post")],
        F.floor(did + F.lit(0.5)).cast("bigint").alias("did_micro"),
        F.floor(se + F.lit(0.5)).cast("bigint").alias("se_micro"),
        F.floor(did / se * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("t_stat_micro"),
    )


_ORACLE_DID = """
WITH bounds AS (
  SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1 FROM events
),
cells AS (
  SELECT (user_id % 2 = 1) AS treat,
         (epoch_us(ts) * 2 >= t0 + t1) AS post,
         cast(floor(1000000.0 * value + 0.5) AS bigint) AS vm
  FROM events CROSS JOIN bounds
),
red AS (
  SELECT
    sum(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END)::BIGINT AS n_c_pre,
    sum(CASE WHEN NOT treat AND NOT post THEN vm ELSE 0 END)::BIGINT AS s_c_pre,
    sum(CASE WHEN NOT treat AND NOT post THEN cast(vm * vm AS DECIMAL(38,0)) ELSE cast(0 AS DECIMAL(38,0)) END) AS ss_c_pre,
    sum(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END)::BIGINT AS n_c_post,
    sum(CASE WHEN NOT treat AND post THEN vm ELSE 0 END)::BIGINT AS s_c_post,
    sum(CASE WHEN NOT treat AND post THEN cast(vm * vm AS DECIMAL(38,0)) ELSE cast(0 AS DECIMAL(38,0)) END) AS ss_c_post,
    sum(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END)::BIGINT AS n_t_pre,
    sum(CASE WHEN treat AND NOT post THEN vm ELSE 0 END)::BIGINT AS s_t_pre,
    sum(CASE WHEN treat AND NOT post THEN cast(vm * vm AS DECIMAL(38,0)) ELSE cast(0 AS DECIMAL(38,0)) END) AS ss_t_pre,
    sum(CASE WHEN treat AND post THEN 1 ELSE 0 END)::BIGINT AS n_t_post,
    sum(CASE WHEN treat AND post THEN vm ELSE 0 END)::BIGINT AS s_t_post,
    sum(CASE WHEN treat AND post THEN cast(vm * vm AS DECIMAL(38,0)) ELSE cast(0 AS DECIMAL(38,0)) END) AS ss_t_post
  FROM cells
),
d AS (
  SELECT n_c_pre, n_c_post, n_t_pre, n_t_post,
         (cast(s_t_post AS double) / cast(n_t_post AS double)
          - cast(s_t_pre AS double) / cast(n_t_pre AS double))
         - (cast(s_c_post AS double) / cast(n_c_post AS double)
            - cast(s_c_pre AS double) / cast(n_c_pre AS double)) AS did,
         sqrt(
           ((cast(ss_c_pre AS double) - cast(s_c_pre AS double) * (cast(s_c_pre AS double) / cast(n_c_pre AS double))) / (cast(n_c_pre AS double) - 1)) / cast(n_c_pre AS double)
         + ((cast(ss_c_post AS double) - cast(s_c_post AS double) * (cast(s_c_post AS double) / cast(n_c_post AS double))) / (cast(n_c_post AS double) - 1)) / cast(n_c_post AS double)
         + ((cast(ss_t_pre AS double) - cast(s_t_pre AS double) * (cast(s_t_pre AS double) / cast(n_t_pre AS double))) / (cast(n_t_pre AS double) - 1)) / cast(n_t_pre AS double)
         + ((cast(ss_t_post AS double) - cast(s_t_post AS double) * (cast(s_t_post AS double) / cast(n_t_post AS double))) / (cast(n_t_post AS double) - 1)) / cast(n_t_post AS double)
         ) AS se
  FROM red
)
SELECT n_c_pre, n_c_post, n_t_pre, n_t_post,
       cast(floor(did + 0.5) AS bigint) AS did_micro,
       cast(floor(se + 0.5) AS bigint) AS se_micro,
       cast(floor(did / se * 1000000.0 + 0.5) AS bigint) AS t_stat_micro
FROM d
"""


REGISTRY_EXT75: dict[str, QuerySpec] = {
    "fellegi_sunter_linkage": QuerySpec(
        q_fellegi_sunter_linkage, _oracle_fs(), "X9 [EXT] probabilistic linkage"
    ),
    "itemcf_cosine_topk": QuerySpec(
        q_itemcf_cosine_topk, _ORACLE_ITEMCF, "X3/X9 [EXT] item-item CF"
    ),
    "difference_in_differences": QuerySpec(
        q_difference_in_differences, _ORACLE_DID, "X7 [EXT] DiD estimator"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_fellegi_sunter_linkage.__doc__ = q_fellegi_sunter_linkage.__doc__.format(t=_FS_LLR_MATCH, nt=-_FS_LLR_NONMATCH)  # noqa: E501
q_itemcf_cosine_topk.__doc__ = q_itemcf_cosine_topk.__doc__.format(k=_CF_TOPK, m=_CF_MIN_CO)  # noqa: E501
