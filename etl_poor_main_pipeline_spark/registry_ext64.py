"""Operator registry, wave 65: LATERAL correlated subqueries, DCT-basis
embedding projection, and RFM segmentation.

Scale stances:
- LATERAL: the SQL-surface feature (correlated per-row subquery) that
  Catalyst decorrelates into a plain aggregate+join — the query text a
  migrating user brings; the plan is the same shuffle the window
  formulation produces, proved by the oracle.
- DCT projection: an 8x64 orthogonal cosine basis generated by FORMULA
  (no data dependence, no RNG) and embedded as identical double
  literals in both engines — the deterministic cousin of PCA used in
  perceptual hashing; application is a pure map-side expression, and
  per-label means ride decimal sums.
- RFM: recency/frequency/monetary quintiles per USER (a users-bounded
  frame) assigned with the Blelloch global rank — no single-partition
  ntile — then one segment-count aggregate.

Reference parity: none; [EXT] X3/X7/X9 + completion tier per
BASELINE.json.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.scan_prefix import global_rank_zero
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# LATERAL correlated top-N (completion tier)
# --------------------------------------------------------------------------


def q_lateral_topn_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completion-tier LATERAL join: for each nation, the top-2 orders
    by total price among its customers — written as the correlated
    LATERAL subquery a migrating user types, which Catalyst
    decorrelates into the same aggregate+join a window formulation
    plans. Demonstrates the SQL surface; the oracle runs the identical
    text shape on DuckDB."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT n.n_name, t.o_orderkey,
               cast(floor(t.o_totalprice * 100.0 + 0.5) as bigint) AS price_c
        FROM v_nation n,
        LATERAL (
          SELECT o.o_orderkey, o.o_totalprice
          FROM v_orders o JOIN v_customer c ON o.o_custkey = c.c_custkey
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
          LIMIT 2
        ) t
        ORDER BY n.n_name, price_c DESC, t.o_orderkey
        """
    )


_ORACLE_LATERAL = """
SELECT n.n_name, t.o_orderkey,
       cast(floor(t.o_totalprice * 100.0 + 0.5) AS bigint) AS price_c
FROM nation n,
LATERAL (
  SELECT o.o_orderkey, o.o_totalprice
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
  LIMIT 2
) t
ORDER BY n.n_name, price_c DESC, t.o_orderkey
"""


# --------------------------------------------------------------------------
# DCT-basis embedding projection (X3 [EXT])
# --------------------------------------------------------------------------

_DCT_K = 8
_DCT_DIM = 64


def _dct_basis() -> list[list[float]]:
    """First K rows of the orthonormal DCT-II basis over DIM points —
    a deterministic orthogonal transform (no data, no RNG); plain
    Python floats so repr() embeds identically in both engines."""
    rows = []
    for k in range(_DCT_K):
        scale = math.sqrt(1.0 / _DCT_DIM) if k == 0 else math.sqrt(2.0 / _DCT_DIM)
        rows.append(
            [
                scale * math.cos(math.pi * (2 * n + 1) * k / (2.0 * _DCT_DIM))
                for n in range(_DCT_DIM)
            ]
        )
    return rows


def q_embedding_dct_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X3 orthogonal-basis projection: embeddings project onto
    the first {k} DCT-II basis vectors (the deterministic cousin of
    PCA — perceptual hashing's transform), a pure map-side expression
    with literal-embedded basis rows; per-label mean coordinates ride
    decimal(28,12) sums, so the report is merge-order-proof. The
    driver-side basis is formula-generated — no data dependence, so
    Spark and the oracle share bit-identical doubles."""
    basis = _dct_basis()
    e = _t(spark, sf_dir, "embeddings")
    coord_exprs = []
    for k, row in enumerate(basis):
        lits = ",".join(repr(x) for x in row)
        coord_exprs.append(
            f"aggregate(zip_with(cast(embedding as array<double>), array({lits}),"
            f" (x, b) -> x * b), cast(0.0 as double), (acc, v) -> acc + v) as c{k}"
        )
    proj = e.selectExpr("label", *coord_exprs)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_vecs")]
    for k in range(_DCT_K):
        aggs.append(
            F.floor(
                F.lit(1e6)
                * F.sum(F.col(f"c{k}").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias(f"mean_c{k}_micro")
        )
    return proj.groupBy("label").agg(*aggs).orderBy("label")


def _oracle_dct() -> str:
    basis = _dct_basis()
    coords = []
    for k, row in enumerate(basis):
        lits = ", ".join(repr(x) for x in row)
        coords.append(
            f"list_sum(list_transform(list_zip(embedding::DOUBLE[], [{lits}]),"
            f" z -> z[1] * z[2])) AS c{k}"
        )
    means = ", ".join(
        f"cast(floor(1e6 * cast(sum(cast(c{k} AS decimal(28,12))) AS double)"
        f" / count(*) + 0.5) AS bigint) AS mean_c{k}_micro"
        for k in range(_DCT_K)
    )
    return f"""
WITH proj AS (
  SELECT label, {", ".join(coords)} FROM embeddings
)
SELECT label, count(*)::BIGINT AS n_vecs, {means}
FROM proj GROUP BY label ORDER BY label
"""


# --------------------------------------------------------------------------
# RFM segmentation (X7/X9 [EXT])
# --------------------------------------------------------------------------

_RFM_Q = 5


def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X9 RFM segmentation: per user, recency (seconds since
    last event), frequency (event count) and monetary (purchase
    cents) fold to {q}-quantile codes — assigned with the Blelloch
    global rank over the USERS-bounded frame (no single-partition
    ntile) — and the segment census (count per RFM code) is the
    marketing table every campaign targets off."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint").alias("v"),
    )
    t_end = e.agg(F.max("t_us").alias("t_max"))
    per_user = barrier(
        e.groupBy("user_id")
        .agg(
            F.max("t_us").alias("t_last"),
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum(F.when(F.col("event_type") == "purchase", F.col("v")).otherwise(0))
            .cast("bigint")
            .alias("money"),
        )
        .crossJoin(F.broadcast(t_end))
        .select(
            "user_id",
            ((F.col("t_max") - F.col("t_last")) / F.lit(1_000_000))
            .cast("bigint")
            .alias("rec_s"),
            "freq",
            "money",
        )
    )
    n_users = per_user.agg(F.count(F.lit(1)).alias("n"))
    n_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)

    # ONE Blelloch rank pass over the 3-metric union instead of three:
    # ordering by (metric, key, user_id) makes each metric's block a
    # contiguous rank range of exactly n rows, so the within-metric rank
    # is rg - metric*n — the same exact integer the three separate
    # passes produced, for one range-shuffle instead of three plus two
    # reassembly joins. Recency ranks ascending; freq/money rank
    # descending via negated keys (identical to the old _quint).
    u = (
        per_user.selectExpr("user_id", "0 as m", "rec_s as k")
        .unionAll(per_user.selectExpr("user_id", "1 as m", "-freq as k"))
        .unionAll(per_user.selectExpr("user_id", "2 as m", "-money as k"))
    )
    ranked = global_rank_zero(u, ["m", "k", "user_id"], n_parts, out="rg")
    codes = ranked.crossJoin(F.broadcast(n_users)).select(
        "user_id",
        "m",
        (F.floor((F.col("rg") - F.col("m") * F.col("n")) * _RFM_Q / F.col("n")) + F.lit(1))
        .cast("bigint")
        .alias("q"),
    )
    wide = codes.groupBy("user_id").agg(
        F.max(F.when(F.col("m") == 0, F.col("q"))).alias("r_q"),
        F.max(F.when(F.col("m") == 1, F.col("q"))).alias("f_q"),
        F.max(F.when(F.col("m") == 2, F.col("q"))).alias("m_q"),
    )
    return (
        wide.groupBy("r_q", "f_q", "m_q")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("r_q", "f_q", "m_q")
    )


_ORACLE_RFM = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS t_us,
         cast(floor(value * 100.0 + 0.5) AS bigint) AS v
  FROM events
),
t_end AS (SELECT max(t_us) AS t_max FROM e),
per_user AS (
  SELECT user_id,
         cast(((SELECT t_max FROM t_end) - max(t_us)) // 1000000 AS bigint)
           AS rec_s,
         count(*)::BIGINT AS freq,
         sum(CASE WHEN event_type = 'purchase' THEN v ELSE 0 END)::BIGINT
           AS money
  FROM e GROUP BY 1
),
n_users AS (SELECT count(*)::BIGINT AS n FROM per_user),
rq AS (
  SELECT user_id,
         cast(floor((row_number() OVER (ORDER BY rec_s, user_id) - 1)
                    * {_RFM_Q} * 1.0 / (SELECT n FROM n_users)) + 1 AS bigint)
           AS r_q
  FROM per_user
),
fq AS (
  SELECT user_id,
         cast(floor((row_number() OVER (ORDER BY -freq, user_id) - 1)
                    * {_RFM_Q} * 1.0 / (SELECT n FROM n_users)) + 1 AS bigint)
           AS f_q
  FROM per_user
),
mq AS (
  SELECT user_id,
         cast(floor((row_number() OVER (ORDER BY -money, user_id) - 1)
                    * {_RFM_Q} * 1.0 / (SELECT n FROM n_users)) + 1 AS bigint)
           AS m_q
  FROM per_user
)
SELECT rq.r_q, fq.f_q, mq.m_q, count(*)::BIGINT AS n_users
FROM rq JOIN fq USING (user_id) JOIN mq USING (user_id)
GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q
"""


REGISTRY_EXT64: dict[str, QuerySpec] = {
    "lateral_topn_per_key": QuerySpec(
        q_lateral_topn_per_key, _ORACLE_LATERAL, "completion [EXT] LATERAL subquery"
    ),
    "embedding_dct_project": QuerySpec(
        q_embedding_dct_project, _oracle_dct(), "X3 [EXT] orthogonal projection"
    ),
    "rfm_segmentation": QuerySpec(
        q_rfm_segmentation, _ORACLE_RFM, "X7/X9 [EXT] customer segmentation"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_embedding_dct_project.__doc__ = q_embedding_dct_project.__doc__.format(k=_DCT_K)  # noqa: E501
q_rfm_segmentation.__doc__ = q_rfm_segmentation.__doc__.format(q=_RFM_Q)  # noqa: E501
