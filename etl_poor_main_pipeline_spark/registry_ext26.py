"""Operator registry, wave 27: warehouse-temporal + graph-structure
depth — point-in-time (as-of-validity) joins against an SCD2 dimension,
k-core decomposition of the near-dup graph, rolling 7-day distinct
users, and an equi-depth histogram.

Scale stances:
- point-in-time join: the validity lookup is an equi-join on the key
  with the interval predicate evaluated inside the join — the dimension
  stays broadcastable, and the fact side never explodes (each fact row
  matches exactly one version by construction of SCD2 intervals).
- k-core: iterative peeling, one degree-aggregate + one semi-join per
  round, lineage truncated per round (the pagerank posture). Rounds are
  FIXED count in both engines, so the oracle is a generated CTE chain,
  not a convergence race.
- rolling distinct: the 7-day window explodes each (user, day) activity
  into the 7 windows it serves, then counts distinct per window-end —
  distinct-over-sliding-windows without resorting to state or sketches;
  the explode factor is the window length, bounded and explicit.
- equi-depth histogram: ntile SEMANTICS over a total order (value +
  key tiebreak makes bucket boundaries deterministic) but a DISTRIBUTED
  plan: range-repartition + per-partition local ranks + prefix-summed
  partition offsets; no single-partition global window anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import dedup
from .registry import QuerySpec, _dsum, _dsum_sql, _t
from .registry_ext19 import _EDGE_SQL as _EDGE_SQL_KC  # oracle edge-set reuse
from .session import barrier

# --------------------------------------------------------------------------
# Point-in-time join against an SCD2 dimension (W/X9 [EXT])
# --------------------------------------------------------------------------

_PIT_CUT = "1997-01-01"


def q_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] W point-in-time (as-of-validity) join: orders join the
    customer-segment version that was VALID at the order date. The SCD2
    dimension derives deterministically from the fixture: custkeys
    divisible by 7 re-segmented to 'MIGRATED' effective {_PIT_CUT} (two
    versions with adjacent validity intervals), everyone else one
    open-ended version. Each fact row matches exactly one version —
    the join cannot explode — and the output is revenue by effective
    segment and order year, which differs from a naive current-state
    join precisely on the migrated keys' pre-cut orders. The dimension
    GROWS with the customer table, so its broadcast hint is size-GATED
    (fastpath.broadcast_if_small): pinned while customer fits an
    executor, dropped at scale where the equi key (c_custkey) shuffles
    and the validity window applies as a post-join filter."""
    from .fastpath import broadcast_if_small
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    lo, hi = "timestamp '1900-01-01'", "timestamp '2100-01-01'"
    cut = f"timestamp '{_PIT_CUT}'"
    stable = c.where(F.col("c_custkey") % 7 != 0).selectExpr(
        "c_custkey", "c_mktsegment AS segment", f"{lo} AS valid_from", f"{hi} AS valid_to"
    )
    v1 = c.where(F.col("c_custkey") % 7 == 0).selectExpr(
        "c_custkey", "c_mktsegment AS segment", f"{lo} AS valid_from", f"{cut} AS valid_to"
    )
    v2 = c.where(F.col("c_custkey") % 7 == 0).selectExpr(
        "c_custkey", "'MIGRATED' AS segment", f"{cut} AS valid_from", f"{hi} AS valid_to"
    )
    dim = stable.unionByName(v1).unionByName(v2)
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    joined = o.join(
        broadcast_if_small(dim, sf_dir, ["customer"]),
        (o.o_custkey == dim.c_custkey)
        & (o.o_orderdate >= dim.valid_from)
        & (o.o_orderdate < dim.valid_to),
    )
    return (
        joined.groupBy(
            "segment", F.year("o_orderdate").cast("int").alias("order_year")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            _dsum(F.col("o_totalprice"), "revenue"),
        )
        .orderBy("segment", "order_year")
    )


_ORACLE_PIT = f"""
WITH dim AS (
  SELECT c_custkey, c_mktsegment AS segment,
         TIMESTAMP '1900-01-01' AS valid_from, TIMESTAMP '2100-01-01' AS valid_to
  FROM customer WHERE c_custkey % 7 <> 0
  UNION ALL
  SELECT c_custkey, c_mktsegment, TIMESTAMP '1900-01-01', TIMESTAMP '{_PIT_CUT}'
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey, 'MIGRATED', TIMESTAMP '{_PIT_CUT}', TIMESTAMP '2100-01-01'
  FROM customer WHERE c_custkey % 7 = 0
)
SELECT d.segment, cast(year(o.o_orderdate) AS int) AS order_year,
       cast(count(*) AS bigint) AS n_orders,
       {_dsum_sql("o.o_totalprice", "revenue")}
FROM orders o JOIN dim d
  ON d.c_custkey = o.o_custkey
 AND o.o_orderdate >= d.valid_from AND o.o_orderdate < d.valid_to
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# k-core decomposition (X9 [EXT] iterative graph)
# --------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 6


def q_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 k-core (k={_KCORE_K}) of the document near-dup graph
    (Jaccard >= 0.8 edges, the pagerank edge set): iteratively peel
    nodes with degree < k; what survives is the maximal subgraph where
    every node keeps >= k neighbors — the dense template families, with
    chance pairs and stragglers peeled away. {_KCORE_ROUNDS} fixed
    peeling rounds in BOTH engines (the fixture converges earlier; the
    test asserts the fixpoint), each round one degree aggregate + one
    semi-join, lineage truncated per round. Output: surviving nodes
    with their in-core degree."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_token_sets(
        d, threshold=0.8, block_cols=["lang"], length_window=16
    ).select("id_a", "id_b")
    edges = barrier(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    )
    for _ in range(_KCORE_ROUNDS):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        alive = deg.where(F.col("deg") >= _KCORE_K).select("src")
        # truncate the per-round lineage; lazy so the 6 per-round
        # materialization jobs fold into the final action (A/B:
        # neutral walls — 3.04 vs 3.10 s min-of-5 — kept for the
        # family-wide one-job shape)
        edges = barrier(
            edges.join(alive, "src")
            .join(alive.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst")
        )
    return (
        edges.groupBy(F.col("src").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        .orderBy("doc_id")
    )


def _oracle_kcore() -> str:
    head = rf"""
WITH toks AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok_set
  FROM documents
), pairs AS ({_EDGE_SQL_KC}),
e0 AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
)"""
    its = []
    for i in range(_KCORE_ROUNDS):
        its.append(
            f""",
a{i} AS (
  SELECT src FROM e{i} GROUP BY src HAVING count(*) >= {_KCORE_K}
),
e{i + 1} AS (
  SELECT e.src, e.dst FROM e{i} e
  JOIN a{i} s ON s.src = e.src
  JOIN a{i} t ON t.src = e.dst
)"""
        )
    return (
        head
        + "".join(its)
        + f"""
SELECT src AS doc_id, cast(count(*) AS bigint) AS core_degree
FROM e{_KCORE_ROUNDS}
GROUP BY src ORDER BY src
"""
    )


# --------------------------------------------------------------------------
# Rolling 7-day distinct users (X9 [EXT] time series)
# --------------------------------------------------------------------------

_ROLL_DAYS = 7


def q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 rolling {_ROLL_DAYS}-day distinct active users per day —
    the WAU curve. Distinct-over-sliding-windows can't reuse adjacent
    windows' state (distinct doesn't subtract), so each (user, day)
    activity row serves the {_ROLL_DAYS} window-ends it belongs to via
    an explicit explode, then one distinct count per window end. The
    explode factor IS the window length — bounded, explicit, and
    shuffle-keyed by day. Days outside the observed range are
    dropped."""
    e = _t(spark, sf_dir, "events")
    act = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    bounds = act.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    ).withColumn("j", F.lit(1))
    served = (
        act.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), _ROLL_DAYS - 1))
            ).alias("win_end"),
        )
        .withColumn("j", F.lit(1))
        .join(F.broadcast(bounds), "j")
        .where((F.col("win_end") >= F.col("lo")) & (F.col("win_end") <= F.col("hi")))
    )
    return (
        served.groupBy(F.date_format("win_end", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users_7d"))
        .orderBy("day")
    )


_ORACLE_ROLLING = f"""
WITH act AS (SELECT DISTINCT cast(ts AS date) AS day, user_id FROM events),
bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM act),
served AS (
  SELECT a.user_id, a.day + cast(k.i AS int) AS win_end
  FROM act a CROSS JOIN (SELECT unnest(range({_ROLL_DAYS})) AS i) k, bounds b
  WHERE a.day + cast(k.i AS int) >= b.lo AND a.day + cast(k.i AS int) <= b.hi
)
SELECT strftime(win_end, '%Y-%m-%d') AS day,
       cast(count(DISTINCT user_id) AS bigint) AS n_users_7d
FROM served GROUP BY win_end ORDER BY day
"""


# --------------------------------------------------------------------------
# Equi-depth histogram (analytics [EXT])
# --------------------------------------------------------------------------

_EQD_BUCKETS = 10


def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] equi-depth (decile) histogram of o_totalprice with ntile
    semantics over a TOTAL order (price + orderkey tiebreak, so bucket
    boundaries are deterministic) — computed as a DISTRIBUTED two-phase
    rank, never a single-partition global window:

    1. ``repartitionByRange`` on the sort key gives ordered, disjoint
       partition ranges; ``sortWithinPartitions`` + ``monotonically_
       increasing_id`` then encodes (partition, local rank) in one pass
       with NO extra shuffle (the id is ``pid << 33 | row_index``).
    2. Per-partition row counts (one tiny row per partition) get an
       exclusive prefix sum via the hierarchical scan in
       ``operators/scan_prefix.py`` (partitioned in-group windows + a
       triangular broadcast join over group totals — NO unpartitioned
       window anywhere); joining the offsets back yields the exact
       global 0-indexed rank ``r0 = offset(pid) + local_rank``.
    3. ntile's bucket rule is then a pure expression: with N rows and B
       buckets, q = N div B, m = N mod B, the first m buckets take q+1
       rows:  decile = r0 div (q+1) + 1          if r0 < m*(q+1)
                     = m + (r0 - m*(q+1)) div q + 1  otherwise.

    Same answer as ``ntile(B) OVER (ORDER BY ...)`` (the oracle keeps
    that literal spelling), but every stage is partition-parallel — the
    shape that survives 100 TB. Scale invariant: the only non-parallel
    work touches one row per *partition*, not per input row (see
    ``operators/scan_prefix.py`` for the scan construction)."""
    from .operators.scan_prefix import global_rank_zero

    o = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    n_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
    ranked0 = global_rank_zero(
        o, ["o_totalprice", "o_orderkey"], n_parts, out="r0"
    )
    total = o.agg(F.count(F.lit(1)).alias("n_total"))
    b = F.lit(_EQD_BUCKETS).cast("bigint")
    ranked = (
        ranked0.crossJoin(F.broadcast(total))
        .withColumn("q", F.expr("n_total div " + str(_EQD_BUCKETS)))
        .withColumn("m", F.col("n_total") % b)
    )
    cut = F.col("m") * (F.col("q") + F.lit(1))
    decile = (
        F.when(F.col("r0") < cut, F.expr("r0 div (q + 1)") + F.lit(1))
        .otherwise(
            F.col("m") + F.expr("(r0 - m * (q + 1)) div greatest(q, 1L)") + F.lit(1)
        )
        .cast("int")
    )
    return (
        ranked.select("o_totalprice", decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("decile")
    )


_ORACLE_EQD = f"""
SELECT decile, cast(count(*) AS bigint) AS n,
       min(o_totalprice) AS lo, max(o_totalprice) AS hi
FROM (
  SELECT o_totalprice,
         ntile({_EQD_BUCKETS}) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
GROUP BY decile ORDER BY decile
"""


REGISTRY_EXT26: dict[str, QuerySpec] = {
    "point_in_time_join": QuerySpec(
        q_point_in_time_join, _ORACLE_PIT, "W [EXT] as-of-validity join"
    ),
    "kcore_decomposition": QuerySpec(
        q_kcore_decomposition, _oracle_kcore(), "X9 [EXT] iterative k-core"
    ),
    "rolling_distinct_users": QuerySpec(
        q_rolling_distinct_users, _ORACLE_ROLLING, "X9 [EXT] sliding distinct"
    ),
    "equi_depth_histogram": QuerySpec(
        q_equi_depth_histogram, _ORACLE_EQD, "analytics [EXT] deciles"
    ),
}
