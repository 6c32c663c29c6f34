"""Operator registry, wave 40: BFS reachability over the near-dup
graph, negative-pattern funnels, and a run-length encoding advisor.

Scale stances:
- BFS: per-hop frontier expansion is one join + one anti-join per hop
  (3 hops, fixed), localCheckpoint between hops — the same iterative
  discipline as pagerank/kcore; edges materialized once.
- exclusion funnel: running conditional aggregates inside a
  user-partitioned window; the negation ("no error between") costs one
  carried counter, not a self-join.
- RLE advisor: value-change counting inside (l_orderkey)-partitioned
  windows — partition-parallel; cross-group boundaries counted as
  changes by construction, so no global order is ever materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .operators import dedup
from .registry import QuerySpec, _t
from .registry_ext19 import _EDGE_SQL
from .session import barrier

# --------------------------------------------------------------------------
# BFS reachability hops (X9 [EXT])
# --------------------------------------------------------------------------

_BFS_HOPS = 3
_BFS_SEED_MOD = 100  # seeds: doc_id % 100 == 0


def q_bfs_reachability_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 breadth-first reachability over the near-dup graph
    (edges = token-set Jaccard >= 0.8, the dedup_jaccard_pairs
    definition): from deterministic seeds (doc_id % {_BFS_SEED_MOD} ==
    0), how many documents are FIRST reached at hop 1, 2, {_BFS_HOPS} —
    the contamination-spread question ("if these seeds are tainted, how
    far does near-dup transitivity carry it?"). Per hop: one
    neighbor join + one anti-join against the assigned set,
    localCheckpoint between hops (pagerank's iterative discipline).
    Output includes the 'unreached' remainder row (hop = -1)."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_token_sets(
        d, threshold=0.8, block_cols=["lang"], length_window=16
    ).select("id_a", "id_b")
    edges = barrier(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    )
    assigned = d.select("doc_id").where(
        F.col("doc_id") % _BFS_SEED_MOD == 0
    ).withColumn("hop", F.lit(0))
    frontier = assigned
    for h in range(1, _BFS_HOPS + 1):
        reached = (
            edges.join(
                frontier.select(F.col("doc_id").alias("src")), "src"
            )
            .select(F.col("dst").alias("doc_id"))
            .distinct()
        )
        new = reached.join(assigned.select("doc_id"), "doc_id", "left_anti").withColumn(
            "hop", F.lit(h)
        )
        # lazy: the per-hop materialization jobs fold into the final
        # action (pagerank-family job-fold, round 14)
        new = barrier(new)
        assigned = barrier(assigned.unionAll(new))
        frontier = new
    total = d.agg(F.count(F.lit(1)).alias("n_total"))
    per_hop = assigned.groupBy("hop").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    reached_sum = per_hop.agg(F.sum("n_docs").alias("n_reached"))
    unreached = (
        total.crossJoin(F.broadcast(reached_sum))
        .select(
            F.lit(-1).alias("hop"),
            (F.col("n_total") - F.col("n_reached")).cast("bigint").alias("n_docs"),
        )
    )
    return (
        per_hop.unionAll(unreached)
        .select(F.col("hop").cast("bigint").alias("hop"), "n_docs")
        .orderBy("hop")
    )


_ORACLE_BFS = rf"""
WITH RECURSIVE toks AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok_set
  FROM documents
), pairs AS ({_EDGE_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
bfs(node, d) AS (
  SELECT doc_id, 0 FROM documents WHERE doc_id % {_BFS_SEED_MOD} = 0
  UNION
  SELECT e.dst, b.d + 1 FROM bfs b JOIN edges e ON e.src = b.node
  WHERE b.d < {_BFS_HOPS}
),
md AS (SELECT node, min(d) AS hop FROM bfs GROUP BY node),
per_hop AS (SELECT hop, count(*)::BIGINT AS n_docs FROM md GROUP BY hop),
unreached AS (
  SELECT -1 AS hop,
         ((SELECT count(*) FROM documents) - (SELECT count(*) FROM md))::BIGINT AS n_docs
)
SELECT cast(hop AS bigint) AS hop, n_docs FROM per_hop
UNION ALL
SELECT cast(hop AS bigint) AS hop, n_docs FROM unreached
ORDER BY hop
"""


# --------------------------------------------------------------------------
# Funnel with exclusion (X9 [EXT] negative CEP)
# --------------------------------------------------------------------------


def q_funnel_with_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 the NEGATIVE-pattern funnel (view -> purchase with NO
    error in between) — the pattern class MATCH_RECOGNIZE needs
    exclusion syntax for, compiled to running conditional aggregates:
    each purchase looks up its most recent prior view (a conditional
    running max carrying the error-counter at that view) and compares
    cumulative error counts; equal counts mean a clean path. One
    user-partitioned window, no self-join. Output: one global triage
    row (purchases, with-prior-view, clean, dirty)."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w_excl = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_err = F.coalesce(
        F.sum(F.when(F.col("event_type") == "error", 1)).over(w_excl), F.lit(0)
    )
    rows = e.withColumn("cum_err", cum_err)
    last_view = F.max(
        F.when(
            F.col("event_type") == "view",
            F.struct("ts", "event_id", "cum_err"),
        )
    ).over(w_excl)
    purchases = (
        rows.withColumn("lv", last_view)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("lv").isNotNull().alias("has_view"),
            (F.col("lv").isNotNull() & (F.col("cum_err") == F.col("lv.cum_err"))).alias(
                "clean"
            ),
        )
    )
    return purchases.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum(F.when(F.col("has_view"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_prior_view"),
        F.sum(F.when(F.col("clean"), 1).otherwise(0)).cast("bigint").alias("n_clean"),
        F.sum(F.when(F.col("has_view") & ~F.col("clean"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dirty"),
    )


_ORACLE_FUNNEL_EXCL = """
WITH rows_cum AS (
  SELECT user_id, event_id, ts, event_type,
         coalesce(sum(CASE WHEN event_type = 'error' THEN 1 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_err
  FROM events
),
with_view AS (
  SELECT user_id, event_id, ts, event_type, cum_err,
         max(CASE WHEN event_type = 'view'
                  THEN struct_pack(ts := ts, event_id := event_id, cum_err := cum_err)
             END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lv
  FROM rows_cum
),
purchases AS (
  SELECT lv IS NOT NULL AS has_view,
         (lv IS NOT NULL AND cum_err = lv.cum_err) AS clean
  FROM with_view WHERE event_type = 'purchase'
)
SELECT count(*)::BIGINT AS n_purchases,
       sum(CASE WHEN has_view THEN 1 ELSE 0 END)::BIGINT AS n_with_prior_view,
       sum(CASE WHEN clean THEN 1 ELSE 0 END)::BIGINT AS n_clean,
       sum(CASE WHEN has_view AND NOT clean THEN 1 ELSE 0 END)::BIGINT AS n_dirty
FROM purchases
"""


# --------------------------------------------------------------------------
# Run-length encoding advisor (dq/layout [EXT])
# --------------------------------------------------------------------------

_RLE_COLS = ["l_returnflag", "l_linestatus", "l_shipdate", "l_partkey"]


def q_rle_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] layout advisor: per column, how well would RLE compress the
    table in its (l_orderkey, l_linenumber) storage order — runs are
    counted INSIDE l_orderkey partitions (partition-parallel windows;
    every cross-group boundary conservatively counts as a new run, so
    the estimate is exact up to group count and needs no global order).
    rle_ratio_ppm = runs/rows; the advice column applies the classic
    thresholds (RLE under 5%, DICT under 50%, else PLAIN). This is the
    ANALYZE companion a format tuner (or Z-order decision) reads."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey"
    )
    parts = []
    for col in _RLE_COLS:
        c = F.col(col).cast("string")
        changed = F.when(
            F.lag(c).over(w).isNull() | (F.lag(c).over(w) != c), 1
        ).otherwise(0)
        per = li.select(F.lit(1).alias("one"), changed.alias("chg")).agg(
            F.lit(col).alias("column"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("chg").cast("bigint").alias("n_runs"),
        )
        parts.append(per)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    ratio = F.floor(F.lit(1000000.0) * F.col("n_runs") / F.col("n_rows")).cast(
        "bigint"
    )
    return out.select(
        "column",
        "n_rows",
        "n_runs",
        ratio.alias("rle_ratio_ppm"),
        F.when(ratio < 50000, F.lit("RLE"))
        .when(ratio < 500000, F.lit("DICT"))
        .otherwise(F.lit("PLAIN"))
        .alias("advice"),
    ).orderBy("column")


def _oracle_rle() -> str:
    selects = []
    for col in _RLE_COLS:
        selects.append(
            f"""SELECT '{col}' AS "column",
       count(*)::BIGINT AS n_rows,
       sum(chg)::BIGINT AS n_runs
FROM (
  SELECT CASE WHEN lag({col}::VARCHAR)
                OVER (PARTITION BY l_orderkey
                      ORDER BY l_linenumber, l_partkey, l_suppkey) IS DISTINCT FROM {col}::VARCHAR
              THEN 1 ELSE 0 END AS chg
  FROM lineitem)"""
        )
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH runs AS (
{union}
)
SELECT "column", n_rows, n_runs,
       cast(floor(1000000.0 * n_runs / n_rows) AS bigint) AS rle_ratio_ppm,
       CASE WHEN floor(1000000.0 * n_runs / n_rows) < 50000 THEN 'RLE'
            WHEN floor(1000000.0 * n_runs / n_rows) < 500000 THEN 'DICT'
            ELSE 'PLAIN' END AS advice
FROM runs ORDER BY "column"
"""


REGISTRY_EXT39: dict[str, QuerySpec] = {
    "bfs_reachability_hops": QuerySpec(
        q_bfs_reachability_hops, _ORACLE_BFS, "X9 [EXT] BFS contamination spread"
    ),
    "funnel_with_exclusion": QuerySpec(
        q_funnel_with_exclusion, _ORACLE_FUNNEL_EXCL, "X9 [EXT] negative-pattern funnel"
    ),
    "rle_encoding_advisor": QuerySpec(
        q_rle_encoding_advisor, _oracle_rle(), "dq [EXT] layout/encoding advisor"
    ),
}
