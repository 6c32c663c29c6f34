"""Operator registry, wave 24: training-set assembly + graph/maintenance
depth — deterministic corpus splits, triangle counting over the near-dup
graph, fixed-context-window packing with a distributed prefix sum, and
mergeable partial-aggregate maintenance.

Scale stances:
- split: an md5-prefix threshold on the key is a pure projection — no
  shuffle, no RNG state, reproducible on any engine (the
  stratified_sample_md5 idiom). Split assignment at 100 TB must never
  depend on row order or partitioning; a key hash is the only safe rule.
- triangles: the pair explosion is already blocked (lang + length band);
  the 3-way self-join reuses ONE materialized edge set (localCheckpoint
  — recomputing the Jaccard pipeline per join side would triple the
  dominant cost; same posture as pagerank_docs).
- packing: the token prefix-sum is computed as per-bucket totals
  (driver-sized — one row per bucket) plus per-bucket window cumsums,
  i.e. the standard two-phase distributed scan. No global single
  -partition window: every bucket's cumsum runs in parallel.
- incremental agg: partial states (count/sum/min/max) are computed per
  increment and MERGED — the mergeability property that lets a 100 TB
  rollup maintain itself from deltas instead of rescanning; decimal
  sums make merge order irrelevant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import dedup
from .registry import QuerySpec, _t
from .registry_ext19 import _EDGE_SQL
from .session import barrier

# --------------------------------------------------------------------------
# Deterministic train/val/test split (X8 [EXT])
# --------------------------------------------------------------------------

# hex-prefix thresholds: 'cd' = 205/256 ≈ 80.1% train, 'e6' = 230/256
# ≈ 89.8% cumulative -> ~10% val, remainder test
_SPLIT_TRAIN = "cd"
_SPLIT_VAL = "e6"


def q_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X8 deterministic 80/10/10 corpus split: assign each document
    by an md5-prefix threshold on its key (no RNG, no order dependence —
    the only split rule that survives repartitioning and engine moves),
    reported per (split, lang) with document and token counts. The
    per-language breakdown is the leakage check: every language must
    appear in train."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(bucket < _SPLIT_TRAIN, F.lit("train"))
        .when(bucket < _SPLIT_VAL, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(
            split.alias("split"),
            "lang",
            F.expr(r"size(filter(split(text, '\\s+'), t -> t <> ''))").alias("n_toks"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
        .orderBy("split", "lang")
    )


_ORACLE_SPLIT = rf"""
SELECT CASE WHEN substr(md5(cast(doc_id AS varchar)), 1, 2) < '{_SPLIT_TRAIN}' THEN 'train'
            WHEN substr(md5(cast(doc_id AS varchar)), 1, 2) < '{_SPLIT_VAL}' THEN 'val'
            ELSE 'test' END AS split,
       lang,
       cast(count(*) AS bigint) AS n_docs,
       cast(sum(len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))) AS bigint) AS n_tokens
FROM documents
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Triangle counting over the near-dup graph (X9 [EXT] graph)
# --------------------------------------------------------------------------


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 per-node triangle counts over the document near-dup graph
    (token-set Jaccard >= 0.8, the pagerank_docs edge set). Triangles are
    enumerated once via the ordered 3-way self-join (a<b<c), so no
    triangle is double-counted; each node's count is how many triangles
    contain it — the local clustering signal that separates template
    families (dense cliques) from chance pairs. Edges are materialized
    once (localCheckpoint) and reused by all three join sides."""
    d = _t(spark, sf_dir, "documents")
    pairs = barrier(
        dedup.jaccard_token_sets(d, threshold=0.8, block_cols=["lang"], length_window=16)
        .select("id_a", "id_b")
    )
    e1 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = pairs.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    e3 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])  # a<b<c by construction
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        .orderBy("doc_id")
    )


_ORACLE_TRIANGLES = rf"""
WITH toks AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok_set
  FROM documents
), pairs AS ({_EDGE_SQL}),
tri AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.id_a = e1.id_b
  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
)
SELECT doc_id, cast(count(*) AS bigint) AS n_triangles
FROM (SELECT a AS doc_id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
GROUP BY doc_id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Fixed-context-window packing (X8 [EXT] training assembly)
# --------------------------------------------------------------------------

_CTX = 2048
_PACK_BUCKET = 256  # docs per prefix-sum bucket
_PACK_MAX_SPAN = 4  # a doc spans at most this many windows (corpus max ~100 toks)


def q_context_window_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X8 GPT-style context-window packing: lay every document's
    tokens end-to-end in doc_id order and cut the stream into fixed
    {_CTX}-token windows (documents straddle cuts). Output per window:
    how many documents start in it and exactly how many of its token
    slots are filled — all windows are full except the last, which is
    the packing-efficiency report a training-data builder watches.

    The token prefix sum is a fully-distributed hierarchical scan
    (``operators/scan_prefix.py``): per-bucket cumsums run as parallel
    windows keyed by doc_id div {_PACK_BUCKET}; the per-bucket totals'
    exclusive prefix sum is computed the same way one level up and
    JOINED back on bkt (broadcast while small, shuffled when not) —
    no ``.collect()``, no driver-side literal map, no unpartitioned
    window. The shape that survives a corpus of billions of docs."""
    from pyspark.sql.window import Window

    from .operators.scan_prefix import exclusive_prefix_sum

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        (F.col("doc_id") / _PACK_BUCKET).cast("bigint").alias("bkt"),
        F.expr(r"cast(size(filter(split(text, '\\s+'), t -> t <> '')) as bigint)").alias("n"),
    )
    # phase 1: within-bucket cumulative sums run in parallel per bucket
    w = Window.partitionBy("bkt").orderBy("doc_id")
    local = toks.withColumn("local_cum", F.sum("n").over(w))
    # phase 2: per-bucket totals (one row per ~{_PACK_BUCKET} docs) get a
    # distributed exclusive prefix sum; offsets come back via a join, not
    # a driver round-trip
    totals = toks.groupBy("bkt").agg(F.sum("n").alias("total"))
    offs = exclusive_prefix_sum(totals, "bkt", "total", out="off").select("bkt", "off")
    placed = (
        local.join(offs, "bkt")
        .select(
            "doc_id",
            "n",
            (F.col("off") + F.col("local_cum") - F.col("n")).alias("start"),
        )
        .where(F.col("n") > 0)
    )
    spans = placed.select(
        "doc_id",
        "n",
        "start",
        F.explode(
            F.sequence(
                (F.col("start") / _CTX).cast("bigint"),
                ((F.col("start") + F.col("n") - 1) / _CTX).cast("bigint"),
            )
        ).alias("window_id"),
    )
    return (
        spans.select(
            "window_id",
            F.when((F.col("start") / _CTX).cast("bigint") == F.col("window_id"), 1)
            .otherwise(0)
            .alias("starts_here"),
            (
                F.least(F.col("start") + F.col("n"), (F.col("window_id") + 1) * _CTX)
                - F.greatest(F.col("start"), F.col("window_id") * _CTX)
            ).alias("overlap"),
        )
        .groupBy("window_id")
        .agg(
            F.sum("starts_here").cast("bigint").alias("n_docs_start"),
            F.sum("overlap").cast("bigint").alias("n_tokens"),
        )
        .orderBy("window_id")
    )


_ORACLE_PACK = rf"""
WITH toks AS (
  SELECT doc_id,
         cast(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS bigint) AS n
  FROM documents
),
placed AS (
  SELECT doc_id, n, sum(n) OVER (ORDER BY doc_id) - n AS start
  FROM toks
),
spans AS (
  SELECT doc_id, n, start, (start // {_CTX}) + k.i AS window_id
  FROM placed CROSS JOIN (SELECT unnest(range({_PACK_MAX_SPAN})) AS i) k
  WHERE n > 0 AND (start // {_CTX}) + k.i <= (start + n - 1) // {_CTX}
)
SELECT window_id::BIGINT AS window_id,
       cast(sum(CASE WHEN start // {_CTX} = window_id THEN 1 ELSE 0 END) AS bigint) AS n_docs_start,
       cast(sum(least(start + n, (window_id + 1) * {_CTX}) - greatest(start, window_id * {_CTX})) AS bigint) AS n_tokens
FROM spans
GROUP BY window_id ORDER BY window_id
"""


# --------------------------------------------------------------------------
# Mergeable partial-aggregate maintenance (W/E [EXT])
# --------------------------------------------------------------------------


def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] W incremental rollup maintenance: the monthly revenue rollup
    is computed as two INDEPENDENT partial-aggregate states (odd/even
    orderkeys standing in for yesterday's table + today's delta), then
    MERGED — count/sum/min/max all merge associatively, and avg derives
    from merged sum/count. This is the property that lets a 100 TB
    rollup absorb a delta without rescanning history. Sums run through
    decimal(18,6) so merge order can't perturb the result; the oracle
    computes the same rollup directly — merged state == direct scan is
    the correctness claim."""
    li = _t(spark, sf_dir, "lineitem")

    def partial(pred: str) -> DataFrame:
        return (
            li.where(F.expr(pred))
            .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("month"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).alias("s"),
                F.min("l_extendedprice").alias("mn"),
                F.max("l_extendedprice").alias("mx"),
            )
        )

    merged = (
        partial("l_orderkey % 2 = 0")
        .unionAll(partial("l_orderkey % 2 = 1"))
        .groupBy("month")
        .agg(
            F.sum("n").cast("bigint").alias("n_items"),
            F.round(F.sum("s").cast("double"), 2).alias("revenue"),
            # divide as double (not decimal/decimal): engines disagree on
            # quotient scale, which flips round() on .xxxx5 ties
            F.round(F.sum("s").cast("double") / F.sum("n"), 4).alias("avg_price"),
            F.min("mn").alias("min_price"),
            F.max("mx").alias("max_price"),
        )
    )
    return merged.orderBy("month")


_ORACLE_INCR_MERGE = """
SELECT strftime(l_shipdate, '%Y-%m') AS month,
       cast(count(*) AS bigint) AS n_items,
       round(cast(sum(cast(l_extendedprice AS decimal(18,6))) AS double), 2) AS revenue,
       round(cast(sum(cast(l_extendedprice AS decimal(18,6))) AS double) / count(*), 4) AS avg_price,
       min(l_extendedprice) AS min_price,
       max(l_extendedprice) AS max_price
FROM lineitem
GROUP BY 1 ORDER BY 1
"""


REGISTRY_EXT23: dict[str, QuerySpec] = {
    "split_train_val_test": QuerySpec(
        q_split_train_val_test, _ORACLE_SPLIT, "X8 [EXT] deterministic split"
    ),
    "triangle_count": QuerySpec(
        q_triangle_count, _ORACLE_TRIANGLES, "X9 [EXT] graph triangles"
    ),
    "context_window_pack": QuerySpec(
        q_context_window_pack, _ORACLE_PACK, "X8 [EXT] ctx-window packing"
    ),
    "incremental_agg_merge": QuerySpec(
        q_incremental_agg_merge, _ORACLE_INCR_MERGE, "W [EXT] mergeable partials"
    ),
}
