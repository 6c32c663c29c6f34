"""Operator registry, wave 20: iterative graph analytics (PageRank over
the near-dup similarity graph) and Z-order data layout — the two remaining
"engine capability" genres: a fixed-point algorithm the DataFrame API has
to iterate (no single declarative plan), and the storage-layout math that
makes multi-dimensional data skipping work at 100 TB.

Scale stances:
- PageRank: each iteration is one shuffled join (edges x ranks on src)
  plus one aggregate on dst — the standard distributed formulation.
  Ranks are checkpointed per iteration: without lineage truncation the
  plan doubles per iteration and Catalyst re-optimization goes
  superlinear by iteration ~8 (the classic iterative-DataFrame trap).
  Each checkpoint is a ``session.barrier``: local by default, reliable
  ``df.checkpoint()`` once the deployment sets ``spark.checkpoint.dir``,
  so executor loss doesn't force a full recompute — the 100 TB posture.
  Contribution sums run through decimal so the shuffle's reduce order
  can't perturb the fixed point (registry._dsum stance); both engines
  cast the *same* doubles to the *same* decimals, so the iteration stays
  bit-identical across engines, not merely close.
- Z-order: the z-value is pure integer bit-interleaving (21 bits per
  dimension, int64-safe) — a projection, no exchange. The layout write path is
  ``repartitionByRange(z)`` + ``sortWithinPartitions(z)`` so every file
  covers a tight hyper-rectangle in BOTH dimensions; the graded query
  reports per-z-range min/max spans of each raw dimension, which is
  exactly the file-skipping statistic a reader's predicate would prune
  on. At 100 TB this is the difference between scanning 3% and 100% of
  files for a 2-predicate query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import dedup
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# PageRank over the near-dup graph (X9 [EXT] iterative)
# --------------------------------------------------------------------------

_PR_ITERS = 5
_PR_DAMP = 0.85
# reuse the oracle-proven jaccard>=0.8 candidate definition (registry
# _ORACLE_JACCARD) so the edge set is already parity-tested
_EDGE_SQL = r"""
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM toks a JOIN toks b
    ON a.doc_id < b.doc_id AND a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 16
  WHERE cast(len(list_intersect(a.tok_set, b.tok_set)) as double)
        / cast(len(list_distinct(list_concat(a.tok_set, b.tok_set))) as double) >= 0.8
"""


def q_pagerank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 PageRank (damping 0.85, 5 iterations) over the document
    near-dup graph: nodes = all documents, undirected edges = token-set
    Jaccard >= 0.8 pairs (the dedup_jaccard_pairs definition). Dangling
    ranks are not redistributed (documented choice, mirrored by the
    oracle). Output is every node's 1e9-rounded rank — near-dup cluster
    hubs surface with rank ≫ 0.15/N, singletons sit at exactly 0.15/N
    after iteration 1.

    Checkpoint tradeoff: every lineage cut is a ``session.barrier``.
    Without a checkpoint dir (test SFs) it is a lazy ``localCheckpoint``
    — fast, and the per-round materialization folds into the final
    action, but blocks are pinned to executor memory/disk, so a lost
    executor forces recomputing the whole Jaccard pipeline. At real
    scale the deployment sets ``spark.checkpoint.dir`` (HDFS/object
    store) and every barrier becomes a reliable ``df.checkpoint()``:
    executor loss costs one re-read, not a recompute — that is the
    100 TB posture."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_token_sets(
        d, threshold=0.8, block_cols=["lang"], length_window=16
    ).select("id_a", "id_b")
    # one materialization: edges feed 5 iterations AND the degree agg;
    # recomputing the shingle/intersection pipeline 6x would dominate
    edges = barrier(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("deg"))
    edges_deg = barrier(edges.join(deg, "src"))

    n = d.count()  # one scalar — the per-node teleport term needs it
    base = 0.15 / float(n)
    ranks = d.select("doc_id", F.lit(1.0 / float(n)).alias("rank"))
    for _ in range(_PR_ITERS):
        contribs = (
            edges_deg.join(ranks, edges_deg.src == ranks.doc_id)
            .select(
                F.col("dst"),
                (F.col("rank") / F.col("deg")).cast("decimal(38,16)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("double").alias("s"))
        )
        ranks = (
            d.select("doc_id")
            .join(contribs, d.doc_id == contribs.dst, "left")
            .select(
                "doc_id",
                (
                    F.lit(base)
                    + F.lit(_PR_DAMP) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        ranks = barrier(ranks)  # truncate lineage: plan growth is the trap
    return ranks.select(
        "doc_id",
        F.floor(F.col("rank") * 1e9 + F.lit(0.5)).cast("bigint").alias("rank_nano"),
    ).orderBy("doc_id")


def _oracle_pagerank() -> str:
    head = rf"""
WITH toks AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok_set
  FROM documents
), pairs AS ({_EDGE_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
deg AS (SELECT src, cast(count(*) AS double) AS deg FROM edges GROUP BY src),
nn AS (SELECT cast(count(*) AS double) AS n FROM documents),
r0 AS (SELECT doc_id, cast(1.0 AS double) / (SELECT n FROM nn) AS rank FROM documents)"""
    its = []
    for i in range(_PR_ITERS):
        its.append(
            f""",
r{i + 1} AS (
  SELECT d.doc_id,
         cast(0.15 AS double) / (SELECT n FROM nn)
           + {_PR_DAMP} * coalesce(c.s, cast(0.0 AS double)) AS rank
  FROM documents d LEFT JOIN (
    SELECT e.dst AS doc_id,
           cast(sum(cast(r.rank / g.deg AS decimal(38,16))) AS double) AS s
    FROM edges e JOIN r{i} r ON r.doc_id = e.src JOIN deg g ON g.src = e.src
    GROUP BY e.dst
  ) c ON c.doc_id = d.doc_id
)"""
        )
    return (
        head
        + "".join(its)
        + f"""
SELECT doc_id, cast(floor(rank * 1e9 + 0.5) AS bigint) AS rank_nano
FROM r{_PR_ITERS}
ORDER BY doc_id
"""
    )


# --------------------------------------------------------------------------
# Z-order layout (S/W [EXT] data layout)
# --------------------------------------------------------------------------

# 21 bits per dimension (42-bit z-value, int64-safe at 2 dims). 16 bits
# silently aliased custkeys above 65535 (TPC-H SF ≳ 0.45), degrading the
# "tight hyper-rectangle in BOTH dimensions" skipping property; 21 bits
# covers keys to ~2.1M (SF ≈ 14). Beyond that, rank/normalize the
# dimension into the box before interleaving.
_Z_BITS = 21


def _z_expr(x: str, y: str) -> str:
    """Portable SQL for the 2-D Morton code: interleave the low 21 bits
    of integer expressions ``x`` (even positions) and ``y`` (odd). Pure
    +/&/shift arithmetic — identical text runs on Spark SQL and DuckDB.
    Values above 2^21-1 alias (see _Z_BITS note)."""
    terms = []
    for k in range(_Z_BITS):
        terms.append(f"((({x} >> {k}) & 1) << {2 * k})")
        terms.append(f"((({y} >> {k}) & 1) << {2 * k + 1})")
    return " + ".join(terms)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Z-order (Morton) layout statistics over orders, interleaving
    o_custkey with the order date's day offset. The write path this
    models: ``df.withColumn('z', ...).repartitionByRange(64, 'z')
    .sortWithinPartitions('z')`` — each output file then spans a tight
    range in BOTH custkey and date, so a reader with either predicate
    prunes most files on footer min/max alone. The graded query reports
    exactly that skipping statistic: per z-range bucket, the row count
    and the min/max span of each raw dimension (tight spans = effective
    skipping). All-integer arithmetic, so the oracle is exact."""
    o = _t(spark, sf_dir, "orders")
    day = "cast(datediff(o_orderdate, timestamp '1995-01-01 00:00:00') as bigint)"
    z = _z_expr("o_custkey", f"({day})")
    return (
        o.selectExpr("o_custkey", f"{day} as day_off", f"({z}) as zval")
        .selectExpr("*", "zval >> 18 as z_bucket")
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("o_custkey").alias("custkey_min"),
            F.max("o_custkey").alias("custkey_max"),
            F.min("day_off").alias("day_min"),
            F.max("day_off").alias("day_max"),
        )
        .orderBy("z_bucket")
    )


def _oracle_zorder() -> str:
    day = "cast(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) as bigint)"
    z = _z_expr("o_custkey", f"({day})")
    return f"""
WITH zd AS (
  SELECT o_custkey, {day} AS day_off, ({z}) AS zval FROM orders
)
SELECT zval >> 18 AS z_bucket,
       cast(count(*) AS bigint) AS n_rows,
       min(o_custkey) AS custkey_min, max(o_custkey) AS custkey_max,
       min(day_off) AS day_min, max(day_off) AS day_max
FROM zd GROUP BY 1 ORDER BY 1
"""


REGISTRY_EXT19: dict[str, QuerySpec] = {
    "pagerank_docs": QuerySpec(
        q_pagerank_docs, _oracle_pagerank(), "X9 [EXT] iterative graph"
    ),
    "zorder_layout": QuerySpec(
        q_zorder_layout, _oracle_zorder(), "S/W [EXT] data layout"
    ),
}
