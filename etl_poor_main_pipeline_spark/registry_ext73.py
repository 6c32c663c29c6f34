"""Operator registry, wave 74: graph / distributional semantics —
personalized PageRank (random walk with restart), semi-supervised
label propagation, and skip-gram co-occurrence PMI.

Scale stances:
- Personalized PageRank: the pagerank_docs engine shape (edges
  materialized ONCE via ``session.barrier``,
  decimal-deterministic contribution sums, per-round lineage
  truncation) with the teleport vector concentrated on the seed set
  — the "related items for THIS document" serving primitive.
- Label propagation: synchronous rounds of neighbor majority vote
  (labeled neighbors only, seeds clamped); each round is one edge
  join + one node-partitioned rank window — the shape scales as
  |E| per round, and the round count is fixed.
- Skip-gram PMI: pair generation is ARRAY-LOCAL (nested SQL-lambda
  transform over token positions, window +-3, 1/distance micro
  weights) — zero joins until the final pair aggregate, so the heavy
  part is embarrassingly parallel and the only shuffle is the
  (w1, w2) groupBy.

Reference parity: none; [EXT] X6/X9 tier per BASELINE.json.
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
# Personalized PageRank / random walk with restart (X9 [EXT])
# --------------------------------------------------------------------------

_PPR_ITERS = 5
_PPR_DAMP = 0.85
_PPR_SEED_MOD = 10  # doc_id % 10 == 0 -> seed set


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 personalized PageRank (random walk with restart,
    damping {d}, {k} iterations) over the document near-dup graph
    (pagerank_docs edges: token-set Jaccard >= 0.8): the teleport
    mass goes ONLY to the seed set (doc_id % {m} == 0), so rank
    measures proximity to the seeds — the "related to this cluster"
    serving primitive. Engine shape is the pagerank_docs one: edges
    materialized once, decimal(38,16) contribution sums, per-round
    lineage truncation — all through ``session.barrier``, which a
    configured ``spark.checkpoint.dir`` turns reliable. Non-seed nodes
    with no path from the seeds report exactly 0."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_token_sets(
        d, threshold=0.8, block_cols=["lang"], length_window=16
    ).select("id_a", "id_b")
    edges = barrier(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("deg"))
    edges_deg = barrier(edges.join(deg, "src"))

    n_seeds = d.where(F.col("doc_id") % _PPR_SEED_MOD == 0).count()
    restart = (1.0 - _PPR_DAMP) / float(n_seeds)
    seed_mass = F.when(F.col("doc_id") % _PPR_SEED_MOD == 0, F.lit(1.0 / float(n_seeds))).otherwise(F.lit(0.0))
    teleport = F.when(F.col("doc_id") % _PPR_SEED_MOD == 0, F.lit(restart)).otherwise(
        F.lit(0.0)
    )
    ranks = d.select("doc_id", seed_mass.alias("rank"))
    for _ in range(_PPR_ITERS):
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
                    teleport
                    + F.lit(_PPR_DAMP) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        ranks = barrier(ranks)
    return ranks.select(
        "doc_id",
        F.floor(F.col("rank") * 1e9 + F.lit(0.5)).cast("bigint").alias("rank_nano"),
    ).orderBy("doc_id")


def _oracle_ppr() -> str:
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
ns AS (SELECT cast(count(*) AS double) AS n FROM documents WHERE doc_id % {_PPR_SEED_MOD} = 0),
r0 AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_PPR_SEED_MOD} = 0
              THEN cast(1.0 AS double) / (SELECT n FROM ns) ELSE cast(0.0 AS double) END AS rank
  FROM documents
)"""
    its = []
    for i in range(_PPR_ITERS):
        its.append(
            f""",
r{i + 1} AS (
  SELECT d.doc_id,
         (CASE WHEN d.doc_id % {_PPR_SEED_MOD} = 0
               THEN cast({1.0 - _PPR_DAMP} AS double) / (SELECT n FROM ns)
               ELSE cast(0.0 AS double) END)
           + {_PPR_DAMP} * coalesce(c.s, cast(0.0 AS double)) AS rank
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
FROM r{_PPR_ITERS}
ORDER BY doc_id
"""
    )


# --------------------------------------------------------------------------
# Semi-supervised label propagation (X9 [EXT])
# --------------------------------------------------------------------------

_LP_ITERS = 3
_LP_SEED_MOD = 5  # doc_id % 5 == 0 -> seed (label = source)


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 semi-supervised label propagation over the near-dup
    graph: seed docs (doc_id % {m} == 0) are labeled with their
    ``source``; each synchronous round, every unlabeled node adopts
    the MAJORITY label among its labeled neighbors (count desc, label
    asc tie-break); seeds are clamped. {k} rounds. Each round is one
    edge join + one node-partitioned rank window — |E| work per
    round, fixed round count, lineage truncated per round by
    ``session.barrier`` (reliable once ``spark.checkpoint.dir`` is
    configured). Reports each node's final label (NULL if never
    reached) and the round it was first labeled."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_token_sets(
        d, threshold=0.8, block_cols=["lang"], length_window=16
    ).select("id_a", "id_b")
    edges = barrier(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    )
    labeled = d.select(
        "doc_id",
        F.when(F.col("doc_id") % _LP_SEED_MOD == 0, F.col("source")).alias("lbl"),
        F.when(F.col("doc_id") % _LP_SEED_MOD == 0, F.lit(0)).cast("bigint").alias(
            "round_labeled"
        ),
    )
    for it in range(1, _LP_ITERS + 1):
        nbr = (
            edges.join(
                labeled.select(F.col("doc_id").alias("src"), F.col("lbl").alias("nl")),
                "src",
            )
            .where(F.col("nl").isNotNull())
            .groupBy(F.col("dst").alias("doc_id"), F.col("nl"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("nl"))
        winner = (
            nbr.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("doc_id", F.col("nl").alias("win"))
        )
        labeled = (
            labeled.join(winner, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("lbl"), F.col("win")).alias("lbl"),
                F.coalesce(
                    F.col("round_labeled"),
                    F.when(F.col("win").isNotNull(), F.lit(it)).cast("bigint"),
                ).alias("round_labeled"),
            )
        )
        labeled = barrier(labeled)
    return labeled.orderBy("doc_id")


def _oracle_label_prop() -> str:
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
l0 AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_LP_SEED_MOD} = 0 THEN source END AS lbl,
         CASE WHEN doc_id % {_LP_SEED_MOD} = 0 THEN 0 END::BIGINT AS round_labeled
  FROM documents
)"""
    its = []
    for it in range(1, _LP_ITERS + 1):
        its.append(
            f""",
w{it} AS (
  SELECT doc_id, nl AS win FROM (
    SELECT e.dst AS doc_id, l.lbl AS nl, count(*)::BIGINT AS cnt,
           row_number() OVER (PARTITION BY e.dst ORDER BY count(*) DESC, l.lbl ASC) AS rk
    FROM edges e JOIN l{it - 1} l ON l.doc_id = e.src
    WHERE l.lbl IS NOT NULL
    GROUP BY e.dst, l.lbl
  ) WHERE rk = 1
),
l{it} AS (
  SELECT l.doc_id,
         coalesce(l.lbl, w.win) AS lbl,
         coalesce(l.round_labeled,
                  CASE WHEN w.win IS NOT NULL THEN {it} END)::BIGINT AS round_labeled
  FROM l{it - 1} l LEFT JOIN w{it} w ON w.doc_id = l.doc_id
)"""
        )
    return (
        head
        + "".join(its)
        + f"""
SELECT doc_id, lbl, round_labeled FROM l{_LP_ITERS} ORDER BY doc_id
"""
    )


# --------------------------------------------------------------------------
# Skip-gram co-occurrence PMI (X6 [EXT])
# --------------------------------------------------------------------------

_SG_WINDOW = 3
_SG_MIN_W = 3_000_000  # pair weight floor (~3 adjacent co-occurrences)
_SG_TOPK = 50


def q_skipgram_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 skip-gram co-occurrence PMI: token pairs within a
    +-{w}-position window, weighted 1/distance (micro ints), pair
    order normalized. Pair GENERATION is array-local — a nested SQL
    lambda over token positions, zero joins, embarrassingly parallel
    — and the only shuffle is the (w1, w2) aggregate. PMI =
    ln(W_ab * W_tot / (W_a * W_b)) over EXACT micro-int weights;
    top-{k} by micro-rounded PMI with (w1, w2) tie-breaks, support
    floor {m} micro."""
    d = _t(spark, sf_dir, "documents")
    # the nested pair lambda emits ~w*|tokens| structs per doc on a
    # one-split scan: spread across cores first (no-op at scale)
    d = dedup.spread(d)
    pair_lambda = (
        "CASE WHEN size(ts) >= 2 THEN "
        "flatten(transform(sequence(1, size(ts) - 1), i -> "
        f"transform(sequence(i + 1, least(i + {_SG_WINDOW}, size(ts))), j -> "
        "named_struct("
        "'w1', least(element_at(ts, i), element_at(ts, j)), "
        "'w2', greatest(element_at(ts, i), element_at(ts, j)), "
        "'wt', cast(floor(1000000 / (j - i)) as bigint))))) "
        "ELSE array() END"
    )
    prs = d.selectExpr(
        "filter(split(lower(text), '\\\\s+'), t -> t <> '') as ts"
    ).selectExpr(f"explode({pair_lambda}) as p")
    pw = (
        prs.select("p.w1", "p.w2", "p.wt")
        .where(F.col("w1") != F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.sum("wt").cast("bigint").alias("wab"))
    )
    marg = (
        pw.select(F.col("w1").alias("w"), "wab")
        .unionAll(pw.select(F.col("w2").alias("w"), "wab"))
        .groupBy("w")
        .agg(F.sum("wab").cast("bigint").alias("wm"))
    )
    tot = pw.agg(F.sum("wab").cast("bigint").alias("wt_all"))
    scored = (
        pw.where(F.col("wab") >= _SG_MIN_W)
        .join(F.broadcast(marg.withColumnRenamed("w", "w1").withColumnRenamed("wm", "wa")), "w1")
        .join(F.broadcast(marg.withColumnRenamed("w", "w2").withColumnRenamed("wm", "wb")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "wab",
            F.floor(
                F.log(
                    F.col("wab").cast("double")
                    * F.col("wt_all").cast("double")
                    / (F.col("wa").cast("double") * F.col("wb").cast("double"))
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("pmi_micro"),
        )
    )
    return scored.orderBy(
        F.desc("pmi_micro"), F.asc("w1"), F.asc("w2")
    ).limit(_SG_TOPK)


_ORACLE_SKIPGRAM = rf"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
  FROM documents
),
prs AS (
  SELECT unnest(
    CASE WHEN len(ts) >= 2 THEN
      flatten(list_transform(range(1, len(ts)), i ->
        list_transform(range(i + 1, least(i + {_SG_WINDOW}, len(ts)) + 1), j ->
          struct_pack(w1 := least(ts[i], ts[j]),
                      w2 := greatest(ts[i], ts[j]),
                      wt := cast(floor(1000000 / (j - i)) AS bigint)))))
    ELSE [] END
  ) AS p
  FROM toks
),
pw AS (
  SELECT p.w1 AS w1, p.w2 AS w2, sum(p.wt)::BIGINT AS wab
  FROM prs WHERE p.w1 <> p.w2 GROUP BY 1, 2
),
marg AS (
  SELECT w, sum(wab)::BIGINT AS wm FROM (
    SELECT w1 AS w, wab FROM pw UNION ALL SELECT w2 AS w, wab FROM pw
  ) GROUP BY w
),
tot AS (SELECT sum(wab)::BIGINT AS wt_all FROM pw)
SELECT w1, w2, wab,
       cast(floor(ln(cast(wab AS double) * cast(wt_all AS double)
                     / (cast(a.wm AS double) * cast(b.wm AS double)))
                  * 1000000.0 + 0.5) AS bigint) AS pmi_micro
FROM pw
JOIN marg a ON a.w = pw.w1
JOIN marg b ON b.w = pw.w2
CROSS JOIN tot
WHERE wab >= {_SG_MIN_W}
ORDER BY pmi_micro DESC, w1 ASC, w2 ASC
LIMIT {_SG_TOPK}
"""


REGISTRY_EXT73: dict[str, QuerySpec] = {
    "personalized_pagerank": QuerySpec(
        q_personalized_pagerank, _oracle_ppr(), "X9 [EXT] random walk with restart"
    ),
    "label_propagation_semi": QuerySpec(
        q_label_propagation, _oracle_label_prop(), "X9 [EXT] semi-supervised labels"
    ),
    "skipgram_cooccurrence": QuerySpec(
        q_skipgram_cooccurrence, _ORACLE_SKIPGRAM, "X6 [EXT] skip-gram PMI"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_personalized_pagerank.__doc__ = q_personalized_pagerank.__doc__.format(d=_PPR_DAMP, k=_PPR_ITERS, m=_PPR_SEED_MOD)  # noqa: E501
q_label_propagation.__doc__ = q_label_propagation.__doc__.format(m=_LP_SEED_MOD, k=_LP_ITERS)  # noqa: E501
q_skipgram_cooccurrence.__doc__ = q_skipgram_cooccurrence.__doc__.format(w=_SG_WINDOW, k=_SG_TOPK, m=_SG_MIN_W)  # noqa: E501
