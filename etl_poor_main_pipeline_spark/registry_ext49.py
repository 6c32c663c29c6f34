"""Operator registry, wave 50: TextRank keyword extraction, bipartite
graph projection, and OHLC candle aggregation.

Scale stances:
- TextRank: the token co-occurrence graph aggregates map-side to
  weighted edges (vocab-bounded, not row-bounded); the 5 weighted
  PageRank iterations reuse the pagerank_docs posture — edges+degrees
  materialized ONCE (localCheckpoint), per-iteration lineage
  truncation, decimal(38,16) contribution sums so partial-merge order
  cannot move a nano. Rank division rank*w/wdeg is exact-int-to-double
  plus two correctly-rounded IEEE ops — engine-identical.
- Bipartite projection: per-user type sets are tiny (<= 5 event
  types), so the user-keyed self-join explodes at most C(5,2) pairs
  per user before the pair aggregate — candidate volume is bounded by
  rows * 10, never |users|^2.
- OHLC: open/close picked by conditional aggregation over
  (type, hour)-PARTITIONED rank windows — the deterministic
  first/last-in-group idiom (no engine-dependent arg_min tie
  behavior); value cents keep every candle integer-exact.

Reference parity: none (no graph/series surface in the reference);
[EXT] X6/X7/X9 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.text import tokens_expr
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# TextRank keywords (X6/X9 [EXT])
# --------------------------------------------------------------------------

_TR_ITERS = 5
_TR_DAMP = 0.85
_TR_MINLEN = 4
_TR_TOPK = 10


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6/X9 TextRank keyword extraction (Mihalcea & Tarau):
    build the adjacency graph of content tokens (length >= {m}) over
    the filtered token sequence of every document, then run {it}
    iterations of WEIGHTED PageRank (damping {d}) and report the
    top-{k} tokens — the unsupervised keyword extractor. Same
    iterative posture as pagerank_docs: one edge materialization,
    per-round lineage truncation, decimal-deterministic sums; the
    graph frame is vocabulary-bounded."""
    d = _t(spark, sf_dir, "documents")
    ts = F.filter(tokens_expr("text"), lambda t: F.length(t) >= _TR_MINLEN)
    seq = d.select(ts.alias("ts")).where(F.size("ts") >= 2)
    adj = seq.selectExpr(
        "explode(zip_with("
        "  slice(ts, 1, greatest(size(ts) - 1, 0)),"
        "  slice(ts, 2, greatest(size(ts) - 1, 0)),"
        "  (a, b) -> named_struct('wa', a, 'wb', b))) as p"
    ).select("p.wa", "p.wb")
    und = adj.where(F.col("wa") != F.col("wb")).select(
        F.least("wa", "wb").alias("w1"), F.greatest("wa", "wb").alias("w2")
    )
    ew = und.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    edges = ew.select(
        F.col("w1").alias("src"), F.col("w2").alias("dst"), "w"
    ).unionAll(ew.select(F.col("w2").alias("src"), F.col("w1").alias("dst"), "w"))
    wdeg = edges.groupBy("src").agg(F.sum("w").cast("double").alias("wdeg"))
    edges_deg = barrier(edges.join(wdeg, "src"))
    nodes = barrier(edges_deg.select(F.col("src").alias("word")).distinct())

    n = nodes.count()  # one scalar — the teleport term needs it
    base = (1.0 - _TR_DAMP) / float(n)
    ranks = nodes.select("word", F.lit(1.0 / float(n)).alias("rank"))
    for _ in range(_TR_ITERS):
        contribs = (
            edges_deg.join(ranks, edges_deg.src == ranks.word)
            .select(
                F.col("dst"),
                (F.col("rank") * F.col("w").cast("double") / F.col("wdeg"))
                .cast("decimal(38,16)")
                .alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("double").alias("s"))
        )
        ranks = barrier(
            nodes.join(contribs, nodes.word == contribs.dst, "left")
            .select(
                "word",
                (
                    F.lit(base) + F.lit(_TR_DAMP) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return (
        ranks.select(
            "word",
            F.floor(F.col("rank") * F.lit(1e9) + F.lit(0.5))
            .cast("bigint")
            .alias("rank_nano"),
        )
        .orderBy(F.desc("rank_nano"), F.asc("word"))
        .limit(_TR_TOPK)
    )


def _oracle_textrank() -> str:
    head = rf"""
WITH seq AS (
  SELECT doc_id,
         list_filter(list_filter(string_split_regex(lower(text), '\s+'),
                                 t -> t <> ''),
                     t -> length(t) >= {_TR_MINLEN}) AS ts
  FROM documents
),
toks AS (
  SELECT doc_id, generate_subscripts(ts, 1) AS i, unnest(ts) AS w
  FROM seq WHERE len(ts) >= 2
),
und AS (
  SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2
  FROM toks a JOIN toks b
    ON b.doc_id = a.doc_id AND b.i = a.i + 1 AND a.w <> b.w
),
ew AS (SELECT w1, w2, count(*)::BIGINT AS w FROM und GROUP BY 1, 2),
edges AS (
  SELECT w1 AS src, w2 AS dst, w FROM ew
  UNION ALL
  SELECT w2 AS src, w1 AS dst, w FROM ew
),
wdeg AS (SELECT src, cast(sum(w) AS double) AS wdeg FROM edges GROUP BY 1),
nodes AS (SELECT DISTINCT src AS word FROM edges),
nn AS (SELECT cast(count(*) AS double) AS n FROM nodes),
r0 AS (SELECT word, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    its = []
    for i in range(_TR_ITERS):
        its.append(
            f""",
r{i + 1} AS (
  SELECT nd.word,
         (1.0 - {_TR_DAMP}) / (SELECT n FROM nn)
           + {_TR_DAMP} * coalesce(c.s, cast(0.0 AS double)) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS word,
           cast(sum(cast(r.rank * cast(e.w AS double) / g.wdeg
                         AS decimal(38,16))) AS double) AS s
    FROM edges e JOIN r{i} r ON r.word = e.src JOIN wdeg g ON g.src = e.src
    GROUP BY e.dst
  ) c ON c.word = nd.word
)"""
        )
    return (
        head
        + "".join(its)
        + f"""
SELECT word, cast(floor(rank * 1e9 + 0.5) AS bigint) AS rank_nano
FROM r{_TR_ITERS}
ORDER BY rank_nano DESC, word ASC
LIMIT {_TR_TOPK}
"""
    )


# --------------------------------------------------------------------------
# Bipartite projection (X9 [EXT])
# --------------------------------------------------------------------------


def q_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 bipartite projection of the user-eventtype graph onto
    event types: for each type pair, how many users touch both, plus
    the Jaccard of their user sets — the co-engagement graph behind
    "users who X also Y". The self-join is keyed on USER (set size
    <= 5 types), so pair fan-out is bounded per row; marginal user
    counts broadcast back onto the 10-row pair frame."""
    ut = _t(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    a = ut.select("user_id", F.col("event_type").alias("t1"))
    b = ut.select("user_id", F.col("event_type").alias("t2"))
    shared = (
        a.join(b, "user_id")
        .where(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    sizes = ut.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    )
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("event_type").alias("t1"), F.col("n_users").alias("n1"))),
            "t1",
        )
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("t2"), F.col("n_users").alias("n2"))),
            "t2",
        )
        .select(
            "t1",
            "t2",
            "n_shared",
            F.floor(
                F.lit(1e6)
                * F.col("n_shared")
                / (F.col("n1") + F.col("n2") - F.col("n_shared"))
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("jaccard_micro"),
        )
        .orderBy("t1", "t2")
    )


_ORACLE_BIPARTITE = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
shared AS (
  SELECT a.event_type AS t1, b.event_type AS t2, count(*)::BIGINT AS n_shared
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
sizes AS (
  SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
  FROM ut GROUP BY 1
)
SELECT s.t1, s.t2, s.n_shared,
       cast(floor(1e6 * s.n_shared / (s1.n_users + s2.n_users - s.n_shared) + 0.5)
            AS bigint) AS jaccard_micro
FROM shared s
JOIN sizes s1 ON s1.event_type = s.t1
JOIN sizes s2 ON s2.event_type = s.t2
ORDER BY t1, t2
"""


# --------------------------------------------------------------------------
# OHLC candles (X7/X9 [EXT])
# --------------------------------------------------------------------------


def q_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X9 OHLC candle aggregation: per (event_type, hour),
    the open (first value by time), high, low, close (last value) and
    trade count — the market-data / metrics-rollup primitive. First
    and last are picked by conditional aggregation over rank windows
    PARTITIONED by the candle key with (t, event_id) tie-breaks — no
    engine-dependent arg_min tie behavior; value cents keep candles
    integer-exact."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", "ts").alias("hb"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint").alias("v"),
        F.unix_micros("ts").alias("t_us"),
        "event_id",
    )
    wa = Window.partitionBy("event_type", "hb").orderBy("t_us", "event_id")
    wd = Window.partitionBy("event_type", "hb").orderBy(
        F.desc("t_us"), F.desc("event_id")
    )
    ranked = e.withColumn("ra", F.row_number().over(wa)).withColumn(
        "rd", F.row_number().over(wd)
    )
    return (
        ranked.groupBy(
            "event_type", F.date_format("hb", "yyyy-MM-dd HH").alias("hour")
        )
        .agg(
            F.max(F.when(F.col("ra") == 1, F.col("v"))).cast("bigint").alias("open"),
            F.max("v").cast("bigint").alias("high"),
            F.min("v").cast("bigint").alias("low"),
            F.max(F.when(F.col("rd") == 1, F.col("v"))).cast("bigint").alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .orderBy("event_type", "hour")
    )


_ORACLE_OHLC = """
WITH e AS (
  SELECT event_type, date_trunc('hour', ts) AS hb,
         cast(floor(value * 100.0 + 0.5) AS bigint) AS v,
         epoch_us(ts) AS t_us, event_id
  FROM events
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, hb
                            ORDER BY t_us, event_id) AS ra,
         row_number() OVER (PARTITION BY event_type, hb
                            ORDER BY t_us DESC, event_id DESC) AS rd
  FROM e
)
SELECT event_type, strftime(hb, '%Y-%m-%d %H') AS hour,
       max(CASE WHEN ra = 1 THEN v END)::BIGINT AS open,
       max(v)::BIGINT AS high,
       min(v)::BIGINT AS low,
       max(CASE WHEN rd = 1 THEN v END)::BIGINT AS close,
       count(*)::BIGINT AS n
FROM r GROUP BY event_type, hb ORDER BY event_type, hour
"""


REGISTRY_EXT49: dict[str, QuerySpec] = {
    "textrank_keywords": QuerySpec(
        q_textrank_keywords, _oracle_textrank(), "X6/X9 [EXT] keyword extraction"
    ),
    "bipartite_projection": QuerySpec(
        q_bipartite_projection, _ORACLE_BIPARTITE, "X9 [EXT] co-engagement graph"
    ),
    "ohlc_candles": QuerySpec(q_ohlc_candles, _ORACLE_OHLC, "X7/X9 [EXT] candle rollup"),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_textrank_keywords.__doc__ = q_textrank_keywords.__doc__.format(m=_TR_MINLEN, it=_TR_ITERS, d=_TR_DAMP, k=_TR_TOPK)  # noqa: E501
