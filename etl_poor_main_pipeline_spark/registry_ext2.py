"""Operator registry, wave 3: text-pipeline depth ([EXT]) + scalar/agg
long tail. Same conventions as registry.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .functions.text import tokens_expr

# Tiny public sentiment lexicon (AFINN-style, fixed weights) — the
# lexicon-join sentiment pattern from the Spark sentiment-analysis
# literature (PAPERS.md: EDBT 2016 Twitter sentiment on Spark).
SENTIMENT_LEXICON: dict[str, int] = {
    "fast": 2, "good": 3, "great": 3, "small": 1, "big": 1,
    "slow": -2, "bad": -3, "error": -2, "dup": -1, "stale": -2,
}


def q_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 lexicon sentiment: per-doc score = sum of token weights,
    normalized by token count. The lexicon is a broadcast join against an
    in-memory table — the scalable shape (lexicons are always tiny)."""
    d = _t(spark, sf_dir, "documents")
    lex = spark.createDataFrame(
        [(w, s) for w, s in SENTIMENT_LEXICON.items()], ["term", "weight"]
    )
    toks = d.select("doc_id", F.explode(tokens_expr(F.col("text"))).alias("term"))
    scored = toks.join(F.broadcast(lex), "term", "left").groupBy("doc_id").agg(
        F.sum(F.coalesce(F.col("weight"), F.lit(0))).cast("bigint").alias("raw_score"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    return scored.select(
        "doc_id",
        "raw_score",
        "n_tokens",
        F.round(F.col("raw_score") / F.col("n_tokens"), 6).alias("sentiment"),
    )


def _lexicon_values_sql() -> str:
    return ", ".join(f"('{w}', {s})" for w, s in SENTIMENT_LEXICON.items())


_ORACLE_SENTIMENT = f"""
WITH lex(term, weight) AS (VALUES {_lexicon_values_sql()}),
toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS term
  FROM documents
),
scored AS (
  SELECT doc_id,
         cast(sum(coalesce(weight, 0)) as bigint) AS raw_score,
         count(*) AS n_tokens
  FROM toks LEFT JOIN lex USING (term)
  GROUP BY doc_id
)
SELECT doc_id, raw_score, n_tokens,
       round(raw_score * 1.0 / n_tokens, 6) AS sentiment
FROM scored
"""


def q_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 n-grams: top-30 token bigrams across the corpus.

    Bigrams come from zip_with over two shifted slices of a materialized
    token array — one tokenization pass; the transform-over-sequence
    alternative re-evaluates the tokenizer per index and measured ~7x
    slower at sf0.1."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(tokens_expr(F.col("text")).alias("t"))
    bigrams = F.expr(
        "CASE WHEN size(t) >= 2 THEN "
        "zip_with(slice(t, 1, size(t)-1), slice(t, 2, size(t)-1), (x, y) -> concat(x, ' ', y)) "
        "ELSE array() END"
    )
    return (
        toks.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(30)
    )


_ORACLE_BIGRAMS = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
  FROM documents
),
bg AS (
  SELECT t[i] || ' ' || t[i + 1] AS bigram
  FROM toks, range(1, 400) r(i)
  WHERE i + 1 <= len(t)
)
SELECT bigram, count(*) AS n
FROM bg GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 30
"""


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] text cleaning: lowercase, strip punctuation, collapse runs of
    whitespace, trim — the canonical pre-dedup normalization pass."""
    d = _t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[.,!?;:(){}]", " "), r"\s+", " "
        )
    )
    return d.select("doc_id", norm.alias("text_norm"), F.length(norm).cast("bigint").alias("n_chars_norm"))


_ORACLE_NORMALIZE = r"""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:(){}]', ' ', 'g'), '\s+', ' ', 'g')) AS text_norm,
       cast(length(trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:(){}]', ' ', 'g'), '\s+', ' ', 'g'))) as bigint) AS n_chars_norm
FROM documents
"""


def q_bool_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """every/any (bool_and/bool_or) + min_by/max_by argmin aggregates."""
    o = _t(spark, sf_dir, "orders")
    # price ties exist at sf>=0.01: fold the order key into one bigint
    # ranking value (cents * 1e7 + key) so argmin/argmax are deterministic
    # with the identical expression on both engines (DuckDB 1.0 lacks
    # struct-valued arg_max).
    rank_val = (
        F.round(F.col("o_totalprice") * 100).cast("bigint") * F.lit(10_000_000)
        + F.col("o_orderkey")
    )
    return o.groupBy("o_orderpriority").agg(
        F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.some(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.min_by("o_orderkey", rank_val).alias("cheapest_order"),
        F.max_by("o_orderkey", rank_val).alias("priciest_order"),
    )


_ORACLE_BOOL_AGG = """
SELECT o_orderpriority,
       bool_and(o_totalprice > 1000) AS all_over_1k,
       bool_or(o_orderstatus = 'F') AS any_finished,
       arg_min(o_orderkey, cast(round(o_totalprice * 100) as bigint) * 10000000 + o_orderkey) AS cheapest_order,
       arg_max(o_orderkey, cast(round(o_totalprice * 100) as bigint) * 10000000 + o_orderkey) AS priciest_order
FROM orders GROUP BY o_orderpriority
"""


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist / percent_rank over a total order.

    Deliberately GLOBAL window — the literal ``CUME_DIST()/PERCENT_RANK()
    OVER (ORDER BY ...)`` SQL semantics being demonstrated (sanctioned
    exception in tests/test_plan_guards.py). At 100 TB run
    ``distributed_cume_dist`` (registry_ext37) instead — the
    value-identical twin built on ``operators/scan_prefix.
    global_rank_zero`` (cume_dist = (r0+1)/N, percent_rank = r0/(N-1)),
    whose oracle is this very window SQL — no single-partition window."""
    c = _t(spark, sf_dir, "customer")
    w = Window.orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    return c.select(
        "c_custkey",
        F.round(F.cume_dist().over(w), 6).alias("bal_cume_dist"),
        F.round(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
    )


_ORACLE_WIN_DIST = """
SELECT c_custkey,
       round(cume_dist() OVER w, 6) AS bal_cume_dist,
       round(percent_rank() OVER w, 6) AS bal_pct_rank
FROM customer
WINDOW w AS (ORDER BY c_acctbal ASC, c_custkey ASC)
"""


def q_bitwise_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise surface: and/or/xor/shift/bit_count on integer keys."""
    li = _t(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        k.bitwiseAND(F.lit(255)).alias("and255"),
        k.bitwiseOR(F.lit(1)).alias("or1"),
        k.bitwiseXOR(F.col("l_partkey")).alias("xor_part"),
        F.shiftleft(k, 2).alias("shl2"),
        F.shiftright(k, 3).alias("shr3"),
        F.bit_count(k).cast("bigint").alias("popcount"),
    )


_ORACLE_BITWISE = """
SELECT l_orderkey,
       cast(l_linenumber as bigint) AS l_linenumber,
       l_orderkey & 255 AS and255,
       l_orderkey | 1 AS or1,
       xor(l_orderkey, l_partkey) AS xor_part,
       l_orderkey << 2 AS shl2,
       l_orderkey >> 3 AS shr3,
       cast(bit_count(l_orderkey) as bigint) AS popcount
FROM lineitem
"""


def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part surface incl. cross-engine-normalized day-of-week
    (ISO: Monday=1..Sunday=7 — Spark's dayofweek is Sunday=1, DuckDB's
    dayofweek is Sunday=0; both mapped to ISO explicitly)."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.dayofyear(d).cast("bigint").alias("doy"),
        F.weekofyear(d).cast("bigint").alias("iso_week"),
        # Spark: dayofweek Sun=1..Sat=7 -> ISO Mon=1..Sun=7
        ((F.dayofweek(d) + 5) % 7 + 1).cast("bigint").alias("iso_dow"),
        F.last_day(d.cast("date")).cast("string").alias("month_end"),
        F.unix_timestamp(d).cast("bigint").alias("epoch_sec"),
    )


_ORACLE_DATE_PARTS = """
SELECT o_orderkey,
       cast(dayofyear(o_orderdate) as bigint) AS doy,
       cast(weekofyear(o_orderdate) as bigint) AS iso_week,
       cast(isodow(o_orderdate) as bigint) AS iso_dow,
       cast(last_day(cast(o_orderdate as date)) as varchar) AS month_end,
       cast(epoch(o_orderdate) as bigint) AS epoch_sec
FROM orders
"""


def q_greatest_least(spark: SparkSession, sf_dir: str) -> DataFrame:
    """greatest/least n-ary comparisons."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        F.greatest("l_quantity", "l_discount", "l_tax").alias("g"),
        F.least("l_quantity", "l_discount", "l_tax").alias("l"),
    )


_ORACLE_GREATEST = """
SELECT l_orderkey, cast(l_linenumber as bigint) AS l_linenumber,
       greatest(l_quantity, l_discount, l_tax) AS g,
       least(l_quantity, l_discount, l_tax) AS l
FROM lineitem
"""


def q_dedup_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X2 end-to-end near-dup collapse: exact-Jaccard pairs ->
    connected components (iterative min-id propagation) -> one canonical
    doc per cluster. The pair source is the deterministic exact-Jaccard
    join, so the whole pipeline has a full-parity DuckDB twin: a
    recursive CTE propagates reachable labels and min() per node yields
    the component (min doc id of the cluster), same as union-find."""
    from .operators.dedup import jaccard_token_sets, connected_components

    d = _t(spark, sf_dir, "documents")
    pairs = jaccard_token_sets(d, threshold=0.8, block_cols=["lang"], length_window=16)
    comp = connected_components(pairs, d.select(F.col("doc_id")))
    return (
        comp.groupBy("component")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("cluster_size"))
        .select("canonical_doc_id", "cluster_size")
    )


# Connected components as a recursive CTE: ``walk`` enumerates every
# (node, label) pair where label is reachable from node (undirected
# edges), so min(label) per node = the component's min doc id — exactly
# the union-find / min-label-propagation result. Termination: UNION
# dedups, and the pair space is finite (sum of cluster sizes squared).
_ORACLE_DEDUP_COLLAPSE = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok_set
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM toks a JOIN toks b
    ON a.doc_id < b.doc_id AND a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 16
  WHERE round(cast(len(list_intersect(a.tok_set, b.tok_set)) as double)
              / cast(len(list_distinct(list_concat(a.tok_set, b.tok_set))) as double), 6) >= 0.8
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk(node, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, w.comp FROM walk w JOIN edges e ON e.dst = w.node
),
labels AS (SELECT node, min(comp) AS component FROM walk GROUP BY node)
SELECT cast(component AS bigint) AS canonical_doc_id,
       cast(count(*) AS bigint) AS cluster_size
FROM labels GROUP BY component
"""


REGISTRY_EXT2: dict[str, QuerySpec] = {
    "text_sentiment_lexicon": QuerySpec(q_sentiment_lexicon, _ORACLE_SENTIMENT, "X6"),
    "text_bigrams_top": QuerySpec(q_bigrams, _ORACLE_BIGRAMS, "X6"),
    "text_normalize": QuerySpec(q_text_normalize, _ORACLE_NORMALIZE, "X6"),
    "bool_argminmax_aggs": QuerySpec(q_bool_aggregates, _ORACLE_BOOL_AGG, "§2.6 agg"),
    "window_distribution": QuerySpec(q_window_distribution, _ORACLE_WIN_DIST, "§2.6 window"),
    "bitwise_ops": QuerySpec(q_bitwise_ops, _ORACLE_BITWISE, "§2.6 scalar"),
    "date_parts_iso": QuerySpec(q_date_parts, _ORACLE_DATE_PARTS, "§2.6 scalar"),
    "greatest_least": QuerySpec(q_greatest_least, _ORACLE_GREATEST, "§2.6 scalar"),
    "dedup_collapse_components": QuerySpec(
        q_dedup_collapse, _ORACLE_DEDUP_COLLAPSE, "X2 iterative"
    ),
}
