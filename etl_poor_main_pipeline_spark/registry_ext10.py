"""Operator registry, wave 11: training-data curation signals over the
documents corpus — the filter/score stage of an LLM data pipeline
(Gopher-style rule filtering, intra-document repetition, corpus-level
unigram log-probability, benchmark decontamination). All pure
JVM-side expressions (no Python in the row path) with full-parity
DuckDB twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.text import (
    LANG_MARKERS,
    shingles_expr,
    stopword_ratio,
    token_count_ws,
    tokens_expr,
)
from .registry import QuerySpec, _t
from .session import barrier

_EN_SW_SQL = "[" + ", ".join(f"'{w}'" for w in LANG_MARKERS["en"]) + "]"

# DuckDB twin of functions.text.tokens_expr
_TOKS_SQL = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"

# DuckDB twin of functions.text.shingles_expr(k=3): word 3-grams, with the
# same <3-token fallback (whole doc as a single shingle)
_SHINGLES_SQL = f"""
CASE WHEN len({_TOKS_SQL}) >= 3 THEN
  list_transform(range(1, greatest(len({_TOKS_SQL}) - 2, 0) + 1),
                 i -> {_TOKS_SQL}[i] || ' ' || {_TOKS_SQL}[i + 1] || ' ' || {_TOKS_SQL}[i + 2])
ELSE [array_to_string({_TOKS_SQL}, ' ')] END
"""


def q_text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 intra-document repetition: fraction of word 3-gram
    shingles that are duplicates (1 - distinct/total) — the Gopher-style
    "repeated n-gram" quality signal. Pure map-side expressions; at scale
    this is a single scan with no shuffle."""
    d = _t(spark, sf_dir, "documents")
    sh = shingles_expr("text", 3)
    total = F.size(sh)
    distinct = F.size(F.array_distinct(sh))
    return d.select(
        "doc_id",
        total.cast("bigint").alias("n_shingles"),
        distinct.cast("bigint").alias("n_distinct"),
        F.round(F.lit(1.0) - distinct / F.greatest(total, F.lit(1)), 6).alias("repetition"),
    )


_ORACLE_REPETITION = f"""
WITH sh AS (SELECT doc_id, ({_SHINGLES_SQL}) AS s FROM documents)
SELECT doc_id,
       cast(len(s) AS bigint) AS n_shingles,
       cast(len(list_distinct(s)) AS bigint) AS n_distinct,
       round(1.0 - len(list_distinct(s)) * 1.0 / greatest(len(s), 1), 6) AS repetition
FROM sh
"""


def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 Gopher-style rule filter: per-document quality flags
    (token count in range, mean word length in range, stopword presence,
    low 3-gram repetition) and the combined keep decision. Each signal is
    also emitted so downstream can re-threshold without recomputing."""
    d = _t(spark, sf_dir, "documents")
    toks = tokens_expr("text")
    n_tok = token_count_ws("text")
    char_sum = F.expr("aggregate(filter(split(lower(text), '\\\\s+'), t -> t != ''), 0L, (a, x) -> a + length(x))")
    mean_wl = F.round(char_sum / F.greatest(n_tok, F.lit(1)), 4)
    sw = F.round(stopword_ratio("text"), 6)
    sh = shingles_expr("text", 3)
    rep = F.round(
        F.lit(1.0) - F.size(F.array_distinct(sh)) / F.greatest(F.size(sh), F.lit(1)), 6
    )
    ok_tokens = (n_tok >= 20) & (n_tok <= 1000)
    ok_word_len = (mean_wl >= 3.0) & (mean_wl <= 10.0)
    ok_stopwords = sw >= 0.05
    ok_repetition = rep <= 0.5
    return d.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        mean_wl.alias("mean_word_len"),
        sw.alias("sw_ratio"),
        rep.alias("repetition"),
        ok_tokens.alias("ok_tokens"),
        ok_word_len.alias("ok_word_len"),
        ok_stopwords.alias("ok_stopwords"),
        ok_repetition.alias("ok_repetition"),
        (ok_tokens & ok_word_len & ok_stopwords & ok_repetition).alias("keep"),
    )


_ORACLE_GOPHER = f"""
WITH sig AS (
  SELECT doc_id,
         len({_TOKS_SQL}) AS n_tok,
         round(list_sum(list_transform({_TOKS_SQL}, t -> length(t))) * 1.0
               / greatest(len({_TOKS_SQL}), 1), 4) AS mean_wl,
         round(len(list_filter({_TOKS_SQL}, t -> list_contains({_EN_SW_SQL}, t))) * 1.0
               / greatest(len({_TOKS_SQL}), 1), 6) AS sw,
         round(1.0 - len(list_distinct({_SHINGLES_SQL})) * 1.0
               / greatest(len({_SHINGLES_SQL}), 1), 6) AS rep
  FROM documents
)
SELECT doc_id,
       cast(n_tok AS bigint) AS n_tokens,
       mean_wl AS mean_word_len,
       sw AS sw_ratio,
       rep AS repetition,
       (n_tok >= 20 AND n_tok <= 1000) AS ok_tokens,
       (mean_wl >= 3.0 AND mean_wl <= 10.0) AS ok_word_len,
       (sw >= 0.05) AS ok_stopwords,
       (rep <= 0.5) AS ok_repetition,
       (n_tok >= 20 AND n_tok <= 1000 AND mean_wl >= 3.0 AND mean_wl <= 10.0
        AND sw >= 0.05 AND rep <= 0.5) AS keep
FROM sig
"""


def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 corpus-level unigram log-probability score per document
    (the cheap perplexity proxy): p(tok) from corpus-wide counts, score =
    mean ln p over the document's token multiset. Two-pass shape: the
    frequency table is a tiny aggregated dim (vocabulary-sized) that
    broadcasts back onto the exploded token stream — at 100 TB the big
    side never shuffles, only the vocab does."""
    from .operators.dedup import spread

    d = _t(spark, sf_dir, "documents")
    toks = spread(d).select("doc_id", F.explode(tokens_expr("text")).alias("tok"))
    toks = barrier(toks)
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = toks.agg(F.count(F.lit(1)).alias("total"))
    return (
        toks.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log(F.col("cnt") / F.col("total"))), 4).alias("avg_logprob"),
        )
    )


_ORACLE_LOGPROB = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
),
freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
tot AS (SELECT count(*) AS total FROM toks)
SELECT t.doc_id,
       cast(count(*) AS bigint) AS n_tokens,
       round(avg(ln(f.cnt * 1.0 / tot.total)), 4) AS avg_logprob
FROM toks t JOIN freq f USING (tok), tot
GROUP BY t.doc_id
"""


_BENCH_PHRASES = [
    "hash join",
    "merge sort",
    "group filter",
    "window agg",
    "fast scan",
    "slow query",
]


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 benchmark decontamination: flag documents containing any
    phrase from a (fixed, tiny) benchmark set — substring containment on
    normalized text, the standard first-pass train/test overlap check.
    The phrase list is a literal array evaluated map-side; at scale it is
    a broadcast dimension and the scan never shuffles."""
    d = _t(spark, sf_dir, "documents")
    phrases = F.array(*[F.lit(p) for p in _BENCH_PHRASES])
    matched = F.filter(phrases, lambda p: F.contains(F.lower(F.col("text")), p))
    return d.select(
        "doc_id",
        F.size(matched).cast("bigint").alias("n_matches"),
        F.concat_ws(",", matched).alias("matched_phrases"),
        (F.size(matched) > 0).alias("contaminated"),
    )


_BENCH_SQL = "[" + ", ".join(f"'{p}'" for p in _BENCH_PHRASES) + "]"

_ORACLE_DECONTAMINATE = f"""
SELECT doc_id,
       cast(len(list_filter({_BENCH_SQL}, p -> contains(lower(text), p))) AS bigint) AS n_matches,
       coalesce(array_to_string(list_filter({_BENCH_SQL}, p -> contains(lower(text), p)), ','), '') AS matched_phrases,
       len(list_filter({_BENCH_SQL}, p -> contains(lower(text), p))) > 0 AS contaminated
FROM documents
"""


REGISTRY_EXT10: dict[str, QuerySpec] = {
    "text_repetition_ratio": QuerySpec(q_text_repetition_ratio, _ORACLE_REPETITION, "X6"),
    "text_gopher_rules": QuerySpec(q_text_gopher_rules, _ORACLE_GOPHER, "X6/X8"),
    "text_unigram_logprob": QuerySpec(q_text_unigram_logprob, _ORACLE_LOGPROB, "X6"),
    "text_decontaminate": QuerySpec(q_text_decontaminate, _ORACLE_DECONTAMINATE, "X6/X8"),
}
