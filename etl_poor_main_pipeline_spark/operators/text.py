"""Text-analysis operators over ``documents`` ([EXT] X6/X7, SURVEY §2.7):
term frequencies, TF-IDF and per-language stats.

Everything is explode/groupBy/window over built-in functions — one shuffle
per aggregate, map-side combine on, no Python row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import token_count_ws, tokens_expr


def term_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide term counts: explode tokens -> hash aggregate."""
    return (
        df.select(F.explode(tokens_expr(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def top_terms(df: DataFrame, n: int = 50, text_col: str = "text") -> DataFrame:
    return term_frequencies(df, text_col).orderBy(F.col("tf").desc(), F.col("term").asc()).limit(n)


def tf_idf(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact TF-IDF per (doc, term): tf * ln(N / df).

    Pure SQL formulation (no HashingTF) so it is oracle-checkable and has
    no feature-collision approximation. Two aggregates: per-(doc,term)
    counts, then a window over terms for document frequency — both standard
    shuffles on compact keys. N comes from a keyless aggregate broadcast
    into the plan (one job total — a driver-side .count() would bill a
    second full scan to every serving call).
    """
    n = df.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    tokens = df.select(F.col(id_col), F.explode(tokens_expr(text_col)).alias("term"))
    tf = tokens.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # tf has one row per (doc, term), so document frequency is a plain
    # count(*) window — Spark lacks DISTINCT window aggregates anyway.
    df_w = Window.partitionBy("term")
    return (
        tf.withColumn("df", F.count(F.lit(1)).over(df_w))
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            F.col("term"),
            F.col("tf"),
            F.col("df"),
            F.round(F.col("tf") * F.log(F.col("_n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )


def text_stats(df: DataFrame, text_col: str = "text", lang_col: str = "lang") -> DataFrame:
    """X7 per-language corpus stats."""
    return (
        df.groupBy(F.col(lang_col).alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.length(F.col(text_col))), 4).alias("avg_chars"),
            F.round(F.avg(token_count_ws(F.col(text_col))), 4).alias("avg_tokens"),
        )
    )
