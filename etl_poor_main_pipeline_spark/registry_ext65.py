"""Operator registry, wave 66: corpus-driven stopword discovery,
train/val split leakage audit, and local clustering coefficients.

Scale stances:
- Stopword discovery: document frequencies are one map-side aggregate
  over per-doc DISTINCT tokens; the candidate list is
  vocabulary-bounded and thresholded on an exact integer df ratio.
- Split leakage: 8-gram shingles of validation docs probed against the
  train-side shingle set with a semi join — the eval-hygiene audit
  that catches near-verbatim overlap the doc-level split cannot see.
  Shingle frames are corpus-gram-bounded; the split is the
  deterministic md5-prefix rule (split_train_val_test).
- Clustering coefficient: reuses the ordered 3-way triangle join and
  the degree aggregate over the SAME checkpointed edge frame;
  cc = 2*tri / (deg*(deg-1)) is an exact-int ratio bucketed into a
  10-bin histogram.

Reference parity: none; [EXT] X2/X6/X9 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.text import tokens_expr
from .operators import dedup
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# Corpus-driven stopword discovery (X6 [EXT])
# --------------------------------------------------------------------------

_SW_DF_THRESH = 0.5  # document-frequency ratio above which a token is a stopword


def q_stopword_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 corpus-driven stopword discovery: tokens whose
    document frequency exceeds {t:.0%} of the corpus — the
    data-derived stopword list that replaces hand-curated ones before
    TF-IDF/BM25 indexing. Per-doc distinct tokens aggregate map-side;
    the threshold test is exact-int (df * 100 >= n_docs * {p}).
    Reports each candidate with its df and df ratio."""
    d = _t(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    df_counts = (
        d.select("doc_id", F.explode(F.array_distinct(tokens_expr("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    return (
        df_counts.crossJoin(F.broadcast(n_docs))
        .where(F.col("df") * 100 >= F.col("n") * int(_SW_DF_THRESH * 100))
        .select(
            "w",
            "df",
            F.floor(F.lit(1e6) * F.col("df") / F.col("n") + F.lit(0.5))
            .cast("bigint")
            .alias("df_ratio_micro"),
        )
        .orderBy(F.desc("df"), F.asc("w"))
    )


_ORACLE_STOPWORDS = rf"""
WITH n_docs AS (SELECT count(*)::BIGINT AS n FROM documents),
dfc AS (
  SELECT w, count(*)::BIGINT AS df FROM (
    SELECT doc_id, unnest(list_distinct(
             list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')))
             AS w
    FROM documents
  ) GROUP BY 1
)
SELECT w, df,
       cast(floor(1e6 * df / t.n + 0.5) AS bigint) AS df_ratio_micro
FROM dfc CROSS JOIN n_docs t
WHERE df * 100 >= t.n * {int(_SW_DF_THRESH * 100)}
ORDER BY df DESC, w ASC
"""


# --------------------------------------------------------------------------
# Train/val split leakage audit (X2/X8 [EXT])
# --------------------------------------------------------------------------

_LEAK_NGRAM = 8
_LEAK_TRAIN_PREFIX = "c6"  # md5 2-hex prefix below this = train (~77%)


def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X2/X8 split-leakage audit: {n}-gram shingles of VALIDATION
    documents probed against the TRAIN side's shingle set — the
    eval-hygiene check that catches near-verbatim overlap a doc-level
    hash split cannot see (same deterministic md5-prefix split rule as
    split_train_val_test). Reports per lang: val docs, val docs with
    any leaked {n}-gram, and the leaked-shingle rate in micro. Shingle
    probing is a semi join on xxhash64 grams."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
            < F.lit(_LEAK_TRAIN_PREFIX)
        ).alias("is_train"),
        tokens_expr("text").alias("ts"),
    )
    grams = d.where(F.size("ts") >= _LEAK_NGRAM).selectExpr(
        "doc_id",
        "lang",
        "is_train",
        f"explode(transform(sequence(1, size(ts) - {_LEAK_NGRAM - 1}),"
        f" i -> xxhash64(concat_ws(' ', slice(ts, i, {_LEAK_NGRAM}))))) as g",
    )
    train_g = grams.where(F.col("is_train")).select("g").distinct()
    val_g = grams.where(~F.col("is_train")).select("doc_id", "lang", "g")
    leaked = val_g.join(train_g, "g", "left_semi").select(
        "doc_id", "lang", F.lit(1).alias("hit")
    )
    per_doc = (
        val_g.groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"))
        .join(
            leaked.groupBy("doc_id").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_leaked")
            ),
            "doc_id",
            "left",
        )
        .select(
            "lang", "n_grams", F.coalesce("n_leaked", F.lit(0)).alias("n_leaked")
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_val_docs"),
            F.sum(F.when(F.col("n_leaked") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs_leaked"),
            F.floor(
                F.lit(1e6) * F.sum("n_leaked") / F.sum("n_grams") + F.lit(0.5)
            )
            .cast("bigint")
            .alias("leak_rate_micro"),
        )
        .orderBy("lang")
    )


_ORACLE_LEAKAGE = rf"""
WITH d AS (
  SELECT doc_id, lang,
         (substr(md5(cast(doc_id AS varchar)), 1, 2) < '{_LEAK_TRAIN_PREFIX}')
           AS is_train,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
  FROM documents
),
grams AS (
  SELECT doc_id, lang, is_train,
         md5(array_to_string(ts[i : i + {_LEAK_NGRAM - 1}], ' ')) AS g
  FROM (
    SELECT doc_id, lang, is_train, ts,
           unnest(range(1, len(ts) - {_LEAK_NGRAM - 2})) AS i
    FROM d WHERE len(ts) >= {_LEAK_NGRAM}
  )
),
train_g AS (SELECT DISTINCT g FROM grams WHERE is_train),
val_g AS (SELECT doc_id, lang, g FROM grams WHERE NOT is_train),
per_doc AS (
  SELECT v.doc_id, v.lang,
         count(*)::BIGINT AS n_grams,
         sum(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_leaked
  FROM val_g v LEFT JOIN train_g t ON t.g = v.g
  GROUP BY 1, 2
)
SELECT lang, count(*)::BIGINT AS n_val_docs,
       sum(CASE WHEN n_leaked > 0 THEN 1 ELSE 0 END)::BIGINT AS n_docs_leaked,
       cast(floor(1e6 * sum(n_leaked) / sum(n_grams) + 0.5) AS bigint)
         AS leak_rate_micro
FROM per_doc GROUP BY 1 ORDER BY lang
"""


# --------------------------------------------------------------------------
# Local clustering coefficient histogram (X9 [EXT])
# --------------------------------------------------------------------------


def q_local_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 local clustering coefficients over the near-dup graph:
    cc(v) = 2*triangles(v) / (deg(v)*(deg(v)-1)) — near 1 inside
    template cliques, near 0 for chance pairs; the histogram is the
    graph-shape fingerprint that says whether dedup clusters are
    cliquish (safe to collapse) or chainy (collapse cautiously).
    Triangles and degrees reuse ONE checkpointed edge frame; cc is an
    exact-int ratio folded into 10 fixed buckets (+ bucket -1 for
    degree < 2 nodes)."""
    d = _t(spark, sf_dir, "documents")
    pairs = barrier(
        dedup.jaccard_token_sets(d, threshold=0.8, block_cols=["lang"], length_window=16)
        .select("id_a", "id_b")
    )
    e1 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = pairs.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    e3 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    deg = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("id_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    cc = deg.join(tri, "doc_id", "left").select(
        "doc_id",
        "deg",
        F.coalesce("t", F.lit(0)).alias("t"),
        F.when(F.col("deg") < 2, F.lit(-1).cast("bigint"))
        .otherwise(
            F.least(
                F.floor(
                    F.lit(10)
                    * F.lit(2)
                    * F.coalesce("t", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1))
                ),
                F.lit(9),
            ).cast("bigint")
        )
        .alias("bucket"),
    )
    return (
        cc.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("t").cast("bigint").alias("sum_triangles"),
        )
        .orderBy("bucket")
    )


_ORACLE_CLUSTERING = rf"""
WITH toks AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                                   t -> t <> '')) AS tok_set
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM toks a JOIN toks b
    ON a.doc_id < b.doc_id AND a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 16
  WHERE cast(len(list_intersect(a.tok_set, b.tok_set)) as double)
        / cast(len(list_distinct(list_concat(a.tok_set, b.tok_set))) as double) >= 0.8
),
tri AS (
  SELECT doc_id, count(*)::BIGINT AS t FROM (
    SELECT e1.id_a AS doc_id
    FROM pairs e1 JOIN pairs e2 ON e2.id_a = e1.id_b
    JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    UNION ALL
    SELECT e1.id_b
    FROM pairs e1 JOIN pairs e2 ON e2.id_a = e1.id_b
    JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    UNION ALL
    SELECT e2.id_b
    FROM pairs e1 JOIN pairs e2 ON e2.id_a = e1.id_b
    JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
  ) GROUP BY 1
),
deg AS (
  SELECT doc_id, count(*)::BIGINT AS deg FROM (
    SELECT id_a AS doc_id FROM pairs UNION ALL SELECT id_b FROM pairs
  ) GROUP BY 1
),
cc AS (
  SELECT d.doc_id, d.deg, coalesce(t.t, 0) AS t,
         CASE WHEN d.deg < 2 THEN -1
              ELSE least(cast(floor(10 * 2 * coalesce(t.t, 0) * 1.0
                                    / (d.deg * (d.deg - 1))) AS bigint), 9)
         END AS bucket
  FROM deg d LEFT JOIN tri t USING (doc_id)
)
SELECT bucket, count(*)::BIGINT AS n_nodes, sum(t)::BIGINT AS sum_triangles
FROM cc GROUP BY 1 ORDER BY bucket
"""


REGISTRY_EXT65: dict[str, QuerySpec] = {
    "stopword_discovery": QuerySpec(
        q_stopword_discovery, _ORACLE_STOPWORDS, "X6 [EXT] corpus stopwords"
    ),
    "split_leakage_audit": QuerySpec(
        q_split_leakage_audit, _ORACLE_LEAKAGE, "X2/X8 [EXT] eval hygiene"
    ),
    "local_clustering_coeff": QuerySpec(
        q_local_clustering_coeff, _ORACLE_CLUSTERING, "X9 [EXT] graph shape"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_stopword_discovery.__doc__ = q_stopword_discovery.__doc__.format(t=_SW_DF_THRESH, p=int(_SW_DF_THRESH * 100))  # noqa: E501
q_split_leakage_audit.__doc__ = q_split_leakage_audit.__doc__.format(n=_LEAK_NGRAM)  # noqa: E501
