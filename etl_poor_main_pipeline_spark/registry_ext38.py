"""Operator registry, wave 39: retrieval evaluation, event path mining,
incremental-ingest dedup, and filter-reason auditing.

Scale stances:
- retrieval eval: the ranking is top-15 (constant); rank assignment is
  a triangular join on that constant frame (NOT a global window — the
  guard stays clean); DCG/IDCG terms go through decimal so reduce
  order can't flip the micro floor.
- event paths: two lead()s in a user-partitioned window, one bounded
  top-k aggregate.
- incremental dedup: the production ingest shape — hash-join the DELTA
  against the base index; the base is never re-deduped. Shuffles only
  the fingerprint key.
- quality bitmap: one explode + one per-doc aggregate; every rule is
  an integer-ratio comparison (no FP thresholds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .operators.dedup import spread
from .registry import QuerySpec, _t
from .registry_ext18 import _BM25_QUERY_TERMS, _ORACLE_BM25, q_bm25_topk
from .session import barrier

# --------------------------------------------------------------------------
# Retrieval evaluation: MRR / P@10 / NDCG@10 (X6 eval [EXT])
# --------------------------------------------------------------------------


def q_retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 the retrieval pipeline's own quality gate: MRR, P@10 and
    binary NDCG@10 of the BM25 top-15 ranking against deterministic
    pseudo-qrels (relevant = document contains ALL query terms
    {terms}). One row. The ranking is a constant-size frame, so ranks
    come from a triangular self-join (no global window — the guard
    stays clean); DCG/IDCG contributions are per-rank constants summed
    through decimal(38,16) so reduce order cannot flip the micro
    floor. Eval-tier sibling of lsh_recall_audit."""
    d = _t(spark, sf_dir, "documents")
    ranked = q_bm25_topk(spark, sf_dir).select("doc_id", "score_micro")
    ranked = barrier(ranked)  # tiny; feeds 2 join sides
    a = ranked.select(
        F.col("doc_id").alias("a_id"), F.col("score_micro").alias("a_s")
    )
    b = ranked.select(
        F.col("doc_id").alias("b_id"), F.col("score_micro").alias("b_s")
    )
    rnk = (
        a.join(
            F.broadcast(b),
            (F.col("b_s") > F.col("a_s"))
            | ((F.col("b_s") == F.col("a_s")) & (F.col("b_id") < F.col("a_id"))),
            "left",
        )
        .groupBy("a_id")
        .agg((F.count("b_id") + 1).cast("bigint").alias("rnk"))
        .select(F.col("a_id").alias("doc_id"), "rnk")
    )
    toks = F.array_distinct(
        F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit(""))
    )
    rel = (
        d.select("doc_id", toks.alias("ts"))
        .where(
            F.size(
                F.array_intersect(
                    F.col("ts"), F.array(*[F.lit(t) for t in _BM25_QUERY_TERMS])
                )
            )
            == len(_BM25_QUERY_TERMS)
        )
        .select("doc_id")
    )
    n_rel = rel.agg(F.count(F.lit(1)).cast("bigint").alias("n_relevant"))
    flags = rnk.join(rel.withColumn("is_rel", F.lit(1)), "doc_id", "left").select(
        "rnk", F.coalesce("is_rel", F.lit(0)).alias("is_rel")
    )
    log2 = lambda x: F.log(x) / F.log(F.lit(2.0))  # noqa: E731
    dcg_term = (
        F.when(
            (F.col("rnk") <= 10) & (F.col("is_rel") == 1),
            F.lit(1.0) / log2(F.col("rnk") + 1),
        )
        .otherwise(F.lit(0.0))
        .cast("decimal(38,16)")
    )
    agg = flags.agg(
        F.min(F.when(F.col("is_rel") == 1, F.col("rnk"))).alias("first_rel"),
        F.sum(F.when((F.col("rnk") <= 10) & (F.col("is_rel") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("rel_in_10"),
        F.sum(dcg_term).cast("double").alias("dcg"),
    )
    ideal = (
        spark.range(1, 11)
        .withColumnRenamed("id", "i")
        .crossJoin(F.broadcast(n_rel))
        .where(F.col("i") <= F.least(F.col("n_relevant"), F.lit(10)))
        .agg(
            F.sum((F.lit(1.0) / log2(F.col("i") + 1)).cast("decimal(38,16)"))
            .cast("double")
            .alias("idcg")
        )
    )
    return (
        agg.crossJoin(F.broadcast(n_rel))
        .crossJoin(F.broadcast(ideal))
        .select(
            "n_relevant",
            F.coalesce(
                F.floor(F.lit(1e6) / F.col("first_rel")), F.lit(0)
            )
            .cast("bigint")
            .alias("mrr_micro"),
            F.floor(F.lit(100000.0) * F.col("rel_in_10"))
            .cast("bigint")
            .alias("p_at_10_x1e6"),
            F.floor(F.lit(1e6) * F.col("dcg") / F.col("idcg") + F.lit(0.5))
            .cast("bigint")
            .alias("ndcg_at_10_micro"),
        )
    )


_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_QUERY_TERMS)

_ORACLE_RETRIEVAL_EVAL = f"""
WITH ranked AS ({_ORACLE_BM25}),
r2 AS (
  SELECT a.doc_id,
         (1 + (SELECT count(*) FROM ranked b
               WHERE b.score_micro > a.score_micro
                  OR (b.score_micro = a.score_micro AND b.doc_id < a.doc_id)))::BIGINT AS rnk
  FROM ranked a
),
rel AS (
  SELECT doc_id FROM (
    SELECT doc_id, list_distinct(list_filter(string_split_regex(text, '\\s+'),
                                             t -> t <> '')) AS ts
    FROM documents)
  WHERE list_has_all(ts, [{_TERMS_SQL}])
),
nrel AS (SELECT count(*)::BIGINT AS n_relevant FROM rel),
flags AS (
  SELECT r2.rnk, CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_rel
  FROM r2 LEFT JOIN rel ON rel.doc_id = r2.doc_id
),
agg AS (
  SELECT min(CASE WHEN is_rel = 1 THEN rnk END) AS first_rel,
         sum(CASE WHEN rnk <= 10 AND is_rel = 1 THEN 1 ELSE 0 END)::BIGINT AS rel_in_10,
         cast(sum(cast(CASE WHEN rnk <= 10 AND is_rel = 1
                            THEN 1.0 / (ln(rnk + 1) / ln(2.0)) ELSE 0.0 END
                       AS DECIMAL(38,16))) AS double) AS dcg
  FROM flags
),
ideal AS (
  SELECT cast(sum(cast(1.0 / (ln(i + 1) / ln(2.0)) AS DECIMAL(38,16))) AS double) AS idcg
  FROM range(1, 11) t(i), nrel
  WHERE i <= least(nrel.n_relevant, 10)
)
SELECT nrel.n_relevant,
       coalesce(cast(floor(1000000.0 / agg.first_rel) AS bigint), 0) AS mrr_micro,
       cast(floor(100000.0 * agg.rel_in_10) AS bigint) AS p_at_10_x1e6,
       cast(floor(1000000.0 * agg.dcg / ideal.idcg + 0.5) AS bigint) AS ndcg_at_10_micro
FROM agg, nrel, ideal
"""


# --------------------------------------------------------------------------
# Top event paths (X9 [EXT])
# --------------------------------------------------------------------------

_PATHS_TOPK = 20


def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 path mining (the Sankey-diagram prep): every CONSECUTIVE
    3-event path per user in (ts, event_id) order, global top-{k} by
    frequency. Two lead()s in a user-partitioned window (state = the
    path length, shuffle = the user key), one bounded top-k
    aggregate — markov_transitions' order-3 sibling."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("e1", F.lead("event_type", 1).over(w))
        .withColumn("e2", F.lead("event_type", 2).over(w))
        .where(F.col("e1").isNotNull() & F.col("e2").isNotNull())
    )
    return (
        seq.select(
            F.concat_ws(">", "event_type", "e1", "e2").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(_PATHS_TOPK)
    )


_ORACLE_PATHS = f"""
WITH seq AS (
  SELECT event_type,
         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e1,
         lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2
  FROM events
)
SELECT event_type || '>' || e1 || '>' || e2 AS path,
       count(*)::BIGINT AS n
FROM seq WHERE e1 IS NOT NULL AND e2 IS NOT NULL
GROUP BY path ORDER BY n DESC, path ASC LIMIT {_PATHS_TOPK}
"""


# --------------------------------------------------------------------------
# Incremental-ingest dedup (X1 [EXT])
# --------------------------------------------------------------------------

_DELTA_SPLIT = 250  # doc_id < split -> base corpus; rest -> today's delta


def q_incremental_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X1 the PRODUCTION dedup shape: a daily delta arrives and is
    deduped against the existing base index WITHOUT re-deduping the
    base — delta fingerprints hash-join the base fingerprint index
    (shuffle on the md5 key only), then intra-delta first-occurrence
    resolves the rest. The fingerprint is the CANONICAL form md5
    (sorted distinct token set) — word-order-insensitive, the cheapest
    key that actually collides on template rewrites (raw-text md5
    finds nothing in a corpus of permuted templates). Per-language
    triage: how many delta docs are base dups, intra-delta dups, or
    genuinely new. (dedup_exact is the full-corpus batch shape; this
    is the incremental one a 100 TB corpus actually runs every day.)"""
    canon = F.md5(
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.filter(
                        F.split(F.lower(F.col("text")), r"\s+"),
                        lambda t: t != F.lit(""),
                    )
                )
            ),
            " ",
        )
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", canon.alias("fp"))
    base = d.where(F.col("doc_id") < _DELTA_SPLIT).select("fp").distinct()
    delta = d.where(F.col("doc_id") >= _DELTA_SPLIT)
    vs_base = delta.join(
        base.withColumn("in_base", F.lit(1)), "fp", "left"
    ).select("doc_id", "lang", "fp", F.coalesce("in_base", F.lit(0)).alias("in_base"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    triaged = vs_base.withColumn("rn", F.row_number().over(w)).select(
        "lang",
        F.when(F.col("in_base") == 1, F.lit("dup_of_base"))
        .when(F.col("rn") > 1, F.lit("dup_in_delta"))
        .otherwise(F.lit("new"))
        .alias("status"),
    )
    return (
        triaged.groupBy("lang", "status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("lang", "status")
    )


_ORACLE_DELTA_DEDUP = f"""
WITH d AS (
  SELECT doc_id, lang,
         md5(array_to_string(list_sort(list_distinct(
           list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''))),
           ' ')) AS fp
  FROM documents
),
base AS (SELECT DISTINCT fp FROM d WHERE doc_id < {_DELTA_SPLIT}),
delta AS (SELECT * FROM d WHERE doc_id >= {_DELTA_SPLIT}),
triaged AS (
  SELECT delta.lang,
         CASE WHEN base.fp IS NOT NULL THEN 'dup_of_base'
              WHEN row_number() OVER (PARTITION BY delta.fp ORDER BY delta.doc_id) > 1
                THEN 'dup_in_delta'
              ELSE 'new' END AS status
  FROM delta LEFT JOIN base ON delta.fp = base.fp
)
SELECT lang, status, count(*)::BIGINT AS n_docs
FROM triaged GROUP BY lang, status ORDER BY lang, status
"""


# --------------------------------------------------------------------------
# Quality filter-reason bitmap (X6/dq [EXT])
# --------------------------------------------------------------------------

_QR_STOPWORDS = ("the", "a")


def q_quality_reasons_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 the "why was this filtered" audit: four quality gates
    evaluated per document and packed into a reason BITMASK (bit0 short
    doc <150 chars; bit1 stopword ratio <10%; bit2 top-token share
    >20%; bit3 type-token ratio <30%), then the corpus histogram of
    masks — the report a curation run ships so downstream can see not
    just HOW MANY docs failed but WHICH RULE COMBINATIONS fire
    together. Every ratio is an integer cross-multiplication (no FP
    thresholds); one explode + two bounded aggregates."""
    d = spread(_t(spark, sf_dir, "documents"))
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    tok = d.select("doc_id", "n_chars", F.explode(toks).alias("tok"))
    per_tok = tok.groupBy("doc_id", "n_chars", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = per_tok.groupBy("doc_id", "n_chars").agg(
        F.sum("c").alias("total"),
        F.max("c").alias("top_c"),
        F.count(F.lit(1)).alias("distinct_c"),
        F.sum(F.when(F.col("tok").isin(*_QR_STOPWORDS), F.col("c")).otherwise(0)).alias(
            "stop_c"
        ),
    )
    mask = (
        F.when(F.col("n_chars") < 150, 1).otherwise(0)
        + F.when(F.col("stop_c") * 10 < F.col("total"), 2).otherwise(0)
        + F.when(F.col("top_c") * 5 > F.col("total"), 4).otherwise(0)
        + F.when(F.col("distinct_c") * 10 < F.col("total") * 3, 8).otherwise(0)
    )
    return (
        per_doc.select(mask.cast("bigint").alias("reason_mask"))
        .groupBy("reason_mask")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("reason_mask")
    )


_ORACLE_QR_BITMAP = rf"""
WITH tok AS (
  SELECT doc_id, n_chars,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
  FROM documents
),
per_tok AS (
  SELECT doc_id, n_chars, tok, count(*) AS c
  FROM tok GROUP BY doc_id, n_chars, tok
),
per_doc AS (
  SELECT doc_id, n_chars,
         sum(c) AS total, max(c) AS top_c, count(*) AS distinct_c,
         sum(CASE WHEN tok IN ('the', 'a') THEN c ELSE 0 END) AS stop_c
  FROM per_tok GROUP BY doc_id, n_chars
)
SELECT cast(
         (CASE WHEN n_chars < 150 THEN 1 ELSE 0 END)
       + (CASE WHEN stop_c * 10 < total THEN 2 ELSE 0 END)
       + (CASE WHEN top_c * 5 > total THEN 4 ELSE 0 END)
       + (CASE WHEN distinct_c * 10 < total * 3 THEN 8 ELSE 0 END)
       AS bigint) AS reason_mask,
       count(*)::BIGINT AS n_docs
FROM per_doc GROUP BY reason_mask ORDER BY reason_mask
"""


REGISTRY_EXT38: dict[str, QuerySpec] = {
    "retrieval_eval_metrics": QuerySpec(
        q_retrieval_eval_metrics, _ORACLE_RETRIEVAL_EVAL, "X6 [EXT] MRR/NDCG gate"
    ),
    "top_event_paths": QuerySpec(
        q_top_event_paths, _ORACLE_PATHS, "X9 [EXT] path mining"
    ),
    "incremental_dedup_delta": QuerySpec(
        q_incremental_dedup_delta, _ORACLE_DELTA_DEDUP, "X1 [EXT] delta-vs-base dedup"
    ),
    "quality_reasons_bitmap": QuerySpec(
        q_quality_reasons_bitmap, _ORACLE_QR_BITMAP, "X6 [EXT] filter-reason audit"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_retrieval_eval_metrics.__doc__ = q_retrieval_eval_metrics.__doc__.format(terms=_BM25_QUERY_TERMS)  # noqa: E501
q_top_event_paths.__doc__ = q_top_event_paths.__doc__.format(k=_PATHS_TOPK)  # noqa: E501
