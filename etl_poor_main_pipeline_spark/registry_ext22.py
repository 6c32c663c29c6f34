"""Operator registry, wave 23: LLM-corpus curation depth — semantic
dedup over embedding clusters (SemDeDup-style), C4-style chunk-level
exact dedup with per-doc rebuild stats, sparse TF-IDF cosine retrieval,
a portable Bloom-filter runtime filter, a bigram language-model scorer,
and per-language quantile quality gating. These extend the X1-X8 tiers
with the operations a 100 TB pretraining-data pipeline runs between raw
crawl and tokenizer.

Scale stances:
- SemDeDup: the pair explosion is bounded by CLUSTER, not corpus — the
  centroid assignment is one broadcast join (centroids are driver-sized),
  and the quadratic cosine check runs only within a cluster. Same
  blocked-pair discipline as the Jaccard/LSH tiers.
- chunk dedup: one shuffle keyed by chunk text (the winner election);
  the rebuild is a per-doc aggregate. At scale the chunk key shuffles as
  an 8-byte hash, not the text (the oracle-paired variant here carries
  the text so DuckDB can mirror the election exactly).
- sparse cosine: classic inverted-index retrieval — per-term postings
  join against the (tiny, broadcast) query-doc term vector; norms are
  corpus aggregates computed once. Decimal sums fix reduce-order.
- Bloom filter: the bitset is ~1 KB of (word_idx, word) rows built from
  the dimension side and BROADCAST — the hand-rolled version of Spark's
  InjectRuntimeFilter, with portable seeded hashes so the filter (and
  its false positives) are bit-identical in the DuckDB oracle: a FULL
  value-hash oracle over an approximate structure.
- bigram LM: counts are vocab²-bounded aggregates; scoring joins are
  token-keyed and co-partition with the counts. ln() on identical
  doubles is identical; sums run through decimal(38,16).
- quantile gate: exact interpolated per-group percentile (the
  percentiles_exact parity precedent) over integer micro-scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.dedup import POLY_P, minhash_coeffs, spread
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# SemDeDup: semantic dedup over embedding clusters (X2/X3 [EXT])
# --------------------------------------------------------------------------

_SD_CENTROIDS = 8
_SD_TAU_MICRO = 350_000  # cosine >= 0.35, micro-int (fixture yields drops)


def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X2/X3 SemDeDup (Abbas et al. 2023 shape): cluster embeddings
    by nearest deterministic centroid (the ivf_build seeding: the
    _SD_CENTROIDS smallest vec_ids), then within each cluster drop any
    vector that has a LOWER-id neighbor with cosine >= tau. Output is
    every vec_id with its cluster and kept/dropped status — the keep-list
    a downstream tokenizer consumes.

    Assignment ranks on integer micro-cosine with centroid-id tiebreak
    (the similarity_ivf_topk determinism stance), and the drop rule
    compares micro-ints, so the whole approximate pipeline carries a
    full value-hash oracle. The quadratic step is per-cluster only."""
    e = _t(spark, sf_dir, "embeddings")
    cents = (
        e.orderBy(F.col("vec_id").asc())
        .limit(_SD_CENTROIDS)
        .select(
            F.col("vec_id").cast("int").alias("cluster_id"),
            F.col("embedding").cast("array<double>").alias("centroid"),
        )
    )
    from pyspark.sql.window import Window

    micro = "cast(floor(1000000.0D * (aggregate(zip_with(v, centroid, (x, y) -> x * y), 0.0D, (s, x) -> s + x) / (sqrt(aggregate(v, 0.0D, (s, x) -> s + x * x)) * sqrt(aggregate(centroid, 0.0D, (s, x) -> s + x * x)))) + 0.5D) as bigint)"
    # assignment feeds BOTH pair sides and the final status join —
    # materialize once instead of re-running the broadcast-assign
    # scan three times (same posture as pagerank/triangle edges)
    assigned = barrier(
        e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .join(F.broadcast(cents))
        .withColumn("usim", F.expr(micro))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("usim").desc(), F.col("cluster_id").asc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "cluster_id", "v")
    )
    a = assigned.select(
        F.col("cluster_id"), F.col("vec_id").alias("id_a"), F.col("v").alias("va")
    )
    b = assigned.select(
        F.col("cluster_id"), F.col("vec_id").alias("id_b"), F.col("v").alias("vb")
    )
    pair_micro = "cast(floor(1000000.0D * (aggregate(zip_with(va, vb, (x, y) -> x * y), 0.0D, (s, x) -> s + x) / (sqrt(aggregate(va, 0.0D, (s, x) -> s + x * x)) * sqrt(aggregate(vb, 0.0D, (s, x) -> s + x * x)))) + 0.5D) as bigint)"
    dropped = (
        a.join(b, ["cluster_id"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("pmicro", F.expr(pair_micro))
        .where(F.col("pmicro") >= F.lit(_SD_TAU_MICRO))
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("is_dropped", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster_id").cast("int").alias("cluster_id"),
            F.when(F.col("is_dropped"), F.lit("dropped"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
        .orderBy("vec_id")
    )


_ORACLE_SEMDEDUP = f"""
WITH cents AS (
  SELECT cast(vec_id AS int) AS cluster_id, embedding::DOUBLE[] AS centroid
  FROM embeddings ORDER BY vec_id ASC LIMIT {_SD_CENTROIDS}
),
assigned AS (
  SELECT vec_id, cluster_id, v FROM (
    SELECT e.vec_id, c.cluster_id, e.embedding::DOUBLE[] AS v,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY cast(floor(1000000.0 * list_cosine_similarity(e.embedding::DOUBLE[], c.centroid) + 0.5) AS bigint) DESC,
                      c.cluster_id ASC) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE cast(floor(1000000.0 * list_cosine_similarity(a.v, b.v) + 0.5) AS bigint) >= {_SD_TAU_MICRO}
)
SELECT a.vec_id, a.cluster_id,
       CASE WHEN d.vec_id IS NOT NULL THEN 'dropped' ELSE 'kept' END AS status
FROM assigned a LEFT JOIN dropped d ON d.vec_id = a.vec_id
ORDER BY a.vec_id
"""


# --------------------------------------------------------------------------
# C4-style chunk-level exact dedup with per-doc rebuild stats (X2 [EXT])
# --------------------------------------------------------------------------

_CHUNK_TOKENS = 16


def q_chunk_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X2 chunk-level exact dedup (the C4/RefinedWeb line-dedup
    shape, over fixed {_CHUNK_TOKENS}-token chunks since the corpus is
    single-line): a chunk is KEPT only on its first occurrence corpus-wide
    (first = smallest (doc_id, chunk_idx)); every later occurrence is
    removed from its document. Output is the per-document rebuild
    statistic — total chunks, kept chunks, kept tokens — which is exactly
    what a curation dashboard tracks (how much of each doc survives
    cross-doc boilerplate removal)."""
    from pyspark.sql.window import Window

    d = spread(_t(spark, sf_dir, "documents"))
    chunks = d.select(
        "doc_id",
        F.expr(
            f"""explode(transform(
                  sequence(0, greatest(cast(ceil(size(filter(split(text, '\\\\s+'), t -> t <> '')) / {_CHUNK_TOKENS}.0) as int) - 1, 0)),
                  i -> struct(
                    i as chunk_idx,
                    array_join(slice(filter(split(text, '\\\\s+'), t -> t <> ''), i * {_CHUNK_TOKENS} + 1, {_CHUNK_TOKENS}), ' ') as chunk,
                    size(slice(filter(split(text, '\\\\s+'), t -> t <> ''), i * {_CHUNK_TOKENS} + 1, {_CHUNK_TOKENS})) as n_toks)))
            """
        ).alias("c"),
    ).select("doc_id", "c.chunk_idx", "c.chunk", "c.n_toks").where(
        # zero-token (empty/whitespace-only) docs: ceil(0/16)-1 = -1 would
        # make sequence(0,-1) DESCEND and emit phantom chunks; the greatest()
        # clamp above caps the bound at 0 and this filter drops the one
        # empty chunk it yields — matching the oracle's `i*16 < len(ts)`,
        # which emits nothing for such docs.
        F.col("n_toks") > 0
    )
    kept = chunks.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("chunk").orderBy(
                F.col("doc_id").asc(), F.col("chunk_idx").asc()
            )
        ),
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("rn") == 1, F.col("n_toks")).otherwise(0))
            .cast("bigint")
            .alias("n_tokens_kept"),
        )
        .orderBy("doc_id")
    )


_ORACLE_CHUNK_DEDUP = rf"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS ts
  FROM documents
),
chunks AS (
  SELECT doc_id, i AS chunk_idx,
         array_to_string(ts[(i*{_CHUNK_TOKENS}+1):(i*{_CHUNK_TOKENS}+{_CHUNK_TOKENS})], ' ') AS chunk,
         len(ts[(i*{_CHUNK_TOKENS}+1):(i*{_CHUNK_TOKENS}+{_CHUNK_TOKENS})]) AS n_toks
  FROM toks, range(0, 100000) t(i)
  WHERE i * {_CHUNK_TOKENS} < len(ts)
),
ranked AS (
  SELECT doc_id, n_toks,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id ASC, chunk_idx ASC) AS rn
  FROM chunks
)
SELECT doc_id,
       cast(count(*) AS bigint) AS n_chunks,
       cast(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS bigint) AS n_kept,
       cast(sum(CASE WHEN rn = 1 THEN n_toks ELSE 0 END) AS bigint) AS n_tokens_kept
FROM ranked GROUP BY doc_id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Sparse TF-IDF cosine retrieval (X3/X6 [EXT])
# --------------------------------------------------------------------------

_SPARSE_QUERY_DOC = 0


def q_sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X3/X6 sparse TF-IDF cosine: top-15 documents most similar to
    doc {_SPARSE_QUERY_DOC}, scored on the inverted index — the sparse
    counterpart of the dense ANN tier. w(d,t) = tf * ln((N+1)/(df+1));
    score = dot(wq, wd) / (|wq| |wd|), computed by joining the corpus
    postings against the (broadcast, one-doc) query vector on term.
    Norm and dot sums run through decimal(38,16); the final ranking is
    on the 1e6 micro-int with doc_id tiebreak."""
    d = spread(_t(spark, sf_dir, "documents"))
    tf = (
        d.select(
            "doc_id",
            F.explode(
                F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("n")).withColumn("j", F.lit(1))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    w = (
        tf.join(df_, "term")
        .withColumn("j", F.lit(1))
        .join(F.broadcast(n_docs), "j")
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0))).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum((F.col("w") * F.col("w")).cast("decimal(38,16)")).cast("double")).alias(
            "nrm"
        )
    )
    wq = w.where(F.col("doc_id") == _SPARSE_QUERY_DOC).select(
        "term", F.col("w").alias("qw")
    )
    nq = norms.where(F.col("doc_id") == _SPARSE_QUERY_DOC).select(
        F.col("nrm").alias("qnrm")
    ).withColumn("j", F.lit(1))
    dots = (
        w.where(F.col("doc_id") != _SPARSE_QUERY_DOC)
        .join(F.broadcast(wq), "term")
        .groupBy("doc_id")
        .agg(F.sum((F.col("w") * F.col("qw")).cast("decimal(38,16)")).cast("double").alias("dot"))
    )
    return (
        dots.join(norms, "doc_id")
        .withColumn("j", F.lit(1))
        .join(F.broadcast(nq), "j")
        .select(
            "doc_id",
            F.floor(
                F.lit(1000000.0) * F.col("dot") / (F.col("nrm") * F.col("qnrm")) + F.lit(0.5)
            )
            .cast("bigint")
            .alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(15)
    )


_ORACLE_SPARSE_COS = rf"""
WITH tf AS (
  SELECT doc_id, term, cast(count(*) AS double) AS tf
  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS term
        FROM documents)
  GROUP BY doc_id, term
),
nd AS (SELECT cast(count(*) AS double) AS n FROM documents),
df AS (SELECT term, cast(count(*) AS double) AS df FROM tf GROUP BY term),
w AS (
  SELECT tf.doc_id, tf.term, tf.tf * ln((nd.n + 1.0) / (df.df + 1.0)) AS w
  FROM tf JOIN df USING (term), nd
),
norms AS (
  SELECT doc_id, sqrt(cast(sum(cast(w * w AS decimal(38,16))) AS double)) AS nrm
  FROM w GROUP BY doc_id
),
wq AS (SELECT term, w AS qw FROM w WHERE doc_id = {_SPARSE_QUERY_DOC}),
nq AS (SELECT nrm AS qnrm FROM norms WHERE doc_id = {_SPARSE_QUERY_DOC}),
dots AS (
  SELECT w.doc_id, cast(sum(cast(w.w * wq.qw AS decimal(38,16))) AS double) AS dot
  FROM w JOIN wq USING (term)
  WHERE w.doc_id <> {_SPARSE_QUERY_DOC}
  GROUP BY w.doc_id
)
SELECT d.doc_id,
       cast(floor(1000000.0 * d.dot / (norms.nrm * nq.qnrm) + 0.5) AS bigint) AS score_micro
FROM dots d JOIN norms ON norms.doc_id = d.doc_id, nq
ORDER BY score_micro DESC, d.doc_id ASC
LIMIT 15
"""


# --------------------------------------------------------------------------
# Portable Bloom-filter runtime filter (sketch tier [EXT])
# --------------------------------------------------------------------------

_BLOOM_BITS = 8192  # 256 32-bit words (sign-safe shifts in both engines)
_BLOOM_HASHES = 3
_BLOOM_COEFFS = minhash_coeffs(_BLOOM_HASHES, seed=7)


def _bloom_pos(key: str, i: int) -> str:
    a, b = _BLOOM_COEFFS[i]
    return f"((({a} * {key} + {b}) % {POLY_P}) % {_BLOOM_BITS})"


def q_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] sketch/join: hand-rolled Bloom-filter runtime filter — the
    portable version of Spark's InjectRuntimeFilter. Build side: custkeys
    of BUILDING-segment customers hashed by {_BLOOM_HASHES} seeded
    universal hashes into a {_BLOOM_BITS}-bit bitset, materialized as
    (word_idx, word) rows (~1 KB) and BROADCAST. Probe side: orders pass
    if all hash bits are set. Because the hashes are portable integer
    arithmetic, the filter — including its false positives — is
    bit-identical in the DuckDB oracle: a FULL value-hash oracle over an
    approximate structure, not an accuracy contract. Output: probe count,
    bloom-pass count, exact-match count, false positives, and the
    no-false-negative invariant."""
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
    )
    words = (
        cust.select(
            F.explode(
                F.array(
                    *[F.expr(_bloom_pos("k", i)) for i in range(_BLOOM_HASHES)]
                )
            ).alias("pos")
        )
        .select(
            # 32-bit words: DuckDB's checked << overflows at 1<<63, so both
            # engines stay below the sign bit (256 words instead of 128)
            (F.col("pos") / 32).cast("bigint").alias("w"),
            F.expr("shiftleft(cast(1 as bigint), cast(pos % 32 as int))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", F.col("o_custkey").alias("k"))
    probe = o
    for i in range(_BLOOM_HASHES):
        wi = words.select(F.col("w").alias(f"w{i}"), F.col("word").alias(f"word{i}"))
        probe = probe.withColumn(f"p{i}", F.expr(_bloom_pos("k", i))).join(
            F.broadcast(wi),
            (F.col(f"p{i}") / 32).cast("bigint") == F.col(f"w{i}"),
            "left",
        )
    hit = " AND ".join(
        f"(word{i} IS NOT NULL AND (word{i} & shiftleft(cast(1 as bigint), cast(p{i} % 32 as int))) <> 0)"
        for i in range(_BLOOM_HASHES)
    )
    truth = cust.distinct().withColumn("is_true", F.lit(True))
    flagged = (
        probe.withColumn("pass", F.expr(f"({hit})"))
        .join(F.broadcast(truth), "k", "left")
        .select("pass", F.coalesce("is_true", F.lit(False)).alias("is_true"))
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probe"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0)).cast("bigint").alias("n_pass"),
        F.sum(F.when(F.col("is_true"), 1).otherwise(0)).cast("bigint").alias("n_true"),
        F.sum(F.when(F.col("pass") & ~F.col("is_true"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
        (
            F.sum(F.when(F.col("is_true") & ~F.col("pass"), 1).otherwise(0)) == 0
        ).alias("no_false_negatives"),
    )


def _oracle_bloom() -> str:
    pos = [_bloom_pos("c_custkey", i) for i in range(_BLOOM_HASHES)]
    probe_pos = [_bloom_pos("o_custkey", i) for i in range(_BLOOM_HASHES)]
    hit = " AND ".join(
        f"""(SELECT word FROM words WHERE w = ({p}) // 32) IS NOT NULL
            AND ((SELECT word FROM words WHERE w = ({p}) // 32)
                 & (cast(1 AS bigint) << cast(({p}) % 32 AS int))) <> 0"""
        for p in probe_pos
    )
    return f"""
WITH keys AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
pos AS (
  SELECT unnest([{", ".join(pos)}]) AS p FROM keys
),
words AS (
  SELECT p // 32 AS w, bit_or(cast(1 AS bigint) << cast(p % 32 AS int)) AS word
  FROM pos GROUP BY p // 32
),
truth AS (SELECT DISTINCT c_custkey AS k, true AS is_true FROM keys),
flagged AS (
  SELECT ({hit}) AS pass, coalesce(t.is_true, false) AS is_true
  FROM orders o LEFT JOIN truth t ON t.k = o.o_custkey
)
SELECT cast(count(*) AS bigint) AS n_probe,
       cast(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS bigint) AS n_pass,
       cast(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS bigint) AS n_true,
       cast(sum(CASE WHEN pass AND NOT is_true THEN 1 ELSE 0 END) AS bigint) AS n_false_pos,
       sum(CASE WHEN is_true AND NOT pass THEN 1 ELSE 0 END) = 0 AS no_false_negatives
FROM flagged
"""


# --------------------------------------------------------------------------
# Bigram language-model scorer (X6/X7 [EXT])
# --------------------------------------------------------------------------


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6/X7 bigram LM quality scorer (the KenLM-lite curation
    signal): train add-one-smoothed bigram probabilities on the corpus
    itself, then score every document by its mean bigram log-probability
    — boilerplate-heavy docs score high, token-salad outliers score low.
    P(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V); score = avg ln P over the
    doc's bigrams, reported as a 1e6 micro-int. Count aggregates are
    vocab²-bounded; the scoring join is token-pair-keyed and
    co-partitions with the count table; ln-sums run decimal(38,16)."""
    d = spread(_t(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        F.expr(r"filter(split(lower(text), '\\s+'), t -> t <> '')").alias("ts"),
    ).where(F.size("ts") >= 2)
    bi = toks.select(
        "doc_id",
        F.expr(
            "explode(transform(sequence(1, size(ts) - 1),"
            " i -> struct(element_at(ts, i) as w1, element_at(ts, i + 1) as w2)))"
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    c2 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("double").alias("c2"))
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).cast("double").alias("c1"))
    vocab = (
        d.select(F.explode(F.expr(r"filter(split(lower(text), '\\s+'), t -> t <> '')")).alias("t"))
        .agg(F.countDistinct("t").cast("double").alias("v"))
        .withColumn("j", F.lit(1))
    )
    return (
        bi.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .withColumn("j", F.lit(1))
        .join(F.broadcast(vocab), "j")
        .select(
            "doc_id",
            (F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v")))).cast(
                "decimal(38,16)"
            ).alias("lp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.floor(
                F.lit(1000000.0) * F.sum("lp").cast("double") / F.count(F.lit(1))
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("score_micro"),
        )
        .orderBy("doc_id")
    )


_ORACLE_BIGRAM = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
  FROM documents
),
bi AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM toks, range(1, 100000) t(i)
  WHERE len(ts) >= 2 AND i <= len(ts) - 1
),
c2 AS (SELECT w1, w2, cast(count(*) AS double) AS c2 FROM bi GROUP BY w1, w2),
c1 AS (SELECT w1, cast(count(*) AS double) AS c1 FROM bi GROUP BY w1),
vocab AS (
  SELECT cast(count(DISTINCT t) AS double) AS v
  FROM (SELECT unnest(ts) AS t FROM toks)
)
SELECT bi.doc_id,
       cast(count(*) AS bigint) AS n_bigrams,
       cast(floor(1000000.0 * cast(sum(cast(ln((c2.c2 + 1.0) / (c1.c1 + vocab.v)) AS decimal(38,16))) AS double) / count(*) + 0.5) AS bigint) AS score_micro
FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1), vocab
GROUP BY bi.doc_id
ORDER BY bi.doc_id
"""


# --------------------------------------------------------------------------
# Per-language quantile quality gate (X7/X8 [EXT])
# --------------------------------------------------------------------------


def q_quality_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X8 per-language quantile gating: score every document
    (mean chars-per-token as a 1e4 micro-int — the cheap fluency proxy),
    take the exact interpolated per-language median, and keep docs at or
    above their language's median. The per-language report (total, kept,
    median) is the mixture-rebalancing input a curation pipeline feeds
    back into sampling weights. Exact percentile parity follows the
    percentiles_exact precedent (Spark percentile == DuckDB
    quantile_cont on identical integer inputs)."""
    d = spread(_t(spark, sf_dir, "documents"))
    scored = d.select(
        "doc_id",
        "lang",
        F.expr(
            r"cast(floor(10000.0D * n_chars / size(filter(split(text, '\\s+'), t -> t <> '')) + 0.5D) as bigint)"
        ).alias("score_micro"),
    )
    med = scored.groupBy("lang").agg(
        F.percentile(F.col("score_micro").cast("double"), F.lit(0.5)).alias("med")
    )
    return (
        scored.join(F.broadcast(med), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("score_micro") >= F.col("med"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.round(F.first("med"), 4).alias("median_micro"),
        )
        .orderBy("lang")
    )


_ORACLE_QUANTILE_GATE = r"""
WITH scored AS (
  SELECT doc_id, lang,
         cast(floor(10000.0 * n_chars / len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) + 0.5) AS bigint) AS score_micro
  FROM documents
),
med AS (
  SELECT lang, quantile_cont(cast(score_micro AS double), 0.5) AS med
  FROM scored GROUP BY lang
)
SELECT s.lang,
       cast(count(*) AS bigint) AS n_docs,
       cast(sum(CASE WHEN s.score_micro >= m.med THEN 1 ELSE 0 END) AS bigint) AS n_kept,
       round(any_value(m.med), 4) AS median_micro
FROM scored s JOIN med m ON m.lang = s.lang
GROUP BY s.lang ORDER BY s.lang
"""


REGISTRY_EXT22: dict[str, QuerySpec] = {
    "semdedup_prune": QuerySpec(
        q_semdedup_prune, _ORACLE_SEMDEDUP, "X2/X3 [EXT] semantic dedup, full parity"
    ),
    "chunk_dedup_rebuild": QuerySpec(
        q_chunk_dedup_rebuild, _ORACLE_CHUNK_DEDUP, "X2 [EXT] C4-style chunk dedup"
    ),
    "sparse_cosine_topk": QuerySpec(
        q_sparse_cosine_topk, _ORACLE_SPARSE_COS, "X3/X6 [EXT] sparse retrieval"
    ),
    "bloom_runtime_filter": QuerySpec(
        q_bloom_runtime_filter, _oracle_bloom(), "sketch [EXT] portable bloom, full parity"
    ),
    "bigram_logprob": QuerySpec(
        q_bigram_logprob, _ORACLE_BIGRAM, "X6/X7 [EXT] bigram LM scorer"
    ),
    "quality_quantile_gate": QuerySpec(
        q_quality_quantile_gate, _ORACLE_QUANTILE_GATE, "X7/X8 [EXT] quantile gating"
    ),
}
