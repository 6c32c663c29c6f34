"""Operator registry, wave 51: hybrid retrieval fusion, k-anonymity
risk audit, token PMI collocations, and Merkle-style table checksums.

Scale stances:
- RRF: reciprocal-rank fusion runs over the TOP-K of each input
  ranking (the standard definition), so rank assignment happens on a
  k-bounded frame via a triangular broadcast self-join — no window at
  all, let alone a global one; the corpus-wide work is two top-k
  scans (TakeOrdered, no full sort).
- k-anonymity: quasi-identifier group sizes are one map-side
  aggregate; the risk report is group-bounded.
- PMI: unigram and adjacent-pair counts are vocabulary-bounded
  aggregates; each pair's ln() lands on a nano-int before ranking.
- Checksum buckets: the distributed-table-diff primitive — per hash
  bucket, a count plus bit_xor of 60-bit row fingerprints (XOR is
  order- and partition-merge-independent BY CONSTRUCTION, no overflow
  ever); two tables match iff all 64 bucket rows match, and a
  mismatch names the bucket to re-scan. Doubles enter the fingerprint
  as integer cents — engine float-formatting never touches the hash.

Reference parity: none; [EXT] X6/X7/X8 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.text import tokens_expr
from .operators import similarity
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# Reciprocal-rank fusion hybrid retrieval (X3/X6 [EXT])
# --------------------------------------------------------------------------

_RRF_K = 60  # standard RRF constant
_RRF_TOP_IN = 50  # fuse the top-50 of each ranking
_RRF_TOP_OUT = 10
_RRF_TERMS = ("spark", "join", "window")  # the bm25_topk fixture query


def _rank_by_triangular(df: DataFrame, score: str, out: str) -> DataFrame:
    """Exact dense 1-based rank of a K-BOUNDED frame by (score desc,
    doc_id asc) — computed with a triangular broadcast self-join
    (count of rows strictly ahead), not a window: keeps even the
    k-row post-processing free of unpartitioned WindowExec."""
    a = df.select(F.col("doc_id").alias("_id"), F.col(score).alias("_s"))
    b = df.select(F.col("doc_id").alias("_id2"), F.col(score).alias("_s2"))
    ahead = (
        a.join(
            F.broadcast(b),
            (F.col("_s2") > F.col("_s"))
            | ((F.col("_s2") == F.col("_s")) & (F.col("_id2") < F.col("_id"))),
            "left",
        )
        .groupBy("_id")
        .agg((F.count("_id2") + F.lit(1)).cast("bigint").alias(out))
    )
    return df.join(ahead, df.doc_id == ahead._id).drop("_id")


def q_rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X3/X6 hybrid retrieval with reciprocal-rank fusion: a
    LEXICAL ranking (occurrences of the query terms {terms} in the
    document text — integer scores) and a VECTOR ranking (micro-int
    cosine to the vec_id=0 embedding) each contribute their top-{ki};
    fused score = sum over lists of 1/({k} + rank), the RRF formula
    that powers most production hybrid search. Ranks are assigned on
    the k-bounded lists by triangular broadcast join; the final
    top-{ko} is integer-nano-ranked with doc_id tie-breaks."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") != 0)
    terms_arr = F.array(*[F.lit(t) for t in _RRF_TERMS])
    lex_score = F.size(
        F.filter(tokens_expr("text"), lambda t: F.array_contains(terms_arr, t))
    ).cast("bigint")
    top_lex = (
        d.select("doc_id", lex_score.alias("ls"))
        .orderBy(F.desc("ls"), F.asc("doc_id"))
        .limit(_RRF_TOP_IN)
    )
    lex_ranked = _rank_by_triangular(top_lex, "ls", "ra").select("doc_id", "ra")

    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    qv = similarity.query_vector(sf_dir, vec_id=0)
    import math

    qnorm = math.sqrt(sum(float(x) * float(x) for x in qv))
    qlits = ",".join(repr(float(x)) for x in qv)
    vcos = (
        f"cast(floor(1e6 * aggregate("
        f"  zip_with(cast(embedding as array<double>), array({qlits}),"
        f"           (x, y) -> named_struct('d', x * y, 'n', x * x)),"
        f"  named_struct('d', cast(0.0 as double), 'n', cast(0.0 as double)),"
        f"  (acc, s) -> named_struct('d', acc.d + s.d, 'n', acc.n + s.n),"
        f"  acc -> acc.d / (sqrt(acc.n) * {qnorm!r})"
        f") + 0.5) as bigint)"
    )
    top_vec = (
        e.selectExpr("vec_id as doc_id", f"{vcos} as vs")
        .orderBy(F.desc("vs"), F.asc("doc_id"))
        .limit(_RRF_TOP_IN)
    )
    vec_ranked = _rank_by_triangular(top_vec, "vs", "rb").select("doc_id", "rb")

    fused = lex_ranked.join(vec_ranked, "doc_id", "full_outer").select(
        "doc_id",
        F.floor(
            F.lit(1e9)
            * (
                F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("ra")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("rb")), F.lit(0.0))
            )
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("rrf_nano"),
        F.coalesce(F.col("ra"), F.lit(0)).cast("bigint").alias("rank_lex"),
        F.coalesce(F.col("rb"), F.lit(0)).cast("bigint").alias("rank_vec"),
    )
    return fused.orderBy(F.desc("rrf_nano"), F.asc("doc_id")).limit(_RRF_TOP_OUT)


def _oracle_rrf() -> str:
    terms = ", ".join(f"'{t}'" for t in _RRF_TERMS)
    return rf"""
WITH lex AS (
  SELECT doc_id,
         cast(len(list_filter(list_filter(string_split_regex(lower(text), '\s+'),
                                          t -> t <> ''),
                              t -> t IN ({terms}))) AS bigint) AS ls
  FROM documents WHERE doc_id <> 0
),
top_lex AS (SELECT doc_id, ls FROM lex ORDER BY ls DESC, doc_id LIMIT {_RRF_TOP_IN}),
lexr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY ls DESC, doc_id) AS ra
  FROM top_lex
),
qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),
vec AS (
  SELECT vec_id AS doc_id,
         cast(floor(1e6 * list_cosine_similarity(embedding::DOUBLE[],
                                                 (SELECT q FROM qv)) + 0.5) AS bigint)
           AS vs
  FROM embeddings WHERE vec_id <> 0
),
top_vec AS (SELECT doc_id, vs FROM vec ORDER BY vs DESC, doc_id LIMIT {_RRF_TOP_IN}),
vecr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY vs DESC, doc_id) AS rb
  FROM top_vec
),
fused AS (
  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         cast(floor(1e9 * (coalesce(1.0 / ({_RRF_K} + l.ra), 0.0)
                           + coalesce(1.0 / ({_RRF_K} + v.rb), 0.0)) + 0.5) AS bigint)
           AS rrf_nano,
         cast(coalesce(l.ra, 0) AS bigint) AS rank_lex,
         cast(coalesce(v.rb, 0) AS bigint) AS rank_vec
  FROM lexr l FULL OUTER JOIN vecr v USING (doc_id)
)
SELECT doc_id, rrf_nano, rank_lex, rank_vec
FROM fused ORDER BY rrf_nano DESC, doc_id LIMIT {_RRF_TOP_OUT}
"""


# --------------------------------------------------------------------------
# k-anonymity risk audit (X7/X8 [EXT])
# --------------------------------------------------------------------------

_KANON = 5
_KANON_BIN = 100  # n_chars bucket width for the quasi-identifier


def q_k_anonymity_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X8 k-anonymity audit: treating (lang, source,
    n_chars/{b} bucket) as the quasi-identifier, report per lang how
    many equivalence classes fall below k={k} members and how many
    rows sit in them — the re-identification risk screen run before a
    dataset release (pairs with pii_redact_scrub). Two group-bounded
    aggregates, map-side combinable."""
    d = _t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.floor(F.col("n_chars") / F.lit(_KANON_BIN)).cast("bigint").alias("size_bin"),
    )
    groups = d.groupBy("lang", "source", "size_bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return (
        groups.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("c") < _KANON, 1).otherwise(0))
            .cast("bigint")
            .alias("n_risky_groups"),
            F.sum(F.when(F.col("c") < _KANON, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_risky_rows"),
            F.min("c").cast("bigint").alias("min_group"),
        )
        .orderBy("lang")
    )


_ORACLE_KANON = f"""
WITH g AS (
  SELECT lang, source, cast(floor(n_chars / {_KANON_BIN}.0) AS bigint) AS size_bin,
         count(*)::BIGINT AS c
  FROM documents GROUP BY 1, 2, 3
)
SELECT lang, count(*)::BIGINT AS n_groups,
       sum(CASE WHEN c < {_KANON} THEN 1 ELSE 0 END)::BIGINT AS n_risky_groups,
       sum(CASE WHEN c < {_KANON} THEN c ELSE 0 END)::BIGINT AS n_risky_rows,
       min(c)::BIGINT AS min_group
FROM g GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------------
# Token PMI collocations (X6 [EXT])
# --------------------------------------------------------------------------

_PMI_MINLEN = 4
_PMI_MIN_PAIR = 5
_PMI_TOPK = 15


def q_token_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 collocation mining: pointwise mutual information of
    ADJACENT content-token pairs (length >= {m}, pair count >= {c}),
    PMI = ln(c_ab * T / (c_a * c_b)) against unigram counts — the
    phrase detector feeding tokenizer-vocabulary and boilerplate
    decisions. All count frames are vocabulary-bounded aggregates;
    each pair's PMI lands on a nano-int before the top-{k} rank with
    (w1, w2) tie-breaks."""
    d = _t(spark, sf_dir, "documents")
    ts = F.filter(tokens_expr("text"), lambda t: F.length(t) >= _PMI_MINLEN)
    seq = barrier(d.select(ts.alias("ts")).where(F.size("ts") >= 2))
    uni = (
        seq.select(F.explode("ts").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cw"))
    )
    adj = seq.selectExpr(
        "explode(zip_with("
        "  slice(ts, 1, greatest(size(ts) - 1, 0)),"
        "  slice(ts, 2, greatest(size(ts) - 1, 0)),"
        "  (a, b) -> named_struct('wa', a, 'wb', b))) as p"
    ).select("p.wa", "p.wb")
    pairs = (
        adj.where(F.col("wa") != F.col("wb"))
        .select(F.least("wa", "wb").alias("w1"), F.greatest("wa", "wb").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cab"))
        .where(F.col("cab") >= _PMI_MIN_PAIR)
    )
    t_tot = pairs.agg(F.sum("cab").cast("bigint").alias("t"))
    scored = (
        pairs.join(uni.select(F.col("w").alias("w1"), F.col("cw").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cw").alias("c2")), "w2")
        .crossJoin(F.broadcast(t_tot))
        .select(
            "w1",
            "w2",
            "cab",
            F.floor(
                F.lit(1e9)
                * F.log(
                    F.col("cab").cast("double")
                    * F.col("t").cast("double")
                    / (F.col("c1").cast("double") * F.col("c2").cast("double"))
                )
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("pmi_nano"),
        )
    )
    return scored.orderBy(F.desc("pmi_nano"), F.asc("w1"), F.asc("w2")).limit(_PMI_TOPK)


_ORACLE_PMI = rf"""
WITH seq AS (
  SELECT list_filter(list_filter(string_split_regex(lower(text), '\s+'),
                                 t -> t <> ''),
                     t -> length(t) >= {_PMI_MINLEN}) AS ts
  FROM documents
),
seq2 AS (SELECT ts FROM seq WHERE len(ts) >= 2),
uni AS (
  SELECT unnest(ts) AS w FROM seq2
),
unic AS (SELECT w, count(*)::BIGINT AS cw FROM uni GROUP BY 1),
toks AS (
  SELECT row_number() OVER () AS rid, ts FROM seq2
),
flat AS (
  SELECT rid, generate_subscripts(ts, 1) AS i, unnest(ts) AS w FROM toks
),
adj AS (
  SELECT a.w AS wa, b.w AS wb
  FROM flat a JOIN flat b ON b.rid = a.rid AND b.i = a.i + 1 AND a.w <> b.w
),
pairs AS (
  SELECT least(wa, wb) AS w1, greatest(wa, wb) AS w2, count(*)::BIGINT AS cab
  FROM adj GROUP BY 1, 2 HAVING count(*) >= {_PMI_MIN_PAIR}
),
t_tot AS (SELECT sum(cab)::BIGINT AS t FROM pairs),
scored AS (
  SELECT p.w1, p.w2, p.cab,
         cast(floor(1e9 * ln(cast(p.cab AS double) * cast(tt.t AS double)
                             / (cast(u1.cw AS double) * cast(u2.cw AS double)))
                    + 0.5) AS bigint) AS pmi_nano
  FROM pairs p
  JOIN unic u1 ON u1.w = p.w1
  JOIN unic u2 ON u2.w = p.w2
  CROSS JOIN t_tot tt
)
SELECT w1, w2, cab, pmi_nano
FROM scored ORDER BY pmi_nano DESC, w1, w2 LIMIT {_PMI_TOPK}
"""


# --------------------------------------------------------------------------
# Merkle-style table checksum buckets (W/X1 [EXT])
# --------------------------------------------------------------------------

_CK_BUCKETS = 64


def q_checksum_diff_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] W/X1 distributed table-diff checksums over orders: each
    row folds to a 60-bit md5 fingerprint (doubles enter as integer
    cents — float formatting never touches the hash), bucketed by
    o_orderkey % {b}; per bucket the row count and the BIT_XOR of
    fingerprints. XOR is commutative/associative with no overflow, so
    the checksum is independent of partitioning and merge order —
    compare 64 rows to prove two replicas equal, and a mismatching
    bucket names exactly which keyrange to re-scan (the
    data-diff/anti-entropy primitive)."""
    o = _t(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("bigint")
    return (
        o.select((F.col("o_orderkey") % _CK_BUCKETS).alias("bucket"), h.alias("h"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.expr("bit_xor(h)").cast("bigint").alias("xor_sig"),
        )
        .orderBy("bucket")
    )


_ORACLE_CHECKSUM = f"""
WITH r AS (
  SELECT o_orderkey % {_CK_BUCKETS} AS bucket,
         ('0x' || substr(md5(
            cast(o_orderkey AS varchar) || '|' ||
            cast(o_custkey AS varchar) || '|' ||
            o_orderstatus || '|' ||
            cast(cast(floor(o_totalprice * 100.0 + 0.5) AS bigint) AS varchar) || '|' ||
            strftime(o_orderdate, '%Y-%m-%d') || '|' ||
            o_orderpriority), 1, 15))::BIGINT AS h
  FROM orders
)
SELECT bucket, count(*)::BIGINT AS n_rows,
       cast(bit_xor(h) AS bigint) AS xor_sig
FROM r GROUP BY bucket ORDER BY bucket
"""


REGISTRY_EXT50: dict[str, QuerySpec] = {
    "rrf_hybrid_retrieval": QuerySpec(
        q_rrf_hybrid_retrieval, _oracle_rrf(), "X3/X6 [EXT] hybrid search fusion"
    ),
    "k_anonymity_risk": QuerySpec(
        q_k_anonymity_risk, _ORACLE_KANON, "X7/X8 [EXT] privacy audit"
    ),
    "token_pmi_topk": QuerySpec(
        q_token_pmi_topk, _ORACLE_PMI, "X6 [EXT] collocation mining"
    ),
    "checksum_diff_buckets": QuerySpec(
        q_checksum_diff_buckets, _ORACLE_CHECKSUM, "W/X1 [EXT] table diff checksums"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_rrf_hybrid_retrieval.__doc__ = q_rrf_hybrid_retrieval.__doc__.format(terms=_RRF_TERMS, ki=_RRF_TOP_IN, k=_RRF_K, ko=_RRF_TOP_OUT)  # noqa: E501
q_k_anonymity_risk.__doc__ = q_k_anonymity_risk.__doc__.format(b=_KANON_BIN, k=_KANON)  # noqa: E501
q_token_pmi_topk.__doc__ = q_token_pmi_topk.__doc__.format(m=_PMI_MINLEN, c=_PMI_MIN_PAIR, k=_PMI_TOPK)  # noqa: E501
q_checksum_diff_buckets.__doc__ = q_checksum_diff_buckets.__doc__.format(b=_CK_BUCKETS)  # noqa: E501
