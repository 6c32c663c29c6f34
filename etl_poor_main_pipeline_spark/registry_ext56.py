"""Operator registry, wave 57: containment dedup, Zipf rank-frequency
slope, and overlapping RAG chunking.

Scale stances:
- Containment: the ASYMMETRIC near-dup relation Jaccard misses — a
  short doc living inside a longer one scores low resemblance but
  containment ~1. Same blocked-equi-join posture as the Jaccard tier
  (lang block + size-ratio window bounds candidates); token sets are
  xxhash64-hashed bigints engine-side (2x faster intersects, the
  established idiom) while the oracle intersects raw strings — values
  agree (collision odds ~1e-13).
- Zipf: term counts are vocabulary-bounded; rank windows are
  PARTITIONED by lang; the log-log regression accumulates nano-int
  coordinates in decimal(38,0) so the slope is one exact-int ratio.
- RAG chunking: stride-32/width-64 sliding windows per document,
  pure array expressions (sequence + slice) map-side; per-doc
  summaries carry a bit_xor of chunk md5 fingerprints so any chunk
  boundary drift is detectable cross-engine.

Reference parity: none; [EXT] X2/X6 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.text import tokens_expr
from .operators.dedup import spread
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# Containment dedup pairs (X2 [EXT])
# --------------------------------------------------------------------------

_CONT_THRESH = 0.9
_CONT_MAX_RATIO = 4


def q_containment_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X2 containment near-dup: pairs where the SMALLER doc's
    token set is >= {t:.0%} contained in the larger's —
    C(A,B) = |A n B| / |A| — the asymmetric relation that catches a
    snippet embedded in a long page, which resemblance (Jaccard)
    scores low. Candidates block on (lang, size band): the band is the
    token-set size's exact BIT LENGTH (integer, engine-free), and the
    small side explodes onto bands [b, b+2] — sz_b <= {r}*sz_a implies
    bitlen(sz_b) <= bitlen(sz_a)+2, a strict candidate superset that
    the exact predicate then decides. Without the band, the 5-value
    lang key capped sort-merge parallelism at 5 tasks whenever AQE
    kept the SMJ plan (20s standalone vs 3.4s when runtime stats
    happened to flip it to broadcast — a flaky plan boundary this
    banding removes; at 100 TB neither side broadcasts, so the banded
    key IS the plan). Engine-side token sets are xxhash64 bigints
    (fast intersects), the oracle uses raw
    strings."""
    d = _t(spark, sf_dir, "documents")
    # the probe side evaluates millions of per-pair conditions; a one-split
    # parquet scan would serialize that on one core (spread() is a no-op at
    # scale, where the scan already fans out — operators.dedup.spread)
    toks = barrier(
        spread(d).select(
            "doc_id",
            "lang",
            F.array_distinct(
                F.transform(tokens_expr("text"), lambda t: F.xxhash64(t))
            ).alias("hs"),
        )
        .select("doc_id", "lang", "hs", F.size("hs").alias("sz"))
        # exact integer bit length of sz (number of binary digits)
        .withColumn("band", F.length(F.conv(F.col("sz").cast("string"), 10, 2)))
        # 64-bit token Bloom mask (guide §3.2): a bit set in the small
        # side's mask but clear in the big side's certifies >= 1 token of
        # A outside B, so bit_count(sig_a & ~sig_b) lower-bounds |A \ B|.
        # C(A,B) >= t allows at most (1-t)*|A| misses; "> budget" prunes
        # the pair BEFORE the O(|A|+|B|) array_intersect, never dropping a
        # qualifying pair (budget padded for double rounding).
        .withColumn(
            "sig",
            F.expr(
                "aggregate(hs, 0L,"
                " (acc, h) -> acc | shiftleft(1L, cast(pmod(h, 64) as int)))"
            ),
        )
    )
    a = toks.selectExpr(
        "doc_id as id_small",
        "lang",
        "hs as hs_a",
        "sz as sz_a",
        "sig as sig_a",
        "explode(array(band, band + 1, band + 2)) as band",
    )
    b = toks.select(
        F.col("doc_id").alias("id_big"),
        "lang",
        "band",
        F.col("hs").alias("hs_b"),
        F.col("sz").alias("sz_b"),
        F.col("sig").alias("sig_b"),
    )
    pairs = (
        a.join(b, ["lang", "band"])
        .where(
            (
                (F.col("sz_a") < F.col("sz_b"))
                | ((F.col("sz_a") == F.col("sz_b")) & (F.col("id_small") < F.col("id_big")))
            )
            & (F.col("sz_b") <= F.col("sz_a") * _CONT_MAX_RATIO)
            & (
                F.expr("cast(bit_count(sig_a & ~sig_b) as double)")
                <= F.lit(1.0 - _CONT_THRESH + 1e-5) * F.col("sz_a").cast("double")
                + F.lit(1e-6)
            )
        )
        .withColumn(
            "inter", F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
        )
        .where(
            F.col("inter").cast("double") / F.col("sz_a") >= F.lit(_CONT_THRESH)
        )
    )
    return pairs.select(
        "id_small",
        "id_big",
        F.floor(F.lit(1e6) * F.col("inter") / F.col("sz_a") + F.lit(0.5))
        .cast("bigint")
        .alias("containment_micro"),
    ).orderBy("id_small", "id_big")


_ORACLE_CONTAINMENT = rf"""
WITH toks AS (
  SELECT doc_id, lang,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                                   t -> t <> '')) AS ts
  FROM documents
),
sized AS (SELECT doc_id, lang, ts, len(ts) AS sz FROM toks),
pairs AS (
  SELECT a.doc_id AS id_small, b.doc_id AS id_big,
         len(list_intersect(a.ts, b.ts)) AS inter, a.sz AS sz_a
  FROM sized a JOIN sized b
    ON a.lang = b.lang
   AND ((a.sz < b.sz) OR (a.sz = b.sz AND a.doc_id < b.doc_id))
   AND b.sz <= a.sz * {_CONT_MAX_RATIO}
)
SELECT id_small, id_big,
       cast(floor(1e6 * inter / sz_a + 0.5) AS bigint) AS containment_micro
FROM pairs
WHERE inter * 1.0 / sz_a >= {_CONT_THRESH}
ORDER BY id_small, id_big
"""


# --------------------------------------------------------------------------
# Zipf rank-frequency slope (X6/X7 [EXT])
# --------------------------------------------------------------------------

_ZIPF_TOPN = 100


def q_zipf_slope_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6/X7 Zipf slope: per language, the log-log regression
    slope of token frequency against rank over the top-{n} terms — a
    natural corpus sits near -1; template/boilerplate text flattens
    it, making the slope a cheap corpus-health signal. Term counts
    are vocabulary-bounded; the rank window is PARTITIONED by lang;
    (ln rank, ln freq) coordinates land on nano-ints accumulated in
    decimal(38,0), so the slope is one exact-int ratio cast to a
    micro."""
    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(tokens_expr("text")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("w"))
    top = counts.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= _ZIPF_TOPN
    )
    xy = top.select(
        "lang",
        F.floor(F.lit(1e9) * F.log(F.col("rk").cast("double")) + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
        F.floor(F.lit(1e9) * F.log(F.col("c").cast("double")) + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
    )
    agg = xy.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)"))).alias("sxx"),
        F.sum((F.col("x").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)"))).alias("sxy"),
    )
    return agg.select(
        "lang",
        "n",
        F.floor(
            F.lit(1e6)
            * (
                (F.col("n").cast("decimal(38,0)") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
                / (F.col("n").cast("decimal(38,0)") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
            )
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("slope_micro"),
    ).orderBy("lang")


_ORACLE_ZIPF = rf"""
WITH counts AS (
  SELECT lang, w, count(*)::BIGINT AS c FROM (
    SELECT lang, unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    t -> t <> '')) AS w
    FROM documents
  ) GROUP BY 1, 2
),
top AS (
  SELECT lang, c,
         row_number() OVER (PARTITION BY lang ORDER BY c DESC, w ASC) AS rk
  FROM counts QUALIFY rk <= {_ZIPF_TOPN}
),
xy AS (
  SELECT lang,
         cast(floor(1e9 * ln(rk * 1.0) + 0.5) AS hugeint) AS x,
         cast(floor(1e9 * ln(c * 1.0) + 0.5) AS hugeint) AS y
  FROM top
),
agg AS (
  SELECT lang, count(*)::BIGINT AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM xy GROUP BY 1
)
SELECT lang, n,
       cast(floor(1e6 * (cast(n * sxy - sx * sy AS double)
                         / cast(n * sxx - sx * sx AS double)) + 0.5) AS bigint)
         AS slope_micro
FROM agg ORDER BY lang
"""


# --------------------------------------------------------------------------
# Overlapping RAG chunking (X6 [EXT])
# --------------------------------------------------------------------------

_RAG_WIDTH = 64
_RAG_STRIDE = 32


def q_rag_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 sliding-window chunking for retrieval corpora: width
    {w} tokens, stride {s} (50% overlap — the RAG default so no
    answer span is cut at a boundary). Pure array expressions
    (sequence + slice) map-side; per-doc output carries chunk count,
    total chunk tokens (> doc tokens, proving overlap) and a bit_xor
    of per-chunk md5 fingerprints — one flipped token boundary
    anywhere changes the signature."""
    d = _t(spark, sf_dir, "documents")
    chunks = (
        d.select("doc_id", tokens_expr("text").alias("ts"))
        .where(F.size("ts") > 0)
        .selectExpr(
            "doc_id",
            "ts",
            f"explode(sequence(0, size(ts) - 1, {_RAG_STRIDE})) as s",
        )
        .selectExpr(
            "doc_id",
            f"slice(ts, s + 1, {_RAG_WIDTH}) as chunk",
        )
        .select(
            "doc_id",
            F.size("chunk").alias("n_toks"),
            F.conv(
                F.substring(F.md5(F.concat_ws(" ", F.col("chunk"))), 1, 15), 16, 10
            )
            .cast("bigint")
            .alias("fp"),
        )
    )
    return (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum("n_toks").cast("bigint").alias("sum_chunk_tokens"),
            F.expr("bit_xor(fp)").cast("bigint").alias("xor_fp"),
        )
        .orderBy("doc_id")
    )


_ORACLE_RAG = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
  FROM documents
),
chunks AS (
  SELECT doc_id, ts[s + 1 : s + {_RAG_WIDTH}] AS chunk
  FROM (
    SELECT doc_id, ts, unnest(range(0, len(ts), {_RAG_STRIDE})) AS s
    FROM toks WHERE len(ts) > 0
  )
),
fps AS (
  SELECT doc_id, len(chunk) AS n_toks,
         ('0x' || substr(md5(array_to_string(chunk, ' ')), 1, 15))::BIGINT AS fp
  FROM chunks
)
SELECT doc_id, count(*)::BIGINT AS n_chunks,
       sum(n_toks)::BIGINT AS sum_chunk_tokens,
       cast(bit_xor(fp) AS bigint) AS xor_fp
FROM fps GROUP BY 1 ORDER BY doc_id
"""


REGISTRY_EXT56: dict[str, QuerySpec] = {
    "containment_dedup_pairs": QuerySpec(
        q_containment_dedup_pairs, _ORACLE_CONTAINMENT, "X2 [EXT] asymmetric near-dup"
    ),
    "zipf_slope_tokens": QuerySpec(
        q_zipf_slope_tokens, _ORACLE_ZIPF, "X6/X7 [EXT] corpus health"
    ),
    "rag_chunk_overlap": QuerySpec(
        q_rag_chunk_overlap, _ORACLE_RAG, "X6 [EXT] retrieval chunking"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_containment_dedup_pairs.__doc__ = q_containment_dedup_pairs.__doc__.format(t=_CONT_THRESH, r=_CONT_MAX_RATIO)  # noqa: E501
q_zipf_slope_tokens.__doc__ = q_zipf_slope_tokens.__doc__.format(n=_ZIPF_TOPN)  # noqa: E501
q_rag_chunk_overlap.__doc__ = q_rag_chunk_overlap.__doc__.format(w=_RAG_WIDTH, s=_RAG_STRIDE)  # noqa: E501
