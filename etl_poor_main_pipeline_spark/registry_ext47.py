"""Operator registry, wave 48: embedding evaluation ops — Matryoshka
truncation quality, label-centroid silhouette margins, and int8
quantization retrieval recall.

These close the loop the earlier X3 tier opened: the engine can
quantize (embedding_int8_quantize), project (jl_random_projection) and
truncate vectors — this wave measures WHAT THOSE SAVINGS COST in
retrieval quality, the eval every embedding-pipeline owner runs before
flipping a cheaper representation on.

Scale stances:
- All three ops broadcast a tiny side (8 query vectors / 10 label
  centroids / 1 quantized query) against one corpus scan; ranking uses
  integer micro-scores with id tie-breaks (the established exact-ANN
  oracle pattern), and per-query ranks are windows PARTITIONED by
  query id.
- Centroids are computed from a posexplode'd (label, dim) aggregate
  with decimal(28,12) sums — partition-merge-order-proof — then
  reassembled with array_sort(collect_list(struct(pos, v))), a
  10x64-row frame.
- The int8 dot product is PURE INTEGER (quantized codes both sides),
  so the quantized ranking has zero cross-engine float risk; only the
  float reference ranking uses micro-rounded cosine.

Reference parity: none (no vector surface in the reference); [EXT] X3
tier per BASELINE.json.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .operators import similarity
from .operators.dedup import spread
from .registry import QuerySpec, _t
from .session import barrier

# one fold pass: cosine(a, b) for two array<double> columns, micro-int
_COS_MICRO = (
    "cast(floor(1e6 * aggregate("
    "  zip_with({a}, {b}, (x, y) -> named_struct('d', x * y, 'nx', x * x, 'ny', y * y)),"
    "  named_struct('d', cast(0.0 as double), 'nx', cast(0.0 as double), 'ny', cast(0.0 as double)),"
    "  (acc, s) -> named_struct('d', acc.d + s.d, 'nx', acc.nx + s.nx, 'ny', acc.ny + s.ny),"
    "  acc -> acc.d / (sqrt(acc.nx) * sqrt(acc.ny))"
    ") + 0.5) as bigint)"
)

# --------------------------------------------------------------------------
# Matryoshka truncation eval (X3 [EXT])
# --------------------------------------------------------------------------

_MAT_NQ = 8  # query vectors: vec_id 0..7
_MAT_K = 10
_MAT_DIM = 16  # truncated prefix length (of 64)


def q_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X3 Matryoshka-truncation retrieval eval: for each of {nq}
    query vectors, how many of the full-64-dim cosine top-{k} survive
    when both sides are truncated to their first {d} dims — the
    overlap@k a team measures before serving the cheaper prefix
    representation. One corpus scan against a BROADCAST query set;
    both rankings are integer micro-cosines with vec_id tie-breaks and
    per-query (partitioned) rank windows, so the whole eval is one
    shuffle-light pass regardless of corpus size."""
    e = _t(spark, sf_dir, "embeddings")
    # vec_id is unique, so the id-range filter already caps the query set
    # at _MAT_NQ rows; the explicit limit() makes that cap VISIBLE to the
    # plan (GlobalLimit) for the unbounded-broadcast guard — a no-op cut.
    queries = (
        e.where(F.col("vec_id") < _MAT_NQ)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
        .limit(_MAT_NQ)
    )
    corpus = e.where(F.col("vec_id") >= _MAT_NQ)
    scored = corpus.crossJoin(F.broadcast(queries)).selectExpr(
        "qid",
        "vec_id",
        _COS_MICRO.format(
            a="cast(embedding as array<double>)", b="cast(qv as array<double>)"
        )
        + " as f_micro",
        _COS_MICRO.format(
            a=f"cast(slice(embedding, 1, {_MAT_DIM}) as array<double>)",
            b=f"cast(slice(qv, 1, {_MAT_DIM}) as array<double>)",
        )
        + " as t_micro",
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("f_micro"), F.asc("vec_id"))
    wt = Window.partitionBy("qid").orderBy(F.desc("t_micro"), F.asc("vec_id"))
    ranked = scored.select(
        "qid",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"),
    )
    return (
        ranked.groupBy("qid")
        .agg(
            F.sum(
                F.when((F.col("rf") <= _MAT_K) & (F.col("rt") <= _MAT_K), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_overlap")
        )
        .orderBy("qid")
    )


_ORACLE_MATRYOSHKA = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {_MAT_NQ}
),
c AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev
  FROM embeddings WHERE vec_id >= {_MAT_NQ}
),
s AS (
  SELECT q.qid, c.vec_id,
         cast(floor(1e6 * list_cosine_similarity(c.ev, q.qv) + 0.5) AS bigint)
           AS f_micro,
         cast(floor(1e6 * list_cosine_similarity(c.ev[1:{_MAT_DIM}],
                                                 q.qv[1:{_MAT_DIM}]) + 0.5) AS bigint)
           AS t_micro
  FROM c CROSS JOIN q
),
r AS (
  SELECT qid,
         row_number() OVER (PARTITION BY qid ORDER BY f_micro DESC, vec_id) AS rf,
         row_number() OVER (PARTITION BY qid ORDER BY t_micro DESC, vec_id) AS rt
  FROM s
)
SELECT qid,
       sum(CASE WHEN rf <= {_MAT_K} AND rt <= {_MAT_K} THEN 1 ELSE 0 END)::BIGINT
         AS n_overlap
FROM r GROUP BY qid ORDER BY qid
"""


# --------------------------------------------------------------------------
# Label-centroid silhouette margin (X3/X4 [EXT])
# --------------------------------------------------------------------------


def q_silhouette_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X3/X4 cluster-quality margins: per label, the average of
    cosine(vec, own-label centroid) minus the best cosine to any OTHER
    label's centroid — positive margins mean the label structure is
    real, the cheap silhouette a curation pipeline checks before
    trusting label-blocked dedup. Centroids come from a (label, dim)
    aggregate with decimal(28,12) sums (merge-order-proof) reassembled
    into arrays; scoring broadcasts the 10-row centroid frame against
    one corpus scan; margins land on micro-ints before averaging."""
    e = _t(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x")
    )
    cent = (
        dims.groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("cv")
        )
        .groupBy("label")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)").alias(
                "cvec"
            )
        )
        .select(F.col("label").alias("c_label"), "cvec")
    )
    scored = e.crossJoin(F.broadcast(cent)).selectExpr(
        "vec_id",
        "label",
        "c_label",
        _COS_MICRO.format(a="cast(embedding as array<double>)", b="cvec") + " as cm",
    )
    per_vec = scored.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("label") == F.col("c_label"), F.col("cm"))).alias("own"),
        F.max(F.when(F.col("label") != F.col("c_label"), F.col("cm"))).alias("other"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum(F.col("own") - F.col("other")).cast("bigint").alias("sum_margin_micro"),
            F.sum(F.when(F.col("own") > F.col("other"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_positive"),
        )
        .orderBy("label")
    )


_ORACLE_SILHOUETTE = """
WITH dims AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         cast(unnest(embedding) AS double) AS x
  FROM embeddings
),
cent AS (
  SELECT label AS c_label, pos,
         cast(sum(cast(x AS decimal(28,12))) AS double) / count(*) AS cv
  FROM dims GROUP BY 1, 2
),
cvecs AS (
  SELECT c_label, list(cv ORDER BY pos) AS cvec FROM cent GROUP BY 1
),
scored AS (
  SELECT e.vec_id, e.label, c.c_label,
         cast(floor(1e6 * list_cosine_similarity(e.embedding::DOUBLE[], c.cvec)
                    + 0.5) AS bigint) AS cm
  FROM embeddings e CROSS JOIN cvecs c
),
per_vec AS (
  SELECT vec_id, label,
         max(CASE WHEN label = c_label THEN cm END) AS own,
         max(CASE WHEN label <> c_label THEN cm END) AS other
  FROM scored GROUP BY 1, 2
)
SELECT label, count(*)::BIGINT AS n_vecs,
       sum(own - other)::BIGINT AS sum_margin_micro,
       sum(CASE WHEN own > other THEN 1 ELSE 0 END)::BIGINT AS n_positive
FROM per_vec GROUP BY label ORDER BY label
"""


# --------------------------------------------------------------------------
# int8 quantized retrieval recall (X3 [EXT])
# --------------------------------------------------------------------------

_INT8_K = 10


def _quantize_py(vec: tuple[float, ...]) -> list[int]:
    """Driver-side twin of the in-engine symmetric int8 quantizer —
    same doubles, same floor(x/s + 0.5), so codes are bit-identical."""
    s = max(abs(float(x)) for x in vec) / 127.0
    s = s if s != 0.0 else 1.0
    return [int(math.floor(float(x) / s + 0.5)) for x in vec]


def q_int8_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X3 quantization retrieval eval: top-{k} by symmetric-int8
    dot product (codes both sides — a PURE INTEGER ranking, zero float
    divergence risk) compared with the float cosine top-{k} for the
    vec_id=0 query. Reports the overlap and whether rank-1 survived —
    the go/no-go number for serving 4x-smaller vectors. One corpus
    scan; the quantized query is a constant-folded literal; the float
    reference uses the established micro-cosine ranking."""
    # per-row quantize + two zip_with dot products over the embedding
    # array: CPU-bound map work, spread the one-split scan (no-op at
    # scale)
    e = spread(_t(spark, sf_dir, "embeddings"))
    qv = similarity.query_vector(sf_dir, vec_id=0)
    qz = _quantize_py(qv)
    qz_lit = ",".join(str(v) for v in qz)
    corpus = e.where(F.col("vec_id") != 0)

    s = "array_max(transform(embedding, x -> abs(cast(x as double)))) / 127.0D"
    s0 = f"CASE WHEN ({s}) = 0.0D THEN 1.0D ELSE ({s}) END"
    codes = (
        f"transform(embedding, x -> cast(floor(cast(x as double) / ({s0}) + 0.5D)"
        f" as bigint))"
    )
    idot = (
        f"aggregate(zip_with({codes}, array({qz_lit}), (a, b) -> a * b),"
        f" cast(0 as bigint), (acc, v) -> acc + v)"
    )
    qnorm = math.sqrt(sum(float(x) * float(x) for x in qv))
    qlits = ",".join(repr(float(x)) for x in qv)
    fcos = (
        f"cast(floor(1e6 * aggregate("
        f"  zip_with(cast(embedding as array<double>), array({qlits}),"
        f"           (x, y) -> named_struct('d', x * y, 'n', x * x)),"
        f"  named_struct('d', cast(0.0 as double), 'n', cast(0.0 as double)),"
        f"  (acc, s) -> named_struct('d', acc.d + s.d, 'n', acc.n + s.n),"
        f"  acc -> acc.d / (sqrt(acc.n) * {qnorm!r})"
        f") + 0.5) as bigint)"
    )
    scored = barrier(corpus.selectExpr(
        "vec_id", f"{idot} as idot", f"{fcos} as f_micro"
    ))
    top_q = scored.orderBy(F.desc("idot"), F.asc("vec_id")).limit(_INT8_K)
    top_f = scored.orderBy(F.desc("f_micro"), F.asc("vec_id")).limit(_INT8_K)
    overlap = top_q.join(top_f.select("vec_id"), "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlap")
    )
    t1q = top_q.orderBy(F.desc("idot"), F.asc("vec_id")).limit(1).select(
        F.col("vec_id").alias("top1_int8")
    )
    t1f = top_f.orderBy(F.desc("f_micro"), F.asc("vec_id")).limit(1).select(
        F.col("vec_id").alias("top1_float")
    )
    return (
        overlap.crossJoin(t1q)
        .crossJoin(t1f)
        .select(
            "n_overlap",
            "top1_int8",
            "top1_float",
            (F.col("top1_int8") == F.col("top1_float")).alias("top1_match"),
        )
    )


# The registry oracle contract is a static SQL string, so the oracle
# fetches + quantizes the query vector from the table itself (same
# doubles, same floor(x/s + 0.5) as the driver-side literal twin).
_ORACLE_INT8_RECALL = f"""
WITH qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),
qz AS (
  SELECT list_transform(q,
           x -> cast(floor(x / (CASE WHEN list_max(list_transform(q, a -> abs(a))) / 127.0 = 0
                                     THEN 1.0
                                     ELSE list_max(list_transform(q, a -> abs(a))) / 127.0 END)
                           + 0.5) AS bigint)) AS qcodes
  FROM qv
),
c AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev,
         list_max(list_transform(embedding, x -> abs(cast(x AS double)))) / 127.0 AS s
  FROM embeddings WHERE vec_id <> 0
),
scored AS (
  SELECT vec_id,
         cast(list_sum(list_transform(
             list_zip(list_transform(ev,
                        x -> cast(floor(x / (CASE WHEN s = 0 THEN 1.0 ELSE s END) + 0.5)
                                  AS bigint)),
                      (SELECT qcodes FROM qz)),
             z -> z[1] * z[2])) AS bigint) AS idot,
         cast(floor(1e6 * list_cosine_similarity(ev, (SELECT q FROM qv)) + 0.5) AS bigint)
           AS f_micro
  FROM c
),
tq AS (SELECT vec_id, idot FROM scored ORDER BY idot DESC, vec_id LIMIT {_INT8_K}),
tf AS (SELECT vec_id, f_micro FROM scored ORDER BY f_micro DESC, vec_id LIMIT {_INT8_K})
SELECT
  (SELECT count(*)::BIGINT FROM tq JOIN tf USING (vec_id)) AS n_overlap,
  (SELECT vec_id FROM tq ORDER BY idot DESC, vec_id LIMIT 1) AS top1_int8,
  (SELECT vec_id FROM tf ORDER BY f_micro DESC, vec_id LIMIT 1) AS top1_float,
  ((SELECT vec_id FROM tq ORDER BY idot DESC, vec_id LIMIT 1)
     = (SELECT vec_id FROM tf ORDER BY f_micro DESC, vec_id LIMIT 1)) AS top1_match
"""


REGISTRY_EXT47: dict[str, QuerySpec] = {
    "matryoshka_overlap": QuerySpec(
        q_matryoshka_overlap, _ORACLE_MATRYOSHKA, "X3 [EXT] truncation eval"
    ),
    "embedding_silhouette_margin": QuerySpec(
        q_silhouette_margin, _ORACLE_SILHOUETTE, "X3/X4 [EXT] cluster quality"
    ),
    "int8_topk_recall": QuerySpec(
        q_int8_topk_recall, _ORACLE_INT8_RECALL, "X3 [EXT] quantized retrieval eval"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_matryoshka_overlap.__doc__ = q_matryoshka_overlap.__doc__.format(nq=_MAT_NQ, k=_MAT_K, d=_MAT_DIM)  # noqa: E501
q_int8_topk_recall.__doc__ = q_int8_topk_recall.__doc__.format(k=_INT8_K)  # noqa: E501
