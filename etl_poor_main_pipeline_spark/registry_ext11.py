"""Operator registry, wave 12: training-set preparation ops —
embedding int8 quantization (storage/bandwidth reduction before ANN
serving) and greedy sequence packing (documents -> fixed token-budget
context windows). Both pure expressions with full-parity twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.text import token_count_ws
from .registry import QuerySpec, _t


def q_embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X3 symmetric int8 quantization per vector: scale =
    max|x|/127, q_i = floor(x_i/scale + 0.5). ``floor(x + 0.5)`` is used
    instead of round() in BOTH engines — round() half-way semantics
    differ across engines (HALF_UP vs half-away-from-zero vs banker's),
    floor(x+0.5) is one deterministic function. All arithmetic upcasts
    the float32 input to double first, so both engines divide identical
    doubles. Map-side only; at scale this is a scan-through."""
    emb = _t(spark, sf_dir, "embeddings")
    s = "array_max(transform(embedding, x -> abs(cast(x as double)))) / 127.0D"
    s0 = f"CASE WHEN ({s}) = 0.0D THEN 1.0D ELSE ({s}) END"
    return emb.select(
        "vec_id",
        F.expr(f"round({s}, 6)").alias("scale"),
        F.expr(
            f"concat_ws(',', transform(embedding,"
            f" x -> cast(floor(cast(x as double) / ({s0}) + 0.5D) as int)))"
        ).alias("q_csv"),
    )


_ORACLE_INT8_QUANT = """
WITH sc AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(cast(x as double)))) / 127.0 AS s
  FROM embeddings
)
SELECT vec_id,
       round(s, 6) AS scale,
       array_to_string(
         list_transform(embedding,
           x -> cast(floor(cast(x as double) / (CASE WHEN s = 0 THEN 1.0 ELSE s END) + 0.5)
                     AS int)), ',') AS q_csv
FROM sc
"""


def q_training_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6/X8 greedy sequence packing: documents stream in a fixed
    deterministic order (doc_id), a running token total assigns each doc
    to context-window bin floor((cumsum - n_tok)/4096), and the result
    reports per-bin document and token counts — the batch shape of
    "pack samples into 4k-token training sequences". This entry is the
    oracle-pinned SPEC TWIN: the global ordered prefix sum IS the
    declared semantics (one total order), kept deliberately. The
    production default at 100 TB is ``training_pack_sharded`` below —
    pack within hash-shards, embarrassingly parallel, same packing
    quality — which is why this query is on the global-window sanction
    list ``ALLOWED_GLOBAL`` in tests/test_plan_guards.py."""
    d = _t(spark, sf_dir, "documents")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    toks = d.select("doc_id", token_count_ws("text").cast("long").alias("n_tok"))
    binned = toks.withColumn(
        "bin", F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(4096)).cast("bigint")
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
        )
    )


_PACK_SHARDS = 8


def q_training_pack_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6/X8 shard-first greedy sequence packing — the 100 TB
    default shape (``training_pack_greedy`` keeps the global-order spec
    twin). Documents are hash-sharded (doc_id % 8); packing runs
    INDEPENDENTLY inside each shard: a per-shard ordered running token
    total assigns each doc to context bin floor((cumsum - n_tok)/4096).
    Every window is partitioned by shard, so the scan is embarrassingly
    parallel — no global ordering, no single-partition stage, and the
    packing quality is identical in expectation (each shard sees an
    unbiased sample of the doc-length distribution). Output: per
    (shard, bin) document and token counts plus the per-bin fill rate
    a training-data builder monitors."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).cast("bigint").alias("shard"),
        token_count_ws("text").cast("long").alias("n_tok"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    binned = toks.withColumn(
        "bin",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(4096)).cast("bigint"),
    )
    return (
        binned.groupBy("shard", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
        )
        .orderBy("shard", "bin")
    )


_ORACLE_PACK_SHARDED = r"""
WITH toks AS (
  SELECT doc_id,
         cast(doc_id % 8 AS bigint) AS shard,
         cast(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS bigint) AS n_tok
  FROM documents
),
binned AS (
  SELECT shard, n_tok,
         cast(floor((sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) / 4096.0)
              AS bigint) AS bin
  FROM toks
)
SELECT shard, bin, cast(count(*) AS bigint) AS n_docs, cast(sum(n_tok) AS bigint) AS sum_tokens
FROM binned GROUP BY shard, bin ORDER BY shard, bin
"""


_ORACLE_PACK = r"""
WITH toks AS (
  SELECT doc_id,
         cast(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS bigint) AS n_tok
  FROM documents
),
binned AS (
  SELECT doc_id, n_tok,
         cast(floor((sum(n_tok) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) / 4096.0)
              AS bigint) AS bin
  FROM toks
)
SELECT bin, cast(count(*) AS bigint) AS n_docs, cast(sum(n_tok) AS bigint) AS sum_tokens
FROM binned GROUP BY bin
"""


REGISTRY_EXT11: dict[str, QuerySpec] = {
    "embedding_int8_quantize": QuerySpec(
        q_embedding_int8_quantize, _ORACLE_INT8_QUANT, "X3 [EXT]"
    ),
    "training_pack_greedy": QuerySpec(q_training_pack_greedy, _ORACLE_PACK, "X6/X8 [EXT]"),
    "training_pack_sharded": QuerySpec(
        q_training_pack_sharded, _ORACLE_PACK_SHARDED, "X6/X8 [EXT] shard-first"
    ),
}
