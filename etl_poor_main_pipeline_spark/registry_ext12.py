"""Operator registry, wave 13: product-quantization ANN under the full
parity gate, and the custom Python *streaming* sink exercised end-to-end.

- ``similarity_pq_adc`` upgrades the approximate-ANN tier from rows-only
  checks (IVF/SRP) to full cross-engine parity: a deterministic codebook
  (subvectors of the first-K ids — same seeding stance as ivf_build) plus
  integer micro-distances make PQ encode + ADC ranking bit-reproducible
  in both engines.
- ``stream_sink_manifest`` drives readStream -> DataSourceStreamWriter
  (per-batch manifest commit protocol) -> manifest-scoped read-back ->
  aggregate, so the sink's exactly-once publish path is inside the
  DuckDB-checked surface, not just unit tests.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.similarity import (
    pq_codebook,
    pq_encode,
    pq_refine_topk,
    pq_search_codes,
    pq_topk_adc,
    query_vector,
)
from .registry import QuerySpec, _dsum, _dsum_sql, _t
from .session import scratch_dir
from .sources.datasource import read_manifest_parquet, register_manifest_parquet_sink
from .streaming.events import read_event_stream_parquet


def q_similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X3 product-quantization top-k (asymmetric distance): 64-dim
    float32 vectors -> 8 subspaces x 16 codewords, codes = per-subspace
    argmin of integer micro-distances (1e6-scaled squared L2, floor(x+0.5)
    — the value-defining rounding both engines share), ranking = exact
    bigint ADC sum of query-to-codeword distances. Codebook = subvectors
    of vec_id < 16, query = vec_id 7's embedding — both read from the
    table, so the oracle needs no literals. Scale: encode and ADC are
    shuffle-free scan-through maps with the codebook constant-folded;
    ranking is TakeOrderedAndProject. Codes are 8 ints per vector — the
    32x-compressed representation that ships to serving at billions of
    vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, num_subspaces=8, num_codewords=16)
    # parameter fetch, not a Spark job (see similarity.query_vector)
    qv = list(query_vector(sf_dir, vec_id=7))
    return pq_topk_adc(emb, cb, qv, k=10)


_ORACLE_PQ_ADC = r"""
WITH cb AS (
  SELECT cast(vec_id AS int) AS k, embedding AS cbe FROM embeddings WHERE vec_id < 16
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
grid AS (SELECT t1.m, t2.k FROM range(0,8) t1(m) CROSS JOIN range(0,16) t2(k)),
dcode AS (
  SELECT e.vec_id, g.m, cb.k,
         cast(floor(1000000.0 * list_sum(list_transform(range(1,9), j ->
           (cast(e.embedding[cast(g.m*8 AS int)+j] AS double) - cast(cb.cbe[cast(g.m*8 AS int)+j] AS double))
         * (cast(e.embedding[cast(g.m*8 AS int)+j] AS double) - cast(cb.cbe[cast(g.m*8 AS int)+j] AS double))
         )) + 0.5) AS bigint) AS d
  FROM embeddings e CROSS JOIN grid g JOIN cb ON cb.k = g.k
),
codes AS (
  SELECT vec_id, m, k FROM (
    SELECT vec_id, m, k, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
    FROM dcode
  ) WHERE rn = 1
),
dq AS (
  SELECT g.m, cb.k,
         cast(floor(1000000.0 * list_sum(list_transform(range(1,9), j ->
           (cast(q.qe[cast(g.m*8 AS int)+j] AS double) - cast(cb.cbe[cast(g.m*8 AS int)+j] AS double))
         * (cast(q.qe[cast(g.m*8 AS int)+j] AS double) - cast(cb.cbe[cast(g.m*8 AS int)+j] AS double))
         )) + 0.5) AS bigint) AS d
  FROM q CROSS JOIN grid g JOIN cb ON cb.k = g.k
)
SELECT c.vec_id,
       string_agg(cast(c.k AS varchar), ',' ORDER BY c.m) AS codes_csv,
       cast(sum(dq.d) AS bigint) AS adc_microdist
FROM codes c JOIN dq ON dq.m = c.m AND dq.k = c.k
GROUP BY c.vec_id
ORDER BY adc_microdist, c.vec_id
LIMIT 10
"""


def q_similarity_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X3 two-stage retrieval: PQ ADC shortlist (top-50 by the
    compressed-domain integer distance) then exact cosine re-rank to
    top-10 — the standard coarse-scan/exact-refine recall-recovery
    pattern, deterministic in both stages so the full pipeline gets a
    DuckDB oracle. Same codebook/query setup as similarity_pq_adc."""
    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, num_subspaces=8, num_codewords=16)
    # parameter fetch, not a Spark job (see similarity.query_vector)
    qv = list(query_vector(sf_dir, vec_id=7))
    return pq_refine_topk(emb, cb, qv, k=10, shortlist=50)


_ORACLE_PQ_REFINE = r"""
WITH cb AS (
  SELECT cast(vec_id AS int) AS k, embedding AS cbe FROM embeddings WHERE vec_id < 16
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7),
grid AS (SELECT t1.m, t2.k FROM range(0,8) t1(m) CROSS JOIN range(0,16) t2(k)),
dcode AS (
  SELECT e.vec_id, g.m, cb.k,
         cast(floor(1000000.0 * list_sum(list_transform(range(1,9), j ->
           (cast(e.embedding[cast(g.m*8 AS int)+j] AS double) - cast(cb.cbe[cast(g.m*8 AS int)+j] AS double))
         * (cast(e.embedding[cast(g.m*8 AS int)+j] AS double) - cast(cb.cbe[cast(g.m*8 AS int)+j] AS double))
         )) + 0.5) AS bigint) AS d
  FROM embeddings e CROSS JOIN grid g JOIN cb ON cb.k = g.k
),
codes AS (
  SELECT vec_id, m, k FROM (
    SELECT vec_id, m, k, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
    FROM dcode
  ) WHERE rn = 1
),
dq AS (
  SELECT g.m, cb.k,
         cast(floor(1000000.0 * list_sum(list_transform(range(1,9), j ->
           (cast(q.qe[cast(g.m*8 AS int)+j] AS double) - cast(cb.cbe[cast(g.m*8 AS int)+j] AS double))
         * (cast(q.qe[cast(g.m*8 AS int)+j] AS double) - cast(cb.cbe[cast(g.m*8 AS int)+j] AS double))
         )) + 0.5) AS bigint) AS d
  FROM q CROSS JOIN grid g JOIN cb ON cb.k = g.k
),
shortlist AS (
  SELECT c.vec_id
  FROM codes c JOIN dq ON dq.m = c.m AND dq.k = c.k
  GROUP BY c.vec_id
  ORDER BY sum(dq.d), c.vec_id
  LIMIT 50
)
SELECT e.vec_id,
       round(list_cosine_similarity(e.embedding::DOUBLE[], (SELECT qe::DOUBLE[] FROM q)), 6) AS cosine
FROM embeddings e JOIN shortlist s ON e.vec_id = s.vec_id
ORDER BY cosine DESC, e.vec_id ASC
LIMIT 10
"""


def q_similarity_pq_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X3 PQ serving round trip: encode once -> persist the codes
    table (parquet, 8 ints per vector) -> answer the query from the
    stored codes WITHOUT the embedding column. Identical integer ADC
    arithmetic to ``similarity_pq_adc``, so the same oracle applies —
    what the round trip adds to the gate is the persistence path: any
    codes-table corruption, schema drift, or scan of the wrong column
    breaks the hash. At billions of vectors this codes scan is the ~32x
    cheaper query path (the unit test additionally pins the pruned
    ReadSchema)."""
    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_codebook(emb, num_subspaces=8, num_codewords=16)
    # parameter fetch, not a Spark job (see similarity.query_vector)
    qv = list(query_vector(sf_dir, vec_id=7))
    codes_dir = tempfile.mkdtemp(prefix="pq_codes_", dir=scratch_dir(spark)) + "/codes"
    pq_encode(emb, cb).select("vec_id", "pq_codes").write.parquet(codes_dir)
    return pq_search_codes(spark.read.parquet(codes_dir), cb, qv, k=10)


def q_stream_sink_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming write through the custom Python sink, verified by what a
    *reader of the sink* sees: events stream -> row-level projection ->
    ``writeStream.format("manifest_parquet")`` (Arrow-batch task writes,
    per-batch atomic manifest publish) drained with availableNow -> read
    back ONLY manifest-listed files -> per-type aggregate. Row-level
    pass-through is batch-boundary-independent, so the read-back must
    equal the batch aggregate over the source — any dropped, duplicated,
    or uncommitted row breaks the hash. The Arrow->parquet hop preserves
    doubles exactly; the sum then takes the usual exact decimal path."""
    register_manifest_parquet_sink(spark)
    # a one-file source is one input split: repartition the micro-batch so
    # the Python sink writes in parallel (sink parallelism = partitions)
    ev = (
        read_event_stream_parquet(spark, sf_dir)
        .select("event_id", "event_type", "value")
        .repartition(8)
    )
    out_dir = tempfile.mkdtemp(prefix="manifest_stream_", dir=scratch_dir(spark))
    ckpt = os.path.join(out_dir, "_ckpt")
    q = (
        ev.writeStream.format("manifest_parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        if q.isActive:
            q.stop()
    back = read_manifest_parquet(spark, out_dir)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum(F.col("value"), "sum_value"),
    )


_ORACLE_STREAM_SINK = f"""
SELECT event_type,
       cast(count(*) AS bigint) AS n_events,
       {_dsum_sql("value", "sum_value")}
FROM events
GROUP BY event_type
"""


REGISTRY_EXT12: dict[str, QuerySpec] = {
    "similarity_pq_adc": QuerySpec(q_similarity_pq_adc, _ORACLE_PQ_ADC, "X3 [EXT]"),
    "similarity_pq_refine": QuerySpec(q_similarity_pq_refine, _ORACLE_PQ_REFINE, "X3 [EXT]"),
    "similarity_pq_serving": QuerySpec(q_similarity_pq_serving, _ORACLE_PQ_ADC, "X3 [EXT]"),
    "stream_sink_manifest": QuerySpec(
        q_stream_sink_manifest, _ORACLE_STREAM_SINK, "W4 streaming sink"
    ),
}
