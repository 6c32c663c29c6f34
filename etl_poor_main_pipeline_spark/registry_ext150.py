"""Wave 150 [EXT]: training-batch planner completers — per-bucket
PADDING WASTE for pow-2 length-bucketed batching (the number every
dataloader dashboard shows), the dataloader SHARD-BALANCE audit
(per-worker token totals + straggler ratio under hash sharding),
BEST-OF-N selection gain (how much the max-of-group beats the mean —
the rejection-sampling yield curve), and the GRADIENT-ACCUMULATION
plan (micro-batches and accumulation steps per length bucket for a
fixed token budget). Companions of the shipped context_window_pack /
training_pack_greedy / training_pack_sharded /
training_batch_assignment / curriculum_pacing_plan /
data_constrained_epochs.

Token counts use the context_window_pack whitespace convention
(registry_ext23:163). All four queries reduce the corpus map-side to
a bucket / shard / group frame bounded by the LENGTH DOMAIN (pow-2
buckets ≤ 14), the literal worker count, or |docs|/N — then do
constant-size arithmetic. No windows, no joins beyond a broadcast
1-row total.

Reference parity: none; [EXT] X8 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_TOKN = r"cast(size(filter(split(text, '\\s+'), t -> t <> '')) as bigint)"
_SQL_TOKN = (
    "len(list_filter(string_split_regex(text, '\\s+'),"
    " t -> t <> ''))::BIGINT"
)
_MIN_BUCKET = 16
_MAX_BUCKET = 8192
_N_SHARDS = 8
_BON_N = 4
_MB_TOKENS = 4096  # micro-batch token capacity
_GLOBAL_TOKENS = 65536  # target global-batch tokens


#: next power of two >= n, clamped to [16, 8192]; identical CASE chain
#: in both engines (no log2 rounding ambiguity)
def _bucket_case(col: str) -> str:
    cases = " ".join(
        f"WHEN {col} <= {1 << p} THEN {1 << p}"
        for p in range(4, 14)  # 16 .. 8192
    )
    return f"CASE {cases} ELSE {_MAX_BUCKET} END"


# --------------------------------------------------------------------------
# Padding waste by length bucket (X8 [EXT])
# --------------------------------------------------------------------------


def q_padding_waste_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X8 pad-to-bucket waste: assign each document to the next
    pow-2 length bucket (16..8192 tokens) and report per bucket the
    doc count, real tokens, padded capacity, and waste fraction —
    the padding bill a bucketed dataloader pays vs. perfect packing.
    Output per bucket: bucket, n_docs, tokens, capacity, waste,
    waste_pct_micro."""
    d = _t(spark, sf_dir, "documents")
    toks = d.selectExpr(f"{_TOKN} AS n").selectExpr(
        "n", f"{_bucket_case('n')} AS bucket"
    )
    return (
        toks.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("tokens"),
        )
        .selectExpr(
            "bucket",
            "n_docs",
            "tokens",
            "bucket * n_docs AS capacity",
            "bucket * n_docs - tokens AS waste",
            "cast(floor(1e6 * cast(bucket * n_docs - tokens as double)"
            " / cast(bucket * n_docs as double) + 0.5) as bigint)"
            " AS waste_pct_micro",
        )
        .orderBy("bucket")
    )


_ORACLE_PADDING = f"""
SELECT bucket, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS tokens,
       (bucket * count(*))::BIGINT AS capacity,
       (bucket * count(*) - sum(n))::BIGINT AS waste,
       cast(floor(1e6 * cast(bucket * count(*) - sum(n) AS DOUBLE)
         / cast(bucket * count(*) AS DOUBLE) + 0.5) AS BIGINT)
         AS waste_pct_micro
FROM (
  SELECT n, {_bucket_case('n')} AS bucket
  FROM (SELECT {_SQL_TOKN} AS n FROM documents)
)
GROUP BY bucket ORDER BY bucket
"""


# --------------------------------------------------------------------------
# Dataloader shard balance (X8 [EXT])
# --------------------------------------------------------------------------


def q_dataloader_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X8 hash-shard balance: split documents across 8 workers
    by doc_id hash residue and report per-shard docs/tokens plus each
    shard's straggler ratio (shard tokens / mean shard tokens) — the
    imbalance that sets epoch wall-clock, since the slowest shard
    gates the barrier (workers = _N_SHARDS = 8). Output per shard:
    shard, n_docs, tokens, straggler_ratio_micro."""
    d = _t(spark, sf_dir, "documents")
    # shard = md5 first hex digit mod workers — engine-identical (the
    # stratified_sample_md5 idiom; xxhash64/hash() differ across engines)
    per = (
        d.selectExpr(
            "(instr('0123456789abcdef',"
            f" substring(md5(cast(doc_id as string)), 1, 1)) - 1)"
            f" % {_N_SHARDS} AS shard",
            f"{_TOKN} AS n",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("tokens"),
        )
    )
    per = barrier(per)  # mean pass + ratio pass
    tot = per.agg(
        F.sum("tokens").cast("bigint").alias("tt"),
        F.count(F.lit(1)).cast("bigint").alias("w"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .selectExpr(
            "shard",
            "n_docs",
            "tokens",
            "cast(floor(1e6 * cast(tokens as double)"
            " / (cast(tt as double) / cast(w as double)) + 0.5) as bigint)"
            " AS straggler_ratio_micro",
        )
        .orderBy("shard")
    )


_ORACLE_SHARD = f"""
WITH per AS (
  SELECT shard, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS tokens
  FROM (
    SELECT ((instr('0123456789abcdef',
            substring(md5(cast(doc_id AS VARCHAR)), 1, 1)) - 1)
            % {_N_SHARDS})::BIGINT AS shard,
           {_SQL_TOKN} AS n
    FROM documents
  ) GROUP BY 1
),
tot AS (SELECT sum(tokens)::BIGINT AS tt, count(*)::BIGINT AS w FROM per)
SELECT shard, n_docs, tokens,
       cast(floor(1e6 * cast(tokens AS DOUBLE)
         / (cast(tt AS DOUBLE) / cast(w AS DOUBLE)) + 0.5) AS BIGINT)
         AS straggler_ratio_micro
FROM per, tot ORDER BY shard
"""


# --------------------------------------------------------------------------
# Best-of-N selection gain (X8 [EXT])
# --------------------------------------------------------------------------


def q_best_of_n_quality_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X8 best-of-N selection: group documents into
    consecutive N-tuples (doc_id div N) and compare the mean of
    the per-group MAX quality proxy (n_chars) against the overall
    mean — the rejection-sampling yield: how much quality one buys by
    generating N and keeping the best (N = _BON_N = 4). Only full
    groups count. Output one row: n_groups, mean_all_milli,
    mean_best_milli, gain_pct_micro."""
    d = _t(spark, sf_dir, "documents")
    g = (
        d.selectExpr(f"doc_id div {_BON_N} AS grp", "n_chars")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum("n_chars").cast("bigint").alias("s"),
            F.max("n_chars").cast("bigint").alias("mx"),
        )
        .filter(f"m = {_BON_N}")
    )
    m = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("s").cast("bigint").alias("ts"),
        F.sum("mx").cast("bigint").alias("tmx"),
    )
    mean_all = f"(cast(ts as double) / cast(k * {_BON_N} as double))"
    mean_best = "(cast(tmx as double) / cast(k as double))"
    return m.selectExpr(
        "k AS n_groups",
        f"cast(floor(1e3 * {mean_all} + 0.5) as bigint) AS mean_all_milli",
        f"cast(floor(1e3 * {mean_best} + 0.5) as bigint)"
        " AS mean_best_milli",
        f"cast(floor(1e6 * ({mean_best} - {mean_all}) / {mean_all} + 0.5)"
        " as bigint) AS gain_pct_micro",
    )


_ORACLE_BON = f"""
WITH g AS (
  SELECT doc_id // {_BON_N} AS grp, count(*)::BIGINT AS m,
         sum(n_chars)::BIGINT AS s, max(n_chars)::BIGINT AS mx
  FROM documents GROUP BY 1
),
m AS (
  SELECT count(*)::BIGINT AS k, sum(s)::BIGINT AS ts,
         sum(mx)::BIGINT AS tmx
  FROM g WHERE m = {_BON_N}
)
SELECT k AS n_groups,
       cast(floor(1e3 * (cast(ts AS DOUBLE)
         / cast(k * {_BON_N} AS DOUBLE)) + 0.5) AS BIGINT)
         AS mean_all_milli,
       cast(floor(1e3 * (cast(tmx AS DOUBLE) / cast(k AS DOUBLE)) + 0.5)
         AS BIGINT) AS mean_best_milli,
       cast(floor(1e6 * ((cast(tmx AS DOUBLE) / cast(k AS DOUBLE))
         - (cast(ts AS DOUBLE) / cast(k * {_BON_N} AS DOUBLE)))
         / (cast(ts AS DOUBLE) / cast(k * {_BON_N} AS DOUBLE)) + 0.5)
         AS BIGINT) AS gain_pct_micro
FROM m
"""


# --------------------------------------------------------------------------
# Gradient-accumulation plan (X8 [EXT])
# --------------------------------------------------------------------------


def q_gradient_accumulation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X8 accumulation planner: for each pow-2 length bucket,
    how many docs fit one 4096-token micro-batch (pad-to-bucket), how
    many micro-batches the bucket's corpus fills, and how many
    accumulation steps reach the 65536-token global batch — the table
    that turns a length histogram into a launch config (micro-batch
    4096 tokens, global batch 65536 — _MB_TOKENS/_GLOBAL_TOKENS).
    Output per bucket: bucket, n_docs, docs_per_microbatch,
    n_microbatches, accum_steps."""
    d = _t(spark, sf_dir, "documents")
    toks = d.selectExpr(f"{_TOKN} AS n").selectExpr(
        f"{_bucket_case('n')} AS bucket"
    )
    return (
        toks.groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .selectExpr(
            "bucket",
            "n_docs",
            f"{_MB_TOKENS} div bucket AS docs_per_microbatch",
            # ceil division in integer arithmetic
            f"(n_docs + ({_MB_TOKENS} div bucket) - 1)"
            f" div ({_MB_TOKENS} div bucket) AS n_microbatches",
            f"({_GLOBAL_TOKENS} + {_MB_TOKENS} - 1) div {_MB_TOKENS}"
            " AS accum_steps",
        )
        .orderBy("bucket")
    )


_ORACLE_ACCUM = f"""
SELECT bucket, count(*)::BIGINT AS n_docs,
       ({_MB_TOKENS} // bucket)::BIGINT AS docs_per_microbatch,
       ((count(*) + ({_MB_TOKENS} // bucket) - 1)
         // ({_MB_TOKENS} // bucket))::BIGINT AS n_microbatches,
       (({_GLOBAL_TOKENS} + {_MB_TOKENS} - 1) // {_MB_TOKENS})::BIGINT
         AS accum_steps
FROM (
  SELECT {_bucket_case('n')} AS bucket
  FROM (SELECT {_SQL_TOKN} AS n FROM documents)
)
GROUP BY bucket ORDER BY bucket
"""


REGISTRY_EXT150: dict[str, QuerySpec] = {
    "padding_waste_buckets": QuerySpec(
        q_padding_waste_buckets, _ORACLE_PADDING, "X8 [EXT] padding waste"
    ),
    "dataloader_shard_balance": QuerySpec(
        q_dataloader_shard_balance, _ORACLE_SHARD, "X8 [EXT] shard balance"
    ),
    "best_of_n_quality_gain": QuerySpec(
        q_best_of_n_quality_gain, _ORACLE_BON, "X8 [EXT] best-of-N gain"
    ),
    "gradient_accumulation_plan": QuerySpec(
        q_gradient_accumulation_plan, _ORACLE_ACCUM, "X8 [EXT] accum plan"
    ),
}
