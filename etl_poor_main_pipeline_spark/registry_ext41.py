"""Operator registry, wave 42: classifier confusion matrices, surrogate
key assignment, and CSV quoting round trips.

Scale stances:
- confusion matrix: one bounded (true x predicted) aggregate over the
  lang-ID expression pipeline — the eval view of text_lang_id.
- surrogate keys: dense sequential key assignment via the Blelloch
  global rank over the DISTINCT dimension frame — the warehouse
  dimension-load primitive with no single-partition stage (and a
  string-keyed exercise of global_rank_zero).
- CSV round trip: executors write/read quoted CSV in parallel; the
  synthesized field embeds commas and double quotes so the quoting
  path is actually exercised, not just the happy path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.scan_prefix import global_rank_zero
from .registry import QuerySpec, _oracle_lang_id, _t, q_lang_id
from .session import scratch_dir

# --------------------------------------------------------------------------
# Language-ID confusion matrix (X6 eval [EXT])
# --------------------------------------------------------------------------


def q_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 the eval view of text_lang_id: the full (true lang x
    detected lang) confusion matrix with per-cell counts and the
    true-language recall — what a curation run reports before trusting
    the classifier as a routing key. One bounded aggregate over the
    marker-score expression pipeline; the per-true-lang total comes
    from a second tiny aggregate joined back (both frames are
    |languages|^2-bounded)."""
    pred = q_lang_id(spark, sf_dir).select(
        F.col("lang").alias("true_lang"), "lang_detected"
    )
    cells = pred.groupBy("true_lang", "lang_detected").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    totals = cells.groupBy("true_lang").agg(F.sum("n").alias("n_true"))
    return (
        cells.join(totals, "true_lang")
        .select(
            "true_lang",
            "lang_detected",
            "n",
            F.floor(F.lit(1000000.0) * F.col("n") / F.col("n_true"))
            .cast("bigint")
            .alias("cell_ppm"),
        )
        .orderBy("true_lang", "lang_detected")
    )


_ORACLE_CONFUSION = f"""
WITH pred AS ({_oracle_lang_id()}),
cells AS (
  SELECT lang AS true_lang, lang_detected, count(*)::BIGINT AS n
  FROM pred GROUP BY 1, 2
),
totals AS (SELECT true_lang, sum(n) AS n_true FROM cells GROUP BY true_lang)
SELECT c.true_lang, c.lang_detected, c.n,
       cast(floor(1000000.0 * c.n / t.n_true) AS bigint) AS cell_ppm
FROM cells c JOIN totals t USING (true_lang)
ORDER BY c.true_lang, c.lang_detected
"""


# --------------------------------------------------------------------------
# Surrogate key assignment (W/dim load [EXT])
# --------------------------------------------------------------------------


def q_surrogate_key_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] W the dimension-load primitive: assign DENSE sequential
    surrogate keys (1..N in (lang, source) order) to the distinct
    dimension combinations observed in the corpus — without
    row_number() over an unpartitioned window. Distinct dims first
    (one hash aggregate), then the Blelloch global rank
    (operators/scan_prefix.global_rank_zero — here exercised on STRING
    order keys) hands out collision-free dense keys. The oracle is the
    literal global-window SQL, proving key-for-key equality."""
    d = _t(spark, sf_dir, "documents").select("lang", "source").distinct()
    n_parts = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
    ranked = global_rank_zero(d, ["lang", "source"], n_parts, out="r0")
    return (
        ranked.select(
            (F.col("r0") + 1).cast("bigint").alias("surrogate_key"),
            "lang",
            "source",
        )
        .orderBy("surrogate_key")
    )


_ORACLE_SURROGATE = """
SELECT cast(row_number() OVER (ORDER BY lang, source) AS bigint) AS surrogate_key,
       lang, source
FROM (SELECT DISTINCT lang, source FROM documents)
ORDER BY surrogate_key
"""


# --------------------------------------------------------------------------
# CSV quoting round trip (S [EXT] source/sink format)
# --------------------------------------------------------------------------


def q_csv_quoting_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] S-tier CSV interchange with the quoting path actually
    exercised: each row carries a synthesized field embedding commas
    and double quotes (the cases naive CSV handling corrupts), written
    to CSV and read back with an explicit schema. The oracle computes
    the same aggregate from the source parquet — equality proves the
    writer quoted and the reader unquoted losslessly. Parallel
    executor write/read; schema-explicit read (no inference pass)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.concat(
            F.lit('v,"'), F.col("lang"), F.lit('",q '), F.col("doc_id").cast("string")
        ).alias("tricky"),
    )
    path = scratch_dir(spark, "csv_rt", os.path.basename(sf_dir.rstrip("/")))
    d.write.mode("overwrite").option("header", "true").csv(path)
    back = (
        spark.read.schema("doc_id bigint, lang string, tricky string")
        .option("header", "true")
        .csv(path)
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.length("tricky")).cast("bigint").alias("sum_len"),
            # intact = the read-back string still equals its reconstruction
            # from the typed columns — catches quote/comma corruption
            F.sum(
                F.when(
                    F.col("tricky")
                    == F.concat(
                        F.lit('v,"'),
                        F.col("lang"),
                        F.lit('",q '),
                        F.col("doc_id").cast("string"),
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_intact"),
        )
        .orderBy("lang")
    )


_ORACLE_CSV = """
SELECT lang,
       count(*)::BIGINT AS n_docs,
       sum(length('v,"' || lang || '",q ' || doc_id))::BIGINT AS sum_len,
       count(*)::BIGINT AS n_intact
FROM documents GROUP BY lang ORDER BY lang
"""


REGISTRY_EXT41: dict[str, QuerySpec] = {
    "lang_confusion_matrix": QuerySpec(
        q_lang_confusion_matrix, _ORACLE_CONFUSION, "X6 [EXT] classifier eval matrix"
    ),
    "surrogate_key_assignment": QuerySpec(
        q_surrogate_key_assignment, _ORACLE_SURROGATE, "W [EXT] dim key load"
    ),
    "csv_quoting_round_trip": QuerySpec(
        q_csv_quoting_round_trip, _ORACLE_CSV, "S [EXT] CSV quoting interchange"
    ),
}
