"""Small-input posture (fastpath.py): size-derived, restoring, scale no-op,
and the MEASURED per-query opt-out list (AQE_KEEP_QUERIES) that keeps AQE
for the plans the committed A/B shows the posture hurts."""

from __future__ import annotations

import json
import os

from etl_poor_main_pipeline_spark.fastpath import (
    AQE_KEEP_QUERIES,
    corpus_bytes,
    execution_posture,
    small_input_shuffle_partitions,
)

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_corpus_bytes_positive():
    n = corpus_bytes(SF)
    assert 0 < n < 256 << 20


def test_partitions_formula_floor_and_growth():
    assert small_input_shuffle_partitions(1) == 8
    assert small_input_shuffle_partitions(64 << 20) == 32
    # monotone in bytes
    assert small_input_shuffle_partitions(128 << 20) >= small_input_shuffle_partitions(
        64 << 20
    )


def test_posture_applies_and_restores(spark):
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    with execution_posture(spark, SF) as label:
        assert label == "small"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) <= int(prev_sp)
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev_aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_sp


def test_posture_restores_on_error(spark):
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        with execution_posture(spark, SF):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev_aqe


def test_aqe_keep_matches_committed_ab():
    """Two-way consistency between the measured opt-out list and the
    committed full-registry A/B (AB_FASTPATH.json):
      (a) every query the A/B measured >1.5x slower under the posture
          (and non-trivial, off > 0.3s) is in AQE_KEEP_QUERIES;
      (b) every AQE_KEEP entry shows a real (>1.25x) regression in the
          A/B — no stale or hand-picked entries.
    Regenerate the A/B with tools/ab_fastpath.py after plan changes."""
    with open(os.path.join(REPO, "AB_FASTPATH.json")) as fh:
        rows = json.load(fh)["rows"]
    regressed = {
        n
        for n, r in rows.items()
        if r["ratio"] and r["ratio"] > 1.5 and r["off"] > 0.3
    }
    missing = regressed - AQE_KEEP_QUERIES
    assert not missing, (
        f"measured posture regressions not in AQE_KEEP_QUERIES: {missing}"
    )
    for name in AQE_KEEP_QUERIES:
        assert name in rows, f"{name} absent from the committed A/B"
        assert rows[name]["ratio"] and rows[name]["ratio"] > 1.25, (
            f"{name} no longer regresses under the posture "
            f"({rows[name]['ratio']}x); drop it from AQE_KEEP_QUERIES"
        )


def test_aqe_keep_names_exist(spark):
    from etl_poor_main_pipeline_spark.registry import queries

    qs = queries()
    for name in AQE_KEEP_QUERIES:
        assert name in qs, f"AQE_KEEP entry {name} not in the registry"

# ---------------------------------------------------------------------------
# Medium posture + footer-gated spread (round 12)
# ---------------------------------------------------------------------------


def test_medium_scan_bytes_self_disables_at_scale(spark):
    from etl_poor_main_pipeline_spark.fastpath import (
        _DEFAULT_MAX_PARTITION_BYTES,
        medium_scan_bytes,
    )

    cores = spark.sparkContext.defaultParallelism
    # x64-like medium corpus: derived split well under the 128 MB default
    derived = medium_scan_bytes(spark, 1100 << 20)
    assert derived is not None
    assert (4 << 20) <= derived < _DEFAULT_MAX_PARTITION_BYTES
    # derived value floors at 4 MB and otherwise equals corpus/(3*cores)
    expect = max(4 << 20, (300 << 20) // (3 * cores))
    assert medium_scan_bytes(spark, 300 << 20) == expect
    assert medium_scan_bytes(spark, 1) == 4 << 20
    # at cluster scale (corpus >= 3*cores*128MB) the posture self-disables
    assert medium_scan_bytes(spark, 3 * cores * (128 << 20)) is None
    assert medium_scan_bytes(spark, 100 << 40) is None  # 100 TB


def test_execution_posture_small_and_keeplist(spark):
    from etl_poor_main_pipeline_spark.fastpath import execution_posture

    keep = next(iter(AQE_KEEP_QUERIES))
    with execution_posture(spark, SF) as label:
        assert label == "small"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    with execution_posture(spark, SF, keep) as label:
        assert label == "cluster"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_execution_posture_medium_applies_and_restores(spark, tmp_path, monkeypatch):
    import etl_poor_main_pipeline_spark.fastpath as fp

    # fake a 1.1 GB corpus so the dispatch goes medium without 1 GB on disk
    monkeypatch.setattr(fp, "corpus_bytes", lambda d: 1100 << 20)
    prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    with fp.execution_posture(spark, str(tmp_path)) as label:
        assert label == "medium"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        mpb = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
        adv = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        assert mpb == fp.medium_scan_bytes(spark, 1100 << 20)
        assert adv == str(mpb)
    restored = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    assert restored == prev_mpb


def test_execution_posture_cluster_noop(spark, tmp_path, monkeypatch):
    import etl_poor_main_pipeline_spark.fastpath as fp

    monkeypatch.setattr(fp, "corpus_bytes", lambda d: 100 << 40)  # 100 TB
    with fp.execution_posture(spark, str(tmp_path)) as label:
        assert label == "cluster"


def test_spread_gate_shut_at_bench_scale(spark):
    """At sf0.001/sf0.1 the documents footer is far under the per-split
    threshold: the gate must stay shut (the unconditional spread was
    MEASURED slower for cheap tokenize pipelines at this scale)."""
    from etl_poor_main_pipeline_spark.fastpath import spread_if_cpu_starved

    df = spark.read.parquet(f"{SF}/documents.parquet")
    out = spread_if_cpu_starved(df, SF, "documents")
    assert out is df  # no repartition node added


def test_spread_gate_opens_on_fat_few_split_file(spark, tmp_path):
    """A single-row-group file with > min_bytes_per_split uncompressed
    bytes must be respread across the cores."""
    from pyspark.sql import functions as F

    from etl_poor_main_pipeline_spark.fastpath import spread_if_cpu_starved

    p = tmp_path / "documents.parquet"
    spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws("", F.array([F.lit("x" * 50)] * 20)).alias("text"),
    ).coalesce(1).write.parquet(str(p))
    df = spark.read.parquet(str(p))
    out = spread_if_cpu_starved(
        df, str(tmp_path), "documents", min_bytes_per_split=1 << 10
    )
    assert out is not df
    assert (
        out.rdd.getNumPartitions()
        <= spark.sparkContext.defaultParallelism
    )
    assert out.count() == df.count()
