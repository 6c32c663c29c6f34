"""Wave 19: inverted index, BM25, distribution shaping, covariance."""

from pyspark.sql import functions as F

from etl_poor_main_pipeline_spark.registry_ext18 import (
    _COV_D,
    q_anomaly_zscore,
    q_bm25_topk,
    q_embedding_covariance,
    q_mixture_temperature,
    q_winsorize,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_inverted_index_postings_bounded_and_sorted(spark):
    # df threshold of 100 empties at sf0.001 (50 docs): lift the filter
    # by reusing the pipeline pieces directly
    from etl_poor_main_pipeline_spark.registry_ext18 import _doc_terms
    from pyspark.sql import Window

    pairs = _doc_terms(load_table(spark, SF, "documents"))
    w = Window.partitionBy("term").orderBy("doc_id")
    rows = (
        pairs.withColumn("rn", F.row_number().over(w))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.collect_list(F.when(F.col("rn") <= 10, F.col("doc_id"))).alias("head"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert len(r.head) <= 10
        assert len(r.head) == min(r.df, 10)  # head-K exactly, never the tail
        assert sorted(r.head) == sorted(set(r.head))  # distinct per doc


def test_bm25_topk_scores_descend(spark):
    out = q_bm25_topk(spark, SF).collect()
    assert 0 < len(out) <= 15
    scores = [r.score_micro for r in out]
    assert scores == sorted(scores, reverse=True)


def test_anomaly_zscore_only_outliers(spark):
    out = q_anomaly_zscore(spark, SF)
    assert out.where(F.abs(F.col("zscore")) <= 2.5).count() == 0
    # z-scores over a bounded uniform-ish value column stay sane
    assert out.where(F.abs(F.col("zscore")) > 100).count() == 0


def test_winsorize_clipped_mean_inside_bounds(spark):
    for r in q_winsorize(spark, SF).collect():
        assert r.p05 <= r.clipped_mean <= r.p95


def test_mixture_temperature_targets(spark):
    rows = q_mixture_temperature(spark, SF).collect()
    assert rows
    for r in rows:
        # hash-rank membership fills the target exactly (capped by stock)
        assert r.n_kept == min(r.n_target, r.n_total)
    # flattening: kept share of the biggest source shrinks vs raw share
    tot = sum(r.n_total for r in rows)
    kept = sum(r.n_kept for r in rows)
    big = max(rows, key=lambda r: r.n_total)
    assert big.n_kept / kept <= big.n_total / tot + 1e-9


def test_covariance_diagonal_nonnegative_and_symmetric_layout(spark):
    row = q_embedding_covariance(spark, SF).collect()[0]
    d = row.asDict()
    assert len(d) == _COV_D * (_COV_D + 1) // 2
    for i in range(_COV_D):
        assert d[f"cov_{i}_{i}"] >= 0.0
