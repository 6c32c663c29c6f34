"""Wave 39: retrieval eval metrics, event paths, incremental dedup,
quality-reason bitmap."""

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext38 import (
    _DELTA_SPLIT,
    q_incremental_dedup_delta,
    q_quality_reasons_bitmap,
    q_retrieval_eval_metrics,
    q_top_event_paths,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_retrieval_eval_bounds(spark):
    r = q_retrieval_eval_metrics(spark, SF).collect()[0]
    assert r.n_relevant > 0  # the query terms are common corpus words
    assert 0 <= r.mrr_micro <= 1_000_000
    assert 0 <= r.p_at_10_x1e6 <= 1_000_000
    assert 0 <= r.ndcg_at_10_micro <= 1_000_001  # rounding slack


def test_top_event_paths_bounded_and_positive(spark):
    rows = q_top_event_paths(spark, SF).collect()
    assert 0 < len(rows) <= 20
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)
    assert all(r.path.count(">") == 2 for r in rows)


def test_incremental_dedup_partitions_delta_exactly(spark):
    rows = q_incremental_dedup_delta(spark, SF).collect()
    n_delta = (
        load_table(spark, SF, "documents").where(f"doc_id >= {_DELTA_SPLIT}").count()
    )
    assert sum(r.n_docs for r in rows) == n_delta
    statuses = {r.status for r in rows}
    assert "new" in statuses
    # template corpus: cross-split duplicates must exist
    assert "dup_of_base" in statuses or "dup_in_delta" in statuses


def test_quality_bitmap_covers_corpus(spark):
    rows = q_quality_reasons_bitmap(spark, SF).collect()
    n_docs = load_table(spark, SF, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert all(0 <= r.reason_mask <= 15 for r in rows)
    assert len(rows) >= 2  # more than one rule combination fires


def test_wave39_plans_are_scale_safe(spark):
    for fn in (
        q_retrieval_eval_metrics,
        q_top_event_paths,
        q_incremental_dedup_delta,
        q_quality_reasons_bitmap,
    ):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
