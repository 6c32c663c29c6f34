"""Wave 51: RRF hybrid retrieval, k-anonymity, PMI, checksum buckets."""

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext50 import (
    _KANON,
    _PMI_MIN_PAIR,
    _RRF_K,
    _RRF_TOP_IN,
    _RRF_TOP_OUT,
    q_checksum_diff_buckets,
    q_k_anonymity_risk,
    q_rrf_hybrid_retrieval,
    q_token_pmi_topk,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_rrf_scores_decrease_and_ranks_bounded(spark):
    rows = q_rrf_hybrid_retrieval(spark, SF).collect()
    assert len(rows) == _RRF_TOP_OUT
    scores = [r.rrf_nano for r in rows]
    assert scores == sorted(scores, reverse=True)
    two_list_max = int(1e9 * 2 / (_RRF_K + 1) + 0.5)
    for r in rows:
        assert 0 < r.rrf_nano <= two_list_max
        assert 0 <= r.rank_lex <= _RRF_TOP_IN
        assert 0 <= r.rank_vec <= _RRF_TOP_IN
        assert r.rank_lex > 0 or r.rank_vec > 0
    # a doc present in BOTH lists should outrank one present in neither list
    both = [r for r in rows if r.rank_lex > 0 and r.rank_vec > 0]
    assert both, "fusion should surface at least one doc from both lists"


def test_k_anonymity_counts_consistent(spark):
    rows = q_k_anonymity_risk(spark, SF).collect()
    for r in rows:
        assert 0 <= r.n_risky_groups <= r.n_groups
        assert r.n_risky_rows <= r.n_risky_groups * (_KANON - 1)
        assert r.min_group >= 1


def test_pmi_pairs_meet_support_and_order(spark):
    rows = q_token_pmi_topk(spark, SF).collect()
    assert rows, "fixture should yield collocations"
    scores = [r.pmi_nano for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r.cab >= _PMI_MIN_PAIR
        assert r.w1 < r.w2


def test_checksum_buckets_detect_any_row_change(spark):
    rows = q_checksum_diff_buckets(spark, SF).collect()
    o = load_table(spark, SF, "orders")
    assert sum(r.n_rows for r in rows) == o.count()
    assert len(rows) <= 64
    sigs = {r.bucket: r.xor_sig for r in rows}
    # independence from partitioning: recompute on a different layout
    rows2 = q_checksum_diff_buckets(spark, SF).collect()
    assert {r.bucket: r.xor_sig for r in rows2} == sigs


def test_wave51_plans_are_scale_safe(spark):
    for fn in (
        q_rrf_hybrid_retrieval,
        q_k_anonymity_risk,
        q_token_pmi_topk,
        q_checksum_diff_buckets,
    ):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
