"""Wave 108: Davies-Bouldin, Tukey HSD, shift-share, MSTTR."""

from etl_poor_main_pipeline_spark.registry_ext107 import (
    _HSD_Q_CRIT_MICRO,
    q_davies_bouldin_index,
    q_msttr_segmental_ttr,
    q_shift_share_decomposition,
    q_tukey_hsd_pairs,
)

SF = "/root/testdata/sf0.001"


def test_davies_bouldin_positive(spark):
    row = q_davies_bouldin_index(spark, SF).collect()[0]
    assert row.k == 10
    assert row.db_milli > 0
    i, j = row.worst_pair.split("-")
    assert i != j and 0 <= int(i) <= 9 and 0 <= int(j) <= 9


def test_tukey_hsd_ten_ordered_pairs(spark):
    rows = q_tukey_hsd_pairs(spark, SF).collect()
    assert len(rows) == 10  # C(5,2)
    for r in rows:
        assert r.ti < r.tj
        assert r.q_micro >= 0
        assert r.significant_05 == (r.q_micro > _HSD_Q_CRIT_MICRO)
        # q is symmetric in the means: zero iff means equal
        if r.mean_i_centi == r.mean_j_centi:
            assert r.q_micro <= 1_000  # snap slack


def test_shift_share_identity(spark):
    rows = q_shift_share_decomposition(spark, SF).collect()
    assert len(rows) == 5
    tv1 = sum(r.v1 for r in rows)
    tv2 = sum(r.v2 for r in rows)
    for r in rows:
        assert r.delta == r.v2 - r.v1
        assert r.rate_effect == r.delta - r.expected_delta
    # expected deltas reproduce the aggregate growth up to snap slack
    assert abs(sum(r.expected_delta for r in rows) - (tv2 - tv1)) <= len(rows)
    # mix-neutral identity: rate effects sum to ~0
    assert abs(sum(r.rate_effect for r in rows)) <= len(rows)


def test_msttr_beats_naive_ttr_on_long_docs(spark):
    rows = q_msttr_segmental_ttr(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_segments > 0
        assert 0 < r.msttr_micro <= 1_000_000
        assert 0 < r.naive_ttr_micro <= 1_000_000
        # 31-word vocab over thousands of tokens: naive TTR collapses,
        # segmental TTR stays near the per-25-token diversity
        assert r.msttr_micro > r.naive_ttr_micro
