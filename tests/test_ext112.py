"""Wave 112: Hellinger drift, diff-in-diff, Flesch readability, Theil."""

from etl_poor_main_pipeline_spark.registry_ext112 import (
    q_did_effect_estimator,
    q_flesch_reading_ease,
    q_hellinger_drift_2samp,
    q_theil_index_decomposition,
)

SF = "/root/testdata/sf0.001"


def test_hellinger_bounds(spark):
    r = q_hellinger_drift_2samp(spark, SF).collect()[0]
    assert r.n_a > 0 and r.n_b > 0 and r.n_cells > 0
    # BC in [0, 1], H in [0, 1] (micro-snapped, small slack)
    assert 0 <= r.bc_micro <= 1_000_000 + r.n_cells  # per-cell snap slack
    assert 0 <= r.hellinger_micro <= 1_000_001
    assert r.bhat_dist_micro >= 0


def test_did_identity(spark):
    r = q_did_effect_estimator(spark, SF).collect()[0]
    assert min(r.n_treat_pre, r.n_treat_post, r.n_ctrl_pre, r.n_ctrl_post) > 0
    assert r.did_micro == (r.m_treat_post_micro - r.m_treat_pre_micro) - (
        r.m_ctrl_post_micro - r.m_ctrl_pre_micro
    )


def test_flesch_per_source(spark):
    rows = q_flesch_reading_ease(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_docs > 0
        assert r.n_sentences >= r.n_docs  # min 1 per doc
        assert r.n_words >= 0
        # FRE is unbounded below but capped above by its constant
        assert r.fre_milli <= 206_835


def test_theil_decomposition_identity(spark):
    r = q_theil_index_decomposition(spark, SF).collect()[0]
    assert r.n_docs > 0 and r.n_sources > 1
    # total == between + within exactly by construction
    assert r.theil_total_micro == r.theil_between_micro + r.theil_within_micro
    # Theil T is nonnegative up to micro-snap slack per term
    assert r.theil_total_micro >= -r.n_sources
