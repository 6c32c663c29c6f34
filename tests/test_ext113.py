"""Wave 113: LLR collocations, keyness, temporal entropy, HHI."""

from etl_poor_main_pipeline_spark.registry_ext113 import (
    _KEY_TOPK,
    _LLR_MIN_K11,
    _LLR_TOPK,
    q_collocation_llr_bigrams,
    q_herfindahl_concentration,
    q_keyness_log_odds,
    q_temporal_entropy_profile,
)

SF = "/root/testdata/sf0.001"


def test_llr_topk_sorted_and_supported(spark):
    rows = q_collocation_llr_bigrams(spark, SF).collect()
    assert 0 < len(rows) <= _LLR_TOPK
    assert all(r.k11 >= _LLR_MIN_K11 for r in rows)
    g2s = [r.g2_micro for r in rows]
    assert g2s == sorted(g2s, reverse=True)
    assert all(r.g2_micro >= 0 for r in rows)  # G2 is nonnegative


def test_keyness_topk_by_abs_z(spark):
    rows = q_keyness_log_odds(spark, SF).collect()
    assert 0 < len(rows) <= _KEY_TOPK
    zs = [abs(r.z_milli) for r in rows]
    assert zs == sorted(zs, reverse=True)


def test_temporal_entropy_in_unit_interval(spark):
    r = q_temporal_entropy_profile(spark, SF).collect()[0]
    assert r.n_events > 0
    assert 0 <= r.hour_entropy_norm_micro <= 1_000_024  # micro-snap slack
    assert 0 <= r.weekday_entropy_norm_micro <= 1_000_007
    assert r.spiky_flag == (r.hour_entropy_norm_micro < 950_000)


def test_hhi_bounds(spark):
    r = q_herfindahl_concentration(spark, SF).collect()[0]
    assert r.n_sources > 1
    # HHI in [1/n, 1]
    lo = 1_000_000 // r.n_sources - r.n_sources
    assert lo <= r.hhi_docs_micro <= 1_000_000 + r.n_sources
    assert lo <= r.hhi_chars_micro <= 1_000_000 + r.n_sources
    assert 0 - 10 <= r.nhhi_docs_micro <= 1_000_010
    assert 1_000 <= r.effective_sources_milli <= r.n_sources * 1_000 + 10
