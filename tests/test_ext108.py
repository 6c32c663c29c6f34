"""Wave 109: Kruskal-Wallis, Durbin-Watson, Jarque-Bera, Hurst R/S."""

from etl_poor_main_pipeline_spark.registry_ext108 import (
    _DW_POS_MICRO,
    _JB_CRIT_MILLI,
    _KW_CRIT_MILLI,
    q_durbin_watson_autocorr,
    q_hurst_rescaled_range,
    q_jarque_bera_normality,
    q_kruskal_wallis_rank_test,
)

SF = "/root/testdata/sf0.001"


def test_kruskal_wallis_single_row(spark):
    rows = q_kruskal_wallis_rank_test(spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.k == 5
    assert r.n > 0
    assert r.ties_t >= 0
    assert r.h_milli >= 0
    assert r.reject_05 == (r.h_milli > _KW_CRIT_MILLI)


def test_durbin_watson_near_two_on_iid(spark):
    rows = q_durbin_watson_autocorr(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_hours > 1
        # DW lives in [0, 4]; i.i.d.-ish hourly means should not pin
        # the extremes
        assert 0 < r.dw_micro < 4_000_000
        assert r.positive_autocorr == (r.dw_micro < _DW_POS_MICRO)


def test_jarque_bera_five_types(spark):
    rows = q_jarque_bera_normality(spark, SF).collect()
    assert len(rows) == 5
    total = sum(r.n for r in rows)
    assert total == 1000  # sf0.001 events row count
    for r in rows:
        assert r.skew_micro is not None and r.exkurt_micro is not None
        assert r.jb_milli >= 0
        assert r.reject_normal_05 == (r.jb_milli > _JB_CRIT_MILLI)


def test_hurst_exponent_sane(spark):
    rows = q_hurst_rescaled_range(spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_scales == 4
    assert r.n_hours > 64
    # E[R/S] grows with the block size for any stationary series
    assert r.rs_w8_micro < r.rs_w16_micro < r.rs_w32_micro < r.rs_w64_micro
    # H is a slope of log-log means: wide sanity band (0=white noise
    # lower bound impossible, 1=pure trend)
    assert -200 <= r.hurst_milli <= 1_500
