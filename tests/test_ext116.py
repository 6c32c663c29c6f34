"""Wave 116: Granger, CCF, Kuiper, Mood median."""

from etl_poor_main_pipeline_spark.registry_ext116 import (
    _CCF_MAX_LAG,
    _CHI2_CRIT_MILLI,
    _F_CRIT_MILLI,
    q_cross_correlation_lags,
    q_granger_causality_hourly,
    q_kuiper_two_sample,
    q_mood_median_test,
)

SF = "/root/testdata/sf0.001"


def test_granger_f_nonneg(spark):
    r = q_granger_causality_hourly(spark, SF).collect()[0]
    assert r.n_obs > 10
    # adding a regressor can only reduce SSE: F >= 0 (milli-snap slack)
    assert r.f_milli >= -1
    assert r.granger_flag == (r.f_milli > _F_CRIT_MILLI)


def test_ccf_all_lags_bounded(spark):
    rows = q_cross_correlation_lags(spark, SF).collect()
    assert [r.lag for r in rows] == list(range(_CCF_MAX_LAG + 1))
    for r in rows:
        assert r.n_pairs >= 2
        assert -1_001 <= r.r_milli <= 1_001


def test_kuiper_v_bounds(spark):
    r = q_kuiper_two_sample(spark, SF).collect()[0]
    assert r.n_a > 0 and r.n_b > 0
    # V in [0, 2] by construction (sum of two sup-gaps)
    assert 0 <= r.v_micro <= 2_000_000


def test_mood_median_consistent(spark):
    r = q_mood_median_test(spark, SF).collect()[0]
    assert r.n_a > 0 and r.n_b > 0
    assert r.chi2_milli >= 0
    assert r.signif_05 == (r.chi2_milli > _CHI2_CRIT_MILLI)
