"""Wave 115: Atkinson, Palma, Page-Hinkley, Dickey-Fuller."""

from etl_poor_main_pipeline_spark.registry_ext115 import (
    _DF_CRIT_MILLI,
    _PH_LAMBDA_MICRO,
    q_atkinson_inequality,
    q_dickey_fuller_unit_root,
    q_page_hinkley_drift,
    q_palma_ratio_lengths,
)

SF = "/root/testdata/sf0.001"


def test_atkinson_ordering(spark):
    r = q_atkinson_inequality(spark, SF).collect()[0]
    assert r.n_docs > 0
    assert r.mean_chars_milli > 0
    # 0 <= A(0.5) <= A(1) < 1 (aversion monotonicity), micro-snap slack
    assert -2 <= r.atkinson_e05_micro <= r.atkinson_e1_micro + 2
    assert r.atkinson_e1_micro < 1_000_000


def test_palma_shares_consistent(spark):
    r = q_palma_ratio_lengths(spark, SF).collect()[0]
    assert r.n_docs > 0
    assert 0 < r.bottom40_chars and 0 < r.top10_chars
    # the top decile of LONGEST docs holds at least its per-doc share,
    # the bottom two quintiles at most theirs (equality iff all equal)
    assert r.top10_share_micro >= 99_000
    assert r.bottom40_share_micro <= 401_000
    assert r.bottom40_share_micro + r.top10_share_micro <= 1_000_002
    # ratio consistent with the integer char sums
    expect = int(1e3 * r.top10_chars / r.bottom40_chars + 0.5)
    assert abs(r.palma_milli - expect) <= 1


def test_page_hinkley_consistent(spark):
    r = q_page_hinkley_drift(spark, SF).collect()[0]
    assert r.n_hours > 0
    assert r.max_deviation_micro >= 0
    assert r.drift_flag == (r.max_deviation_micro > _PH_LAMBDA_MICRO)
    if not r.drift_flag:
        assert r.first_alarm_hr == -1
    else:
        assert r.first_alarm_hr > 0


def test_dickey_fuller_mean_reverting(spark):
    r = q_dickey_fuller_unit_root(spark, SF).collect()[0]
    assert r.n_diffs > 10
    # hourly means of i.i.d. values are strongly mean-reverting:
    # beta near -1, tau far below the critical value
    assert -2_000_000 < r.beta_micro < 0
    assert r.stationary_flag == (r.tau_milli < _DF_CRIT_MILLI)
    assert r.stationary_flag  # this corpus is stationary by construction
