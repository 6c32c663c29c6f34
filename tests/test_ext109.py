"""Wave 110: periodogram, Pettitt, variance ratio, gAUC."""

from etl_poor_main_pipeline_spark.registry_ext109 import (
    _PG_PERIODS,
    _trig_table,
    q_gauc_grouped_auc,
    q_periodogram_fixed_periods,
    q_pettitt_changepoint,
    q_variance_ratio_random_walk,
)

SF = "/root/testdata/sf0.001"


def test_trig_table_is_orthonormal_enough():
    # each period's cos/sin columns must sum to ~0 (full-cycle basis)
    for p in _PG_PERIODS:
        rows = [r for r in _trig_table() if r[0] == p]
        assert len(rows) == p
        assert abs(sum(r[2] for r in rows)) <= p  # snap slack per entry
        assert abs(sum(r[3] for r in rows)) <= p


def test_periodogram_four_periods(spark):
    rows = q_periodogram_fixed_periods(spark, SF).collect()
    assert [r.p for r in rows] == list(_PG_PERIODS)
    assert sum(1 for r in rows if r.dominant) >= 1
    for r in rows:
        # a single frequency carries at most the whole variance
        assert 0 <= r.power_micro <= 1_100_000


def test_pettitt_changepoint_in_range(spark):
    r = q_pettitt_changepoint(spark, SF).collect()[0]
    assert r.n_hours > 0
    assert r.k_stat > 0
    assert 0 < r.p_micro <= 2_000_000
    assert r.significant_05 == (r.p_micro < 50_000)


def test_variance_ratio_near_one_iid(spark):
    r = q_variance_ratio_random_walk(spark, SF).collect()[0]
    assert r.q == 4
    assert r.n_diffs > 4
    # hourly means of i.i.d. values difference to strong mean reversion;
    # VR must be positive and finite
    assert 0 < r.vr_micro < 3_000_000
    assert r.reject_rw_05 == (abs(r.z_milli) > 1960)


def test_gauc_bounded(spark):
    r = q_gauc_grouped_auc(spark, SF).collect()[0]
    assert r.n_users_scored > 0
    assert r.w_total > 0
    assert 0 <= r.gauc_micro <= 1_000_000
    assert 0 <= r.mean_user_auc_micro <= 1_000_000
