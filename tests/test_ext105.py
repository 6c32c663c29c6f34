"""Wave 106: Brown-Forsythe Levene, Friedman, partial correlation,
Ljung-Box."""

from etl_poor_main_pipeline_spark.registry_ext105 import (
    _CHI2_95_DF3_MICRO,
    _CHI2_95_DF4_MICRO,
    q_friedman_rank_test,
    q_levene_brown_forsythe,
    q_ljung_box_test,
    q_partial_correlation_xy_z,
)

SF = "/root/testdata/sf0.001"


def test_levene_scatter_split(spark):
    row = q_levene_brown_forsythe(spark, SF).collect()[0]
    assert row.k == 5
    assert row.n == 1000
    assert row.ss_b_micro >= 0
    assert row.ss_w_micro > 0
    assert row.f_micro is not None and row.f_micro >= 0


def test_friedman_complete_blocks_and_decision(spark):
    row = q_friedman_rank_test(spark, SF).collect()[0]
    assert row.k == 5
    assert row.n_blocks > 0
    assert row.chi2_micro >= 0
    assert row.reject_05 == (row.chi2_micro > _CHI2_95_DF4_MICRO)


def test_partial_correlation_bounds(spark):
    rows = q_partial_correlation_xy_z(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert -1_000_000 <= r.r_xy_micro <= 1_000_000
        if r.r_xy_z_micro is not None:
            # partialling can push slightly past 1 via snapping; small slack
            assert -1_100_000 <= r.r_xy_z_micro <= 1_100_000


def test_ljung_box_nonnegative_and_decision(spark):
    rows = q_ljung_box_test(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_days > 3
        assert r.q_micro >= 0
        assert r.reject_whitenoise_05 == (r.q_micro > _CHI2_95_DF3_MICRO)
