"""Wave 118: log-rank survival, Gumbel maxima, Little's law, energy dist."""

from etl_poor_main_pipeline_spark.registry_ext118 import (
    q_energy_distance_2samp,
    q_gumbel_daily_maxima,
    q_littles_law_audit,
    q_log_rank_survival,
)

SF = "/root/testdata/sf0.001"


def test_log_rank_shape(spark):
    r = q_log_rank_survival(spark, SF).collect()[0]
    assert r.n_users > 0
    # O1 is a count of cohort-1 events: bounded by total events
    assert 0 <= r.o1 <= r.n_users
    assert r.e1_micro > 0 and r.v_micro > 0
    # z is standardized: anything beyond |20| means broken variance math
    assert abs(r.z_milli) < 20_000


def test_gumbel_fit_orders(spark):
    r = q_gumbel_daily_maxima(spark, SF).collect()[0]
    assert r.n_days > 1
    assert r.beta_micro > 0
    # Gumbel mean sits ABOVE the location mu by gamma*beta; the 30-day
    # return level sits above both (ln(-ln(1-1/30)) < 0)
    assert r.rl30_micro > r.mu_micro


def test_littles_law_consistency(spark):
    r = q_littles_law_audit(spark, SF).collect()[0]
    assert r.n_sessions > 0
    assert r.lambda_micro > 0 and r.w_hours_micro >= 0
    assert r.l_pred_micro >= 0 and r.l_sampled_micro > 0
    # sampled occupancy counts whole hour-slots (a 1-minute session still
    # occupies >= 1 slot), so it upper-bounds the duration-based L up to
    # the one-slot span-edge discretization (<=0.1% on a multi-day span)
    assert 0 < r.ratio_milli <= 1_010


def test_energy_distance_nonneg(spark):
    r = q_energy_distance_2samp(spark, SF).collect()[0]
    assert r.n_a > 0 and r.n_b > 0
    # D^2 >= 0 with equality iff identical distributions (allow snap slack)
    assert r.d2_micro >= -1
    assert r.t_micro >= -1
