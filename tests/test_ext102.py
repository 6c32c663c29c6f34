"""Wave 103: Wald IV, Nelson-Aalen, PACF Durbin-Levinson, Slope One."""

from etl_poor_main_pipeline_spark.registry_ext102 import (
    q_iv_wald_estimator,
    q_nelson_aalen_hazard,
    q_pacf_yule_walker,
    q_slope_one_loo_eval,
)

SF = "/root/testdata/sf0.001"


def test_iv_wald_arms_partition_users(spark):
    row = q_iv_wald_estimator(spark, SF).collect()[0]
    assert row.n1 > 0 and row.n0 > 0
    # the md5 split is a partition of all users with >= 1 event
    import duckdb

    nu = duckdb.sql(
        f"SELECT count(DISTINCT user_id) FROM read_parquet('{SF}/events.parquet')"
    ).fetchone()[0]
    assert row.n1 + row.n0 == nu
    # a weak first stage must produce either a NULL Wald or a finite one;
    # reduced form / first stage must reproduce it when defined
    if row.wald_late_micro is not None and row.first_stage_micro != 0:
        approx = row.reduced_form_micro * 1_000_000 / row.first_stage_micro
        assert abs(approx - row.wald_late_micro) <= max(
            5, abs(row.wald_late_micro) * 0.01
        )


def test_nelson_aalen_monotone_and_bounded(spark):
    rows = q_nelson_aalen_hazard(spark, SF).collect()
    assert rows
    prev_h = prev_v = 0
    prev_day = -1
    for r in rows:
        assert r.day > prev_day
        assert r.d >= 1
        assert r.n_risk >= r.d
        assert r.h_micro >= prev_h  # cumulative hazard is non-decreasing
        assert r.var_micro >= prev_v
        # each step adds d/n <= 1
        assert r.h_micro - prev_h <= 1_000_000
        prev_h, prev_v, prev_day = r.h_micro, r.var_micro, r.day


def test_pacf_lag1_equals_acf_lag1_and_bounds(spark):
    rows = q_pacf_yule_walker(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        # r1 = pacf1 is Cauchy-Schwarz-bounded by the PSD-safe estimator
        assert -1_000_000 <= r.pacf1_micro <= 1_000_000
        # higher orders can drift past 1 when day gaps break strict
        # stationarity of the pair sets; generous box
        for c in ("pacf2_micro", "pacf3_micro"):
            assert -2_000_000 <= getattr(r, c) <= 2_000_000


def test_slope_one_mae_reasonable(spark):
    rows = q_slope_one_loo_eval(spark, SF).collect()
    assert len(rows) == 5  # one row per event type
    for r in rows:
        assert r.n_preds > 0
        assert r.mae_microunits >= 0
    # dense matrix at sf0.001: every (user, item) rating gets a prediction
    import duckdb

    n_cells = duckdb.sql(
        "SELECT count(*) FROM (SELECT DISTINCT user_id, event_type "
        f"FROM read_parquet('{SF}/events.parquet'))"
    ).fetchone()[0]
    assert sum(r.n_preds for r in rows) == n_cells
