"""Wave 83: isotonic PAVA, hash permutation test, winnowing fingerprints."""

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
    unbounded_nested_loop_joins,
)
from etl_poor_main_pipeline_spark.registry_ext82 import (
    _PERM_N,
    _WIN_W,
    q_isotonic_calibration_pava,
    q_permutation_test_hashed,
    q_winnowing_fingerprints,
)

SF = "/root/testdata/sf0.001"


def test_isotonic_fit_is_monotone_and_mass_preserving(spark):
    rows = q_isotonic_calibration_pava(spark, SF).collect()
    assert rows
    fits = [r.fitted_rate_micro for r in rows]
    assert fits == sorted(fits)  # non-decreasing by construction
    for r in rows:
        assert 0 <= r.fitted_rate_micro <= 1_000_000
        assert 0 <= r.raw_rate_micro <= 1_000_000
    # PAVA preserves the weighted mean of the raw rates (to micro rounding)
    tot_n = sum(r.n for r in rows)
    raw_mass = sum(r.s for r in rows)
    fit_mass = sum(r.n * r.fitted_rate_micro for r in rows) / 1e6
    assert abs(fit_mass - raw_mass) < tot_n * 2e-6 + 1.0


def test_permutation_test_shape(spark):
    r = q_permutation_test_hashed(spark, SF).collect()[0]
    assert r.n_perms == _PERM_N
    assert 0 <= r.n_extreme <= _PERM_N
    # add-one estimator bounds
    assert 0 < r.p_value_micro <= 1_000_000


def test_winnowing_counts_and_guarantee(spark):
    rows = q_winnowing_fingerprints(spark, SF).collect()
    assert rows
    for r in rows[:200]:
        # winnowing keeps at least one and at most every gram window
        assert 1 <= r.n_fingerprints <= r.n_grams - _WIN_W + 1
        assert r.fp_min <= r.fp_max


def test_wave83_plans_are_scale_safe(spark):
    for fn in (
        q_isotonic_calibration_pava,
        q_permutation_test_hashed,
        q_winnowing_fingerprints,
    ):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
        assert not unbounded_nested_loop_joins(df)
