"""Wave 89: OBF sequential monitor, power/MDE curve, overdispersion."""

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
    unbounded_nested_loop_joins,
)
from etl_poor_main_pipeline_spark.registry_ext88 import (
    _MDE_GRID,
    q_group_sequential_obf,
    q_negative_binomial_overdispersion,
    q_power_mde_curve,
)

SF = "/root/testdata/sf0.001"


def test_obf_monitor_shape(spark):
    rows = q_group_sequential_obf(spark, SF).collect()
    assert rows
    fracs = [r.info_frac_micro for r in rows]
    assert fracs == sorted(fracs)
    assert abs(fracs[-1] - 1_000_000) <= 1  # final look = full information
    bounds = [r.boundary_micro for r in rows]
    assert bounds == sorted(bounds, reverse=True)  # OBF shrinks over looks
    for r in rows:
        # crossing flag is consistent with z vs boundary (micro rounding
        # can disagree only within 1 micro of the boundary)
        if abs(abs(r.z_micro) - r.boundary_micro) > 2:
            assert r.crossed == (abs(r.z_micro) > r.boundary_micro)
    # NOTE: no assertion that the null rarely crosses — at sf0.001 only ~15
    # users exist, and the event-level z ignores user clustering, so
    # spurious crossings are expected on this degenerate corpus (the query
    # docstring carries the cluster-robustness caveat).


def test_mde_curve_monotone(spark):
    rows = q_power_mde_curve(spark, SF).collect()
    assert [r.effect_pct for r in rows] == sorted(_MDE_GRID)
    ns = [r.n_per_arm for r in rows]
    assert ns == sorted(ns, reverse=True)  # bigger effects need fewer samples
    # quadratic scaling: halving the effect ~quadruples n (integer ceil slack)
    by_pct = {r.effect_pct: r.n_per_arm for r in rows}
    assert abs(by_pct[1] / by_pct[2] - 4.0) < 0.1
    assert all(r.days_needed_milli > 0 for r in rows)


def test_overdispersion_screen(spark):
    rows = q_negative_binomial_overdispersion(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_users > 0
        assert r.mean_micro > 0
        assert r.dispersion_micro > 0
        if r.dispersion_micro > 1_000_000:
            assert r.nb_size_micro > 0  # NB size defined when overdispersed
        else:
            assert r.nb_size_micro == -1


def test_wave89_plans_are_scale_safe(spark):
    for fn in (
        q_group_sequential_obf,
        q_power_mde_curve,
        q_negative_binomial_overdispersion,
    ):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        if fn is not q_group_sequential_obf:
            # OBF's cumulative runs over the calendar-bounded daily frame —
            # the sanctioned bounded-frame global window (see
            # test_plan_guards.ALLOWED_GLOBAL)
            assert_no_global_window(df)
        assert not unbounded_nested_loop_joins(df)
