"""Wave 64: Kaplan-Meier, Hill estimator, inferior-member pruning."""

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext63 import (
    _HILL_K,
    q_dedup_prune_inferior,
    q_hill_tail_estimator,
    q_kaplan_meier_curve,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_km_curve_monotone_decreasing(spark):
    rows = sorted(q_kaplan_meier_curve(spark, SF).collect(), key=lambda r: r.day)
    assert rows
    last = 1_000_001
    for r in rows:
        assert 0 <= r.s_micro < last  # strictly decreasing at death days
        assert 1 <= r.d <= r.n_risk
        last = r.s_micro
    # risk sets shrink over time
    risks = [r.n_risk for r in rows]
    assert risks == sorted(risks, reverse=True)


def test_hill_alpha_positive(spark):
    rows = q_hill_tail_estimator(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.k_used == _HILL_K - 1
        assert r.alpha_micro > 0


def test_prune_inferior_conserves_docs(spark):
    rows = q_dedup_prune_inferior(spark, SF).collect()
    d = load_table(spark, SF, "documents")
    assert sum(r.n_in for r in rows) == d.count()
    for r in rows:
        assert r.n_pruned + r.n_out == r.n_in
        assert r.chars_out >= 0
    # the template-heavy fixture must prune something somewhere
    assert sum(r.n_pruned for r in rows) > 0


def test_wave64_plans_are_scale_safe(spark):
    for fn in (q_kaplan_meier_curve, q_hill_tail_estimator, q_dedup_prune_inferior):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
