"""Wave 62: weekly KS drift, threshold sweep, dedup sensitivity."""

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext61 import (
    _SENS_BANDS,
    _SWEEP_THRESHOLDS,
    q_filter_threshold_sweep,
    q_ks_weekly_drift,
    q_threshold_sensitivity_curve,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_weekly_ks_rows_and_bounds(spark):
    rows = q_ks_weekly_drift(spark, SF).collect()
    assert rows, "30-day fixture yields week-over-week pairs"
    for r in rows:
        assert 0 <= r.ks_micro <= 1_000_000
        assert r.n_cur > 0 and r.n_prv > 0
    # stationary synthetic stream: typical weekly drift stays small
    med = sorted(r.ks_micro for r in rows)[len(rows) // 2]
    assert med < 500_000


def test_threshold_sweep_monotone(spark):
    rows = sorted(
        q_filter_threshold_sweep(spark, SF).collect(), key=lambda r: r.tau_micro
    )
    assert [r.tau_micro for r in rows] == sorted(_SWEEP_THRESHOLDS)
    n_docs = load_table(spark, SF, "documents").count()
    for a, b in zip(rows, rows[1:]):
        assert a.n_docs_kept >= b.n_docs_kept
        assert a.n_tokens_kept >= b.n_tokens_kept
    assert rows[0].n_docs_kept <= n_docs


def test_sensitivity_curve_monotone_and_consistent(spark):
    rows = sorted(
        q_threshold_sensitivity_curve(spark, SF).collect(), key=lambda r: r.tau_micro
    )
    assert [r.tau_micro for r in rows] == sorted(_SENS_BANDS)
    for a, b in zip(rows, rows[1:]):
        assert a.n_pairs >= b.n_pairs
        assert a.n_docs >= b.n_docs
    for r in rows:
        # a pair involves 2 docs; doc count is bounded by 2*pairs
        assert r.n_docs <= 2 * r.n_pairs
        assert r.n_pairs >= 1


def test_wave62_plans_are_scale_safe(spark):
    for fn in (
        q_ks_weekly_drift,
        q_filter_threshold_sweep,
        q_threshold_sensitivity_curve,
    ):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
