"""Wave 55: cross-correlation, quantile normalization, z-test."""

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext54 import (
    _XC_LAGS,
    q_crosscorr_lead_lag,
    q_quantile_normalize_deciles,
    q_two_proportion_ztest,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_crosscorr_covers_lags_in_range(spark):
    rows = q_crosscorr_lead_lag(spark, SF).collect()
    assert [r.lag for r in rows] == sorted(_XC_LAGS)
    for r in rows:
        assert -1_000_000 <= r.r_micro <= 1_000_000
        assert r.n_hours > 0
    # shorter overlap at larger |lag|
    by_lag = {r.lag: r.n_hours for r in rows}
    assert by_lag[3] <= by_lag[0]
    assert by_lag[-3] <= by_lag[0]


def test_quantile_normalization_aligns_sources(spark):
    rows = q_quantile_normalize_deciles(spark, SF).collect()
    total = load_table(spark, SF, "documents").count()
    assert sum(r.n for r in rows) == total
    # after mapping, every source shares the same per-decile value
    by_dec = {}
    for r in rows:
        by_dec.setdefault(r.dec, set()).add(r.mapped_mean_micro)
    for d, vals in by_dec.items():
        assert len(vals) == 1, d
    # mapping preserves monotonicity across deciles
    ref = sorted((d, next(iter(v))) for d, v in by_dec.items())
    vals = [v for _, v in ref]
    assert vals == sorted(vals)


def test_ztest_consistency(spark):
    rows = q_two_proportion_ztest(spark, SF).collect()
    assert len(rows) == 24
    total = load_table(spark, SF, "events").count()
    assert sum(r.n1 for r in rows) == total
    for r in rows:
        assert (abs(r.z_micro) > 1_959_963) == bool(r.significant_95) or abs(
            abs(r.z_micro) - 1_959_964
        ) <= 1


def test_wave55_plans_are_scale_safe(spark):
    for fn in (
        q_crosscorr_lead_lag,
        q_quantile_normalize_deciles,
        q_two_proportion_ztest,
    ):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
