"""Wave 67: target mix rebalance, rate cap, Cohen's kappa."""

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext66 import (
    _MIX_TARGET_PPM,
    _RATE_CAP,
    q_cohens_kappa,
    q_rate_cap_per_key_hour,
    q_target_mix_rebalance,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_mix_rebalance_feasible_and_on_target(spark):
    rows = {r.lang: r for r in q_target_mix_rebalance(spark, SF).collect()}
    assert set(rows) == set(_MIX_TARGET_PPM)
    total_keep = sum(r.n_keep for r in rows.values())
    for lang, r in rows.items():
        assert 0 <= r.n_keep <= r.n_have  # never keep more than supply
        assert 0 <= r.accept_rate_micro <= 1_000_000
        # achieved share within 2% of target (integer flooring slack)
        share = r.n_keep / total_keep
        assert abs(share - _MIX_TARGET_PPM[lang] / 1e6) < 0.02, lang
    # the binding language is kept in full
    assert any(r.n_keep >= r.n_have - 1 for r in rows.values())


def test_rate_cap_accounting(spark):
    rows = q_rate_cap_per_key_hour(spark, SF).collect()
    total = load_table(spark, SF, "events").count()
    assert sum(r.n_kept + r.n_shed for r in rows) == total
    for r in rows:
        assert r.max_burst >= 1
        if r.max_burst <= _RATE_CAP:
            assert r.n_shed == 0


def test_kappa_in_range_and_consistent_with_accuracy(spark):
    r = q_cohens_kappa(spark, SF).collect()[0]
    assert -1_000_000 <= r.kappa_micro <= 1_000_000
    assert 0 <= r.agree <= r.n_tot
    # kappa is below raw accuracy (chance correction only subtracts)
    assert r.kappa_micro <= (r.agree * 1_000_000) // r.n_tot + 1


def test_wave67_plans_are_scale_safe(spark):
    for fn in (q_target_mix_rebalance, q_rate_cap_per_key_hour, q_cohens_kappa):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
