"""Wave 58: Markov eval, weekday seasonality, join fanout."""

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext57 import (
    q_join_fanout_profile,
    q_markov_top1_accuracy,
    q_weekday_seasonality_index,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_markov_eval_bounds(spark):
    rows = q_markov_top1_accuracy(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_correct <= r.n_test
        assert 0 <= r.acc_micro <= 1_000_000
    # uniform 5-state fixture: accuracy should sit near chance, not 0/1
    total_t = sum(r.n_test for r in rows)
    total_c = sum(r.n_correct for r in rows)
    assert 0.02 < total_c / total_t < 0.8


def test_seasonality_indices_average_to_one(spark):
    rows = q_weekday_seasonality_index(spark, SF).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
        assert 1 <= r.dow <= 7
    for t, rs in by_type.items():
        # weighted mean of indices is exactly 1 (up to micro rounding)
        n = sum(r.n_dw for r in rs)
        wavg = sum(r.index_micro * r.n_dw for r in rs) / n
        assert abs(wavg - 1_000_000) < 100, t


def test_join_fanout_accounts_for_every_row(spark):
    rows = q_join_fanout_profile(spark, SF).collect()
    by_f = {r.fanout: r.n_orders for r in rows}
    orders = load_table(spark, SF, "orders").count()
    lines = load_table(spark, SF, "lineitem").count()
    # orders = matched orders + orphan orders
    assert sum(n for f, n in by_f.items() if f > 0) + by_f.get(0, 0) == orders
    # lineitem rows = sum(fanout * n_orders) + orphan lines
    assert (
        sum(f * n for f, n in by_f.items() if f > 0) + by_f.get(-1, 0) == lines
    )


def test_wave58_plans_are_scale_safe(spark):
    for fn in (
        q_markov_top1_accuracy,
        q_weekday_seasonality_index,
        q_join_fanout_profile,
    ):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
