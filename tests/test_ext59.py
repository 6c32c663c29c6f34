"""Wave 60: sorted-neighborhood pairs, debounce, cohort LTV."""

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext59 import (
    _SNM_THRESH,
    q_cohort_ltv_curve,
    q_event_debounce,
    q_sorted_neighborhood_pairs,
)
from etl_poor_main_pipeline_spark.functions.text import tokens_expr
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_snm_pairs_are_true_near_dups(spark):
    rows = q_sorted_neighborhood_pairs(spark, SF).collect()
    assert rows, "template fixture should put near-dups in prefix order"
    toks = {
        r.doc_id: set(r.ts)
        for r in load_table(spark, SF, "documents")
        .select("doc_id", tokens_expr("text").alias("ts"))
        .collect()
    }
    for r in rows[:100]:
        a, b = toks[r.id_lo], toks[r.id_hi]
        j = len(a & b) / len(a | b)
        assert j >= _SNM_THRESH
    # every emitted pair is unique
    keys = [(r.id_lo, r.id_hi) for r in rows]
    assert len(keys) == len(set(keys))


def test_debounce_partitions_rows(spark):
    rows = q_event_debounce(spark, SF).collect()
    total = load_table(spark, SF, "events").count()
    assert sum(r.n_total for r in rows) == total
    for r in rows:
        assert r.n_kept + r.n_dropped == r.n_total
        assert r.n_kept >= 1


def test_cohort_ltv_monotone_cumsum(spark):
    rows = q_cohort_ltv_curve(spark, SF).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_wk, []).append(r)
    for wk, rs in by_cohort.items():
        rs = sorted(rs, key=lambda r: r.age_wk)
        cum = 0
        for r in rs:
            cum += r.revenue_c
            assert r.cum_revenue_c == cum, wk
            assert r.age_wk >= 0


def test_wave60_plans_are_scale_safe(spark):
    for fn in (q_sorted_neighborhood_pairs, q_event_debounce, q_cohort_ltv_curve):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
