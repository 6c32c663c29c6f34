"""Wave 53: late-data audit, partition modularity, Neyman allocation."""

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext52 import (
    _NEYMAN_BUDGET,
    q_late_data_audit,
    q_neyman_allocation,
    q_partition_modularity,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_late_data_audit_counts(spark):
    rows = q_late_data_audit(spark, SF).collect()
    assert len(rows) == 5
    total = load_table(spark, SF, "events").count()
    assert sum(r.n_events for r in rows) == total
    for r in rows:
        assert 0 <= r.n_late <= r.n_events
        assert r.max_lateness_s >= 0
        if r.n_late == 0:
            assert r.max_lateness_s == 0


def test_modularity_terms_sum_to_valid_q(spark):
    rows = q_partition_modularity(spark, SF).collect()
    assert rows
    m2 = sum(r.d_c for r in rows)  # sum of degrees = 2m
    e_total = sum(r.e_in for r in rows)
    assert e_total <= m2 // 2  # internal edges can't exceed all edges
    q = sum(r.q_term_nano for r in rows) / 1e9
    assert -1.0 <= q <= 1.0


def test_neyman_allocation_sums_to_budget(spark):
    rows = q_neyman_allocation(spark, SF).collect()
    assert len(rows) == 5
    assert sum(r.alloc for r in rows) == _NEYMAN_BUDGET
    for r in rows:
        assert r.alloc >= 0
        assert r.sigma_micro > 0
    # higher N*sigma weight should never get a smaller allocation than a
    # stratum with weight at most half of it
    ws = sorted(rows, key=lambda r: r.sigma_micro * r.n_h)
    assert ws[0].alloc <= ws[-1].alloc + 1


def test_wave53_plans_are_scale_safe(spark):
    for fn in (q_late_data_audit, q_partition_modularity, q_neyman_allocation):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
