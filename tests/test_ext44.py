"""Wave 45: KS two-sample, Mann-Whitney U, Spearman rho, mutual info."""

import math


from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext44 import (
    q_ks_two_sample,
    q_mann_whitney_u,
    q_mutual_information,
    q_spearman_rank_corr,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_ks_statistic_bounds_and_bruteforce(spark):
    rows = q_ks_two_sample(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r.ks_micro <= 1_000_000
        assert r.n_in + r.n_out == 1000
    # brute-force one type on the driver
    pdf = load_table(spark, SF, "events").select("event_type", "value").toPandas()
    t = rows[0].event_type
    a = sorted(round(v * 100) for v in pdf[pdf.event_type == t].value)
    b = sorted(round(v * 100) for v in pdf[pdf.event_type != t].value)
    support = sorted(set(a) | set(b))
    d = max(
        abs(
            sum(1 for x in a if x <= s) / len(a)
            - sum(1 for x in b if x <= s) / len(b)
        )
        for s in support
    )
    assert rows[0].ks_micro == math.floor(1e6 * d + 0.5)


def test_mann_whitney_u_sum_identity(spark):
    rows = q_mann_whitney_u(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        # 0 <= U <= n_in * n_out
        assert 0 <= r.u2 <= 2 * r.n_in * r.n_out


def test_spearman_in_range_and_ties_broken(spark):
    rows = q_spearman_rank_corr(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert -1_000_000 <= r.rho_micro <= 1_000_000
        assert r.sum_d2 >= 0


def test_mutual_information_nonnegative_and_bounded(spark):
    r = q_mutual_information(spark, SF).collect()[0]
    # MI >= 0 (up to nano rounding) and MI <= H(event_type)
    assert r.mi_nano >= -100
    assert r.mi_nano <= r.h_type_nano
    # 5 types x <= 10 buckets
    assert 5 <= r.n_cells <= 50
    # H(type) close to ln(5) for the near-uniform fixture
    assert abs(r.h_type_nano - 1e9 * math.log(5)) < 5e6


def test_wave45_plans_are_scale_safe(spark):
    for fn in (
        q_ks_two_sample,
        q_mann_whitney_u,
        q_spearman_rank_corr,
        q_mutual_information,
    ):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
