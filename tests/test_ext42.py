"""Wave 43: PSI drift, one-way ANOVA, duplication profile."""

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext42 import (
    q_anova_f_between_groups,
    q_dup_cluster_size_histogram,
    q_psi_drift_deciles,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_psi_bins_cover_both_cohorts(spark):
    rows = q_psi_drift_deciles(spark, SF).collect()
    o = load_table(spark, SF, "orders")
    assert sum(r.n_a + r.n_b for r in rows) == o.count()
    # parity cohorts of the same distribution: total PSI must be small
    total = sum(
        r.psi_contrib_micro for r in rows if r.psi_contrib_micro is not None
    )
    assert abs(total) < 250_000  # PSI < 0.25 = "no significant shift"


def test_anova_shape(spark):
    r = q_anova_f_between_groups(spark, SF).collect()[0]
    assert r.k == 5  # five order priorities
    assert r.n_total == load_table(spark, SF, "orders").count()
    assert r.ss_between_mega >= 0
    assert r.ss_within_mega > 0
    # priorities are assigned independently of price: F should be small
    assert 0 <= r.f_micro < 10_000_000


def test_dup_histogram_conserves_docs(spark):
    rows = q_dup_cluster_size_histogram(spark, SF).collect()
    n_docs = load_table(spark, SF, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert r.n_docs == r.size * r.n_clusters
    # template corpus: clusters of size >= 2 exist
    assert any(r.size >= 2 for r in rows)


def test_wave43_plans_are_scale_safe(spark):
    for fn in (
        q_psi_drift_deciles,
        q_anova_f_between_groups,
        q_dup_cluster_size_histogram,
    ):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
