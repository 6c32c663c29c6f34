"""Wave 66: stopword discovery, split leakage, clustering coeffs."""

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext65 import (
    _SW_DF_THRESH,
    q_local_clustering_coeff,
    q_split_leakage_audit,
    q_stopword_discovery,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_stopword_candidates_meet_threshold(spark):
    rows = q_stopword_discovery(spark, SF).collect()
    assert rows, "small shared vocab means high-df tokens exist"
    n = load_table(spark, SF, "documents").count()
    for r in rows:
        assert r.df >= n * _SW_DF_THRESH
        assert r.df_ratio_micro >= int(1e6 * _SW_DF_THRESH)


def test_split_leakage_bounds(spark):
    rows = q_split_leakage_audit(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_docs_leaked <= r.n_val_docs
        assert 0 <= r.leak_rate_micro <= 1_000_000
    # the template-heavy fixture leaks heavily by construction
    assert sum(r.n_docs_leaked for r in rows) > 0


def test_clustering_coeff_accounts_all_connected_nodes(spark):
    rows = q_local_clustering_coeff(spark, SF).collect()
    assert rows
    for r in rows:
        assert -1 <= r.bucket <= 9
        assert r.n_nodes >= 1
    # degree-1 nodes (bucket -1) carry no triangles
    b = {r.bucket: r for r in rows}
    if -1 in b:
        assert b[-1].sum_triangles == 0


def test_wave66_plans_are_scale_safe(spark):
    for fn in (
        q_stopword_discovery,
        q_split_leakage_audit,
        q_local_clustering_coeff,
    ):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
