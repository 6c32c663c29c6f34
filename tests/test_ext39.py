"""Wave 40: BFS reachability, exclusion funnel, RLE advisor."""

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext39 import (
    _BFS_SEED_MOD,
    q_bfs_reachability_hops,
    q_funnel_with_exclusion,
    q_rle_encoding_advisor,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_bfs_partitions_corpus(spark):
    rows = {r.hop: r.n_docs for r in q_bfs_reachability_hops(spark, SF).collect()}
    d = load_table(spark, SF, "documents")
    n_seeds = d.where(f"doc_id % {_BFS_SEED_MOD} = 0").count()
    assert rows[0] == n_seeds
    assert sum(rows.values()) == d.count()  # hops + unreached partition all docs
    assert rows.get(-1, 0) >= 0


def test_funnel_exclusion_consistent(spark):
    r = q_funnel_with_exclusion(spark, SF).collect()[0]
    assert r.n_purchases > 0
    assert r.n_clean + r.n_dirty == r.n_with_prior_view
    assert r.n_with_prior_view <= r.n_purchases
    # errors exist in the corpus: some conversion paths must be dirty
    assert r.n_dirty > 0


def test_rle_advisor_bounds(spark):
    rows = {r.column: r for r in q_rle_encoding_advisor(spark, SF).collect()}
    assert set(rows) == {"l_returnflag", "l_linestatus", "l_shipdate", "l_partkey"}
    for r in rows.values():
        assert 1 <= r.n_runs <= r.n_rows
        assert r.advice in ("RLE", "DICT", "PLAIN")
    # 3-value flag column must compress far better than a near-key column
    assert rows["l_returnflag"].n_runs < rows["l_partkey"].n_runs


def test_wave40_plans_are_scale_safe(spark):
    for fn in (
        q_bfs_reachability_hops,
        q_funnel_with_exclusion,
        q_rle_encoding_advisor,
    ):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
