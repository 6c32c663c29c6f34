"""Wave 50: TextRank keywords, bipartite projection, OHLC candles."""

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext49 import (
    _TR_MINLEN,
    _TR_TOPK,
    q_bipartite_projection,
    q_ohlc_candles,
    q_textrank_keywords,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_textrank_returns_content_tokens_with_positive_rank(spark):
    rows = q_textrank_keywords(spark, SF).collect()
    assert len(rows) == _TR_TOPK
    ranks = [r.rank_nano for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    for r in rows:
        assert len(r.word) >= _TR_MINLEN
        assert r.rank_nano > 0


def test_bipartite_projection_pairs_and_jaccard_bounds(spark):
    rows = q_bipartite_projection(spark, SF).collect()
    types = {
        r.event_type
        for r in load_table(spark, SF, "events").select("event_type").distinct().collect()
    }
    n = len(types)
    assert len(rows) <= n * (n - 1) // 2
    for r in rows:
        assert r.t1 < r.t2
        assert r.n_shared >= 1
        assert 0 < r.jaccard_micro <= 1_000_000


def test_ohlc_candles_invariants(spark):
    rows = q_ohlc_candles(spark, SF).collect()
    e = load_table(spark, SF, "events")
    assert sum(r.n for r in rows) == e.count()
    for r in rows:
        assert r.low <= r.open <= r.high
        assert r.low <= r.close <= r.high
        if r.n == 1:
            assert r.open == r.close == r.high == r.low


def test_wave50_plans_are_scale_safe(spark):
    for fn in (q_textrank_keywords, q_bipartite_projection, q_ohlc_candles):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
