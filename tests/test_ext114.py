"""Wave 114: triangle census, Burrows' delta, Coleman-Liau, Dixon Q."""

from etl_poor_main_pipeline_spark.registry_ext114 import (
    _DELTA_TOPK,
    q_burrows_delta_sources,
    q_coleman_liau_index,
    q_dixon_q_outlier,
    q_triangle_count_clustering,
)

SF = "/root/testdata/sf0.001"


def test_triangle_census_consistent(spark):
    r = q_triangle_count_clustering(spark, SF).collect()[0]
    assert r.n_nodes > 0 and r.n_edges > 0
    # triangles cannot exceed wedges / 3 is false in general, but each
    # triangle closes exactly 3 wedges, so 3*T <= wedges
    assert 3 * r.n_triangles <= r.n_wedges
    assert 0 <= r.gcc_micro <= 1_000_000


def test_burrows_delta_sorted_nonneg(spark):
    rows = q_burrows_delta_sources(spark, SF).collect()
    assert 0 < len(rows) <= _DELTA_TOPK
    ds = [r.delta_milli for r in rows]
    assert ds == sorted(ds)
    assert all(d >= 0 for d in ds)
    assert all(r.src_a < r.src_b for r in rows)


def test_coleman_liau_per_source(spark):
    rows = q_coleman_liau_index(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_docs > 0
        assert r.n_letters >= 0 and r.n_words >= 0
        assert r.n_sentences >= r.n_docs


def test_dixon_q_in_unit_interval(spark):
    r = q_dixon_q_outlier(spark, SF).collect()[0]
    assert r.n_sources >= 3
    assert 0 <= r.q_low_micro <= 1_000_000
    assert 0 <= r.q_high_micro <= 1_000_000
    assert r.low_outlier == (r.q_low_micro > 290_000)
    assert r.high_outlier == (r.q_high_micro > 290_000)
