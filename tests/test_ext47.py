"""Wave 48: matryoshka overlap, silhouette margin, int8 recall."""

from etl_poor_main_pipeline_spark.operators import similarity
from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext47 import (
    _MAT_K,
    _MAT_NQ,
    _quantize_py,
    q_int8_topk_recall,
    q_matryoshka_overlap,
    q_silhouette_margin,
)

SF = "/root/testdata/sf0.001"


def test_matryoshka_overlap_bounds(spark):
    rows = q_matryoshka_overlap(spark, SF).collect()
    assert len(rows) == _MAT_NQ
    assert sorted(r.qid for r in rows) == list(range(_MAT_NQ))
    for r in rows:
        assert 0 <= r.n_overlap <= _MAT_K
    # truncating to a quarter of the dims should not destroy ALL signal
    assert sum(r.n_overlap for r in rows) > 0


def test_silhouette_covers_labels_and_margins_consistent(spark):
    from etl_poor_main_pipeline_spark.sources.read import load_table

    rows = q_silhouette_margin(spark, SF).collect()
    emb = load_table(spark, SF, "embeddings")
    n_labels = emb.select("label").distinct().count()
    assert len(rows) == n_labels
    assert sum(r.n_vecs for r in rows) == emb.count()  # every vector scored
    for r in rows:
        assert 0 <= r.n_positive <= r.n_vecs


def test_int8_quantizer_driver_twin_and_recall(spark):
    qv = similarity.query_vector(SF, vec_id=0)
    qz = _quantize_py(qv)
    assert len(qz) == 64
    assert max(abs(v) for v in qz) == 127  # the max-magnitude dim pins 127
    r = q_int8_topk_recall(spark, SF).collect()[0]
    assert 0 <= r.n_overlap <= 10
    # int8 with per-vector scale keeps most of the ranking at 64 dims
    assert r.n_overlap >= 5
    assert isinstance(r.top1_match, bool)


def test_wave48_plans_are_scale_safe(spark):
    for fn in (q_matryoshka_overlap, q_silhouette_margin, q_int8_topk_recall):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
