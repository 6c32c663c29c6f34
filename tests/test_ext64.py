"""Wave 65: LATERAL top-N, DCT projection, RFM segmentation."""

from pyspark.sql import functions as F

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext64 import (
    _DCT_DIM,
    _DCT_K,
    _RFM_Q,
    _dct_basis,
    q_embedding_dct_project,
    q_lateral_topn_per_key,
    q_rfm_segmentation,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_lateral_matches_window_formulation(spark):
    got = [
        (r.n_name, r.o_orderkey) for r in q_lateral_topn_per_key(spark, SF).collect()
    ]
    from pyspark.sql.window import Window

    n = load_table(spark, SF, "nation")
    c = load_table(spark, SF, "customer")
    o = load_table(spark, SF, "orders")
    w = Window.partitionBy("n_name").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    want = [
        (r.n_name, r.o_orderkey)
        for r in o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .orderBy("n_name", F.desc("o_totalprice"), "o_orderkey")
        .collect()
    ]
    assert got == want


def test_dct_basis_is_orthonormal():
    b = _dct_basis()
    assert len(b) == _DCT_K and all(len(r) == _DCT_DIM for r in b)
    for i in range(_DCT_K):
        for j in range(_DCT_K):
            dot = sum(x * y for x, y in zip(b[i], b[j]))
            assert abs(dot - (1.0 if i == j else 0.0)) < 1e-12


def test_dct_projection_covers_labels(spark):
    rows = q_embedding_dct_project(spark, SF).collect()
    emb = load_table(spark, SF, "embeddings")
    assert len(rows) == emb.select("label").distinct().count()
    assert sum(r.n_vecs for r in rows) == emb.count()


def test_rfm_segments_partition_users(spark):
    rows = q_rfm_segmentation(spark, SF).collect()
    users = load_table(spark, SF, "events").select("user_id").distinct().count()
    assert sum(r.n_users for r in rows) == users
    for r in rows:
        assert 1 <= r.r_q <= _RFM_Q
        assert 1 <= r.f_q <= _RFM_Q
        assert 1 <= r.m_q <= _RFM_Q


def test_wave65_plans_are_scale_safe(spark):
    for fn in (q_embedding_dct_project, q_rfm_segmentation):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
