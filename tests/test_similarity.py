import numpy as np
from pyspark.sql import functions as F

from etl_poor_main_pipeline_spark.operators.similarity import (
    cosine_self_join,
    ensure_ivf_index,
    ivf_build,
    ivf_search_indexed,
    topk_cosine,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_topk_matches_numpy_bruteforce(spark):
    e = load_table(spark, SF, "embeddings")
    rows = e.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    q = vecs[0]

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    expected = sorted(
        ((round(cos(q, v), 6), -k) for k, v in vecs.items() if k != 0), reverse=True
    )[:10]
    expected_ids = [-i for _, i in expected]

    got = topk_cosine(e.filter(F.col("vec_id") != 0), list(q), k=10).collect()
    assert [r.vec_id for r in got] == expected_ids


def test_ivf_recall_at_10(spark):
    e = load_table(spark, SF, "embeddings")
    q = list(e.filter(F.col("vec_id") == 0).head().embedding)
    exact = {r.vec_id for r in topk_cosine(e.filter(F.col("vec_id") != 0), q, k=10).collect()}
    _, cents = ivf_build(e.filter(F.col("vec_id") != 0), num_centroids=16)
    index = ensure_ivf_index(spark, SF, num_centroids=16)
    approx = {
        r.vec_id
        for r in ivf_search_indexed(spark, index, cents, q, k=10, nprobe=8).collect()
    }
    # coarse quantization with random-ish fixture vectors: expect >=40% overlap
    assert len(exact & approx) >= 4


def test_self_join_gemm_matches_expression_path(spark):
    e = load_table(spark, SF, "embeddings").limit(100)
    gemm = {
        (r.id_a, r.id_b, r.cosine)
        for r in cosine_self_join(e, threshold=0.2, block_col="label").collect()
    }
    expr = {
        (r.id_a, r.id_b, r.cosine)
        for r in cosine_self_join(
            e.filter(F.col("label") == 5), threshold=0.2, block_col=None
        ).collect()
    }
    # expression path runs on one label; every pair it finds must be in the
    # GEMM result with an identical rounded cosine
    assert expr <= gemm


def test_no_python_row_udfs_in_topk_plan(spark):
    from etl_poor_main_pipeline_spark.plans.explain import assert_no_python_udf

    e = load_table(spark, SF, "embeddings")
    q = list(e.filter(F.col("vec_id") == 0).head().embedding)
    assert_no_python_udf(topk_cosine(e, q, k=5))


def test_srp_lsh_recall_at_10(spark):
    from etl_poor_main_pipeline_spark.registry_ext4 import q_similarity_srp_lsh

    e = load_table(spark, SF, "embeddings")
    q = list(e.filter(F.col("vec_id") == 0).head().embedding)
    exact = {r.vec_id for r in topk_cosine(e.filter(F.col("vec_id") != 0), q, k=10).collect()}
    approx = {r.vec_id for r in q_similarity_srp_lsh(spark, SF).collect()}
    # 16 sign bits with Hamming<=4 probing: expect >=40% overlap on the
    # random-ish fixture vectors (same bar as IVF)
    assert len(exact & approx) >= 4


def test_pq_encode_codes_shape_and_identity(spark):
    from etl_poor_main_pipeline_spark.operators.similarity import (
        pq_codebook,
        pq_encode,
        pq_topk_adc,
    )

    e = load_table(spark, SF, "embeddings")
    cb = pq_codebook(e, num_subspaces=8, num_codewords=16)
    assert len(cb) == 8 and len(cb[0]) == 16 and len(cb[0][0]) == 8
    codes = pq_encode(e, cb).select("vec_id", "pq_codes").collect()
    by_id = {r.vec_id: r.pq_codes for r in codes}
    assert all(len(c) == 8 and all(0 <= k < 16 for k in c) for c in by_id.values())
    # a codebook seed vector is its own nearest codeword in every subspace,
    # so querying with it puts itself at ADC distance 0
    for qid in (0, 7, 15):
        assert by_id[qid] == [qid] * 8
        top = pq_topk_adc(e, cb, cb_query := [x for sub in cb for x in sub[qid]], k=1).head()
        assert top.vec_id == qid and top.adc_microdist == 0


def test_pq_adc_recall_at_10(spark):
    """Pin PQ recall against the exact L2 top-10 over several queries.
    An untrained 16-codeword seed codebook on the random-ish fixture
    vectors measures ~0.28 mean recall@10 (PQ shines on clustered real
    embeddings; random data is its worst case) — pin mean >= 0.15 and
    every query >= 0.1 so a semantics regression (wrong argmin tiebreak,
    subspace misalignment) fails loudly while fixture noise does not."""
    import numpy as np

    from etl_poor_main_pipeline_spark.operators.similarity import pq_codebook, pq_topk_adc

    e = load_table(spark, SF, "embeddings")
    rows = e.collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    cb = pq_codebook(e, num_subspaces=8, num_codewords=16)
    recalls = []
    for qid in (0, 7, 33, 101, 250, 444):
        q = V[ids == qid][0]
        l2 = ((V - q) ** 2).sum(1)
        l2[ids == qid] = np.inf
        exact = set(ids[np.lexsort((ids, l2))[:10]].tolist())
        got = {
            r.vec_id
            for r in pq_topk_adc(e.filter(F.col("vec_id") != qid), cb, list(q), k=10).collect()
        }
        recalls.append(len(exact & got) / 10)
        assert recalls[-1] >= 0.1, f"query {qid}: recall collapsed to {recalls[-1]}"
    assert sum(recalls) / len(recalls) >= 0.15


def test_pq_plan_is_scan_through(spark):
    """PQ encode+ADC must stay shuffle-free JVM expressions: no Python
    UDFs, no exchange before the final top-k."""
    from etl_poor_main_pipeline_spark.operators.similarity import pq_codebook, pq_topk_adc
    from etl_poor_main_pipeline_spark.plans.explain import assert_no_python_udf

    e = load_table(spark, SF, "embeddings")
    cb = pq_codebook(e)
    q = [float(x) for x in e.filter(F.col("vec_id") == 7).head().embedding]
    df = pq_topk_adc(e, cb, q, k=10)
    assert_no_python_udf(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"PQ plan shuffles:\n{plan}"
    assert "TakeOrderedAndProject" in plan


def test_pq_refine_recovers_recall_and_broadcasts(spark):
    """Two-stage PQ->exact re-rank must (a) beat the raw ADC ranking's
    recall vs the exact cosine top-10 (measured: ~0.62 mean vs ~0.28 for
    ADC alone; pin mean >= 0.45, each >= 0.3) and (b) join the shortlist
    back to the vectors via broadcast — the exact pass must touch only
    shortlist rows, never shuffle the vector column."""
    import numpy as np

    from etl_poor_main_pipeline_spark.operators.similarity import (
        pq_codebook,
        pq_refine_topk,
    )

    e = load_table(spark, SF, "embeddings")
    rows = e.collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    cb = pq_codebook(e)
    recalls = []
    for qid in (0, 7, 33, 101, 250, 444):
        q = V[ids == qid][0]
        cos = np.round((V @ q) / (np.linalg.norm(V, axis=1) * np.linalg.norm(q)), 6)
        cos[ids == qid] = -np.inf
        exact = set(ids[np.lexsort((ids, -cos))[:10]].tolist())
        got = {
            r.vec_id
            for r in pq_refine_topk(
                e.filter(F.col("vec_id") != qid), cb, list(q), k=10, shortlist=50
            ).collect()
        }
        recalls.append(len(exact & got) / 10)
        assert recalls[-1] >= 0.3, f"query {qid}: refine recall {recalls[-1]}"
    assert sum(recalls) / len(recalls) >= 0.45
    plan = (
        pq_refine_topk(e, cb, list(V[7]), k=10, shortlist=50)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_pq_codes_table_serving_path(spark, tmp_path):
    """Encode once, store codes, search the codes table: results must be
    identical to encode-at-query-time, and the codes-table scan must read
    ONLY (vec_id, pq_codes) — never an embedding column. That pruned
    ReadSchema is the 8-bytes-per-vector serving claim made checkable."""
    from etl_poor_main_pipeline_spark.operators.similarity import (
        pq_codebook,
        pq_encode,
        pq_search_codes,
        pq_topk_adc,
    )

    e = load_table(spark, SF, "embeddings")
    cb = pq_codebook(e)
    q = [float(x) for x in e.filter(F.col("vec_id") == 7).head().embedding]
    codes_path = str(tmp_path / "pq_codes")
    pq_encode(e, cb).select("vec_id", "pq_codes").write.parquet(codes_path)

    codes = spark.read.parquet(codes_path)
    served = pq_search_codes(codes, cb, q, k=10)
    inline = [
        (r.vec_id, r.codes_csv, r.adc_microdist) for r in pq_topk_adc(e, cb, q, k=10).collect()
    ]
    assert [(r.vec_id, r.codes_csv, r.adc_microdist) for r in served.collect()] == inline
    plan = served._jdf.queryExecution().executedPlan().toString()
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas and all("embedding" not in ln for ln in read_schemas)
    assert "Exchange" not in plan


def test_pq_training_monotonically_reduces_distortion(spark):
    """Lloyd iterations expressed as DataFrame jobs must never increase
    total quantization distortion (k-means' invariant) — measured: 376M
    -> 299M -> 287M -> 281M micro-units on sf0.001. Recall stays ~flat
    here because the random-ish fixture has no cluster structure to
    learn; on real embeddings the distortion drop is what buys recall.
    The test pins the invariant, not a fixture-dependent recall gain."""
    from etl_poor_main_pipeline_spark.operators.similarity import (
        pq_codebook,
        pq_distortion,
        pq_train_codebook,
    )

    e = load_table(spark, SF, "embeddings")
    d_prev = pq_distortion(e, pq_codebook(e))
    for iters in (1, 2):
        d = pq_distortion(e, pq_train_codebook(e, iters=iters))
        assert d <= d_prev, f"distortion rose at iter {iters}: {d_prev} -> {d}"
        d_prev = d
    # training must improve materially over the seed codebook overall
    assert d_prev < 0.80 * pq_distortion(e, pq_codebook(e))
