"""Wave 107: average precision, k-fold ridge CV, consistent-hash ring,
capture-recapture."""

from etl_poor_main_pipeline_spark.registry_ext106 import (
    _CV_K,
    _RING_NODES,
    _ring_table,
    q_capture_recapture_chapman,
    q_consistent_hash_ring,
    q_kfold_cv_ridge_1d,
    q_pr_auc_average_precision,
)

SF = "/root/testdata/sf0.001"


def test_average_precision_bounds(spark):
    row = q_pr_auc_average_precision(spark, SF).collect()[0]
    assert row.n == 1000
    assert 0 < row.n_pos < row.n
    base_rate = row.n_pos * 1_000_000 // row.n
    # AP of any ranking sits in [~base_rate-ish, 1]; a score-independent
    # label keeps it near base rate, never above 1
    assert 0 < row.ap_micro <= 1_000_000
    assert row.ap_micro >= base_rate // 2


def test_kfold_cv_slope_positive_and_folds_partition(spark):
    rows = q_kfold_cv_ridge_1d(spark, SF).collect()
    assert [r.fold for r in rows] == list(range(_CV_K))
    import duckdb

    nd = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF}/documents.parquet')"
    ).fetchone()[0]
    assert sum(r.n_test for r in rows) == nd
    for r in rows:
        # chars per token ~5.5: slope in a sane positive band
        assert 100_000 <= r.b_micro <= 400_000
        assert r.mse_1e4 >= 0


def test_ring_rebalance_moves_about_one_ninth(spark):
    rows = q_consistent_hash_ring(spark, SF).collect()
    assert len(rows) == _RING_NODES + 1
    total = sum(r.keys_after for r in rows)
    moved = sum(r.moved_in for r in rows)
    assert sum(r.keys_before for r in rows) == total
    by_node = {r.node: r for r in rows}
    # keys move ONLY into the new node in a consistent ring
    assert by_node["node8"].keys_before == 0
    assert by_node["node8"].moved_in == by_node["node8"].keys_after == moved
    # ~1/9 of keys move (generous band for hash variance)
    assert total // 30 <= moved <= total // 3


def test_ring_table_deterministic_and_unique():
    r8 = _ring_table(_RING_NODES)
    assert len(r8) == _RING_NODES * 32
    assert r8 == sorted(r8)
    assert _ring_table(_RING_NODES) == r8  # stable across calls


def test_chapman_estimate_brackets_truth(spark):
    row = q_capture_recapture_chapman(spark, SF).collect()[0]
    assert row.m > 0
    assert row.na <= row.n_true and row.nb <= row.n_true
    assert row.n_hat >= max(row.na, row.nb)
    # with near-complete captures the estimate lands close to truth
    assert abs(row.n_hat - row.n_true) <= max(3, row.n_true // 5)
