"""Wave 102: greedy max-coverage, rank-biased overlap, McNemar, phonetic
blocking."""

from etl_poor_main_pipeline_spark.registry_ext101 import (
    _COV_K,
    _RBO_D,
    _soundex_expr,
    q_greedy_max_coverage,
    q_mcnemar_paired_test,
    q_phonetic_block_keys,
    q_rank_biased_overlap,
)

SF = "/root/testdata/sf0.001"


def test_greedy_coverage_monotone_diminishing(spark):
    rows = q_greedy_max_coverage(spark, SF).collect()
    assert [r.step for r in rows] == list(range(1, _COV_K + 1))
    assert len({r.source for r in rows}) == _COV_K  # never re-picks
    gains = [r.gain for r in rows]
    # submodularity: greedy marginal gains are non-increasing
    assert all(a >= b for a, b in zip(gains, gains[1:]))
    # running total is the covered-vocabulary size
    covered = 0
    for r in rows:
        covered += r.gain
        assert r.covered_total == covered


def test_rbo_bounds_and_self_consistency(spark):
    row = q_rank_biased_overlap(spark, SF).collect()[0]
    assert 0 <= row.n_both <= _RBO_D
    assert row.overlap_at_d == row.n_both  # every joined item has m <= d
    # RBO_min is a partial sum of (1-p)p^(k-1) weights: within [0, 1]
    assert 0 <= row.rbo_micro <= 1_000_000
    # both rankings favor long docs, so the top-50s overlap substantially
    assert row.n_both >= _RBO_D // 4


def test_mcnemar_counters_and_statistic(spark):
    row = q_mcnemar_paired_test(spark, SF).collect()[0]
    assert row.n == 1000
    # A (>=250) and B (>=200) disagree only on values in [200, 250);
    # on those rows exactly one of them matches y, so every such row is
    # discordant: b + c > 0 on this data
    assert row.b + row.c > 0
    assert row.acc_a + row.b <= row.n + row.acc_b  # acc_b >= acc_a - b
    expect = int(
        1e6 * (abs(row.b - row.c) - 1.0) ** 2 / (row.b + row.c) + 0.5
    )
    assert abs(row.chi2_micro - expect) <= 1


def test_phonetic_blocks_collide_variants(spark):
    rows = q_phonetic_block_keys(spark, SF).collect()
    assert rows, "expected at least one phonetic collision block"
    by_key = {r.pkey: r for r in rows}
    # the nation_<i> family folds to one letters-only name 'nation' and
    # NEVER forms a block alone; rod/red collide under R300
    assert "R300" in by_key
    assert by_key["R300"].n_names >= 2
    for r in rows:
        assert r.cand_pairs == r.n_names * (r.n_names - 1) // 2
        assert len(r.pkey) == 4


def test_soundex_expr_engine_flag_only_differs():
    a = _soundex_expr("x")
    b = _soundex_expr("x", duck=True)
    assert a == b.replace(", 'g'", "")
