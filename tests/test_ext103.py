"""Wave 104: successive halving, Cramér's V pairs, Calinski-Harabasz,
token burstiness."""

from etl_poor_main_pipeline_spark.registry_ext103 import (
    _SH_ROUNDS,
    _VMR_MIN_DF,
    _VMR_TOP,
    q_calinski_harabasz_index,
    q_cramers_v_pairs,
    q_successive_halving_bandit,
    q_token_burstiness_vmr,
)

SF = "/root/testdata/sf0.001"


def test_successive_halving_survivor_chain(spark):
    rows = q_successive_halving_bandit(spark, SF).collect()
    by_round = {}
    for r in rows:
        by_round.setdefault(r.round, []).append(r)
    assert sorted(by_round) == [1, 2, 3]
    for rnd, budget, keep in _SH_ROUNDS:
        grp = by_round[rnd]
        assert len(grp) == keep
        assert all(r.budget == budget for r in grp)
        assert [r.rank_in_round for r in sorted(grp, key=lambda r: r.rank_in_round)] == list(
            range(1, keep + 1)
        )
        # n_used never exceeds the round budget
        assert all(1 <= r.n_used <= budget for r in grp)
    # survivors of round r are a subset of round r-1's arms
    s1 = {r.source for r in by_round[1]}
    s2 = {r.source for r in by_round[2]}
    s3 = {r.source for r in by_round[3]}
    assert s2 <= s1 and s3 <= s2


def test_cramers_v_three_pairs_bounded(spark):
    rows = q_cramers_v_pairs(spark, SF).collect()
    assert [r.pair for r in rows] == ["lang_len", "lang_source", "source_len"]
    for r in rows:
        assert r.chi2_micro >= -1  # floor slack around 0 for independence
        assert 0 <= r.v_micro <= 1_000_000 + 1
        assert r.r > 1 and r.c > 1


def test_calinski_harabasz_positive_scatter_split(spark):
    row = q_calinski_harabasz_index(spark, SF).collect()[0]
    assert row.k == 10
    assert row.n > row.k
    assert row.b_micro >= 0
    assert row.w_micro > 0
    assert row.ch_micro is not None and row.ch_micro >= 0


def test_token_burstiness_topk(spark):
    rows = q_token_burstiness_vmr(spark, SF).collect()
    assert 0 < len(rows) <= _VMR_TOP
    vmrs = [r.vmr_micro for r in rows]
    assert vmrs == sorted(vmrs, reverse=True)
    for r in rows:
        assert r.df >= _VMR_MIN_DF
        assert r.tot >= r.df
        # every token in a template corpus repeats within docs: VMR > 0
        assert r.vmr_micro > 0
