"""Wave 100: CCNet perplexity buckets, SPRT monitor, ACF lags, token runs."""

from etl_poor_main_pipeline_spark.registry_ext99 import (
    _ACF_LAGS,
    _SPRT_LOWER,
    _SPRT_UPPER,
    q_acf_lags,
    q_ccnet_perplexity_buckets,
    q_sprt_sequential_test,
    q_token_run_length_audit,
)

SF = "/root/testdata/sf0.001"


def test_ccnet_buckets_partition_each_lang(spark):
    rows = q_ccnet_perplexity_buckets(spark, SF).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    assert len(by_lang) == 5
    for lang, grp in by_lang.items():
        assert sorted(r.bucket for r in grp) == [0, 1, 2]
        # tertiles differ by at most one doc
        sizes = [r.n_docs for r in sorted(grp, key=lambda r: r.bucket)]
        assert max(sizes) - min(sizes) <= 1
        # head bucket scores >= tail bucket scores; keep = head+middle
        srt = sorted(grp, key=lambda r: r.bucket)
        assert srt[0].worst_lp_micro >= srt[2].best_lp_micro
        assert [r.keep for r in srt] == [True, True, False]


def test_sprt_llr_cumulative_and_decisions(spark):
    rows = q_sprt_sequential_test(spark, SF).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    assert len(by_type) == 5
    for t, seq in by_type.items():
        days = [r.day for r in seq]
        assert days == sorted(days)
        # cumulative LLR recomputes from the daily counts via the literals
        from etl_poor_main_pipeline_spark.registry_ext99 import _SPRT_C1, _SPRT_C2

        cum = 0
        for r in seq:
            cum += r.k * _SPRT_C1 + (r.n - r.k) * _SPRT_C2
            assert r.cum_llr_micro == cum
            expect = (
                "accept_h1"
                if cum >= _SPRT_UPPER
                else "accept_h0"
                if cum <= _SPRT_LOWER
                else "continue"
            )
            assert r.decision == expect


def test_acf_rows_and_range(spark):
    rows = q_acf_lags(spark, SF).collect()
    assert len(rows) == 5 * len(_ACF_LAGS)
    for r in rows:
        assert r.lag in _ACF_LAGS
        assert -1_000_001 <= r.r_micro <= 1_000_001
        assert r.n >= 1


def test_token_runs_bounds(spark):
    rows = q_token_run_length_audit(spark, SF).collect()
    assert len(rows) == 20
    for r in rows:
        assert 1 <= r.longest_run
        assert 0 <= r.docs_flagged <= r.n_docs
    # 31-word vocabulary over ~100-word docs: some immediate repeats exist
    assert any(r.longest_run >= 2 for r in rows)
