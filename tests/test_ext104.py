"""Wave 105: SIR resampling, Mann-Kendall, Cochran's Q, two-way ANOVA."""

from etl_poor_main_pipeline_spark.registry_ext104 import (
    _SIR_TARGET,
    q_anova_two_way,
    q_cochran_q_test,
    q_mann_kendall_trend,
    q_sir_importance_resample,
)

SF = "/root/testdata/sf0.001"


def test_sir_target_keeps_most(spark):
    rows = q_sir_importance_resample(spark, SF).collect()
    assert len(rows) == 20
    by_src = {r.source: r for r in rows}
    tgt = by_src[_SIR_TARGET]
    # the target domain scores itself highest on average and keeps the
    # largest fraction of its documents
    assert tgt.mean_score_micro == max(r.mean_score_micro for r in rows)
    assert tgt.accept_bp == max(r.accept_bp for r in rows)
    for r in rows:
        assert 0 <= r.n_kept <= r.n_docs
        assert 0 <= r.accept_bp <= 10_000


def test_mann_kendall_s_bounds_and_z_sign(spark):
    rows = q_mann_kendall_trend(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        max_pairs = r.n_days * (r.n_days - 1) // 2
        assert -max_pairs <= r.s <= max_pairs
        assert r.var18 >= 0
        # continuity-corrected z keeps the sign of S (|S| > 1) or is 0
        if r.s > 1:
            assert r.z_micro > 0
        elif r.s < -1:
            assert r.z_micro < 0


def test_cochran_q_nonnegative_and_decision(spark):
    row = q_cochran_q_test(spark, SF).collect()[0]
    assert row.n_items > 0
    for c in ("c1", "c2", "c3"):
        assert 0 < getattr(row, c) < row.n_items  # raters all split the corpus
    assert row.q_micro >= 0
    assert row.reject_equal_rates_05 == (row.q_micro > 5_991_465)


def test_anova_two_way_decomposition(spark):
    rows = {r.effect: r for r in q_anova_two_way(spark, SF).collect()}
    assert set(rows) == {"lang", "source", "interaction"}
    assert rows["lang"].df == 4
    assert rows["source"].df == 19
    for r in rows.values():
        # interaction SS is a remainder and may dip slightly below zero
        # from per-term flooring; main effects are true sums of squares
        if r.effect != "interaction":
            assert r.ss_micro >= 0
        if r.f_micro is not None and r.ss_micro > 0:
            assert r.f_micro >= 0
