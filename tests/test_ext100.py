"""Wave 101: Naive Bayes lang ID, AMS F2 sketch, Brier decomposition,
Fleiss' kappa."""

from etl_poor_main_pipeline_spark.registry_ext100 import (
    _AMS_B,
    q_ams_f2_sketch,
    q_brier_decomposition,
    q_fleiss_kappa_agreement,
    q_naive_bayes_lang_id,
)

SF = "/root/testdata/sf0.001"


def test_naive_bayes_confusion_shape_and_mass(spark):
    rows = q_naive_bayes_lang_id(spark, SF).collect()
    langs = {r.lang for r in rows}
    preds = {r.pred for r in rows}
    assert len(langs) == 5
    assert preds <= langs
    # every document is classified exactly once
    import duckdb

    nd = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF}/documents.parquet')"
    ).fetchone()[0]
    assert sum(r.n_docs for r in rows) == nd
    for r in rows:
        assert r.correct == (r.lang == r.pred)


def test_ams_f2_estimate_in_range(spark):
    row = q_ams_f2_sketch(spark, SF).collect()[0]
    assert row.exact_f2 > 0
    assert row.mom_f2 > 0
    # tug-of-war with median-of-means over 12 estimators: within 2x of
    # exact on this data (E[Z^2]=F2; the bound here is a determinism
    # canary, not a probabilistic claim)
    assert row.mom_f2 < 4 * row.exact_f2
    assert row.rel_err_micro >= 0


def test_brier_murphy_identity(spark):
    row = q_brier_decomposition(spark, SF).collect()[0]
    assert row.n > 0
    for c in ("brier_micro", "reliability_micro", "resolution_micro", "uncertainty_micro"):
        assert getattr(row, c) >= 0
    assert row.uncertainty_micro <= 250_000  # y_bar(1-y_bar) <= 1/4
    # brier = rel - res + unc + within-bin p-variance (>= 0), so the
    # recombination never exceeds the raw score (small floor slack)
    recomb = row.reliability_micro - row.resolution_micro + row.uncertainty_micro
    assert recomb <= row.brier_micro + 25
    assert row.resolution_micro <= row.uncertainty_micro + 25


def test_fleiss_kappa_bounds(spark):
    row = q_fleiss_kappa_agreement(spark, SF).collect()[0]
    assert row.n_items > 0
    assert 0 < row.p_keep_micro < 1_000_000
    assert 0 <= row.p_bar_micro <= 1_000_000
    assert 500_000 <= row.p_e_micro <= 1_000_000  # p^2+(1-p)^2 in [1/2, 1]
    assert -1_000_001 <= row.kappa_micro <= 1_000_001
    # the diversity rater anti-correlates with the two length raters on
    # this vocabulary (longer salad = lower distinct ratio), so observed
    # agreement sits below chance: kappa's sign must track p_bar - p_e
    assert (row.kappa_micro < 0) == (row.p_bar_micro < row.p_e_micro)


def test_ams_estimator_count_is_median_of_means_shape():
    assert _AMS_B == 12  # 3 groups of 4: median of 3 = middle order stat
