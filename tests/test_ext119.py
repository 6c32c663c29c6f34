"""Wave 119: Gunning fog, ARI, Yule's K, first-passage conversion."""

from etl_poor_main_pipeline_spark.registry_ext119 import (
    q_ari_readability,
    q_first_passage_purchase,
    q_gunning_fog_index,
    q_yule_k_concentration,
)

SF = "/root/testdata/sf0.001"


def test_fog_positive_and_bounded(spark):
    rows = q_gunning_fog_index(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_docs > 0 and r.n_words > 0
        assert 0 <= r.n_complex <= r.n_words
        # fog = 0.4*(w/s + 100*cx/w): w/s >= 1 (every doc has >= 1
        # sentence bucket), cx/w <= 1 -> fog in (0, 0.4*(w/s + 100)]
        assert r.fog_milli > 0


def test_ari_monotone_in_chars(spark):
    rows = q_ari_readability(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_chars_an > 0 and r.n_words > 0
        # alnum chars outnumber words in any real prose
        assert r.n_chars_an > r.n_words


def test_yule_k_nonneg(spark):
    rows = q_yule_k_concentration(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 < r.n_types <= r.n_tokens
        # K = 1e4*(S2 - N)/N^2 >= 0 since S2 = sum c^2 >= sum c = N
        assert r.k_milli >= 0


def test_first_passage_cohorts(spark):
    rows = q_first_passage_purchase(spark, SF).collect()
    assert [r.cohort for r in rows] == [0, 1]
    for r in rows:
        assert r.n_users > 0
        assert 0 <= r.n_converted <= r.n_users
        assert 0 <= r.conv_rate_micro <= 1_000_000
        assert r.mean_days_micro >= 0
