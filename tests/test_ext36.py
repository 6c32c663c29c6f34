"""Wave 37: LSH recall audit, JL projection, quota sampling, novelty."""

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext36 import (
    _QUOTA_N,
    q_jl_random_projection,
    q_lsh_recall_audit,
    q_ngram_novelty_rate,
    q_quota_sample_per_stratum,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_lsh_recall_high_on_template_corpus(spark):
    r = q_lsh_recall_audit(spark, SF).collect()[0]
    assert r.n_true > 0
    assert 0 <= r.n_hits <= min(r.n_true, r.n_candidates)
    # b=10,r=6 S-curve: P(candidate) ~ 0.95 at s=0.8 — recall must be high
    assert r.recall_ppm >= 900_000, r


def test_jl_ratio_concentrates_near_one(spark):
    rows = q_jl_random_projection(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.min_ratio_micro <= r.avg_ratio_micro <= r.max_ratio_micro
        # E[ratio] = 1; with 8 output dims the per-label mean stays loose
        # but must be the right order of magnitude
        assert 100_000 <= r.avg_ratio_micro <= 10_000_000, r


def test_quota_sample_exact_n_per_stratum(spark):
    rows = q_quota_sample_per_stratum(spark, SF).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.rank_in_stratum)
    langs = {
        r.lang for r in load_table(spark, SF, "documents").select("lang").distinct().collect()
    }
    assert set(by_lang) == langs
    for lang, ranks in by_lang.items():
        assert sorted(ranks) == list(range(1, _QUOTA_N + 1)), lang


def test_novelty_monotone_start_and_bounds(spark):
    rows = q_ngram_novelty_rate(spark, SF).orderBy("doc_id").collect()
    assert rows
    assert rows[0].novelty_ppm == 1_000_000  # first doc is all-novel
    for r in rows:
        assert 0 <= r.n_novel <= r.n_grams
    # template corpus: later docs must show repetition
    assert any(r.novelty_ppm < 1_000_000 for r in rows[1:])


def test_wave37_plans_are_scale_safe(spark):
    for fn in (
        q_lsh_recall_audit,
        q_jl_random_projection,
        q_quota_sample_per_stratum,
        q_ngram_novelty_rate,
    ):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
