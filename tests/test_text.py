from etl_poor_main_pipeline_spark.functions.text import (
    fingerprint_md5,
    lang_id_expr,
    quality_score_expr,
    shingles_expr,
    token_count_regex,
    token_count_ws,
    tokens_expr,
)
from etl_poor_main_pipeline_spark.operators.text import tf_idf


def one(spark, text, expr):
    df = spark.createDataFrame([(text,)], "text: string")
    return df.select(expr.alias("v")).head().v


def test_tokens_lowercase_and_empty_filtered(spark):
    assert one(spark, "Hello   WORLD  x", tokens_expr("text")) == ["hello", "world", "x"]


def test_token_counts(spark):
    assert one(spark, "a b  c", token_count_ws("text")) == 3
    # BPE-ish: letters, digit runs, symbols split separately -> ab|12|cd|!
    assert one(spark, "ab12 cd!", token_count_regex("text")) == 4


def test_lang_id_english_sentence(spark):
    assert one(spark, "the cat and the dog in the house", lang_id_expr("text")) == "en"


def test_lang_id_spanish_sentence(spark):
    assert one(spark, "el perro y la casa de los gatos", lang_id_expr("text")) == "es"


def test_lang_id_no_markers_unknown(spark):
    assert one(spark, "zzz qqq xxx", lang_id_expr("text")) == "unknown"


def test_quality_score_in_unit_interval(spark):
    for t in ["", "short", "the and of to in is that with " * 5, "!!!...???;;;"]:
        v = one(spark, t, quality_score_expr("text"))
        assert 0.0 <= v <= 1.0, (t, v)


def test_fingerprint_normalizes(spark):
    a = one(spark, "  Hello   World ", fingerprint_md5("text"))
    b = one(spark, "hello world", fingerprint_md5("text"))
    c = one(spark, "hello worlds", fingerprint_md5("text"))
    assert a == b and a != c


def test_shingles_short_doc_single_shingle(spark):
    assert one(spark, "a b", shingles_expr("text", k=3)) == ["a b"]


def test_shingles_k3(spark):
    out = one(spark, "a b c d", shingles_expr("text", k=3))
    assert out == ["a b c", "b c d"]


def test_tfidf_rare_term_outweighs_common(spark):
    df = spark.createDataFrame(
        [(0, "apple banana"), (1, "apple cherry"), (2, "apple durian")],
        ["doc_id", "text"],
    )
    rows = tf_idf(df).collect()
    by_term = {(r.doc_id, r.term): r.tfidf for r in rows}
    assert by_term[(0, "apple")] == 0.0  # in every doc -> idf 0
    assert by_term[(0, "banana")] > 0


def test_curation_signals_plan_posture(spark):
    """The unigram-logprob frequency dim joins by broadcast."""
    from etl_poor_main_pipeline_spark.plans.explain import explain_str
    from etl_poor_main_pipeline_spark.registry_ext10 import q_text_unigram_logprob

    sf = "/root/testdata/sf0.001"
    plan = explain_str(q_text_unigram_logprob(spark, sf))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_gopher_rules_keep_is_conjunction(spark):
    from etl_poor_main_pipeline_spark.registry_ext10 import q_text_gopher_rules

    rows = q_text_gopher_rules(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.keep == (r.ok_tokens and r.ok_word_len and r.ok_stopwords and r.ok_repetition)
