"""Wave 42: language confusion matrix, surrogate keys, CSV quoting."""

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext41 import (
    q_csv_quoting_round_trip,
    q_lang_confusion_matrix,
    q_surrogate_key_assignment,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_confusion_matrix_rows_sum_to_corpus(spark):
    rows = q_lang_confusion_matrix(spark, SF).collect()
    n_docs = load_table(spark, SF, "documents").count()
    assert sum(r.n for r in rows) == n_docs
    by_true: dict[str, int] = {}
    for r in rows:
        by_true[r.true_lang] = by_true.get(r.true_lang, 0) + r.cell_ppm
    for lang, total_ppm in by_true.items():
        assert abs(total_ppm - 1_000_000) <= 10, lang  # floor slack per cell


def test_surrogate_keys_dense_and_ordered(spark):
    rows = q_surrogate_key_assignment(spark, SF).collect()
    keys = [r.surrogate_key for r in rows]
    assert keys == list(range(1, len(rows) + 1))  # dense 1..N
    pairs = [(r.lang, r.source) for r in rows]
    assert pairs == sorted(pairs)  # key order == (lang, source) order
    assert len(set(pairs)) == len(pairs)


def test_csv_round_trip_intact(spark):
    rows = q_csv_quoting_round_trip(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_intact == r.n_docs  # every quoted field survived


def test_wave42_plans_are_scale_safe(spark):
    for fn in (
        q_lang_confusion_matrix,
        q_surrogate_key_assignment,
        q_csv_quoting_round_trip,
    ):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
