"""Wave 29: quality-aware dedup representative, classifier eval."""

from etl_poor_main_pipeline_spark.registry_ext28 import (
    q_classifier_eval_metrics,
    q_dedup_keep_best,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_keep_best_partitions_corpus_and_beats_min_id(spark):
    rows = q_dedup_keep_best(spark, SF).collect()
    n_docs = load_table(spark, SF, "documents").count()
    # clusters partition the corpus: sizes sum to N, one kept doc each
    assert sum(r.cluster_size for r in rows) == n_docs
    kept = [r.kept_doc_id for r in rows]
    assert len(kept) == len(set(kept))
    # the election is genuinely quality-aware: at least one multi-doc
    # cluster keeps a doc that is NOT its smallest id (else this op
    # would be indistinguishable from min-id collapse on the fixture)
    from etl_poor_main_pipeline_spark.registry_ext2 import q_dedup_collapse

    min_id = {r.canonical_doc_id for r in q_dedup_collapse(spark, SF).collect()}
    assert any(k not in min_id for k in kept)


def test_eval_metrics_identities(spark):
    rows = q_classifier_eval_metrics(spark, SF).collect()
    assert rows
    d = load_table(spark, SF, "documents")
    n_docs = d.count()
    # every labeled doc is exactly one (tp or fn) of its true class
    assert sum(r.tp + r.fn for r in rows) == n_docs
    for r in rows:
        assert 0 <= r.precision_micro <= 1_000_000
        assert 0 <= r.recall_micro <= 1_000_000
        # F1 is bounded by both components (harmonic mean property)
        assert r.f1_micro <= max(r.precision_micro, r.recall_micro) + 1
    # the heuristic beats uniform chance on the fixture (it does NOT beat
    # the majority class at sf0.001 — which is exactly what this eval op
    # exists to reveal before a classifier gates data)
    acc = sum(r.tp for r in rows) / n_docs
    n_classes = d.select("lang").distinct().count()
    assert acc > 1.0 / n_classes
