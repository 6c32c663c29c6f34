"""Wave 99: C4 filters, duplicate-sentence fraction, scene cuts, randomized
response."""

from etl_poor_main_pipeline_spark.registry_ext98 import (
    _RR_P,
    _SC_CUT_MILLI,
    _SC_FRAME,
    q_c4_quality_filters,
    q_dup_ngram_fraction,
    q_randomized_response_debias,
    q_scene_cut_detect,
)

SF = "/root/testdata/sf0.001"


def test_c4_flags_conjunction(spark):
    rows = q_c4_quality_filters(spark, SF).collect()
    assert len(rows) == 500
    for r in rows:
        assert r.keep == (
            r.ends_punct
            and r.enough_sentences
            and r.no_brace
            and r.no_lorem
            and r.wordcount_ok
        )
    # corpus truth: no sentence punctuation exists, so the punctuation
    # rules reject everything while the content rules pass almost all —
    # the flags stay faithful to C4 instead of being bent to pass
    assert not any(r.ends_punct for r in rows)
    assert not any(r.enough_sentences for r in rows)
    assert all(r.no_brace and r.no_lorem for r in rows)
    assert sum(1 for r in rows if r.wordcount_ok) > 400


def test_dup_ngram_fraction_bounds(spark):
    rows = q_dup_ngram_fraction(spark, SF).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0 <= r.docs_with_dups <= r.n_docs
        assert 0 <= r.mean_dup_milli <= 1000
    # the template corpus repeats sentences: the metric must light up
    assert any(r.docs_with_dups > 0 for r in rows)


def test_scene_cut_frames_and_flags(spark):
    rows = q_scene_cut_detect(spark, SF).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    for media, frs in by_media.items():
        idxs = [f.frame_idx for f in frs]
        assert idxs == list(range(len(idxs)))  # contiguous frames from 0
        assert frs[0].delta_milli == -1 and frs[0].is_cut is False
        for f in frs:
            # printable-ASCII payload: mean codepoint within [32, 127)
            assert 32_000 <= f.luma_milli < 127_000
            if f.delta_milli >= 0:
                assert f.is_cut == (f.delta_milli >= _SC_CUT_MILLI)
    # frame shape sanity: no frame longer than _SC_FRAME chars could exist
    assert all(len(v) <= 4096 // _SC_FRAME + 2 for v in by_media.values())


def test_randomized_response_recovers_truth(spark):
    rows = q_randomized_response_debias(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r.yes <= r.n
        # debiased estimate within sampling noise of the true rate:
        # se ~ sqrt(p(1-p)/n)/p; allow 5 sigma with the 0.75 design
        import math

        se = math.sqrt(0.25 / r.n) / _RR_P
        assert abs(r.pi_hat_micro - r.pi_true_micro) <= 5 * se * 1e6 + 1
