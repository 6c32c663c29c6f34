"""Wave 129: training-data-pipeline planners pinned against direct
Python implementations (truncation loss/drift audits, Raffel et al.
2020 §3.1.4 span-corruption arithmetic, contrastive hard negatives)."""

import math
from collections import Counter, defaultdict

import numpy as np

from etl_poor_main_pipeline_spark.registry_ext129 import (
    _DRIFT_L,
    _HN_K,
    _SPAN_MEAN,
    _SPAN_RATE_PCT,
    _TRUNC_CUTS,
    q_hard_negative_mining_topk,
    q_span_corruption_plan,
    q_truncation_content_drift,
    q_truncation_loss_curve,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    from etl_poor_main_pipeline_spark.registry import _t

    return _t(spark, SF, "documents").select("source", "text").collect()


def test_truncation_loss_curve_matches(spark):
    docs = _docs(spark)
    ns = [len(r.text.split()) for r in docs]
    out = {r.cut: r for r in q_truncation_loss_curve(spark, SF).collect()}
    assert sorted(out) == sorted(_TRUNC_CUTS)
    tot = sum(ns)
    prev_lost = None
    for cut in _TRUNC_CUTS:
        r = out[cut]
        assert r.n_docs == len(ns)
        assert r.docs_over == sum(1 for n in ns if n > cut)
        lost = sum(max(n - cut, 0) for n in ns)
        assert r.tokens_lost == lost
        assert r.lost_share_micro == math.floor(1e6 * lost / tot + 0.5)
        # monotone: a larger cut never loses more tokens
        if prev_lost is not None:
            assert lost <= prev_lost
        prev_lost = lost


def test_truncation_drift_matches(spark):
    docs = _docs(spark)
    cp = defaultdict(Counter)
    cq = defaultdict(Counter)
    for r in docs:
        toks = r.text.split()
        cp[r.source].update(toks)
        cq[r.source].update(toks[:_DRIFT_L])
    out = {r.source: r for r in q_truncation_content_drift(spark, SF).collect()}
    assert sorted(out) == sorted(cp)
    for src in cp:
        np_, nq = sum(cp[src].values()), sum(cq[src].values())
        num = sum(
            abs(cp[src][t] * nq - cq[src][t] * np_) for t in cp[src]
        )
        r = out[src]
        assert r.n_full == np_ and r.n_trunc == nq
        assert r.tv_micro == math.floor(1e6 * num / (2.0 * np_ * nq) + 0.5)
        assert 0 <= r.tv_micro <= 1_000_000


def test_span_corruption_matches_t5_arithmetic(spark):
    docs = _docs(spark)
    agg = defaultdict(lambda: [0, 0, 0, 0, 0, 0])
    for r in docs:
        n = len(r.text.split())
        m = (n * _SPAN_RATE_PCT + 50) // 100
        sp = 0 if m == 0 else max(1, (2 * m + _SPAN_MEAN) // (2 * _SPAN_MEAN))
        a = agg[r.source]
        a[0] += 1
        a[1] += n
        a[2] += m
        a[3] += sp
        a[4] += n - m + sp
        a[5] += m + sp + 1
    out = {r.source: r for r in q_span_corruption_plan(spark, SF).collect()}
    assert sorted(out) == sorted(agg)
    for src, a in agg.items():
        r = out[src]
        assert (r.n_docs, r.tokens, r.masked, r.spans) == tuple(a[:4])
        assert (r.input_len, r.target_len) == (a[4], a[5])
        assert r.target_ratio_micro == math.floor(1e6 * a[5] / a[1] + 0.5)
        # T5 15% rate: masked ~ 15% of tokens (integer rounding per doc)
        assert abs(r.masked / r.tokens - 0.15) < 0.01


def test_hard_negatives_match_numpy(spark):
    from etl_poor_main_pipeline_spark.registry import _t

    rows = (
        _t(spark, SF, "embeddings")
        .select("vec_id", "label", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r.vec_id)
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    labels = np.array([r.label for r in rows])
    ids = np.array([r.vec_id for r in rows])
    out = q_hard_negative_mining_topk(spark, SF).collect()
    assert len(out) == _HN_K
    assert [r.anchor_id for r in out] == list(ids[:_HN_K])
    for i, r in enumerate(out):
        assert r.anchor_label == labels[i]
        assert r.neg_label != r.anchor_label
        cos = np.round(V @ V[i], 6)
        mask = labels != labels[i]
        best = cos[mask].max()
        # the returned negative achieves the best mismatched-label
        # cosine (ties broken on smallest neg_id)
        assert abs(r.cosine - best) <= 2e-6
        j = int(np.where(ids == r.neg_id)[0][0])
        assert abs(cos[j] - r.cosine) <= 2e-6
