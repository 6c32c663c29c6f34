"""Wave 137: training-data planners pinned against direct Python
implementations (Ethayarajh 2019 anisotropy identity; Muennighoff et
al. 2023 repeat-cap allocation; gate-agreement kappa; concat-and-chunk
boundary arithmetic; curriculum weight algebra)."""

import math
import re
from collections import Counter, defaultdict

import numpy as np

from etl_poor_main_pipeline_spark.registry_ext137 import (
    _CHUNK_L,
    _EPOCH_BUDGET_X,
    _EPOCH_CAP_MILLI,
    _EPOCH_TAU,
    _PHASES,
    q_anisotropy_audit,
    q_chunk_boundary_split_audit,
    q_curriculum_pacing_plan,
    q_data_constrained_epochs,
    q_quality_gate_agreement,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    from etl_poor_main_pipeline_spark.registry import _t

    return (
        _t(spark, SF, "documents")
        .select("doc_id", "source", "text")
        .collect()
    )


def test_anisotropy_matches_pairwise_mean(spark):
    from etl_poor_main_pipeline_spark.registry import _t

    rows = (
        _t(spark, SF, "embeddings")
        .select("vec_id", "label", "embedding")
        .collect()
    )
    by_label = defaultdict(list)
    for r in rows:
        v = np.array(r.embedding, dtype=np.float64)
        c = np.floor(1e6 * v / math.sqrt(float((v * v).sum())) + 0.5)
        by_label[r.label].append(c)
    out = {r.label: r for r in q_anisotropy_audit(spark, SF).collect()}
    assert sorted(out) == sorted(by_label)
    for lbl, vecs in by_label.items():
        V = np.stack(vecs)
        n = len(V)
        # brute-force pairwise mean of snapped-normalized dot products
        G = V @ V.T
        mean_cos = (G.sum() - np.trace(G)) / (n * (n - 1) * 1e12)
        r = out[lbl]
        assert r.n_vecs == n
        assert abs(r.mean_cos_micro - math.floor(1e6 * mean_cos + 0.5)) <= 1
        assert -1_000_000 <= r.mean_cos_micro <= 1_000_000


def test_epoch_allocation_matches_reference(spark):
    docs = _docs(spark)
    t = Counter()
    for r in docs:
        t[r.source] += len(r.text.split())
    tt = sum(t.values())
    tw = {s: math.floor(1e6 * v**_EPOCH_TAU + 0.5) for s, v in t.items()}
    stw = sum(tw.values())
    w = {s: math.floor(1e6 * tw[s] / stw + 0.5) for s in t}
    alloc0 = {
        s: math.floor(_EPOCH_BUDGET_X * tt * w[s] / 1e6 + 0.5) for s in t
    }
    cap = {s: t[s] * _EPOCH_CAP_MILLI // 1000 for s in t}
    alloc1 = {s: min(alloc0[s], cap[s]) for s in t}
    capped = {s: alloc0[s] > cap[s] for s in t}
    surplus = sum(alloc0[s] - alloc1[s] for s in t)
    mass = sum(alloc1[s] for s in t if not capped[s])
    final = {
        s: alloc1[s]
        if capped[s]
        else min(cap[s], alloc1[s] + math.floor(surplus * alloc1[s] / mass + 0.5))
        for s in t
    }
    out = {r.source: r for r in q_data_constrained_epochs(spark, SF).collect()}
    assert sorted(out) == sorted(t)
    for s in t:
        r = out[s]
        assert r.tokens == t[s]
        assert r.w_micro == w[s]
        assert r.alloc0 == alloc0[s]
        assert r.alloc_final == final[s]
        assert r.epochs_milli == math.floor(1e3 * final[s] / t[s] + 0.5)
        assert r.capped == capped[s]
        # the repeat cap holds after redistribution
        assert r.epochs_milli <= _EPOCH_CAP_MILLI + 1


def test_gate_agreement_matches_reference(spark):
    docs = _docs(spark)
    bk = oa = ob = nn = 0
    for r in docs:
        toks = r.text.split()
        wcount = len(toks)
        chars = sum(len(x) for x in toks)
        ga = int(
            50 <= wcount <= 10000
            and wcount * 30 <= chars * 10 <= wcount * 100
        )
        gb = int(
            wcount >= 5
            and re.search(r"[.!?]\s*$", r.text) is not None
            and "{" not in r.text
        )
        if ga and gb:
            bk += 1
        elif ga:
            oa += 1
        elif gb:
            ob += 1
        else:
            nn += 1
    n = len(docs)
    pa = (bk + nn) / n
    pe = ((bk + oa) / n) * ((bk + ob) / n) + ((ob + nn) / n) * ((oa + nn) / n)
    kappa = (pa - pe) / (1 - pe)
    out = q_quality_gate_agreement(spark, SF).collect()[0]
    assert (out.n_docs, out.both_keep, out.only_a, out.only_b, out.neither) == (
        n,
        bk,
        oa,
        ob,
        nn,
    )
    assert out.agree_milli == math.floor(1e3 * pa + 0.5)
    assert abs(out.kappa_milli - math.floor(1e3 * kappa + 0.5)) <= 1


def test_chunk_split_audit_matches_reference(spark):
    docs = sorted(_docs(spark), key=lambda r: (r.source, r.doc_id))
    per = defaultdict(lambda: [0, 0, 0, 0])  # docs, tokens, splits, offset
    for r in docs:
        n = len(r.text.split())
        p = per[r.source]
        start = p[3]
        if start // _CHUNK_L < (start + n - 1) // _CHUNK_L:
            p[2] += 1
        p[0] += 1
        p[1] += n
        p[3] += n
    out = {
        r.source: r
        for r in q_chunk_boundary_split_audit(spark, SF).collect()
    }
    assert sorted(out) == sorted(per)
    for s, (nd, toks, splits, _) in per.items():
        r = out[s]
        assert r.n_docs == nd and r.tokens == toks
        assert r.n_chunks == (toks + _CHUNK_L - 1) // _CHUNK_L
        assert r.split_docs == splits
        assert r.split_rate_milli == math.floor(1e3 * splits / nd + 0.5)


def test_curriculum_plan_matches_reference(spark):
    docs = _docs(spark)
    cells = Counter()
    for r in docs:
        cells[len(r.text.split())] += 1
    nd = sum(cells.values())
    cum = 0
    dec_docs = Counter()
    dec_toks = Counter()
    for n in sorted(cells):
        c = cells[n]
        cum += c
        g = min((cum - 1) * 10 // nd, 9)
        dec_docs[g] += c
        dec_toks[g] += n * c
    bt = sum(dec_toks.values())
    ter_of = lambda d: 0 if d <= 2 else (1 if d <= 6 else 2)
    tmass = Counter()
    for d, tk in dec_toks.items():
        tmass[ter_of(d)] += tk
    out = {
        (r.phase, r.decile): r
        for r in q_curriculum_pacing_plan(spark, SF).collect()
    }
    assert len(out) == len(dec_docs) * len(_PHASES)
    for name, w0, w1, w2 in _PHASES:
        wts = (w0, w1, w2)
        for d in dec_docs:
            r = out[(name, d)]
            wt = wts[ter_of(d)]
            assert r.docs == dec_docs[d]
            assert r.tokens == dec_toks[d]
            assert r.weight_milli == wt
            assert r.planned_tokens == math.floor(
                bt * wt / 1e3 * dec_toks[d] / tmass[ter_of(d)] + 0.5
            )
        # each phase's plan spends ~the full budget (rounding aside)
        spent = sum(
            out[(name, d)].planned_tokens for d in dec_docs
        )
        assert abs(spent - bt) <= 10 + len(dec_docs)
