"""Wave 138: experimentation / association / centrality completers
pinned against direct Python implementations (Deng et al. 2018 delta
method; Goodman & Kruskal 1954 lambda; post-stratification; Katz 1953;
Wasserman-Faust closeness)."""

import math
from collections import Counter, defaultdict

import numpy as np

from etl_poor_main_pipeline_spark.registry_ext138 import (
    _CLOSE_ROUNDS,
    _DAY_US,
    _KATZ_ALPHA,
    _KATZ_ROUNDS,
    _RATIO_EVENT,
    q_closeness_centrality_types,
    q_delta_method_ratio_ci,
    q_goodman_kruskal_lambda,
    q_katz_centrality_types,
    q_post_stratified_ate,
)

SF = "/root/testdata/sf0.001"


def _events(spark):
    from etl_poor_main_pipeline_spark.registry import _t

    return (
        _t(spark, SF, "events")
        .selectExpr(
            "user_id",
            "unix_micros(ts) as us",
            "event_type",
            "value",
            "cast(floor(value * 1e6 + 0.5) as bigint) as vm",
        )
        .collect()
    )


def test_delta_method_matches_reference(spark):
    rows = _events(spark)
    per = defaultdict(lambda: [0, 0])
    for r in rows:
        p = per[r.user_id]
        if r.event_type == _RATIO_EVENT:
            p[0] += r.vm
        p[1] += 1
    x = np.array([p[0] for p in per.values()], dtype=float)
    y = np.array([p[1] for p in per.values()], dtype=float)
    n = len(x)
    rr = x.sum() / y.sum()
    vx, vy = x.var(), y.var()
    cxy = ((x - x.mean()) * (y - y.mean())).mean()
    se = math.sqrt((vx - 2 * rr * cxy + rr * rr * vy) / (n * y.mean() ** 2))
    out = q_delta_method_ratio_ci(spark, SF).collect()[0]
    assert out.n_users == n
    assert out.ratio_micro == math.floor(rr + 0.5)
    assert abs(out.se_micro - math.floor(se + 0.5)) <= 1
    assert abs(out.ci_lo_micro - math.floor(rr - 1.959964 * se + 0.5)) <= 1
    assert abs(out.ci_hi_micro - math.floor(rr + 1.959964 * se + 0.5)) <= 1


def test_gk_lambda_matches_reference(spark):
    rows = _events(spark)
    tab = Counter(
        ((r.us // _DAY_US + 3) % 7, r.event_type) for r in rows
    )
    n = sum(tab.values())
    ws = {w for w, _ in tab}
    ts = {t for _, t in tab}
    smw = sum(max(tab[(w, t)] for t in ts) for w in ws)
    smt = sum(max(tab[(w, t)] for w in ws) for t in ts)
    mct = max(sum(tab[(w, t)] for w in ws) for t in ts)
    mrw = max(sum(tab[(w, t)] for t in ts) for w in ws)
    lyx = (smw - mct) / (n - mct)
    lxy = (smt - mrw) / (n - mrw)
    lsym = ((smw - mct) + (smt - mrw)) / ((n - mct) + (n - mrw))
    out = q_goodman_kruskal_lambda(spark, SF).collect()[0]
    assert out.n == n
    assert out.lambda_y_given_x_milli == math.floor(1e3 * lyx + 0.5)
    assert out.lambda_x_given_y_milli == math.floor(1e3 * lxy + 0.5)
    assert out.lambda_sym_milli == math.floor(1e3 * lsym + 0.5)
    # lambda is a PRE measure: within [0, 1]
    assert 0 <= out.lambda_sym_milli <= 1000


def test_post_stratified_ate_matches_reference(spark):
    rows = _events(spark)
    strata = defaultdict(lambda: defaultdict(list))
    for r in rows:
        s = (r.us // _DAY_US + 3) % 7
        strata[s][r.user_id % 2 == 1].append(r.vm)
    n = len(rows)
    swd = swv = 0
    for s, arms in strata.items():
        v1 = np.array(arms[True], dtype=float)
        v0 = np.array(arms[False], dtype=float)
        ns = len(v1) + len(v0)
        diff = v1.mean() - v0.mean()
        vsum = v1.var() / len(v1) + v0.var() / len(v0)
        swd += math.floor(ns * diff + 0.5)
        swv += math.floor(ns * ns * vsum / 1e12 + 0.5)
    ate = swd / n
    se = 1e6 * math.sqrt(swv) / n
    z = ate / se
    out = q_post_stratified_ate(spark, SF).collect()[0]
    assert out.n == n and out.n_strata == len(strata)
    assert out.ate_micro == math.floor(ate + 0.5)
    assert abs(out.se_micro - math.floor(se + 0.5)) <= 1
    assert abs(out.z_milli - math.floor(1e3 * z + 0.5)) <= 1
    assert out.reject_05 == (abs(z) > 1.959964)


def _edges(rows):
    per = defaultdict(list)
    for r in rows:
        per[r.user_id].append((r.us, r.event_type, r.value))
    edges = Counter()
    for seq in per.values():
        seq.sort()
        for a, b in zip(seq, seq[1:]):
            edges[(a[1], b[1])] += 1
    return edges


def test_katz_matches_reference(spark):
    rows = _events(spark)
    edges = _edges(rows)
    outs = Counter()
    for (s, _), c in edges.items():
        outs[s] += c
    pm = {
        (s, d): math.floor(1e6 * c / outs[s] + 0.5)
        for (s, d), c in edges.items()
    }
    nodes = sorted({s for s, _ in pm} | {d for _, d in pm})
    x = {t: 1_000_000 for t in nodes}
    for _ in range(_KATZ_ROUNDS):
        inc = Counter()
        for (s, d), p in pm.items():
            inc[d] += math.floor(_KATZ_ALPHA * p * x[s] / 1e6 + 0.5)
        x = {t: 1_000_000 + inc[t] for t in nodes}
    ranked = sorted(nodes, key=lambda t: (-x[t], t))
    out = q_katz_centrality_types(spark, SF).collect()
    assert [r.type for r in out] == ranked
    for r in out:
        assert r.katz_micro == x[r.type]
        assert r.rank == ranked.index(r.type) + 1


def test_closeness_matches_reference(spark):
    rows = _events(spark)
    edges = {(s, d) for (s, d) in _edges(rows) if s != d}
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    dist = {(t, t): 0 for t in nodes}
    for s, d in edges:
        dist[(s, d)] = min(dist.get((s, d), 10**9), 1)
    for _ in range(_CLOSE_ROUNDS):
        new = dict(dist)
        for (i, k), dk in dist.items():
            for s, d in edges:
                if s == k:
                    cand = dk + 1
                    if cand < new.get((i, d), 10**9):
                        new[(i, d)] = cand
        dist = new
    out = {r.type: r for r in q_closeness_centrality_types(spark, SF).collect()}
    assert sorted(out) == nodes
    nn = len(nodes)
    for i in nodes:
        reach = [d for (a, _), d in dist.items() if a == i]
        reach = [dist[(i, j)] for j in nodes if (i, j) in dist]
        r_i = len(reach)
        dsum = sum(reach)
        c = (r_i - 1) ** 2 / ((nn - 1) * dsum)
        r = out[i]
        assert r.reachable == r_i
        assert r.dist_sum == dsum
        assert r.closeness_milli == math.floor(1e3 * c + 0.5)
