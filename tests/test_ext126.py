"""Wave 126: effect sizes / agreement / centrality / lift pinned against
direct Python implementations of the literature formulas."""

import math
from collections import Counter, defaultdict

import numpy as np

from etl_poor_main_pipeline_spark.registry_ext126 import (
    _CD_A,
    _CD_B,
    _DAY_US,
    _DEPTH_EDGES,
    _EC_ITERS,
    _HOUR_US,
    q_cohens_d_effect,
    q_decile_lift_table,
    q_eigenvector_centrality_types,
    q_kendall_w_concordance,
    q_weighted_kappa_depth,
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
            "cast(floor(value * 1e6 + 0.5) as bigint) as vm",
        )
        .collect()
    )


def test_cohens_d_matches_reference(spark):
    rows = _events(spark)
    a = np.array([r.vm for r in rows if r.event_type == _CD_A], dtype=np.int64)
    b = np.array([r.vm for r in rows if r.event_type == _CD_B], dtype=np.int64)
    na, nb = len(a), len(b)
    va = a.var(ddof=1)
    vb = b.var(ddof=1)
    dmean = a.mean() - b.mean()
    pooled = math.sqrt(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2))
    d = dmean / pooled
    j = 1.0 - 3.0 / (4.0 * (na + nb) - 9.0)
    glass = dmean / math.sqrt(vb)

    out = q_cohens_d_effect(spark, SF).collect()[0]
    assert out.n_a == na and out.n_b == nb
    assert abs(out.d_milli - math.floor(1e3 * d + 0.5)) <= 1
    assert abs(out.g_milli - math.floor(1e3 * d * j + 0.5)) <= 1
    assert abs(out.glass_milli - math.floor(1e3 * glass + 0.5)) <= 1


def test_weighted_kappa_matches_reference(spark):
    rows = _events(spark)
    e0, e1 = _DEPTH_EDGES
    nev = Counter(
        (r.user_id, int((r.us // _DAY_US) % 30 >= 15)) for r in rows
    )
    band = {k: (1 if c > e0 else 0) + (1 if c > e1 else 0) for k, c in nev.items()}
    pairs = {}
    for (u, h), b in band.items():
        pairs.setdefault(u, {})[h] = b
    tab = Counter(
        (v[0], v[1]) for v in pairs.values() if 0 in v and 1 in v
    )
    n = sum(tab.values())
    m1 = Counter()
    m2 = Counter()
    for (b1, b2), c in tab.items():
        m1[b1] += c
        m2[b2] += c
    swo = sum(c * (b1 - b2) ** 2 for (b1, b2), c in tab.items())
    swe = sum(
        r * c * (b1 - b2) ** 2 for b1, r in m1.items() for b2, c in m2.items()
    )
    kappa = 1000 if swe == 0 else math.floor(
        1e3 * (1.0 - swo * n / swe) + 0.5
    )

    out = q_weighted_kappa_depth(spark, SF).collect()[0]
    assert out.n_users_paired == n
    assert out.kappa_w_milli == kappa


def test_eigenvector_centrality_matches_reference(spark):
    rows = _events(spark)
    ud = {(r.user_id, r.us // _DAY_US, r.event_type) for r in rows}
    per_ud = defaultdict(set)
    for u, d, t in ud:
        per_ud[(u, d)].add(t)
    w = Counter()
    for types in per_ud.values():
        for t1 in types:
            for t2 in types:
                if t1 != t2:
                    w[(t1, t2)] += 1
    nodes = sorted({i for i, _ in w} | {j for _, j in w})
    v = {nd: 1000 for nd in nodes}
    for _ in range(_EC_ITERS):
        s = {nd: sum(w.get((nd, m), 0) * v[m] for m in nodes) for nd in nodes}
        t = float(sum(s.values()))
        v = {nd: int(math.floor(1e3 * float(s[nd]) / t + 0.5)) for nd in nodes}

    out = {r.event_type: r.centrality_milli for r in
           q_eigenvector_centrality_types(spark, SF).collect()}
    assert out == v
    # power iteration must converge to a positive L1-normalized vector
    assert all(x > 0 for x in out.values())
    assert abs(sum(out.values()) - 1000) <= len(out)


def test_decile_lift_matches_reference(spark):
    rows = _events(spark)
    score = Counter()
    pos = {}
    for r in rows:
        if r.event_type == _CD_A:
            score[r.user_id] += r.vm
        pos.setdefault(r.user_id, 0)
        if r.event_type == _CD_B:
            pos[r.user_id] = 1
    users = [
        (math.floor(score.get(u, 0) / 1e6 + 0.5), p) for u, p in pos.items()
    ]
    cells = Counter(s for s, _ in users)
    n = len(users)
    cum = 0
    dmap = {}
    for s in sorted(cells):
        cum += cells[s]
        dmap[s] = min(int(math.floor(10.0 * (cum - 1) / n)), 9)
    orate = sum(p for _, p in users) / n
    agg = defaultdict(lambda: [0, 0])
    for s, p in users:
        d = dmap[s]
        agg[d][0] += 1
        agg[d][1] += p

    out = {r.decile: r for r in q_decile_lift_table(spark, SF).collect()}
    assert sorted(out) == sorted(agg)
    for d, (nu, np_) in agg.items():
        assert out[d].n_users == nu and out[d].n_pos == np_
        assert out[d].rate_micro == math.floor(1e6 * np_ / nu + 0.5)
        assert out[d].lift_micro == math.floor(1e6 * (np_ / nu) / orate + 0.5)


def test_kendall_w_matches_reference(spark):
    rows = _events(spark)
    acc = defaultdict(list)
    for r in rows:
        g = (r.us % _DAY_US) // (8 * _HOUR_US)
        dw = ((r.us // _DAY_US) + 4) % 7
        acc[(g, dw)].append(r.vm)
    mean = {k: math.floor(sum(v) / len(v) + 0.5) for k, v in acc.items()}
    raters = sorted({g for g, _ in mean})
    objects = sorted({dw for _, dw in mean})
    k, m = len(objects), len(raters)
    # doubled midranks within each rater
    rs2 = Counter()
    t3 = 0
    for g in raters:
        vals = [(mean[(g, dw)], dw) for dw in objects if (g, dw) in mean]
        vals.sort()
        i = 0
        while i < len(vals):
            j = i
            while j < len(vals) and vals[j][0] == vals[i][0]:
                j += 1
            r2 = 2 * i + (j - i) + 1  # doubled midrank of the run
            for _, dw in vals[i:j]:
                rs2[dw] += r2
            c = j - i
            t3 += c * (c - 1) * (c + 1)
            i = j
    s4 = sum((rs2[dw] - m * (k + 1)) ** 2 for dw in objects)
    w = (3.0 * s4) / (m * m * (k**3 - k) - m * t3)

    out = q_kendall_w_concordance(spark, SF).collect()[0]
    assert out.k_objects == k and out.m_raters == m
    assert abs(out.w_milli - math.floor(1e3 * w + 0.5)) <= 1
