"""Wave 127: blocked-rank / paired-categorical statistics pinned against
direct Python implementations of the literature formulas (Conover §5.8
Quade; Stuart 1955 / Maxwell 1970; Breslow & Day 1980 §IV.4 + Tarone
1985; Epps-Singleton ECF moments; Breslow 1970 Gehan-Wilcoxon)."""

import math
from collections import Counter, defaultdict

import numpy as np

from etl_poor_main_pipeline_spark.registry_ext127 import (
    _DAY_US,
    _ECF_A,
    _ECF_B,
    _ECF_TS,
    _GB_EVENT,
    _SM_E1,
    _SM_E2,
    q_breslow_day_homogeneity,
    q_ecf_distance_2samp,
    q_gehan_breslow_wilcoxon,
    q_quade_test,
    q_stuart_maxwell_test,
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


def _midrank(values, x):
    """Doubled midrank 2R of x among values (ties -> average rank)."""
    less = sum(1 for v in values if v < x)
    eq = sum(1 for v in values if v == x)
    return 2 * less + eq + 1


def test_quade_matches_conover(spark):
    rows = _events(spark)
    # snapped per-(weekday, event_type) cell means, exactly as the query
    s = defaultdict(int)
    c = defaultdict(int)
    for r in rows:
        w = (r.us // _DAY_US + 3) % 7
        s[(w, r.event_type)] += r.vm
        c[(w, r.event_type)] += 1
    m = {k: math.floor(s[k] / c[k] + 0.5) for k in s}
    blocks = sorted({k[0] for k in m})
    trts = sorted({k[1] for k in m})
    b, k = len(blocks), len(trts)
    # Conover T3 with float midranks: S_wt = Q_w*(R_wt-(k+1)/2)
    S_t = defaultdict(float)
    A = 0.0
    rngs = {w: max(m[(w, t)] for t in trts) - min(m[(w, t)] for t in trts)
            for w in blocks}
    for w in blocks:
        vals = [m[(w, t)] for t in trts]
        Q = _midrank(list(rngs.values()), rngs[w]) / 2.0
        for t in trts:
            R = _midrank(vals, m[(w, t)]) / 2.0
            Sc = Q * (R - (k + 1) / 2.0)
            A += Sc * Sc
            S_t[t] += Sc
    B = sum(v * v for v in S_t.values()) / b
    t3 = (b - 1) * B / (A - B)

    out = q_quade_test(spark, SF).collect()[0]
    assert out.b == b and out.k == k
    # the query's x4-folded integers: A16 = 16A, SB16 = 16*b*B
    assert out.a16 == 16.0 * A
    assert out.sb16 == 16.0 * b * B
    assert abs(out.t3_milli - math.floor(1e3 * t3 + 0.5)) <= 1


def test_stuart_maxwell_matches_reference(spark):
    rows = _events(spark)
    t0 = min(r.us for r in rows)
    t1 = max(r.us for r in rows)
    per = defaultdict(lambda: [0, 0, 0, 0])  # c1, c2, s1, s2
    for r in rows:
        h2 = int(r.us * 2 >= t0 + t1)
        p = per[r.user_id]
        p[h2] += 1
        p[2 + h2] += r.vm

    def band(c, sv):
        mmean = 0 if c == 0 else math.floor(sv / c + 0.5)
        return 0 if mmean <= _SM_E1 else (1 if mmean <= _SM_E2 else 2)

    tab = Counter(
        (band(p[0], p[2]), band(p[1], p[3])) for p in per.values()
    )
    n = np.zeros((3, 3), dtype=np.int64)
    for (i, j), cnt in tab.items():
        n[i, j] = cnt
    row = n.sum(axis=1)
    col = n.sum(axis=0)
    d = (row - col)[:2].astype(float)
    # full Stuart-Maxwell covariance on the first 2 categories
    V = np.zeros((2, 2))
    for i in range(2):
        V[i, i] = row[i] + col[i] - 2 * n[i, i]
        for j in range(2):
            if i != j:
                V[i, j] = -(n[i, j] + n[j, i])
    chi2 = float(d @ np.linalg.inv(V) @ d)

    out = q_stuart_maxwell_test(spark, SF).collect()[0]
    assert out.n_users == len(per)
    assert out.d0 == row[0] - col[0]
    assert out.d1 == row[1] - col[1]
    assert abs(out.chi2_milli - math.floor(1e3 * chi2 + 0.5)) <= 1


def test_breslow_day_matches_reference(spark):
    rows = _events(spark)
    strata = defaultdict(lambda: [0, 0, 0, 0])  # a, b, c, d
    for r in rows:
        w = (r.us // _DAY_US + 3) % 7
        x = r.user_id % 2 == 1
        y = r.event_type == _GB_EVENT
        strata[w][0 if (x and y) else 1 if x else 2 if y else 3] += 1
    # MH common OR with the query's micro-snapped per-stratum terms
    r_mic = sum(
        math.floor(1e6 * a * d_ / (a + b + c + d_) + 0.5)
        for a, b, c, d_ in strata.values()
    )
    s_mic = sum(
        math.floor(1e6 * b * c / (a + b + c + d_) + 0.5)
        for a, b, c, d_ in strata.values()
    )
    orr = r_mic / s_mic
    chi2 = dev = var_sum = 0.0
    for a, b, c, d_ in strata.values():
        r1, c1, nn = float(a + b), float(a + c), float(a + b + c + d_)
        qa, qb, qc = 1.0 - orr, (nn - r1 - c1) + orr * (r1 + c1), -orr * r1 * c1
        disc = math.sqrt(qb * qb - 4 * qa * qc)
        rt1 = (-qb + disc) / (2 * qa)
        rt2 = (-qb - disc) / (2 * qa)
        lo, hi = max(0.0, r1 + c1 - nn), min(r1, c1)
        x = rt1 if (lo - 1e-9 <= rt1 <= hi + 1e-9) else rt2
        x = math.floor(1e6 * x + 0.5) / 1e6  # the query's micro snap
        v = 1.0 / (1 / x + 1 / (r1 - x) + 1 / (c1 - x) + 1 / (nn - r1 - c1 + x))
        chi2 += math.floor(1e6 * (a - x) ** 2 / v + 0.5)
        dev += math.floor(1e6 * (a - x) + 0.5)
        var_sum += math.floor(1e6 * v + 0.5)
    chi2 /= 1e6
    tarone = chi2 - (dev / 1e6) ** 2 / (var_sum / 1e6)

    out = q_breslow_day_homogeneity(spark, SF).collect()[0]
    assert out.n_strata == len(strata) == 7
    assert out.or_mh_milli == math.floor(1e3 * orr + 0.5)
    assert abs(out.bd_chi2_milli - math.floor(1e3 * chi2 + 0.5)) <= 1
    assert abs(out.tarone_chi2_milli - math.floor(1e3 * tarone + 0.5)) <= 1
    # Tarone correction can only shrink the statistic
    assert out.tarone_chi2_milli <= out.bd_chi2_milli


def test_ecf_distance_matches_reference(spark):
    rows = _events(spark)
    cells = Counter()
    for r in rows:
        if r.event_type in (_ECF_A, _ECF_B):
            vc = math.floor(r.vm / 1e6 * 100.0 + 0.5)
            cells[(vc, r.event_type == _ECF_A)] += 1
    out = {r.t_milli: r for r in q_ecf_distance_2samp(spark, SF).collect()}
    assert sorted(out) == sorted(math.floor(1e3 * t + 0.5) for t in _ECF_TS)
    for t in _ECF_TS:
        na = nb = sca = scb = ssa = ssb = 0
        for (vc, isa), cnt in cells.items():
            cosm = math.floor(1e6 * math.cos(t * vc / 100.0) + 0.5)
            sinm = math.floor(1e6 * math.sin(t * vc / 100.0) + 0.5)
            if isa:
                na += cnt
                sca += cnt * cosm
                ssa += cnt * sinm
            else:
                nb += cnt
                scb += cnt * cosm
                ssb += cnt * sinm
        dc = sca / na - scb / nb
        ds = ssa / na - ssb / nb
        r = out[math.floor(1e3 * t + 0.5)]
        assert r.n_a == na and r.n_b == nb
        assert r.dc_micro == math.floor(dc + 0.5)
        assert r.ds_micro == math.floor(ds + 0.5)
        assert r.dist_micro == math.floor((dc * dc + ds * ds) / 1e6 + 0.5)
        # the snapped micro moments track the float ECF within snap error
        phi_d = math.hypot(dc, ds) / 1e6
        assert phi_d <= 2.0  # |phi| <= 1 per cohort


def test_gehan_breslow_matches_reference(spark):
    rows = _events(spark)
    per = {}
    for r in rows:
        d = r.us // _DAY_US
        pd_ = d if r.event_type == _GB_EVENT else None
        if r.user_id not in per:
            per[r.user_id] = [d, pd_, d]
        else:
            p = per[r.user_id]
            p[0] = min(p[0], d)
            p[2] = max(p[2], d)
            if pd_ is not None:
                p[1] = pd_ if p[1] is None else min(p[1], pd_)
    subj = [
        (
            int(u % 2 == 0),
            (p[1] - p[0]) if p[1] is not None else (p[2] - p[0]),
            int(p[1] is not None),
        )
        for u, p in per.items()
    ]
    times = sorted({t for _, t, _ in subj})
    wo = we = 0
    v_mic = 0
    for t in times:
        at_risk = [(g, ev) for g, tt, ev in subj if tt >= t]
        nt = len(at_risk)
        n1 = sum(g for g, _ in at_risk)
        dt = sum(ev for g, tt, ev in subj if tt == t and ev)
        d1 = sum(ev * g for g, tt, ev in subj if tt == t)
        if dt > 0 and nt > 1:
            wo += nt * d1
            we += dt * n1
            v = dt * n1 * (1.0 - n1 / nt) * (nt - dt) / (nt - 1) * nt
            v_mic += math.floor(1e6 * v + 0.5)
    z = (wo - we) / math.sqrt(v_mic / 1e6)

    out = q_gehan_breslow_wilcoxon(spark, SF).collect()[0]
    assert out.n_users == len(per)
    assert out.u_stat == wo - we
    assert out.v_micro == v_mic
    assert abs(out.z_milli - math.floor(1e3 * z + 0.5)) <= 1
