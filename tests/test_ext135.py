"""Wave 135: causal-audit completers pinned against direct Python
implementations (VanderWeele & Ding 2017 E-value; Deming & Stephan 1940
IPF; Austin 2009 SMD; Cohen 1988 h)."""

import math
from collections import defaultdict

import numpy as np

from etl_poor_main_pipeline_spark.registry_ext135 import (
    _DAY_US,
    _EV_OUT,
    _IPF_SWEEPS,
    q_cohen_h_proportions,
    q_e_value_sensitivity,
    q_raking_ipf,
    q_smd_balance_audit,
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


def _table(rows):
    a = b = c = d = 0
    for r in rows:
        x = r.user_id % 2 == 1
        y = r.event_type == _EV_OUT
        if x and y:
            a += 1
        elif x:
            b += 1
        elif y:
            c += 1
        else:
            d += 1
    return a, b, c, d


def test_evalue_matches_vanderweele_ding(spark):
    rows = _events(spark)
    a, b, c, d = _table(rows)
    rr = a * (c + d) / (c * (a + b))
    se = math.sqrt(1 / a - 1 / (a + b) + 1 / c - 1 / (c + d))
    lo = math.exp(math.log(rr) - 1.959964 * se)
    hi = math.exp(math.log(rr) + 1.959964 * se)
    rr_s = math.floor(1e6 * rr + 0.5) / 1e6
    flip = 1 / rr_s if rr_s < 1 else rr_s
    ev = flip + math.sqrt(flip * (flip - 1))
    lim = (
        math.floor(1e6 * lo + 0.5) / 1e6
        if rr_s >= 1
        else math.floor(1e6 * hi + 0.5) / 1e6
    )
    lim_f = lim if rr_s >= 1 else 1 / lim
    ev_ci = 1.0 if lim_f <= 1 else lim_f + math.sqrt(lim_f * (lim_f - 1))
    out = q_e_value_sensitivity(spark, SF).collect()[0]
    assert out.n == a + b + c + d
    assert out.rr_milli == math.floor(1e3 * rr_s + 0.5)
    assert abs(out.ci_lo_milli - math.floor(1e3 * lo + 0.5)) <= 1
    assert abs(out.ci_hi_milli - math.floor(1e3 * hi + 0.5)) <= 1
    assert abs(out.evalue_milli - math.floor(1e3 * ev + 0.5)) <= 1
    assert abs(out.evalue_ci_milli - math.floor(1e3 * ev_ci + 0.5)) <= 1
    # E-value >= RR itself (when RR >= 1 after flip)
    assert out.evalue_milli >= out.rr_milli or out.rr_milli < 1000


def test_raking_ipf_matches_reference(spark):
    rows = _events(spark)
    n = defaultdict(int)
    for r in rows:
        w = (r.us // _DAY_US + 3) % 7
        n[(r.event_type, w)] += 1
    nt = sum(n.values())
    wt = {k: 1_000_000 for k in n}
    for _ in range(_IPF_SWEEPS):
        row_mass = defaultdict(int)
        row_n = defaultdict(int)
        for (t, w), c in n.items():
            row_mass[t] += wt[(t, w)] * c
            row_n[t] += c
        for k in wt:
            t = k[0]
            wt[k] = math.floor(
                wt[k] * row_n[t] / (row_mass[t] / 1e6) + 0.5
            )
        col_mass = defaultdict(int)
        for (t, w), c in n.items():
            col_mass[w] += wt[(t, w)] * c
        for k in wt:
            w = k[1]
            wt[k] = math.floor(
                wt[k] * (nt / 7.0) / (col_mass[w] / 1e6) + 0.5
            )
    out = {(r.event_type, r.w): r for r in q_raking_ipf(spark, SF).collect()}
    assert len(out) == len(n)
    for k, r in out.items():
        assert r.n == n[k]
        assert r.weight_micro == wt[k]
    # the raked weekday margin is uniform to within snap error
    col = defaultdict(float)
    for (t, w), c in n.items():
        col[w] += wt[(t, w)] / 1e6 * c
    for w, mass in col.items():
        assert abs(mass - nt / 7.0) < 0.01 * nt / 7.0


def test_smd_matches_reference(spark):
    rows = _events(spark)
    cov = {"value": [], "hour": [], "weekend": []}
    grp = []
    for r in rows:
        grp.append(r.user_id % 2 == 1)
        cov["value"].append(r.vm)
        cov["hour"].append((r.us // 3_600_000_000) % 24)
        cov["weekend"].append(int((r.us // _DAY_US + 3) % 7 >= 5))
    g = np.array(grp)
    out = {r.covariate: r for r in q_smd_balance_audit(spark, SF).collect()}
    assert sorted(out) == sorted(cov)
    for name, vals in cov.items():
        v = np.array(vals, dtype=float)
        m1, m0 = v[g].mean(), v[~g].mean()
        v1, v0 = v[g].var(), v[~g].var()
        smd = (m1 - m0) / math.sqrt((v1 + v0) / 2)
        r = out[name]
        assert abs(r.mean1_milli - math.floor(1e3 * m1 + 0.5)) <= 1
        assert abs(r.mean0_milli - math.floor(1e3 * m0 + 0.5)) <= 1
        assert abs(r.smd_milli - math.floor(1e3 * smd + 0.5)) <= 1
        assert r.balanced == (abs(smd) < 0.1)


def test_cohen_h_matches_reference(spark):
    rows = _events(spark)
    a, b, c, d = _table(rows)
    n1, n0 = a + b, c + d
    sq1 = math.floor(1e6 * math.sqrt(a / n1) + 0.5) / 1e6
    sq0 = math.floor(1e6 * math.sqrt(c / n0) + 0.5) / 1e6
    h = 2 * math.asin(sq1) - 2 * math.asin(sq0)
    hm = math.floor(1e3 * h + 0.5)
    out = q_cohen_h_proportions(spark, SF).collect()[0]
    assert out.n1 == n1 and out.n0 == n0
    assert out.p1_milli == math.floor(1e3 * a / n1 + 0.5)
    assert out.p0_milli == math.floor(1e3 * c / n0 + 0.5)
    assert out.h_milli == hm
    mag = (
        "large"
        if abs(hm) >= 800
        else "medium"
        if abs(hm) >= 500
        else "small"
        if abs(hm) >= 200
        else "negligible"
    )
    assert out.magnitude == mag
