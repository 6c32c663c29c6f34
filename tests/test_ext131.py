"""Wave 131: reliability / agreement statistics pinned against direct
Python implementations of the literature formulas (Cronbach 1951;
Shrout & Fleiss 1979 ICC(2,1); Gwet 2008 AC1; Lin 1989 CCC; Bland &
Altman 1986)."""

import math
from collections import Counter, defaultdict

import numpy as np

from etl_poor_main_pipeline_spark.registry_ext131 import (
    _ITEMS,
    _SM_E1,
    _SM_E2,
    _Z_95,
    q_bland_altman_limits,
    q_cronbach_alpha,
    q_gwet_ac1,
    q_icc_2_1,
    q_lin_ccc,
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


def test_cronbach_matches_reference(spark):
    rows = _events(spark)
    per = defaultdict(lambda: np.zeros(len(_ITEMS), dtype=np.int64))
    for r in rows:
        per[r.user_id][_ITEMS.index(r.event_type)] += 1
    X = np.array(list(per.values()), dtype=float)
    k = len(_ITEMS)
    item_vars = X.var(axis=0, ddof=1).sum()
    tot_var = X.sum(axis=1).var(ddof=1)
    alpha = k / (k - 1) * (1.0 - item_vars / tot_var)
    out = q_cronbach_alpha(spark, SF).collect()[0]
    assert out.n_users == len(per) and out.k_items == k
    assert abs(out.sum_item_var_milli - math.floor(1e3 * item_vars + 0.5)) <= 1
    assert abs(out.total_var_milli - math.floor(1e3 * tot_var + 0.5)) <= 1
    assert abs(out.alpha_milli - math.floor(1e3 * alpha + 0.5)) <= 1
    assert out.alpha_milli <= 1000


def test_icc_2_1_matches_shrout_fleiss(spark):
    rows = _events(spark)
    t0 = min(r.us for r in rows)
    t1 = max(r.us for r in rows)
    s = defaultdict(int)
    c = defaultdict(int)
    for r in rows:
        rr = min(int((r.us - t0) * 3 // (t1 - t0 + 1)), 2)
        s[(r.user_id, rr)] += r.vm
        c[(r.user_id, rr)] += 1
    users = sorted({u for u, _ in s})
    X = np.zeros((len(users), 3))
    for i, u in enumerate(users):
        for rr in range(3):
            if (u, rr) in s:
                X[i, rr] = math.floor(s[(u, rr)] / c[(u, rr)] + 0.5)
    n, k = X.shape
    gm = X.mean()
    ssr = k * ((X.mean(axis=1) - gm) ** 2).sum()
    ssc = n * ((X.mean(axis=0) - gm) ** 2).sum()
    sst = ((X - gm) ** 2).sum()
    sse = sst - ssr - ssc
    msr = ssr / (n - 1)
    msc = ssc / (k - 1)
    mse = sse / ((n - 1) * (k - 1))
    icc = (msr - mse) / (msr + (k - 1) * mse + k * (msc - mse) / n)
    out = q_icc_2_1(spark, SF).collect()[0]
    assert out.n_users == n and out.k_raters == k
    assert abs(out.msr_micro - math.floor(msr / 1e6 + 0.5)) <= 1
    assert abs(out.msc_micro - math.floor(msc / 1e6 + 0.5)) <= 1
    assert abs(out.mse_micro - math.floor(mse / 1e6 + 0.5)) <= 1
    assert abs(out.icc_milli - math.floor(1e3 * icc + 0.5)) <= 1


def _bands(rows):
    t0 = min(r.us for r in rows)
    t1 = max(r.us for r in rows)
    per = defaultdict(lambda: [0, 0, 0, 0])
    for r in rows:
        h2 = int(r.us * 2 >= t0 + t1)
        p = per[r.user_id]
        p[h2] += 1
        p[2 + h2] += r.vm

    def band(c, sv):
        m = 0 if c == 0 else math.floor(sv / c + 0.5)
        return 0 if m <= _SM_E1 else (1 if m <= _SM_E2 else 2)

    def mean(c, sv):
        return 0 if c == 0 else math.floor(sv / c + 0.5)

    return (
        [(band(p[0], p[2]), band(p[1], p[3])) for p in per.values()],
        [(mean(p[0], p[2]), mean(p[1], p[3])) for p in per.values()],
    )


def test_gwet_ac1_matches_reference(spark):
    bands, _ = _bands(_events(spark))
    n = len(bands)
    tab = Counter(bands)
    pa = sum(c for (i, j), c in tab.items() if i == j) / n
    pi = [
        (
            sum(c for (i, _), c in tab.items() if i == k)
            + sum(c for (_, j), c in tab.items() if j == k)
        )
        / (2.0 * n)
        for k in range(3)
    ]
    pe = sum(p * (1 - p) for p in pi) / 2.0
    ac1 = (pa - pe) / (1 - pe)
    pe_k = sum(
        sum(c for (i, _), c in tab.items() if i == k)
        * sum(c for (_, j), c in tab.items() if j == k)
        for k in range(3)
    ) / (n * n)
    kappa = (pa - pe_k) / (1 - pe_k)
    out = q_gwet_ac1(spark, SF).collect()[0]
    assert out.n_users == n
    assert abs(out.pa_milli - math.floor(1e3 * pa + 0.5)) <= 1
    assert abs(out.pe_milli - math.floor(1e3 * pe + 0.5)) <= 1
    assert abs(out.ac1_milli - math.floor(1e3 * ac1 + 0.5)) <= 1
    assert abs(out.kappa_milli - math.floor(1e3 * kappa + 0.5)) <= 1


def test_lin_ccc_matches_reference(spark):
    _, means = _bands(_events(spark))
    x = np.array([m[0] for m in means], dtype=float)
    y = np.array([m[1] for m in means], dtype=float)
    vx, vy = x.var(), y.var()  # population moments per Lin 1989
    cxy = ((x - x.mean()) * (y - y.mean())).mean()
    ccc = 2 * cxy / (vx + vy + (x.mean() - y.mean()) ** 2)
    r = cxy / math.sqrt(vx * vy)
    out = q_lin_ccc(spark, SF).collect()[0]
    assert out.n_users == len(x)
    assert abs(out.r_milli - math.floor(1e3 * r + 0.5)) <= 1
    assert abs(out.cb_milli - math.floor(1e3 * ccc / r + 0.5)) <= 1
    assert abs(out.ccc_milli - math.floor(1e3 * ccc + 0.5)) <= 1
    # |CCC| <= |r| (C_b <= 1)
    assert abs(out.ccc_milli) <= abs(out.r_milli) + 1


def test_bland_altman_matches_reference(spark):
    _, means = _bands(_events(spark))
    d = np.array([m[1] - m[0] for m in means], dtype=float)
    bias = d.mean()
    sd = d.std(ddof=1)
    lo = math.floor(bias - _Z_95 * sd + 0.5)
    hi = math.floor(bias + _Z_95 * sd + 0.5)
    outn = int(((d < lo) | (d > hi)).sum())
    out = q_bland_altman_limits(spark, SF).collect()[0]
    assert out.n_users == len(d)
    assert abs(out.bias_micro - math.floor(bias + 0.5)) <= 1
    assert abs(out.sd_micro - math.floor(sd + 0.5)) <= 1
    assert out.lo_micro == lo and out.hi_micro == hi
    assert out.n_outside == outn
