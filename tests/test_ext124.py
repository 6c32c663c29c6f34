"""Wave 124: calendar-spine time-series family pinned against direct
numpy implementations of the literature formulas."""

import math

import numpy as np

from etl_poor_main_pipeline_spark.registry_ext124 import (
    _DAY_US,
    _EG_X,
    _EG_Y,
    _KPSS_L,
    q_bartels_rank_vonneumann,
    q_cox_stuart_trend,
    q_engle_granger_coint,
    q_kpss_stationarity,
    q_permutation_entropy_daily,
    q_turning_point_test,
)

SF = "/root/testdata/sf0.001"


def _daily_means(spark, event_type=None):
    from etl_poor_main_pipeline_spark.registry import _t

    e = _t(spark, SF, "events")
    if event_type:
        e = e.filter(f"event_type = '{event_type}'")
    rows = e.selectExpr(
        f"unix_micros(ts) div {_DAY_US} as d",
        "cast(floor(value * 1e6 + 0.5) as bigint) as vm",
    ).collect()
    acc: dict[int, list] = {}
    for r in rows:
        acc.setdefault(r.d, []).append(r.vm)
    days = sorted(acc)
    return np.array(days), np.array(
        [math.floor(sum(acc[d]) / len(acc[d]) + 0.5) for d in days], dtype=np.int64
    )


def test_kpss_matches_reference(spark):
    _, m = _daily_means(spark)
    n = len(m)
    gm = math.floor(m.sum() / n + 0.5)
    e = m - gm
    s = np.cumsum(e)
    num = float((s.astype(object) ** 2).sum()) / (n * n)
    g0 = float((e.astype(object) ** 2).sum())
    g1 = float((e[1:] * e[:-1]).astype(object).sum())
    g2 = float((e[2:] * e[:-2]).astype(object).sum())
    w1 = 1.0 - 1.0 / (_KPSS_L + 1.0)
    w2 = 1.0 - 2.0 / (_KPSS_L + 1.0)
    lrv = (g0 + 2.0 * w1 * g1 + 2.0 * w2 * g2) / n
    eta = num / lrv

    out = q_kpss_stationarity(spark, SF).collect()[0]
    assert out.n == n
    assert abs(out.eta_milli - math.floor(1e3 * eta + 0.5)) <= 1


def test_engle_granger_matches_reference(spark):
    dx, mx = _daily_means(spark, _EG_X)
    dy, my = _daily_means(spark, _EG_Y)
    common = sorted(set(dx.tolist()) & set(dy.tolist()))
    x = np.array([mx[list(dx).index(d)] for d in common], dtype=np.int64)
    y = np.array([my[list(dy).index(d)] for d in common], dtype=np.int64)
    n = len(common)
    sx, sy = int(x.sum()), int(y.sum())
    sxx = int((x.astype(object) * x).sum())
    sxy = int((x.astype(object) * y).sum())
    b_micro = math.floor(1e6 * (n * sxy - sx * sy) / (n * sxx - sx * sx) + 0.5)
    a_micro = math.floor((sy - b_micro / 1e6 * sx) / n + 0.5)
    r = np.array(
        [math.floor(float(yv) - a_micro - b_micro / 1e6 * float(xv) + 0.5)
         for xv, yv in zip(x, y)],
        dtype=np.int64,
    )
    rp, dr = r[:-1], np.diff(r)
    srd = float((rp.astype(object) * dr).sum())
    srr = float((rp.astype(object) * rp).sum())
    sdd = float((dr.astype(object) * dr).sum())
    nd = len(rp)
    rho = srd / srr
    se = math.sqrt(((sdd - srd * srd / srr) / (nd - 1.0)) / srr)
    tau = rho / se

    out = q_engle_granger_coint(spark, SF).collect()[0]
    assert out.n_days == n
    assert out.slope_micro == b_micro
    assert out.intercept_micro == a_micro
    assert abs(out.tau_milli - math.floor(1e3 * tau + 0.5)) <= 1


def test_permutation_entropy_matches_reference(spark):
    _, m = _daily_means(spark)

    def trit(a, b):  # sign trit of (a vs b): 2 greater, 1 equal, 0 less
        return 2 if a > b else (1 if a == b else 0)

    codes = [
        9 * trit(m[i + 1], m[i]) + 3 * trit(m[i + 2], m[i]) + trit(m[i + 2], m[i + 1])
        for i in range(len(m) - 2)
    ]
    from collections import Counter

    cnt = Counter(codes)
    n = len(codes)
    sc = sum(c * math.floor(1e6 * math.log(c) + 0.5) for c in cnt.values())
    h = math.log(n) - sc / (n * 1e6)

    out = q_permutation_entropy_daily(spark, SF).collect()[0]
    assert out.n_triples == n
    assert out.n_codes == len(cnt)
    assert abs(out.h_micro - math.floor(1e6 * h + 0.5)) <= 1
    assert abs(out.h_norm_micro - math.floor(1e6 * h / math.log(27.0) + 0.5)) <= 1


def test_turning_point_matches_reference(spark):
    _, m = _daily_means(spark)
    n = len(m)
    tp = sum(
        1
        for i in range(1, n - 1)
        if (m[i] > m[i - 1] and m[i] > m[i + 1])
        or (m[i] < m[i - 1] and m[i] < m[i + 1])
    )
    z = (tp - 2.0 * (n - 2) / 3.0) / math.sqrt((16.0 * n - 29.0) / 90.0)

    out = q_turning_point_test(spark, SF).collect()[0]
    assert out.n == n
    assert out.n_turning_points == tp
    assert abs(out.z_milli - math.floor(1e3 * z + 0.5)) <= 1


def test_cox_stuart_matches_reference(spark):
    _, m = _daily_means(spark)
    n = len(m)
    h = n // 2 + (n % 2)
    dms = [m[i + h] - m[i] for i in range(n // 2)]
    sp = sum(1 for d in dms if d > 0)
    nz = sum(1 for d in dms if d != 0)
    z = (2.0 * sp - nz) / math.sqrt(nz)

    out = q_cox_stuart_trend(spark, SF).collect()[0]
    assert out.n_days == n
    assert out.n_pairs_nonzero == nz
    assert out.s_plus == sp
    assert out.z_milli == math.floor(1e3 * z + 0.5)


def test_bartels_rvn_matches_reference(spark):
    _, m = _daily_means(spark)
    n = len(m)
    # tie-aware midranks
    order = np.argsort(m, kind="stable")
    r = np.empty(n, dtype=np.float64)
    s = m[order]
    i = 0
    while i < n:
        j = i
        while j < n and s[j] == s[i]:
            j += 1
        r[order[i:j]] = (i + 1 + j) / 2.0
        i = j
    rbar = (n + 1) / 2.0
    num = float(((r[:-1] - r[1:]) ** 2).sum())
    den = float(((r - rbar) ** 2).sum())
    rvn = num / den
    var = (
        4.0 * (n - 2) * (5.0 * n * n - 2.0 * n - 9.0)
        / (5.0 * n * (n + 1.0) * (n - 1.0) ** 2)
    )
    z = (rvn - 2.0) / math.sqrt(var)

    out = q_bartels_rank_vonneumann(spark, SF).collect()[0]
    assert out.n == n
    assert abs(out.rvn_milli - math.floor(1e3 * rvn + 0.5)) <= 1
    assert abs(out.z_milli - math.floor(1e3 * z + 0.5)) <= 1
