"""Wave 133: forecast-accuracy / time-series statistics pinned against
direct Python implementations (Diebold & Mariano 1995; Theil U2;
spectral entropy; Richman & Moorman 2000 SampEn; Taylor 1961; Cochran
1954 / Mantel & Haenszel 1959)."""

import math
from collections import defaultdict

import numpy as np

from etl_poor_main_pipeline_spark.registry_ext133 import (
    _CMH_EVENT,
    _DAY_US,
    _SE_PERIODS,
    _SEASON,
    q_cmh_chi2_strata,
    q_diebold_mariano,
    q_sample_entropy_daily,
    q_spectral_entropy,
    q_taylors_law_slope,
    q_theil_u2_forecast,
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


def _daily_deci(rows):
    tot = defaultdict(int)
    for r in rows:
        tot[r.us // _DAY_US] += r.vm
    days = sorted(tot)
    return days, [math.floor(tot[d] / 1e5 + 0.5) for d in days]


def test_diebold_mariano_matches_reference(spark):
    days, y = _daily_deci(_events(spark))
    d = []
    for i in range(len(y)):
        if i >= _SEASON:
            e1 = y[i] - y[i - 1]
            es = y[i] - y[i - _SEASON]
            d.append(e1 * e1 - es * es)
    d = np.array(d, dtype=float)
    n = len(d)
    mean = d.mean()
    g0 = (d * d).mean() - mean * mean
    g1 = (d[1:] * d[:-1]).sum() / (n - 1) - mean * mean
    dm = mean / math.sqrt((g0 + 2 * g1) / n)
    out = q_diebold_mariano(spark, SF).collect()[0]
    assert out.n_days == n
    assert abs(out.mean_d - mean) <= abs(mean) * 1e-12 + 1e-9
    assert abs(out.gamma0 - g0) <= abs(g0) * 1e-9
    assert abs(out.gamma1 - g1) <= abs(g1) * 1e-9 + 1e-6
    assert abs(out.dm_milli - math.floor(1e3 * dm + 0.5)) <= 1
    assert out.reject_05 == (abs(dm) > 1.959964)


def test_theil_u2_matches_reference(spark):
    days, y = _daily_deci(_events(spark))
    ss = sn = 0
    n = 0
    for i in range(_SEASON, len(y)):
        ss += (y[i] - y[i - _SEASON]) ** 2
        sn += (y[i] - y[i - 1]) ** 2
        n += 1
    u2 = math.sqrt(ss / sn)
    out = q_theil_u2_forecast(spark, SF).collect()[0]
    assert out.n_days == n
    assert out.sse_seasonal == float(ss)
    assert out.sse_naive == float(sn)
    assert abs(out.u2_milli - math.floor(1e3 * u2 + 0.5)) <= 1


def test_spectral_entropy_matches_reference(spark):
    days, y = _daily_deci(_events(spark))
    n = len(days)
    mu_exact = sum(yy * 1e5 for yy in y)  # micro total not needed; replicate
    # replicate the query's centering: yc = round(y_micro/1e5 - s/(n*1e5))
    rows = _events(spark)
    tot = defaultdict(int)
    for r in rows:
        tot[r.us // _DAY_US] += r.vm
    s = sum(tot.values())
    yc = {d: math.floor(tot[d] / 1e5 - s / (n * 1e5) + 0.5) for d in tot}
    pi2 = 6.283185307179586
    power = {}
    for p in _SE_PERIODS:
        cs = sum(
            v * math.floor(1e6 * math.cos(pi2 * (d % p) / p) + 0.5)
            for d, v in yc.items()
        )
        ss_ = sum(
            v * math.floor(1e6 * math.sin(pi2 * (d % p) / p) + 0.5)
            for d, v in yc.items()
        )
        power[p] = math.floor(
            (cs / 1e6) ** 2 / n + (ss_ / 1e6) ** 2 / n + 0.5
        )
    tp = sum(power.values())
    h = sum(
        math.floor(-1e6 * (pw / tp) * math.log(pw / tp) + 0.5)
        for pw in power.values()
        if pw > 0
    )
    ent = h / (1e3 * math.log(len(_SE_PERIODS)))
    dom = max(power, key=lambda p: power[p] * 100 - p)
    out = q_spectral_entropy(spark, SF).collect()[0]
    assert out.n_days == n
    assert out.dominant_period == dom
    assert out.peak_share_milli == math.floor(
        1e3 * max(power.values()) / tp + 0.5
    )
    assert abs(out.entropy_milli - math.floor(ent + 0.5)) <= 1
    assert 0 <= out.entropy_milli <= 1001


def test_sample_entropy_matches_reference(spark):
    days, y = _daily_deci(_events(spark))
    arr = np.array(y, dtype=float)
    r = math.floor(0.2 * arr.std() + 0.5)
    # templates keyed by day (the query leads over the day spine; the
    # spine is contiguous here so index == day order)
    tmpl = [
        (y[i], y[i + 1], y[i + 2]) for i in range(len(y) - 2)
    ]
    b_m = a_m1 = 0
    for i in range(len(tmpl)):
        for j in range(i + 1, len(tmpl)):
            a, b = tmpl[i], tmpl[j]
            if max(abs(a[0] - b[0]), abs(a[1] - b[1])) <= r:
                b_m += 1
                if abs(a[2] - b[2]) <= r:
                    a_m1 += 1
    out = q_sample_entropy_daily(spark, SF).collect()[0]
    assert out.n_days == len(y)  # spine length (templates = n_days - 2)
    assert out.r_deci == r
    assert out.b_m == b_m and out.a_m1 == a_m1
    if a_m1 and b_m:
        sampen = -math.log(a_m1 / b_m)
        assert out.sampen_milli == math.floor(1e3 * sampen + 0.5)
    else:
        assert out.sampen_milli == -1


def test_taylors_law_matches_reference(spark):
    rows = _events(spark)
    cells = defaultdict(list)
    for r in rows:
        w = (r.us // _DAY_US + 3) % 7
        cells[(r.event_type, w)].append(r.vm)
    lx, ly = [], []
    for v in cells.values():
        if len(v) <= 1:
            continue
        a = np.array(v, dtype=float)
        mu = math.floor(a.mean() + 0.5)
        var = math.floor(a.var() + 0.5)
        lx.append(math.floor(1e6 * math.log(mu / 1e6) + 0.5))
        ly.append(math.floor(1e6 * math.log(var / 1e12) + 0.5))
    x = np.array(lx, dtype=float)
    yv = np.array(ly, dtype=float)
    n = len(x)
    sxx = n * (x * x).sum() - x.sum() ** 2
    syy = n * (yv * yv).sum() - yv.sum() ** 2
    sxy = n * (x * yv).sum() - x.sum() * yv.sum()
    slope = sxy / sxx
    icpt = (yv.sum() - slope * x.sum()) / (n * 1e6)
    r2 = sxy * sxy / (sxx * syy)
    out = q_taylors_law_slope(spark, SF).collect()[0]
    assert out.n_cells == n
    assert abs(out.slope_milli - math.floor(1e3 * slope + 0.5)) <= 1
    assert abs(out.intercept_milli - math.floor(1e3 * icpt + 0.5)) <= 1
    assert abs(out.r2_milli - math.floor(1e3 * r2 + 0.5)) <= 1


def test_cmh_matches_reference(spark):
    rows = _events(spark)
    strata = defaultdict(lambda: [0, 0, 0, 0])  # a, r1, c1, n
    for r in rows:
        w = (r.us // _DAY_US + 3) % 7
        x = int(r.user_id % 2 == 1)
        yy = int(r.event_type == _CMH_EVENT)
        st = strata[w]
        st[0] += x * yy
        st[1] += x
        st[2] += yy
        st[3] += 1
    o = e_mic = v_mic = 0
    for a, r1, c1, n in strata.values():
        o += a
        e_mic += math.floor(1e6 * r1 * c1 / n + 0.5)
        v_mic += math.floor(
            1e6 * r1 * (n - r1) * c1 * (n - c1) / (n * n * (n - 1)) + 0.5
        )
    chi2 = (o - e_mic / 1e6) ** 2 / (v_mic / 1e6)
    out = q_cmh_chi2_strata(spark, SF).collect()[0]
    assert out.n_strata == 7
    assert out.o_sum == o
    assert out.e_micro == e_mic and out.v_micro == v_mic
    assert abs(out.cmh_milli - math.floor(1e3 * chi2 + 0.5)) <= 1
    assert out.reject_05 == (chi2 > 3.841459)
