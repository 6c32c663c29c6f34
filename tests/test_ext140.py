"""Wave 140: panel / robust-SE completers pinned against direct Python
implementations (Liang & Zeger 1986 CRVE with CR1; two-way within
transform; Newey & West 1987 Bartlett HAC; Breusch & Pagan 1979 /
Koenker)."""

import math
from collections import defaultdict

import numpy as np

from etl_poor_main_pipeline_spark.registry_ext140 import (
    _DAY_US,
    _HOUR_US,
    q_breusch_pagan_test,
    q_cluster_robust_se,
    q_fe_within_estimator,
    q_trend_ols_newey_west,
)

SF = "/root/testdata/sf0.001"


def _events(spark):
    from etl_poor_main_pipeline_spark.registry import _t

    return (
        _t(spark, SF, "events")
        .selectExpr(
            "user_id",
            "unix_micros(ts) as us",
            "cast(floor(value * 1e6 + 0.5) as bigint) as vm",
        )
        .collect()
    )


def test_cluster_robust_se_matches_reference(spark):
    rows = _events(spark)
    x = np.array([r.user_id % 2 for r in rows], dtype=float)
    y = np.array([r.vm for r in rows], dtype=float)
    n = len(y)
    sx = x.sum()
    b = (n * (x * y).sum() - sx * y.sum()) / (n * sx - sx * sx)
    a = (y.sum() - b * sx) / n
    am, bm = math.floor(a + 0.5), math.floor(b + 0.5)
    ev = y - am - bm * x
    per = defaultdict(lambda: [0.0, 0.0, 0.0])
    for r, e_i, x_i in zip(rows, ev, x):
        p = per[r.user_id]
        p[0] += e_i
        p[1] += x_i * e_i
        p[2] += e_i * e_i
    g = len(per)
    mss = sum(p[0] ** 2 for p in per.values())
    mst = sum(p[0] * p[1] for p in per.values())
    mtt = sum(p[1] ** 2 for p in per.values())
    sse = sum(p[2] for p in per.values())
    det = sx * (n - sx)
    var_cl = (sx * sx * mss - 2 * sx * n * mst + n * n * mtt) / (det * det)
    cr1 = g / (g - 1) * (n - 1) / (n - 2)
    se_cl = math.sqrt(cr1 * var_cl)
    se_ols = math.sqrt(sse / (n - 2) * n / det)
    out = q_cluster_robust_se(spark, SF).collect()[0]
    assert out.n == n and out.g_clusters == g
    assert out.b_micro == bm
    assert abs(out.se_ols_micro - math.floor(se_ols + 0.5)) <= 1
    assert abs(out.se_cluster_micro - math.floor(se_cl + 0.5)) <= 1
    # synthetic values carry no real within-user correlation, so the
    # design effect sits near 1 (slightly below here) — assert the
    # ratio column is consistent rather than a direction
    assert out.design_effect_milli == math.floor(1e3 * se_cl / se_ols + 0.5)
    assert 500 <= out.design_effect_milli <= 2000


def test_fe_within_matches_reference(spark):
    rows = _events(spark)
    y = np.array([r.vm for r in rows], dtype=float)
    h = np.array([(r.us // _HOUR_US) % 24 for r in rows], dtype=float)
    uid = np.array([r.user_id for r in rows])
    day = np.array([r.us // _DAY_US for r in rows])

    def snap_means(v, keys):
        out = {}
        for k in set(keys):
            m = v[keys == k]
            out[k] = math.floor(m.sum() / len(m) + 0.5)
        return np.array([out[k] for k in keys], dtype=float)

    yu, hu = snap_means(y, uid), snap_means(h, uid)
    yd, hd = snap_means(y, day), snap_means(h, day)
    yg = math.floor(y.sum() / len(y) + 0.5)
    hg = math.floor(h.sum() / len(h) + 0.5)
    yt = y - yu - yd + yg
    xt = h - hu - hd + hg
    sxy = (xt * yt).sum()
    sxx = (xt * xt).sum()
    syy = (yt * yt).sum()
    b = sxy / sxx
    n, nu, nd = len(y), len(set(uid)), len(set(day))
    dof = n - nu - nd
    se = math.sqrt((syy - b * sxy) / dof / sxx)
    out = q_fe_within_estimator(spark, SF).collect()[0]
    assert (out.n, out.n_users, out.n_days) == (n, nu, nd)
    assert out.b_micro_per_hour == math.floor(b + 0.5)
    assert abs(out.se_micro - math.floor(se + 0.5)) <= 1
    assert abs(out.t_milli - math.floor(1e3 * b / se + 0.5)) <= 1


def test_nw_trend_matches_reference(spark):
    rows = _events(spark)
    tot = defaultdict(int)
    for r in rows:
        tot[r.us // _DAY_US] += r.vm
    days = sorted(tot)
    d0 = days[0]
    t = np.array([d - d0 for d in days], dtype=float)
    y = np.array(
        [math.floor(tot[d] / 1e3 + 0.5) for d in days], dtype=float
    )
    n = len(t)
    sxx = n * (t * t).sum() - t.sum() ** 2
    b = (n * (t * y).sum() - t.sum() * y.sum()) / sxx
    a = (y.sum() - b * t.sum()) / n
    am, bm = math.floor(a + 0.5), math.floor(b + 0.5)
    ev = y - am - bm * t
    v = np.floor((t - t.sum() / n) * ev + 0.5)
    g0 = (v * v).sum()
    g1 = (v[1:] * v[:-1]).sum()
    g2 = (v[2:] * v[:-2]).sum()
    sxx_c = (t * t).sum() - t.sum() ** 2 / n
    lrv = g0 + 2 * (2 / 3) * g1 + 2 * (1 / 3) * g2
    se_nw = math.sqrt(lrv) / sxx_c
    se_ols = math.sqrt((ev * ev).sum() / (n - 2) / sxx_c)
    out = q_trend_ols_newey_west(spark, SF).collect()[0]
    assert out.n_days == n
    assert out.slope_milli_per_day == bm
    assert abs(out.se_ols_milli - math.floor(se_ols + 0.5)) <= 1
    assert abs(out.se_nw_milli - math.floor(se_nw + 0.5)) <= 1
    assert abs(out.z_milli - math.floor(1e3 * bm / se_nw + 0.5)) <= 1


def test_breusch_pagan_matches_reference(spark):
    rows = _events(spark)
    y = np.array([r.vm for r in rows], dtype=float)
    h = np.array([(r.us // _HOUR_US) % 24 for r in rows], dtype=float)
    n = len(y)
    sxx = n * (h * h).sum() - h.sum() ** 2
    b = (n * (h * y).sum() - h.sum() * y.sum()) / sxx
    a = (y.sum() - b * h.sum()) / n
    am, bm = math.floor(a + 0.5), math.floor(b + 0.5)
    e = y - am - bm * h
    u = np.floor(e * e / 1e12 + 0.5)
    suu = n * (u * u).sum() - u.sum() ** 2
    shu = n * (h * u).sum() - h.sum() * u.sum()
    r2 = shu * shu / (sxx * suu)
    bp = n * r2
    out = q_breusch_pagan_test(spark, SF).collect()[0]
    assert out.n == n
    assert out.b_micro == bm
    assert abs(out.bp_milli - math.floor(1e3 * bp + 0.5)) <= 1
    assert out.reject_05 == (bp > 3.841459)
