"""Wave 136: robust estimators pinned against direct Python
implementations (Huber 1964 IRLS; Rousseeuw & Croux 1993 Qn; Tukey
bisquare; Brys-Hubert-Struyf 2004 medcouple + Hubert-Vandervieren 2008
adjusted boxplot)."""

import math
from collections import Counter


from etl_poor_main_pipeline_spark.registry_ext136 import (
    _BIWEIGHT_C,
    _HUBER_K,
    _IRLS_STEPS,
    _MAD_CONST,
    _QN_D,
    q_huber_m_location,
    q_medcouple_skewness,
    q_qn_scale_estimator,
    q_tukey_biweight_location,
)

SF = "/root/testdata/sf0.001"


def _values(spark):
    from etl_poor_main_pipeline_spark.registry import _t

    return [
        r.value
        for r in _t(spark, SF, "events").select("value").collect()
    ]


def _median_mad_centi(vals):
    cells = Counter(math.floor(v * 100.0 + 0.5) for v in vals)
    n = sum(cells.values())
    cum = 0
    med = None
    for vc in sorted(cells):
        cum += cells[vc]
        if med is None and cum >= (n + 1) // 2:
            med = vc
    dev = Counter()
    for vc, w in cells.items():
        dev[abs(vc - med)] += w
    cum = 0
    mad = None
    for dc in sorted(dev):
        cum += dev[dc]
        if mad is None and cum >= (n + 1) // 2:
            mad = dc
    return cells, n, med, mad


def _irls(vals, tune, weight):
    cells, n, med, mad = _median_mad_centi(vals)
    k = math.floor(tune * _MAD_CONST * mad * 1e4 + 0.5)
    mu = med * 10000
    for _ in range(_IRLS_STEPS):
        num = den = 0
        for vc, w in cells.items():
            x = vc * 10000
            au = abs(x - mu)
            wm = weight(au, k)
            num += w * wm * x
            den += w * wm
        mu = math.floor(num / den + 0.5)
    return n, med, mad, k, mu


def test_huber_matches_irls(spark):
    vals = _values(spark)

    def w(au, k):
        return 1_000_000 if au <= k else math.floor(1e6 * k / au + 0.5)

    n, med, mad, k, mu = _irls(vals, _HUBER_K, w)
    out = q_huber_m_location(spark, SF).collect()[0]
    assert out.n == n
    assert out.median_micro == med * 10000
    assert out.s0_micro == math.floor(_MAD_CONST * mad * 1e4 + 0.5)
    assert out.k_micro == k
    assert out.m_location_micro == mu


def test_biweight_matches_irls(spark):
    vals = _values(spark)

    def w(au, k):
        if au >= k:
            return 0
        u = au / k
        return math.floor(1e6 * (1.0 - u * u) ** 2 + 0.5)

    n, med, mad, k, mu = _irls(vals, _BIWEIGHT_C, w)
    out = q_tukey_biweight_location(spark, SF).collect()[0]
    assert out.n == n and out.k_micro == k
    assert out.m_location_micro == mu


def test_qn_matches_reference(spark):
    vals = _values(spark)
    cells = Counter(math.floor(v + 0.5) for v in vals)
    n = sum(cells.values())
    h = n // 2 + 1
    k_rank = h * (h - 1) // 2
    diffs = Counter()
    keys = sorted(cells)
    for i, a in enumerate(keys):
        wa = cells[a]
        diffs[0] += wa * (wa - 1) // 2
        for b in keys[i + 1:]:
            diffs[b - a] += wa * cells[b]
    cum = 0
    q_raw = None
    for d in sorted(diffs):
        cum += diffs[d]
        if q_raw is None and cum >= k_rank:
            q_raw = d
    out = q_qn_scale_estimator(spark, SF).collect()[0]
    assert out.n == n and out.k_rank == k_rank
    assert out.q_raw_micro == q_raw * 1_000_000
    assert out.qn_micro == math.floor(_QN_D * q_raw * 1e6 + 0.5)
    assert out.qn_micro > 0


def test_medcouple_matches_reference(spark):
    vals = _values(spark)
    cells = Counter(math.floor(v + 0.5) for v in vals)
    n = sum(cells.values())
    cum = 0
    m = q1 = q3 = None
    for v in sorted(cells):
        cum += cells[v]
        if m is None and cum >= (n + 1) // 2:
            m = v
        if q1 is None and cum >= (n + 3) // 4:
            q1 = v
        if q3 is None and cum >= (3 * n + 3) // 4:
            q3 = v
    kern = Counter()
    for a, wa in cells.items():
        if a > m:
            continue
        for b, wb in cells.items():
            if (b >= m and b > a) or (b == a and a == m):
                if a == b:
                    h = 0
                    pairs = wa * (wa - 1) // 2
                else:
                    h = math.floor(
                        1e3 * ((b - m) - (m - a)) / (b - a) + 0.5
                    )
                    pairs = wa * wb
                kern[h] += pairs
    tp = sum(kern.values())
    cum = 0
    mc = None
    for h in sorted(kern):
        cum += kern[h]
        if mc is None and cum * 2 >= tp:
            mc = h
    mcd = mc / 1e3
    iqr = q3 - q1
    lo = math.floor(
        1e6 * (q1 - 1.5 * math.exp(-4 * mcd if mcd >= 0 else -3 * mcd) * iqr)
        + 0.5
    )
    hi = math.floor(
        1e6 * (q3 + 1.5 * math.exp(3 * mcd if mcd >= 0 else 4 * mcd) * iqr)
        + 0.5
    )
    n_out = sum(
        w
        for v, w in cells.items()
        if v * 1_000_000 < lo or v * 1_000_000 > hi
    )
    out = q_medcouple_skewness(spark, SF).collect()[0]
    assert out.n == n
    assert out.mc_milli == mc
    assert abs(out.mc_milli) <= 1000  # MC in [-1, 1]
    assert out.fence_lo_micro == lo and out.fence_hi_micro == hi
    assert out.n_outliers == n_out
