"""Wave 139: distribution-fitting completers pinned against direct
Python implementations (Weibull profile-likelihood Newton; Hosking 1990
sample L-moments computed the classic sorted-data way; Newey & Powell
1987 expectile IRLS; gamma method of moments)."""

import math
from collections import Counter

import numpy as np

from etl_poor_main_pipeline_spark.registry_ext139 import (
    _EXPECTILE_STEPS,
    _NEWTON_STEPS,
    q_expectile_90_irls,
    q_gamma_mom_fit,
    q_lmoments_profile,
    q_weibull_fit_newton,
)

SF = "/root/testdata/sf0.001"


def _cells(spark):
    from etl_poor_main_pipeline_spark.registry import _t

    vals = [
        r.value
        for r in _t(spark, SF, "events").select("value").collect()
    ]
    c = Counter(math.floor(v * 100.0 + 0.5) for v in vals)
    c.pop(0, None)
    return c


def test_weibull_newton_matches_reference(spark):
    cells = _cells(spark)
    base = [
        (w, vc / 100.0, math.floor(1e6 * math.log(vc / 100.0) + 0.5))
        for vc, w in cells.items()
    ]
    k = 1.0
    for _ in range(_NEWTON_STEPS):
        n = s0 = s1 = s2 = sl = 0
        for w, x, lxm in base:
            xkm = math.floor(1e6 * x**k + 0.5)
            n += w
            s0 += w * xkm
            s1 += w * xkm * lxm
            s2 += w * xkm * lxm * lxm
            sl += w * lxm
        g = s1 / (s0 * 1e6) - 1.0 / k - sl / (n * 1e6)
        gp = (s2 * s0 - s1 * s1) / (s0 * s0 * 1e12) + 1.0 / (k * k)
        k = math.floor(1e6 * (k - g / gp) + 0.5) / 1e6
    n = sum(w for w, _, _ in base)
    s0 = sum(
        w * math.floor(1e6 * x**k + 0.5) for w, x, _ in base
    )
    lam = (s0 / (n * 1e6)) ** (1.0 / k)
    out = q_weibull_fit_newton(spark, SF).collect()[0]
    assert out.n == n
    assert out.k_milli == math.floor(1e3 * k + 0.5)
    assert abs(out.lambda_milli - math.floor(1e3 * lam + 0.5)) <= 1
    # a unimodal positive distribution: shape near ~1 (exponential-ish)
    assert 200 <= out.k_milli <= 5000


def test_lmoments_match_classic_formula(spark):
    cells = _cells(spark)
    # classic sorted-data b_r over the cell-valued observations
    xs = np.array(
        sorted(v for vc, w in cells.items() for v in [vc] * w), dtype=float
    )
    n = len(xs)
    i = np.arange(1, n + 1, dtype=float)
    b0 = xs.mean()
    b1 = ((i - 1) * xs).sum() / (n * (n - 1))
    b2 = ((i - 1) * (i - 2) * xs).sum() / (n * (n - 1) * (n - 2)) / 1.0
    b2 = ((i - 1) * (i - 2) / 2.0 * xs).sum() * 2.0 / (
        n * (n - 1) * (n - 2)
    )
    b3 = ((i - 1) * (i - 2) * (i - 3) / 6.0 * xs).sum() * 6.0 / (
        n * (n - 1) * (n - 2) * (n - 3)
    )
    l1 = b0
    l2 = 2 * b1 - b0
    l3 = 6 * b2 - 6 * b1 + b0
    l4 = 20 * b3 - 30 * b2 + 12 * b1 - b0
    out = q_lmoments_profile(spark, SF).collect()[0]
    assert out.n == n
    assert abs(out.l1_micro - math.floor(1e4 * l1 + 0.5)) <= 1
    assert abs(out.l2_micro - math.floor(1e4 * l2 + 0.5)) <= 1
    assert abs(out.t3_milli - math.floor(1e3 * l3 / l2 + 0.5)) <= 1
    assert abs(out.t4_milli - math.floor(1e3 * l4 / l2 + 0.5)) <= 1
    # L-ratios are bounded: |t3| < 1, and t4 >= (5*t3^2 - 1)/4
    assert abs(out.t3_milli) < 1000


def test_expectile_matches_irls(spark):
    cells = _cells(spark)
    base = [(w, vc * 10000) for vc, w in cells.items()]
    num = sum(w * x for w, x in base)
    den = sum(w for w, _ in base)
    mu = math.floor(num / den + 0.5)
    mean0 = mu
    for _ in range(_EXPECTILE_STEPS):
        num = den2 = 0
        for w, x in base:
            ww = 9 if x > mu else 1
            num += w * ww * x
            den2 += w * ww
        mu = math.floor(num / den2 + 0.5)
    out = q_expectile_90_irls(spark, SF).collect()[0]
    assert out.n == sum(w for w, _ in base)
    assert out.mean_micro == mean0
    assert out.expectile_micro == mu
    # the 0.9-expectile lies above the mean on any non-degenerate sample
    assert out.expectile_micro > out.mean_micro


def test_gamma_mom_matches_reference(spark):
    from etl_poor_main_pipeline_spark.registry import _t

    vm = np.array(
        [
            math.floor(r.value * 1e6 + 0.5)
            for r in _t(spark, SF, "events").select("value").collect()
        ],
        dtype=float,
    )
    mean = vm.mean()
    var = vm.var()
    out = q_gamma_mom_fit(spark, SF).collect()[0]
    assert out.n == len(vm)
    assert out.mean_micro == math.floor(mean + 0.5)
    assert abs(out.var_micro2 - math.floor(var / 1e6 + 0.5)) <= 1
    assert abs(out.alpha_milli - math.floor(1e3 * mean * mean / var + 0.5)) <= 1
    assert abs(
        out.theta_milli - math.floor(1e3 * var / (mean * 1e6) + 0.5)
    ) <= 1
