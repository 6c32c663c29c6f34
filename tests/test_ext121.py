"""Wave 121: POT/GPD mean excess, Cucconi location-scale test."""

import math

import numpy as np

from etl_poor_main_pipeline_spark.registry_ext121 import (
    _CU_A,
    _CU_B,
    _POT_P,
    q_cucconi_test,
    q_pot_mean_excess,
)

SF = "/root/testdata/sf0.001"


def _centi(spark, where=None):
    from etl_poor_main_pipeline_spark.registry import _t

    e = _t(spark, SF, "events")
    if where:
        e = e.filter(where)
    return e.selectExpr(
        "cast(floor(value * 100.0 + 0.5) as bigint) as vc", "event_type"
    ).collect()


def test_pot_matches_reference(spark):
    rows = _centi(spark)
    v = np.sort(np.array([r.vc for r in rows], dtype=np.int64))
    n = len(v)
    u = v[math.ceil(_POT_P * n) - 1]  # order statistic at rank ceil(p*n)
    exc = v[v > u] - u
    mean = exc.mean()
    var = (exc.astype(float) ** 2).mean() - mean**2
    xi = 0.5 * (1.0 - mean**2 / var)
    sigma = 0.5 * (mean / 100.0) * (1.0 + mean**2 / var)

    r = q_pot_mean_excess(spark, SF).collect()[0]
    assert r.n == n and r.u_centi == u and r.n_exceed == len(exc)
    assert abs(r.mean_excess_micro - round(1e6 * mean / 100.0)) <= 1
    assert abs(r.xi_micro - round(1e6 * xi)) <= 2
    assert abs(r.sigma_micro - round(1e6 * sigma)) <= 2


def _midranks(v):
    order = np.argsort(v, kind="mergesort")
    sv = v[order]
    r = np.empty(len(v))
    i = 0
    while i < len(v):
        j = i
        while j + 1 < len(v) and sv[j + 1] == sv[i]:
            j += 1
        r[i : j + 1] = (i + j) / 2 + 1
        i = j + 1
    out = np.empty(len(v))
    out[order] = r
    return out


def test_cucconi_matches_reference(spark):
    rows = _centi(spark, f"event_type in ('{_CU_A}', '{_CU_B}')")
    x = np.array([r.vc for r in rows if r.event_type == _CU_A], dtype=np.int64)
    y = np.array([r.vc for r in rows if r.event_type == _CU_B], dtype=np.int64)
    n, m = len(x), len(y)
    N = n + m
    pooled = np.concatenate([x, y])
    ranks = _midranks(pooled)
    s = ranks[n:]  # sample B pooled midranks
    denom = math.sqrt(m * n * (N + 1) * (2 * N + 1) * (8 * N + 11) / 5.0)
    u = (6.0 * (s**2).sum() - m * (N + 1) * (2 * N + 1)) / denom
    vv = (6.0 * ((N + 1 - s) ** 2).sum() - m * (N + 1) * (2 * N + 1)) / denom
    rho = 2.0 * (N * N - 4) / ((2 * N + 1) * (8 * N + 11)) - 1.0
    c = (u * u + vv * vv - 2 * rho * u * vv) / (2 * (1 - rho * rho))

    r = q_cucconi_test(spark, SF).collect()[0]
    assert r.n_a == n and r.n_b == m
    assert abs(r.u_milli - round(1e3 * u)) <= 1
    assert abs(r.v_milli - round(1e3 * vv)) <= 1
    # C in both engines folds from the SNAPPED u/v; reference C from the
    # unsnapped pair can drift by ~|u|+|v| milli
    assert abs(r.c_milli - round(1e3 * c)) <= 50
    assert r.reject_05 == (r.c_milli > 2996)
