"""Wave 134: kernel / dependence statistics pinned against direct
Python implementations (Szekely-Rizzo-Bakirov 2007 double-centering;
Gretton et al. 2012 MMD; Conover & Iman 1978 squared ranks;
Hosmer-Lemeshow)."""

import math
from collections import Counter, defaultdict

import numpy as np

from etl_poor_main_pipeline_spark.registry_ext134 import (
    _CSR_A,
    _CSR_B,
    _DCOR_BIN,
    _HL_EVENT,
    _HL_G,
    _MMD_A,
    _MMD_B,
    _MMD_SIGMA,
    q_conover_squared_ranks,
    q_distance_correlation,
    q_hosmer_lemeshow_gof,
    q_mmd_rbf_2samp,
)

SF = "/root/testdata/sf0.001"


def _events(spark):
    from etl_poor_main_pipeline_spark.registry import _t

    return (
        _t(spark, SF, "events")
        .selectExpr(
            "unix_micros(ts) as us",
            "event_type",
            "value",
            "cast(floor(value * 1e6 + 0.5) as bigint) as vm",
        )
        .collect()
    )


def test_distance_correlation_matches_double_centering(spark):
    rows = _events(spark)
    # cell-resolution observations, exactly as the query bins them
    x = np.array(
        [math.floor(r.value / _DCOR_BIN + 0.5) for r in rows], dtype=float
    )
    y = np.array([(r.us // 3_600_000_000) % 24 for r in rows], dtype=float)
    n = len(x)
    A = np.abs(x[:, None] - x[None, :])
    B = np.abs(y[:, None] - y[None, :])

    def center(M):
        return M - M.mean(axis=0) - M.mean(axis=1)[:, None] + M.mean()

    Ac, Bc = center(A), center(B)
    dcov2 = (Ac * Bc).mean()
    dvarx = (Ac * Ac).mean()
    dvary = (Bc * Bc).mean()
    dcor = math.sqrt(dcov2 / math.sqrt(dvarx * dvary))
    out = q_distance_correlation(spark, SF).collect()[0]
    assert out.n_events == n
    assert abs(out.dcov2_micro - math.floor(1e6 * dcov2 + 0.5)) <= 2
    assert abs(out.dvarx_micro - math.floor(1e6 * dvarx + 0.5)) <= 2
    assert abs(out.dvary_micro - math.floor(1e6 * dvary + 0.5)) <= 2
    assert abs(out.dcor_milli - math.floor(1e3 * dcor + 0.5)) <= 1
    assert 0 <= out.dcor_milli <= 1000


def test_mmd_matches_reference(spark):
    rows = _events(spark)
    a = [math.floor(r.value + 0.5) for r in rows if r.event_type == _MMD_A]
    b = [math.floor(r.value + 0.5) for r in rows if r.event_type == _MMD_B]
    two_s2 = 2.0 * _MMD_SIGMA * _MMD_SIGMA

    def ksum(u, v):
        # replicate the query's per-CELL-pair micro snap
        cu, cv = Counter(u), Counter(v)
        return sum(
            wu * wv * math.floor(1e6 * math.exp(-((x - y) ** 2) / two_s2) + 0.5)
            for x, wu in cu.items()
            for y, wv in cv.items()
        )

    kaa = ksum(a, a) / (len(a) * len(a))
    kbb = ksum(b, b) / (len(b) * len(b))
    kab = ksum(a, b) / (len(a) * len(b))
    out = q_mmd_rbf_2samp(spark, SF).collect()[0]
    assert out.n_a == len(a) and out.n_b == len(b)
    assert out.kaa_micro == math.floor(kaa + 0.5)
    assert out.kbb_micro == math.floor(kbb + 0.5)
    assert out.kab_micro == math.floor(kab + 0.5)
    assert abs(out.mmd2_micro - math.floor(kaa + kbb - 2 * kab + 0.5)) <= 1
    # V-statistic MMD^2 is non-negative for a PSD kernel (snap noise
    # can only perturb by micro counts)
    assert out.mmd2_micro >= -2


def test_conover_squared_ranks_matches_reference(spark):
    rows = _events(spark)
    a = [r.vm for r in rows if r.event_type == _CSR_A]
    b = [r.vm for r in rows if r.event_type == _CSR_B]
    mu_a = math.floor(sum(a) / len(a) + 0.5)
    mu_b = math.floor(sum(b) / len(b) + 0.5)
    dev = [(1, math.floor(abs(v - mu_a) / 1e4 + 0.5)) for v in a] + [
        (0, math.floor(abs(v - mu_b) / 1e4 + 0.5)) for v in b
    ]
    cells = sorted({d for _, d in dev})
    pooled = [d for _, d in dev]
    t4 = s4 = q16 = 0
    n1 = len(a)
    n2 = len(b)
    for isa, d in dev:
        below = sum(1 for p in pooled if p < d)
        tie = sum(1 for p in pooled if p == d)
        r2 = 2 * below + tie + 1  # doubled midrank
        if isa:
            t4 += r2 * r2
        s4 += r2 * r2
        q16 += r2 ** 4
    nn = n1 + n2
    rbar4 = s4 / nn
    et = n1 * rbar4
    vt = n1 * n2 / (nn * (nn - 1.0)) * (q16 - nn * rbar4 * rbar4)
    z = (t4 - et) / math.sqrt(vt)
    out = q_conover_squared_ranks(spark, SF).collect()[0]
    assert out.n_a == n1 and out.n_b == n2
    assert out.t4 == float(t4)
    assert abs(out.z_milli - math.floor(1e3 * z + 0.5)) <= 1
    assert out.reject_05 == (abs(z) > 1.959964)


def test_hosmer_lemeshow_matches_reference(spark):
    rows = _events(spark)
    vm = np.array([r.vm for r in rows], dtype=float)
    mu = vm.mean()
    sd = vm.std()
    scored = sorted(
        (
            math.floor(1e3 / (1.0 + math.exp(-(v - mu) / sd)) + 0.5),
            int(r.event_type == _HL_EVENT),
        )
        for v, r in zip(vm, rows)
    )
    n = len(scored)
    # replicate the cell-resolution group cut: all obs in one score cell
    # share the group of the cell's LAST observation
    cells = defaultdict(lambda: [0, 0])
    for p, y in scored:
        cells[p][0] += 1
        cells[p][1] += y
    cum = 0
    per_g = defaultdict(lambda: [0, 0, 0])
    for p in sorted(cells):
        c, o = cells[p]
        cum += c
        g = min((cum - 1) * _HL_G // n, _HL_G - 1)
        per_g[g][0] += c
        per_g[g][1] += o
        per_g[g][2] += c * p
    chi2_micro = 0
    for ng, og, e_milli in per_g.values():
        e = e_milli / 1e3
        term = (og - e) ** 2 / (e * (1.0 - e / ng))
        chi2_micro += math.floor(1e6 * term + 0.5)
    out = q_hosmer_lemeshow_gof(spark, SF).collect()[0]
    assert out.n == n
    assert out.n_groups == len(per_g)
    assert abs(out.chi2_milli - math.floor(chi2_micro / 1e3 + 0.5)) <= 1
    assert out.reject_05 == (chi2_micro / 1e6 > 15.507)
