"""Wave 130: survival completers pinned against direct Python
implementations of the literature estimators (Kaplan-Meier integral for
RMST; Cox 1972 partial-likelihood Newton with Breslow ties; Aalen-
Johansen 1978 CIF; Schoenfeld 1982 residual trend)."""

import math

import numpy as np

from etl_poor_main_pipeline_spark.registry_ext130 import (
    _CIF_EVENT2,
    _CIF_TAUS,
    _COX_ITERS,
    _DAY_US,
    _EVENT,
    _RMST_TAU,
    q_aalen_johansen_cif,
    q_cox_ph_newton_1cov,
    q_rmst_survival,
    q_schoenfeld_ph_check,
)

SF = "/root/testdata/sf0.001"


def _events(spark):
    from etl_poor_main_pipeline_spark.registry import _t

    return (
        _t(spark, SF, "events")
        .selectExpr("user_id", "unix_micros(ts) as us", "event_type")
        .collect()
    )


def _tte(rows):
    """(g1, duration, event) per user — the log_rank framing."""
    per = {}
    for r in rows:
        d = r.us // _DAY_US
        p = d if r.event_type == _EVENT else None
        if r.user_id not in per:
            per[r.user_id] = [d, p, d]
        else:
            q = per[r.user_id]
            q[0] = min(q[0], d)
            q[2] = max(q[2], d)
            if p is not None:
                q[1] = p if q[1] is None else min(q[1], p)
    return [
        (
            int(u % 2 == 0),
            (q[1] - q[0]) if q[1] is not None else (q[2] - q[0]),
            int(q[1] is not None),
        )
        for u, q in per.items()
    ]


def _risk_cells(subj):
    """Per distinct duration day: (d1, dt, n1, nt)."""
    times = sorted({t for _, t, _ in subj})
    cells = []
    for t in times:
        nt = sum(1 for _, tt, _ in subj if tt >= t)
        n1 = sum(g for g, tt, _ in subj if tt >= t)
        dt = sum(e for _, tt, e in subj if tt == t)
        d1 = sum(e * g for g, tt, e in subj if tt == t)
        cells.append((t, d1, dt, n1, nt))
    return cells


def test_rmst_matches_km_integral(spark):
    subj = _tte(_events(spark))
    out = {r.g1: r for r in q_rmst_survival(spark, SF).collect()}
    assert sorted(out) == [0, 1]
    for g in (0, 1):
        gs = [(t, e) for gg, t, e in subj if gg == g]
        times = sorted({t for t, _ in gs})
        # float KM via the query's snapped-ln convention
        lns = 0
        s_prev = 1.0
        rmst = 0.0
        km_tau = 1.0
        prev_t = None
        for t in times:
            nt = sum(1 for tt, _ in gs if tt >= t)
            dt = sum(e for tt, e in gs if tt == t)
            if prev_t is None:
                rmst += min(t, _RMST_TAU) * 1.0  # head at S=1
            if dt == 0:
                ln_t = 0
            elif dt >= nt:
                ln_t = -(10**12)
            else:
                ln_t = math.floor(1e6 * math.log(1.0 - dt / nt) + 0.5)
            lns += ln_t
            sm = math.floor(1e6 * math.exp(lns / 1e6) + 0.5)
            nxt = None
            for t2 in times:
                if t2 > t:
                    nxt = t2
                    break
            width = max(
                min(nxt if nxt is not None else _RMST_TAU, _RMST_TAU)
                - min(t, _RMST_TAU),
                0,
            )
            rmst += width * sm / 1e6
            if t <= _RMST_TAU:
                km_tau = min(km_tau, sm / 1e6)
            prev_t = t
        r = out[g]
        assert r.n_users == len(gs)
        assert r.events == sum(e for _, e in gs)
        assert r.km_tau_micro == math.floor(1e6 * km_tau + 0.5)
        assert abs(r.rmst_micro - math.floor(1e6 * rmst + 0.5)) <= 2
        # RMST is bounded by the horizon and by tau * 1 (S <= 1)
        assert 0 < r.rmst_micro <= _RMST_TAU * 1_000_000


def test_cox_newton_matches_partial_likelihood(spark):
    subj = _tte(_events(spark))
    cells = [
        (d1, dt, n1, nt - n1)
        for _, d1, dt, n1, nt in _risk_cells(subj)
        if dt > 0 and nt > 1
    ]
    b = 0.0
    for _ in range(_COX_ITERS):
        eb = math.floor(1e6 * math.exp(b) + 0.5) / 1e6
        u = ii = 0
        for d1, dt, n1, n0 in cells:
            p = n1 * eb / (n0 + n1 * eb)
            u += math.floor(1e6 * (d1 - dt * p) + 0.5)
            ii += math.floor(1e6 * dt * p * (1.0 - p) + 0.5)
        b = math.floor(1e6 * (b + u / ii) + 0.5) / 1e6
    eb = math.floor(1e6 * math.exp(b) + 0.5) / 1e6
    info = sum(
        math.floor(
            1e6
            * dt
            * (n1 * eb / (n0 + n1 * eb))
            * (1.0 - n1 * eb / (n0 + n1 * eb))
            + 0.5
        )
        for d1, dt, n1, n0 in cells
    )
    se = 1.0 / math.sqrt(info / 1e6)

    out = q_cox_ph_newton_1cov(spark, SF).collect()[0]
    assert out.n_users == len(subj)
    assert out.events == sum(e for _, _, e in subj)
    assert out.beta_micro == math.floor(1e6 * b + 0.5)
    assert out.hr_micro == math.floor(1e6 * math.exp(b) + 0.5)
    assert abs(out.se_milli - math.floor(1e3 * se + 0.5)) <= 1
    assert abs(out.z_milli - math.floor(1e3 * b / se + 0.5)) <= 1


def test_aalen_johansen_matches_reference(spark):
    rows = _events(spark)
    per = {}
    for r in rows:
        d = r.us // _DAY_US
        if r.user_id not in per:
            per[r.user_id] = [d, None, None, d]
        p = per[r.user_id]
        p[0] = min(p[0], d)
        p[3] = max(p[3], d)
        if r.event_type == _EVENT:
            p[1] = d if p[1] is None else min(p[1], d)
        if r.event_type == _CIF_EVENT2:
            p[2] = d if p[2] is None else min(p[2], d)
    subj = []
    for d0, dp1, dp2, dl in per.values():
        if dp1 is not None and (dp2 is None or dp1 <= dp2):
            subj.append((1, dp1 - d0))
        elif dp2 is not None:
            subj.append((2, dp2 - d0))
        else:
            subj.append((0, dl - d0))
    times = sorted({t for _, t in subj})
    lns = 0
    cif = {1: {}, 2: {}}
    run = {1: 0, 2: 0}
    for t in times:
        nt = sum(1 for _, tt in subj if tt >= t)
        d1 = sum(1 for c, tt in subj if tt == t and c == 1)
        d2 = sum(1 for c, tt in subj if tt == t and c == 2)
        dt = d1 + d2
        sp = math.floor(1e6 * math.exp(lns / 1e6) + 0.5)  # S(t-)
        run[1] += math.floor(sp * d1 / nt + 0.5)
        run[2] += math.floor(sp * d2 / nt + 0.5)
        cif[1][t] = run[1]
        cif[2][t] = run[2]
        if dt >= nt:
            lns += -(10**12)
        elif dt > 0:
            lns += math.floor(1e6 * math.log(1.0 - dt / nt) + 0.5)
    out = {r.tau: r for r in q_aalen_johansen_cif(spark, SF).collect()}
    assert sorted(out) == sorted(_CIF_TAUS)
    for tau in _CIF_TAUS:
        c1 = max([v for t, v in cif[1].items() if t <= tau], default=0)
        c2 = max([v for t, v in cif[2].items() if t <= tau], default=0)
        r = out[tau]
        assert r.n_users == len(subj)
        assert getattr(r, f"cif_{_EVENT}_micro") == c1
        assert getattr(r, f"cif_{_CIF_EVENT2}_micro") == c2
        # CIFs are sub-distribution functions: monotone, sum <= 1
        assert c1 + c2 <= 1_000_000 + 2
    # monotone in tau
    taus = sorted(_CIF_TAUS)
    for a, b in zip(taus, taus[1:]):
        assert getattr(out[a], f"cif_{_EVENT}_micro") <= getattr(
            out[b], f"cif_{_EVENT}_micro"
        )


def test_schoenfeld_trend_matches_reference(spark):
    subj = _tte(_events(spark))
    pts = [
        (t, math.floor(1e6 * (d1 / dt - n1 / nt) + 0.5))
        for t, d1, dt, n1, nt in _risk_cells(subj)
        if dt > 0 and nt > 1
    ]
    t = np.array([p[0] for p in pts], dtype=float)
    m = np.array([p[1] for p in pts], dtype=float)
    n = len(pts)
    r = float(
        (n * (t * m).sum() - t.sum() * m.sum())
        / (
            math.sqrt(n * (t * t).sum() - t.sum() ** 2)
            * math.sqrt(n * (m * m).sum() - m.sum() ** 2)
        )
    )
    z = r * math.sqrt(n - 3.0)
    out = q_schoenfeld_ph_check(spark, SF).collect()[0]
    assert out.n_days == n
    assert abs(out.corr_milli - math.floor(1e3 * r + 0.5)) <= 1
    assert abs(out.z_milli - math.floor(1e3 * z + 0.5)) <= 1
    assert out.reject_05 == (abs(z) > 1.959964)
