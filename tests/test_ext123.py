"""Wave 123: categorical-association family pinned against direct
Python/numpy implementations of the literature formulas."""

import math

import numpy as np

from etl_poor_main_pipeline_spark.registry_ext123 import (
    _CASE_TYPE,
    _DAY_US,
    _HOUR_US,
    q_bowker_symmetry,
    q_cochran_armitage_trend,
    q_goodman_kruskal_gamma,
    q_mantel_haenszel_or,
    q_odds_ratio_woolf,
    q_theils_u_uncertainty,
)

SF = "/root/testdata/sf0.001"


def _events(spark):
    from etl_poor_main_pipeline_spark.registry import _t

    return (
        _t(spark, SF, "events")
        .selectExpr("user_id", "unix_micros(ts) as us", "event_type")
        .collect()
    )


def test_odds_ratio_woolf_matches_reference(spark):
    rows = _events(spark)
    a = sum(1 for r in rows if r.user_id % 2 == 0 and r.event_type == _CASE_TYPE)
    b = sum(1 for r in rows if r.user_id % 2 == 0 and r.event_type != _CASE_TYPE)
    c = sum(1 for r in rows if r.user_id % 2 != 0 and r.event_type == _CASE_TYPE)
    d = sum(1 for r in rows if r.user_id % 2 != 0 and r.event_type != _CASE_TYPE)
    orr = a * d / (b * c)
    se = math.sqrt(1 / a + 1 / b + 1 / c + 1 / d)

    out = q_odds_ratio_woolf(spark, SF).collect()[0]
    assert (out.a, out.b, out.c, out.d) == (a, b, c, d)
    assert out.or_micro == math.floor(1e6 * orr + 0.5)
    assert abs(out.lnor_micro - math.floor(1e6 * math.log(orr) + 0.5)) <= 1
    assert abs(out.ci_lo_micro - math.floor(1e6 * (math.log(orr) - 1.96 * se) + 0.5)) <= 1
    assert abs(out.ci_hi_micro - math.floor(1e6 * (math.log(orr) + 1.96 * se) + 0.5)) <= 1


def test_mantel_haenszel_matches_reference(spark):
    rows = _events(spark)
    strata: dict[int, list] = {}
    for r in rows:
        strata.setdefault(r.us // _DAY_US, []).append(r)
    snum = sden = sa = se_ = sv = 0
    for day, rs in strata.items():
        a = sum(1 for r in rs if r.user_id % 2 == 0 and r.event_type == _CASE_TYPE)
        b = sum(1 for r in rs if r.user_id % 2 == 0 and r.event_type != _CASE_TYPE)
        c = sum(1 for r in rs if r.user_id % 2 != 0 and r.event_type == _CASE_TYPE)
        d = sum(1 for r in rs if r.user_id % 2 != 0 and r.event_type != _CASE_TYPE)
        n = a + b + c + d
        snum += math.floor(1e6 * a * d / n + 0.5)
        sden += math.floor(1e6 * b * c / n + 0.5)
        sa += a
        se_ += math.floor(1e6 * (a + b) * (a + c) / n + 0.5)
        if n > 1:
            sv += math.floor(
                1e6 * (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1.0))
                + 0.5
            )
    chi2 = (abs(sa - se_ / 1e6) - 0.5) ** 2 / (sv / 1e6)

    out = q_mantel_haenszel_or(spark, SF).collect()[0]
    assert out.n_strata == len(strata)
    assert out.or_mh_micro == math.floor(1e6 * snum / sden + 0.5)
    assert abs(out.chi2_mh_milli - math.floor(1e3 * chi2 + 0.5)) <= 1


def test_cochran_armitage_matches_reference(spark):
    rows = _events(spark)
    s = np.array([(r.us % _DAY_US) // (8 * _HOUR_US) for r in rows], dtype=np.int64)
    cs = np.array([r.event_type == _CASE_TYPE for r in rows], dtype=np.int64)
    n, nc = len(s), int(cs.sum())
    t1 = int((s * cs).sum())
    s1, s2 = int(s.sum()), int((s * s).sum())
    p = nc / n
    z = (t1 - nc * s1 / n) / math.sqrt(p * (1 - p) * (s2 - s1 * s1 / n))

    out = q_cochran_armitage_trend(spark, SF).collect()[0]
    assert out.n == n and out.n_case == nc and out.t1 == t1
    assert abs(out.z_milli - math.floor(1e3 * z + 0.5)) <= 1


def test_goodman_kruskal_gamma_matches_bruteforce(spark):
    rows = _events(spark)
    g = np.array([(r.us % _DAY_US) // (8 * _HOUR_US) for r in rows], dtype=np.int64)
    dw = np.array([((r.us // _DAY_US) + 4) % 7 for r in rows], dtype=np.int64)
    conc = disc = 0
    # brute force over the 21-cell table
    from collections import Counter

    tab = Counter(zip(g.tolist(), dw.tolist()))
    items = list(tab.items())
    for (g1, d1), c1 in items:
        for (g2, d2), c2 in items:
            if (g1 < g2 and d1 < d2) or (g1 > g2 and d1 > d2):
                conc += c1 * c2
            elif (g1 < g2 and d1 > d2) or (g1 > g2 and d1 < d2):
                disc += c1 * c2
    gamma = (conc - disc) / (conc + disc)

    out = q_goodman_kruskal_gamma(spark, SF).collect()[0]
    assert out.n == len(rows)
    assert out.c_pairs == conc // 2 and out.d_pairs == disc // 2
    assert out.gamma_micro == math.floor(1e6 * gamma + 0.5)


def test_theils_u_matches_reference(spark):
    rows = _events(spark)
    from collections import Counter

    joint = Counter((r.event_type, ((r.us // _DAY_US) + 4) % 7) for r in rows)
    n = len(rows)

    def lnmic(x: int) -> int:
        return math.floor(1e6 * math.log(x) + 0.5)

    sj = sum(c * lnmic(c) for c in joint.values())
    rowc = Counter()
    colc = Counter()
    for (t, d), c in joint.items():
        rowc[t] += c
        colc[d] += c
    sr = sum(c * lnmic(c) for c in rowc.values())
    sc = sum(c * lnmic(c) for c in colc.values())
    hr = math.log(n) - sr / (n * 1e6)
    hc = math.log(n) - sc / (n * 1e6)
    hj = math.log(n) - sj / (n * 1e6)
    u = (hr + hc - hj) / hr

    out = q_theils_u_uncertainty(spark, SF).collect()[0]
    assert out.n == n
    assert abs(out.h_type_micro - math.floor(1e6 * hr + 0.5)) <= 1
    assert abs(out.h_wd_micro - math.floor(1e6 * hc + 0.5)) <= 1
    assert abs(out.h_joint_micro - math.floor(1e6 * hj + 0.5)) <= 1
    assert abs(out.u_micro - math.floor(1e6 * u + 0.5)) <= 1


def test_bowker_matches_reference(spark):
    rows = _events(spark)
    from collections import Counter, defaultdict

    counts = Counter(
        (r.user_id, int((r.us // _DAY_US) % 30 >= 15), r.event_type) for r in rows
    )
    per_uh = defaultdict(list)
    for (u, h, t), c in counts.items():
        per_uh[(u, h)].append((-c, t))
    modal = {k: sorted(v)[0][1] for k, v in per_uh.items()}
    pairs = {}
    for (u, h), t in modal.items():
        pairs.setdefault(u, {})[h] = t
    trans = Counter(
        (v[0], v[1]) for v in pairs.values() if 0 in v and 1 in v
    )
    types = sorted({t for k in trans for t in k})
    chi2_milli = 0
    df = 0
    for i_idx, ti in enumerate(types):
        for tj in types[i_idx + 1 :]:
            nij, nji = trans.get((ti, tj), 0), trans.get((tj, ti), 0)
            if nij + nji > 0:
                chi2_milli += math.floor(
                    1e3 * (nij - nji) ** 2 / (nij + nji) + 0.5
                )
                df += 1

    out = q_bowker_symmetry(spark, SF).collect()[0]
    assert out.n_users_paired == sum(1 for v in pairs.values() if 0 in v and 1 in v)
    assert out.chi2_milli == chi2_milli
    assert out.df == df
