"""Wave 128: inequality / concentration indices pinned against direct
numpy implementations of the literature formulas (Hoover; Shorrocks GE
family; Lorenz ordinates; WID top shares; Duncan & Duncan 1955 D)."""

import math
from collections import Counter, defaultdict

import numpy as np

from etl_poor_main_pipeline_spark.registry_ext128 import (
    _CELL_MICRO,
    _DUNCAN_LANG,
    _TOP_PCTS,
    q_duncan_segregation_index,
    q_ge_entropy_profile,
    q_hoover_index,
    q_lorenz_curve_deciles,
    q_top_share_percentiles,
)

SF = "/root/testdata/sf0.001"


def _user_totals(spark):
    from etl_poor_main_pipeline_spark.registry import _t

    rows = (
        _t(spark, SF, "events")
        .selectExpr(
            "user_id", "cast(floor(value * 1e6 + 0.5) as bigint) as vm"
        )
        .collect()
    )
    tot = defaultdict(int)
    for r in rows:
        tot[r.user_id] += r.vm
    return np.array(sorted(tot.values()), dtype=np.int64)


def test_hoover_matches_reference(spark):
    x = _user_totals(spark)
    n, s = len(x), int(x.sum())
    # H = sum|x_i - mu| / (2S), exact-integer numerator form
    num = sum(abs(n * int(v) - s) for v in x)
    hoover = num / (2.0 * n * s)
    out = q_hoover_index(spark, SF).collect()[0]
    assert out.n_users == n and out.sum_micro == s
    assert out.hoover_micro == math.floor(1e6 * hoover + 0.5)
    assert 0 <= out.hoover_micro <= 1_000_000


def test_ge_profile_matches_reference(spark):
    x = _user_totals(spark).astype(float) / 1e6  # value units
    n = len(x)
    mu = x.mean()
    ge0 = math.log(mu) - np.log(x).mean()  # mean log deviation
    ge1 = float((x * np.log(x)).sum() / x.sum() - math.log(mu))  # Theil T
    ge2 = float((n * (x * x).sum() / x.sum() ** 2 - 1.0) / 2.0)  # half CV^2
    out = q_ge_entropy_profile(spark, SF).collect()[0]
    assert out.n_users == n
    # per-user ln is micro-snapped in the query; averaging keeps the
    # error under 1 micro
    assert abs(out.ge0_micro - math.floor(1e6 * ge0 + 0.5)) <= 2
    assert abs(out.ge1_micro - math.floor(1e6 * ge1 + 0.5)) <= 2
    assert abs(out.ge2_micro - math.floor(1e6 * ge2 + 0.5)) <= 2
    # the GE family is non-negative on any non-degenerate distribution
    assert out.ge0_micro > 0 and out.ge1_micro > 0 and out.ge2_micro > 0


def _cells(x):
    c = Counter(int(math.floor(int(v) / _CELL_MICRO + 0.5)) for v in x)
    sv = defaultdict(int)
    for v in x:
        sv[int(math.floor(int(v) / _CELL_MICRO + 0.5))] += int(v)
    return c, sv


def test_lorenz_deciles_match_walk(spark):
    x = _user_totals(spark)
    c, sv = _cells(x)
    n, s = len(x), int(x.sum())
    out = {r.decile: r for r in q_lorenz_curve_deciles(spark, SF).collect()}
    assert sorted(out) == list(range(1, 10))
    cn = cs = 0
    hits = {}
    for tc in sorted(c):
        cn += c[tc]
        cs += sv[tc]
        for d in range(1, 10):
            if d not in hits and cn >= -((-d * n) // 10):
                hits[d] = (tc, cn, cs)
    prev_share = -1
    for d in range(1, 10):
        tc, cn_d, cs_d = hits[d]
        r = out[d]
        assert r.cut_cell == tc
        assert r.cum_users == cn_d
        assert r.cum_share_micro == math.floor(1e6 * cs_d / s + 0.5)
        # Lorenz curve is non-decreasing and below the diagonal at cell
        # resolution (poorest d/10 hold at most ~d/10 of value)
        assert r.cum_share_micro >= prev_share
        prev_share = r.cum_share_micro
        assert r.cum_share_micro <= (d * 1_000_000) // 10 + 100_000


def test_top_shares_match_walk(spark):
    x = _user_totals(spark)
    c, sv = _cells(x)
    n, s = len(x), int(x.sum())
    out = {r.pct: r for r in q_top_share_percentiles(spark, SF).collect()}
    assert sorted(out) == sorted(_TOP_PCTS)
    cn = cs = 0
    hits = {}
    for tc in sorted(c, reverse=True):
        cn += c[tc]
        cs += sv[tc]
        for p in _TOP_PCTS:
            k = -((-p * n) // 100)
            if cn >= k:
                # max_by(cs, tc): the LAST (largest-tc) qualifying cell
                # wins min tc... the query takes max_by over qualifying
                # rows, i.e. the FIRST cell in the descending walk that
                # qualifies
                hits.setdefault(p, (tc, cn, cs, k))
    for p in _TOP_PCTS:
        tc, cn_p, cs_p, k = hits[p]
        r = out[p]
        assert r.k_users == k
        assert r.cum_users == cn_p
        assert r.share_micro == math.floor(1e6 * cs_p / s + 0.5)
    # concentration: top 25% hold at least 25% of value
    assert out[25].share_micro >= 250_000
    # shares nest: top 1% <= top 5% <= top 10% <= top 25%
    assert (
        out[1].share_micro
        <= out[5].share_micro
        <= out[10].share_micro
        <= out[25].share_micro
    )


def test_duncan_matches_reference(spark):
    from etl_poor_main_pipeline_spark.registry import _t

    rows = _t(spark, SF, "documents").select("source", "lang").collect()
    a = Counter()
    b = Counter()
    srcs = set()
    for r in rows:
        srcs.add(r.source)
        if r.lang == _DUNCAN_LANG:
            a[r.source] += 1
        else:
            b[r.source] += 1
    ta, tb = sum(a.values()), sum(b.values())
    d_idx = sum(abs(a[s] / ta - b[s] / tb) for s in srcs) / 2.0
    out = q_duncan_segregation_index(spark, SF).collect()[0]
    assert out.n_sources == len(srcs)
    assert out.n_a == ta and out.n_b == tb
    assert abs(out.duncan_micro - math.floor(1e6 * d_idx + 0.5)) <= 1
    assert 0 <= out.duncan_micro <= 1_000_000
