"""Wave 132: richness / overlap estimators pinned against direct Python
implementations of the literature formulas (Chao 1987; Burnham & Overton
1978; Chao & Lee 1992 ACE with the EstimateS Chao1 fallback; Bray &
Curtis 1957; Horn 1966; Hill 1973)."""

import math
from collections import Counter, defaultdict


from etl_poor_main_pipeline_spark.registry_ext132 import (
    _ACE_RARE,
    q_ace_richness,
    q_bray_curtis_sources,
    q_chao2_richness,
    q_hill_numbers_profile,
    q_jackknife_richness,
    q_morisita_horn_overlap,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    from etl_poor_main_pipeline_spark.registry import _t

    return _t(spark, SF, "documents").select("source", "text").collect()


def _src_tok(docs):
    c = Counter()
    for r in docs:
        for t in r.text.split():
            c[(r.source, t)] += 1
    return c


def test_chao2_and_jackknife_match_reference(spark):
    docs = _docs(spark)
    st = _src_tok(docs)
    inc = Counter()
    for (s, t), _ in st.items():
        inc[t] += 1
    m = len({r.source for r in docs})
    s_obs = len(inc)
    q1 = sum(1 for v in inc.values() if v == 1)
    q2 = sum(1 for v in inc.values() if v == 2)
    chao2 = s_obs + (m - 1) / m * q1 * (q1 - 1) / (2 * (q2 + 1))
    j1 = s_obs + q1 * (m - 1) / m
    j2 = s_obs + q1 * (2 * m - 3) / m - q2 * (m - 2) ** 2 / (m * (m - 1))

    o = q_chao2_richness(spark, SF).collect()[0]
    assert (o.m_samples, o.s_obs, o.q1, o.q2) == (m, s_obs, q1, q2)
    assert o.chao2_milli == math.floor(1e3 * chao2 + 0.5)
    assert o.chao2_milli >= s_obs * 1000  # estimator never below observed

    o = q_jackknife_richness(spark, SF).collect()[0]
    assert (o.m_samples, o.s_obs, o.q1, o.q2) == (m, s_obs, q1, q2)
    assert abs(o.jack1_milli - math.floor(1e3 * j1 + 0.5)) <= 1
    assert abs(o.jack2_milli - math.floor(1e3 * j2 + 0.5)) <= 1
    assert o.jack1_milli >= s_obs * 1000


def test_ace_matches_reference(spark):
    docs = _docs(spark)
    ab = Counter()
    for r in docs:
        ab.update(r.text.split())
    s_abund = sum(1 for v in ab.values() if v > _ACE_RARE)
    rare = [v for v in ab.values() if v <= _ACE_RARE]
    s_rare = len(rare)
    f1 = sum(1 for v in rare if v == 1)
    f2 = sum(1 for v in rare if v == 2)
    n_rare = sum(rare)
    sii = sum(v * (v - 1) for v in rare)
    if f1 == n_rare:  # EstimateS fallback: all rare are singletons
        est = s_abund + s_rare + f1 * (f1 - 1) / (2.0 * (f2 + 1))
    else:
        c = 1.0 - f1 / n_rare
        g2 = max(s_rare * sii / (c * n_rare * (n_rare - 1)) - 1.0, 0.0)
        est = s_abund + s_rare / c + f1 * g2 / c
    o = q_ace_richness(spark, SF).collect()[0]
    assert (o.s_abund, o.s_rare, o.f1, o.n_rare) == (
        s_abund,
        s_rare,
        f1,
        n_rare,
    )
    assert abs(o.ace_milli - math.floor(1e3 * est + 0.5)) <= 1


def test_bray_curtis_and_morisita_match_reference(spark):
    docs = _docs(spark)
    st = _src_tok(docs)
    per = defaultdict(Counter)
    for (s, t), c in st.items():
        per[s][t] = c
    srcs = sorted(per)
    bc_out = {
        (r.s1, r.s2): r for r in q_bray_curtis_sources(spark, SF).collect()
    }
    mh_out = {
        (r.s1, r.s2): r for r in q_morisita_horn_overlap(spark, SF).collect()
    }
    n_pairs = len(srcs) * (len(srcs) - 1) // 2
    assert len(bc_out) == n_pairs and len(mh_out) == n_pairs
    for i, s1 in enumerate(srcs):
        for s2 in srcs[i + 1:]:
            c1, c2 = per[s1], per[s2]
            n1, n2 = sum(c1.values()), sum(c2.values())
            shared = sum(min(c1[t], c2[t]) for t in c1 if t in c2)
            bc = 1.0 - 2.0 * shared / (n1 + n2)
            r = bc_out[(s1, s2)]
            assert (r.n1, r.n2, r.shared_min) == (n1, n2, shared)
            assert r.bc_milli == math.floor(1e3 * bc + 0.5)
            cross = sum(c1[t] * c2[t] for t in c1 if t in c2)
            d1 = sum(v * v for v in c1.values()) / (n1 * n1)
            d2 = sum(v * v for v in c2.values()) / (n2 * n2)
            mh = 2.0 * cross / ((d1 + d2) * n1 * n2)
            rm = mh_out[(s1, s2)]
            assert rm.cross_sum == float(cross)
            assert abs(rm.mh_milli - math.floor(1e3 * mh + 0.5)) <= 1
            assert 0 <= rm.mh_milli <= 1001  # MH in [0, 1]


def test_hill_profile_matches_reference(spark):
    docs = _docs(spark)
    ab = Counter()
    for r in docs:
        ab.update(r.text.split())
    n = sum(ab.values())
    # replicate the per-abundance-cell snapped-ln convention
    foc = Counter(ab.values())
    sh_sum = sum(
        a * f * math.floor(1e6 * math.log(a / n) + 0.5)
        for a, f in foc.items()
    )
    sh = -sh_sum / (n * 1e6)
    h0 = len(ab)
    h1 = math.exp(sh)
    h2 = n * n / sum(v * v for v in ab.values())
    pielou = sh / math.log(h0)
    o = q_hill_numbers_profile(spark, SF).collect()[0]
    assert o.n_tokens == n and o.hill0 == h0
    assert abs(o.hill1_milli - math.floor(1e3 * h1 + 0.5)) <= 1
    assert abs(o.hill2_milli - math.floor(1e3 * h2 + 0.5)) <= 1
    assert abs(o.pielou_milli - math.floor(1e3 * pielou + 0.5)) <= 1
    # Hill ordering: q=0 >= q=1 >= q=2 for any distribution
    assert o.hill0 * 1000 >= o.hill1_milli >= o.hill2_milli
