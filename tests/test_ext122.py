"""Wave 122: paired/rank nonparametrics pinned against direct numpy
implementations of the literature formulas (not just cross-engine
parity) — in particular the Ansari-Bradley closed-form run blocks are
checked against brute-force per-rank score enumeration."""

import math

import numpy as np

from etl_poor_main_pipeline_spark.registry_ext122 import (
    _AB_A,
    _AB_B,
    _DAY_US,
    _HOUR_US,
    _HL_A_MOD,
    q_ansari_bradley_test,
    q_hodges_lehmann_shift,
    q_jonckheere_terpstra_trend,
    q_sign_test_paired,
    q_wilcoxon_signed_rank,
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
            "value",
            "cast(floor(value * 1e6 + 0.5) as bigint) as vm",
        )
        .collect()
    )


def _paired_dc(rows):
    """Replicate the (user, day, half) -> d_centi frame definition."""
    halves: dict[tuple, list] = {}
    for r in rows:
        d = r.us // _DAY_US
        pm = 1 if (r.us % _DAY_US) // _HOUR_US >= 12 else 0
        halves.setdefault((r.user_id, d, pm), []).append(r.vm)
    means = {k: math.floor(sum(v) / len(v) + 0.5) for k, v in halves.items()}
    dcs = []
    for (u, d, pm), m in means.items():
        if pm == 1 and (u, d, 0) in means:
            dcs.append(math.floor((m - means[(u, d, 0)]) / 1e4 + 0.5))
    return np.array(sorted(dcs), dtype=np.int64)


def _midranks(a: np.ndarray) -> np.ndarray:
    """Tie-aware midranks of a 1-D array (average rank per tie run)."""
    order = np.argsort(a, kind="stable")
    ranks = np.empty(len(a), dtype=np.float64)
    i = 0
    s = a[order]
    while i < len(s):
        j = i
        while j < len(s) and s[j] == s[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0
        i = j
    return ranks


def test_wilcoxon_matches_reference(spark):
    rows = _events(spark)
    dc = _paired_dc(rows)
    nz = dc[dc != 0]
    a = np.abs(nz)
    r = _midranks(a)
    w_plus = r[nz > 0].sum()
    n = len(nz)
    _, counts = np.unique(a, return_counts=True)
    tie3 = float((counts.astype(np.int64) * (counts - 1) * (counts + 1)).sum())
    var = n * (n + 1) * (2 * n + 1) / 24.0 - tie3 / 48.0
    z = (w_plus - n * (n + 1) / 4.0) / math.sqrt(var)

    out = q_wilcoxon_signed_rank(spark, SF).collect()[0]
    assert out.n_pairs == len(dc)
    assert out.n_nonzero == n
    assert out.w_plus_x2 == round(2 * w_plus)
    assert abs(out.z_milli - math.floor(1e3 * z + 0.5)) <= 1


def test_sign_test_matches_reference(spark):
    rows = _events(spark)
    dc = _paired_dc(rows)
    sp, sm = int((dc > 0).sum()), int((dc < 0).sum())
    z = (2.0 * sp - (sp + sm)) / math.sqrt(sp + sm)

    out = q_sign_test_paired(spark, SF).collect()[0]
    assert out.n_pairs == len(dc)
    assert out.s_plus == sp and out.s_minus == sm
    assert out.z_milli == math.floor(1e3 * z + 0.5)


def test_hodges_lehmann_matches_reference(spark):
    rows = _events(spark)
    # snap from the RAW double exactly as the query does (Python float ==
    # IEEE double, so math.floor(value*10.0+0.5) matches both engines)
    va = np.array(
        [math.floor(r.value * 10.0 + 0.5) for r in rows if r.user_id % 2 == _HL_A_MOD],
        dtype=np.int64,
    )
    vb = np.array(
        [math.floor(r.value * 10.0 + 0.5) for r in rows if r.user_id % 2 != _HL_A_MOD],
        dtype=np.int64,
    )
    diffs = np.sort((va[:, None] - vb[None, :]).ravel())
    t = len(diffs)
    hl = int(diffs[math.ceil(t / 2) - 1])  # lower median, rank ceil(T/2)

    out = q_hodges_lehmann_shift(spark, SF).collect()[0]
    assert out.n_a == len(va) and out.n_b == len(vb)
    assert out.n_diff_pairs == t
    assert out.hl_shift_deci == hl


def test_ansari_bradley_matches_bruteforce(spark):
    """Brute-force per-rank AB scores (no closed forms) — this is the
    independent check that the run-block algebra in the query is right."""
    rows = _events(spark)
    va = np.sort(
        np.array(
            [math.floor(r.value * 100.0 + 0.5) for r in rows if r.event_type == _AB_A],
            dtype=np.int64,
        )
    )
    vb = np.sort(
        np.array(
            [math.floor(r.value * 100.0 + 0.5) for r in rows if r.event_type == _AB_B],
            dtype=np.int64,
        )
    )
    pooled = np.sort(np.concatenate([va, vb]))
    nn = len(pooled)
    k = nn + 1
    scores = np.minimum(np.arange(1, nn + 1), k - np.arange(1, nn + 1)).astype(
        np.float64
    )
    # midrank-average score per tie run, then per-cell micro-snap exactly
    # as the query stages it
    w_micro = 0
    suma = scores.sum()
    sumaa = (scores**2).sum()
    i = 0
    while i < nn:
        j = i
        while j < nn and pooled[j] == pooled[i]:
            j += 1
        # per-member midrank-average score = s2 / (2l) with s2 the exact
        # integer sum of DOUBLED scores over the run — the same staging
        # (and float evaluation order) as the query's w_micro term
        s2_run = int(round(2.0 * scores[i:j].sum()))
        ca = int((va == pooled[i]).sum())
        l = j - i
        w_micro += math.floor(1e6 * ca * s2_run / (2.0 * l) + 0.5)
        i = j
    m, n2 = len(va), len(vb)
    e_w = m * suma / nn
    var_w = m * n2 * (nn * sumaa - suma**2) / (nn**2 * (nn - 1.0))
    z = (w_micro / 1e6 - e_w) / math.sqrt(var_w)

    out = q_ansari_bradley_test(spark, SF).collect()[0]
    assert out.n_a == m and out.n_b == n2
    assert out.w_micro == w_micro
    assert abs(out.z_milli - math.floor(1e3 * z + 0.5)) <= 1


def test_jonckheere_terpstra_matches_bruteforce(spark):
    rows = _events(spark)
    groups = [[], [], []]
    for r in rows:
        g = (r.us % _DAY_US) // (8 * _HOUR_US)
        groups[g].append(math.floor(r.value * 100.0 + 0.5))
    arrs = [np.array(g, dtype=np.int64) for g in groups]
    jt2 = 0
    for i in range(3):
        for j in range(i + 1, 3):
            lt = (arrs[i][:, None] < arrs[j][None, :]).sum()
            eq = (arrs[i][:, None] == arrs[j][None, :]).sum()
            jt2 += 2 * int(lt) + int(eq)
    n0, n1, n2 = (len(a) for a in arrs)
    nn = n0 + n1 + n2
    pooled = np.concatenate(arrs)
    _, t = np.unique(pooled, return_counts=True)
    t = t.astype(np.float64)
    ni = np.array([n0, n1, n2], dtype=np.float64)
    var = (
        (nn * (nn - 1) * (2 * nn + 5)
         - (ni * (ni - 1) * (2 * ni + 5)).sum()
         - (t * (t - 1) * (2 * t + 5)).sum()) / 72.0
        + ((ni * (ni - 1) * (ni - 2)).sum() * (t * (t - 1) * (t - 2)).sum())
        / (36.0 * nn * (nn - 1) * (nn - 2))
        + ((ni * (ni - 1)).sum() * (t * (t - 1)).sum())
        / (8.0 * nn * (nn - 1))
    )
    e_jt = (nn * nn - (ni**2).sum()) / 4.0
    z = (jt2 / 2.0 - e_jt) / math.sqrt(var)

    out = q_jonckheere_terpstra_trend(spark, SF).collect()[0]
    assert out.n == nn
    assert out.jt_x2 == jt2
    assert abs(out.z_milli - math.floor(1e3 * z + 0.5)) <= 1
