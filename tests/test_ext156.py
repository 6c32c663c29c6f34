"""Wave-156 literature pins: recompute Buishand R/s/√n, SNHT T_max and
its break day, Watson's U², and Blomqvist's β from collected rows with
independent per-observation Python implementations (direct cumulative
loops / sorted-sample formulas, no cell algebra)."""

from __future__ import annotations

import math
from collections import defaultdict

from etl_poor_main_pipeline_spark.registry_ext156 import (
    _DAY_US,
    _U2_95_MICRO,
    q_blomqvist_beta,
    q_buishand_range_test,
    q_snht_homogeneity,
    q_watson_u2_uniformity,
)

SF = "/root/testdata/sf0.001"


def _daily_series(spark):
    """Replicate the query's micro-snapped daily means in Python."""
    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .selectExpr(
            f"unix_micros(ts) div {_DAY_US} as d",
            "cast(floor(value * 1e6 + 0.5) as bigint) as vm",
        )
        .collect()
    )
    acc = defaultdict(lambda: [0, 0])
    for r in rows:
        acc[r.d][0] += r.vm
        acc[r.d][1] += 1
    return [
        math.floor(s / c + 0.5) for d, (s, c) in sorted(acc.items())
    ], sorted(acc)


def test_buishand_matches_direct(spark):
    xs, _ = _daily_series(spark)
    n = len(xs)
    xbar = sum(xs) / n
    s = math.sqrt(sum((x - xbar) ** 2 for x in xs) / n)
    cum = 0.0
    sk = [0.0]
    for x in xs:
        cum += x - xbar
        sk.append(cum)
    r = max(sk) - min(sk)
    out = q_buishand_range_test(spark, SF).collect()[0]
    assert out.n_days == n
    assert abs(out.r_micro / 1e6 - r / 1e6) < 1e-3  # r in value units
    assert abs(out.stat_milli / 1e3 - r / s / math.sqrt(n)) < 2e-3


def test_snht_matches_direct(spark):
    xs, days = _daily_series(spark)
    n = len(xs)
    xbar = sum(xs) / n
    s2 = sum((x - xbar) ** 2 for x in xs) / n
    best_t, best_k = -1.0, None
    dk = 0.0
    for k in range(1, n):
        dk += xs[k - 1] - xbar
        t = dk * dk * n / (k * (n - k) * s2)
        if t > best_t + 1e-12:
            best_t, best_k = t, k
    out = q_snht_homogeneity(spark, SF).collect()[0]
    assert out.n_days == n
    assert out.break_day == days[best_k - 1]
    assert abs(out.t_max_milli / 1e3 - best_t) < 2e-3


def test_watson_u2_matches_direct(spark):
    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .selectExpr(f"(unix_micros(ts) % {_DAY_US}) div 60000000 as mc")
        .collect()
    )
    mcs = sorted(r.mc for r in rows)
    n = len(mcs)
    f0 = [(2 * mc + 1) / 2880.0 for mc in mcs]
    w2 = sum(
        (u - (2 * i - 1) / (2.0 * n)) ** 2 for i, u in enumerate(f0, 1)
    ) + 1.0 / (12 * n)
    zbar = sum(f0) / n
    u2 = w2 - n * (zbar - 0.5) ** 2
    out = q_watson_u2_uniformity(spark, SF).collect()[0]
    assert out.n == n
    assert abs(out.u2_micro / 1e6 - u2) < 1e-3
    assert out.reject_05 == (out.u2_micro > _U2_95_MICRO)


def test_blomqvist_matches_direct(spark):
    rows = (
        spark.read.parquet(f"{SF}/events.parquet")
        .selectExpr(
            "user_id",
            f"unix_micros(ts) div {_DAY_US} as d",
            "cast(floor(value * 1e6 + 0.5) as bigint) as vm",
        )
        .collect()
    )
    acc = defaultdict(lambda: [0, 0])
    for r in rows:
        acc[(r.user_id, r.d)][0] += r.vm
        acc[(r.user_id, r.d)][1] += 1
    pairs = [
        (c, math.floor(s / c + 0.5)) for (s, c) in
        (tuple(v) for v in acc.values())
    ]
    n = len(pairs)

    def lower_median(vals):
        sv = sorted(vals)
        return sv[(len(sv) + 1) // 2 - 1]

    mx = lower_median([p[0] for p in pairs])
    my = lower_median([p[1] for p in pairs])
    n11 = sum(1 for x, y in pairs if x > mx and y > my)
    n00 = sum(1 for x, y in pairs if x < mx and y < my)
    n10 = sum(1 for x, y in pairs if x > mx and y < my)
    n01 = sum(1 for x, y in pairs if x < mx and y > my)
    dropped = n - (n11 + n00 + n10 + n01)
    m = n11 + n00 + n10 + n01
    beta = (n11 + n00 - n10 - n01) / m
    out = q_blomqvist_beta(spark, SF).collect()[0]
    assert out.n_pairs == n
    assert out.n_dropped == dropped
    assert (out.n11, out.n00, out.n10, out.n01) == (n11, n00, n10, n01)
    assert abs(out.beta_micro / 1e6 - beta) < 2e-6
    assert abs(out.z_milli / 1e3 - beta * math.sqrt(m)) < 2e-3
