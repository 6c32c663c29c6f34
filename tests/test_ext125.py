"""Wave 125: storage-layout demos with mechanized plan assertions (the
bucketed join must plan ZERO shuffle exchanges; the partitioned join must
plan a dynamicpruning subquery on the fact scan) plus reference pins for
the distribution-profile members."""

import math
import re
from collections import Counter

from etl_poor_main_pipeline_spark.plans.explain import explain_str
from etl_poor_main_pipeline_spark.registry_ext125 import (
    _DAY_US,
    _PL_FMIN,
    q_bucketed_join_colocate,
    q_engagement_depth_histogram,
    q_partition_pruned_scan,
    q_powerlaw_alpha_mle,
    q_renyi_entropy_profile,
    q_simpson_diversity_lang,
)

SF = "/root/testdata/sf0.001"


def test_bucketed_join_plans_no_exchange(spark):
    """The whole point of bucketBy: the o<->l join must NOT shuffle either
    side (bucket-aligned scans feed the sort-merge join directly)."""
    df = q_bucketed_join_colocate(spark, SF)
    plan = explain_str(df)
    join_seen = "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert join_seen, f"expected a non-broadcast join:\n{plan[:2000]}"
    # exchanges are allowed ABOVE the join (the final groupBy aggregate),
    # but not BELOW it: cut the plan at the join operator and assert the
    # subtree below carries no Exchange
    lines = plan.splitlines()
    join_at = next(
        i for i, ln in enumerate(lines)
        if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln
    )
    below = "\n".join(lines[join_at:])
    # the formatted plan lists operators top-down; the join's inputs are
    # below it in the tree section
    tree_below = below.split("(1) ")[0]
    assert "Exchange" not in tree_below, (
        f"bucketed join still shuffles an input:\n{tree_below[:2000]}"
    )


def test_partition_pruned_scan_plans_dpp(spark):
    df = q_partition_pruned_scan(spark, SF)
    plan = explain_str(df)
    assert re.search(r"dynamicpruning", plan, re.I), (
        f"no dynamic partition pruning subquery in plan:\n{plan[:2000]}"
    )


def _tokens(spark, with_lang=False):
    from etl_poor_main_pipeline_spark.registry import _t

    rows = _t(spark, SF, "documents").select("lang", "text").collect()
    out = []
    for r in rows:
        for t in r.text.lower().split():
            if t:
                out.append((r.lang, t) if with_lang else t)
    return out


def test_simpson_diversity_matches_reference(spark):
    toks = _tokens(spark, with_lang=True)
    by_lang: dict[str, Counter] = {}
    for lang, t in toks:
        by_lang.setdefault(lang, Counter())[t] += 1
    out = {r.lang: r for r in q_simpson_diversity_lang(spark, SF).collect()}
    assert sorted(out) == sorted(by_lang)
    for lang, cnt in by_lang.items():
        n = sum(cnt.values())
        sc2 = sum(c * c for c in cnt.values())
        r = out[lang]
        assert r.n_tokens == n and r.n_types == len(cnt)
        assert r.inv_simpson_micro == math.floor(1e6 * n * n / sc2 + 0.5)


def test_renyi_profile_matches_reference(spark):
    cnt = Counter(_tokens(spark))
    n, v = sum(cnt.values()), len(cnt)
    sc2 = sum(c * c for c in cnt.values())
    cmax = max(cnt.values())
    slc = sum(c * math.floor(1e6 * math.log(c) + 0.5) for c in cnt.values())
    h0 = math.log(v)
    h1 = math.log(n) - slc / (n * 1e6)
    h2 = -math.log(sc2 / (n * n))
    hinf = -math.log(cmax / n)

    r = q_renyi_entropy_profile(spark, SF).collect()[0]
    assert r.n_tokens == n and r.n_types == v
    assert abs(r.h0_micro - math.floor(1e6 * h0 + 0.5)) <= 1
    assert abs(r.h1_micro - math.floor(1e6 * h1 + 0.5)) <= 1
    assert abs(r.h2_micro - math.floor(1e6 * h2 + 0.5)) <= 1
    assert abs(r.hinf_micro - math.floor(1e6 * hinf + 0.5)) <= 1
    # the profile must be monotone nonincreasing in the order
    assert r.h0_micro >= r.h1_micro >= r.h2_micro >= r.hinf_micro


def test_engagement_histogram_matches_reference(spark):
    from etl_poor_main_pipeline_spark.registry import _t

    rows = (
        _t(spark, SF, "events")
        .selectExpr("user_id", f"unix_micros(ts) div {_DAY_US} as d")
        .collect()
    )
    days = {}
    for r in rows:
        days.setdefault(r.user_id, set()).add(r.d)
    depth = Counter(len(v) for v in days.values())
    nu = len(days)

    out = {r.days_active: r for r in q_engagement_depth_histogram(spark, SF).collect()}
    assert sorted(out) == sorted(depth)
    for k, c in depth.items():
        assert out[k].n_users == c
        assert out[k].pct_users_micro == math.floor(1e6 * c / nu + 0.5)


def test_powerlaw_mle_matches_reference(spark):
    cnt = Counter(_tokens(spark))
    tail = [c for c in cnt.values() if c >= _PL_FMIN]
    n = len(tail)
    sl = sum(
        math.floor(1e6 * math.log(c / (_PL_FMIN - 0.5)) + 0.5) for c in tail
    )
    alpha = 1.0 + n / (sl / 1e6)
    se = (alpha - 1.0) / math.sqrt(n)

    r = q_powerlaw_alpha_mle(spark, SF).collect()[0]
    assert r.n_tail_types == n and r.fmin == _PL_FMIN
    assert abs(r.alpha_milli - math.floor(1e3 * alpha + 0.5)) <= 1
    assert abs(r.se_milli - math.floor(1e3 * se + 0.5)) <= 1
