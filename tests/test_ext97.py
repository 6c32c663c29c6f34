"""Wave 98: temperature mixing weights, token-budget apportionment,
softmax domain reweighting, WoE/IV binning."""

from etl_poor_main_pipeline_spark.registry_ext97 import (
    _BUDGET_TOKENS,
    _TEMP_ALPHAS_CENTI,
    _WOE_BINS,
    q_domain_softmax_reweight,
    q_temperature_sampling_weights,
    q_token_budget_apportion,
    q_woe_iv_binning,
)

SF = "/root/testdata/sf0.001"


def test_temperature_weights_flatten_as_alpha_drops(spark):
    rows = q_temperature_sampling_weights(spark, SF).collect()
    by_alpha = {}
    for r in rows:
        by_alpha.setdefault(r.alpha_centi, []).append(r)
    assert sorted(by_alpha) == sorted(_TEMP_ALPHAS_CENTI)
    for a, grp in by_alpha.items():
        assert len(grp) == 20  # one row per source
        total = sum(r.weight_micro for r in grp)
        assert abs(total - 1_000_000) <= len(grp)  # rounding slack only
    # lower temperature flattens: the max weight at alpha=0.3 must not
    # exceed the max at alpha=1.0 (up-sampling small sources)
    assert max(r.weight_micro for r in by_alpha[30]) <= max(
        r.weight_micro for r in by_alpha[100]
    )


def test_token_budget_sums_exactly(spark):
    rows = q_token_budget_apportion(spark, SF).collect()
    assert len(rows) == 20
    assert sum(r.quota_tokens for r in rows) == _BUDGET_TOKENS
    # every quota within 1 seat of its exact proportional share
    total = sum(r.n_tokens for r in rows)
    for r in rows:
        exact = _BUDGET_TOKENS * r.n_tokens / total
        assert abs(r.quota_tokens - exact) < 1.0


def test_softmax_reweight_normalized_and_monotone(spark):
    rows = q_domain_softmax_reweight(spark, SF).collect()
    assert len(rows) == 20
    assert abs(sum(r.weight_micro for r in rows) - 1_000_000) <= len(rows)
    # weight strictly increases with the excess-loss signal z
    srt = sorted(rows, key=lambda r: r.z_micro)
    ws = [r.weight_micro for r in srt]
    assert all(a <= b for a, b in zip(ws, ws[1:]))


def test_woe_iv_bins_complete_and_centered(spark):
    rows = q_woe_iv_binning(spark, SF).collect()
    assert [r.b for r in rows] == list(range(_WOE_BINS))
    assert all(r.iv_part_nano >= 0 for r in rows)  # (p-q)*ln(p/q) >= 0
    # smoothed WoE must be 0 where pos/neg rates agree; sanity: at least
    # one bin has events
    assert sum(r.pos + r.neg for r in rows) > 0
