"""Wave 120: Brunner-Munzel, Cliff's delta/VDA, SMOG, hapax/Sichel."""

import numpy as np

from etl_poor_main_pipeline_spark.registry_ext120 import (
    _BM_A,
    _BM_B,
    q_brunner_munzel_test,
    q_cliffs_delta_effect,
    q_hapax_sichel_stats,
    q_smog_index,
)

SF = "/root/testdata/sf0.001"


def _bm_reference(x, y):
    """Literature Brunner-Munzel (scipy-compatible W) on raw samples."""
    n1, n2 = len(x), len(y)
    pooled = np.concatenate([x, y])
    order = np.argsort(pooled, kind="mergesort")
    ranks = np.empty(len(pooled))
    sorted_vals = pooled[order]
    # midranks with ties
    i = 0
    r = np.empty(len(pooled))
    while i < len(pooled):
        j = i
        while j + 1 < len(pooled) and sorted_vals[j + 1] == sorted_vals[i]:
            j += 1
        r[i : j + 1] = (i + j) / 2 + 1
        i = j + 1
    ranks[order] = r

    def within(v):
        o = np.argsort(v, kind="mergesort")
        sv = v[o]
        rr = np.empty(len(v))
        i = 0
        while i < len(v):
            j = i
            while j + 1 < len(v) and sv[j + 1] == sv[i]:
                j += 1
            rr[i : j + 1] = (i + j) / 2 + 1
            i = j + 1
        out = np.empty(len(v))
        out[o] = rr
        return out

    rx, ry = ranks[:n1], ranks[n1:]
    rix, riy = within(x), within(y)
    mx, my = rx.mean(), ry.mean()
    sx = ((rx - rix - mx + (n1 + 1) / 2) ** 2).sum() / (n1 - 1)
    sy = ((ry - riy - my + (n2 + 1) / 2) ** 2).sum() / (n2 - 1)
    w = n1 * n2 * (my - mx) / ((n1 + n2) * np.sqrt(n1 * sx + n2 * sy))
    p_hat = (my - (n2 + 1) / 2) / n1
    return p_hat, w


def test_brunner_munzel_matches_reference(spark):
    """The cell-staged Spark statistic must equal a direct literature
    implementation over the raw (centi-snapped) samples."""
    from etl_poor_main_pipeline_spark.registry import _t

    e = (
        _t(spark, SF, "events")
        .filter(f"event_type in ('{_BM_A}', '{_BM_B}')")
        .selectExpr(
            "cast(floor(value * 100.0 + 0.5) as bigint) as vc",
            f"event_type = '{_BM_A}' as isa",
        )
        .collect()
    )
    x = np.array([r.vc for r in e if r.isa], dtype=float)
    y = np.array([r.vc for r in e if not r.isa], dtype=float)
    p_ref, w_ref = _bm_reference(x, y)

    r = q_brunner_munzel_test(spark, SF).collect()[0]
    assert r.n_a == len(x) and r.n_b == len(y)
    assert abs(r.p_hat_micro - round(p_ref * 1e6)) <= 1
    assert abs(r.w_milli - round(w_ref * 1e3)) <= 1


def test_cliffs_delta_identities(spark):
    r = q_cliffs_delta_effect(spark, SF).collect()[0]
    assert r.gt_pairs + r.lt_pairs + r.tie_pairs == r.n_a * r.n_b
    assert -1_000_000 <= r.delta_micro <= 1_000_000
    assert 0 <= r.vda_micro <= 1_000_000
    # delta = 2A - 1 (within snap slack)
    assert abs(r.delta_micro - (2 * r.vda_micro - 1_000_000)) <= 2


def test_smog_grade_range(spark):
    rows = q_smog_index(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_docs > 0 and r.n_sentences > 0
        # smog = 1.043*sqrt(30*poly/sent) + 3.1291 >= 3.1291
        assert r.smog_milli >= 3_129


def test_hapax_spectrum_orders(spark):
    rows = q_hapax_sichel_stats(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 < r.n_types <= r.n_tokens
        assert r.v1 + r.v2 <= r.n_types
        assert 0 <= r.hapax_milli <= 1_000
        assert 0 <= r.sichel_milli <= 1_000
        if r.v1 < r.n_types:
            assert r.honore_milli > 0
