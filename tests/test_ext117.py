"""Wave 117: Anderson-Darling 2-sample, VIF, DAU/WAU stickiness."""

from etl_poor_main_pipeline_spark.registry_ext117 import (
    q_anderson_darling_2samp,
    q_dau_wau_stickiness,
    q_vif_collinearity,
)

SF = "/root/testdata/sf0.001"


def test_anderson_darling_nonneg(spark):
    r = q_anderson_darling_2samp(spark, SF).collect()[0]
    assert r.n_a > 0 and r.n_b > 0 and r.n_cells > 0
    assert r.a2_micro >= 0


def test_vif_at_least_one(spark):
    r = q_vif_collinearity(spark, SF).collect()[0]
    assert r.n_docs > 0
    for rr in (r.r12_micro, r.r13_micro, r.r23_micro):
        assert -1_000_001 <= rr <= 1_000_001
    # VIF >= 1 by construction; chars/tokens/types are strongly related,
    # so at least one VIF should show real inflation
    assert min(r.vif1_milli, r.vif2_milli, r.vif3_milli) >= 999
    assert max(r.vif1_milli, r.vif2_milli, r.vif3_milli) >= 2_000


def test_stickiness_bounds(spark):
    rows = q_dau_wau_stickiness(spark, SF).collect()
    assert len(rows) >= 7
    days = [r.day for r in rows]
    assert days == sorted(days)
    for r in rows:
        assert 0 < r.dau <= r.wau
        # DAU/WAU in (0, 1]
        assert 0 < r.stickiness_micro <= 1_000_000
