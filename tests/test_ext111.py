"""Wave 111: Cramér-von Mises, Page trend, ERR ranking, Holt forecast."""

from etl_poor_main_pipeline_spark.registry_ext111 import (
    _ERR_D,
    _PAGE_EL2,
    _PAGE_K,
    _PAGE_N,
    q_cramer_von_mises_2samp,
    q_err_graded_ranking,
    q_holt_linear_forecast,
    q_page_trend_test,
)

SF = "/root/testdata/sf0.001"


def test_cvm_statistic_nonnegative(spark):
    r = q_cramer_von_mises_2samp(spark, SF).collect()[0]
    assert r.n_a > 0 and r.n_b > 0
    assert r.n_cells > 0
    assert r.t_micro >= 0
    assert r.drift_flag == (r.t_micro > 461_000)


def test_page_l_bounds(spark):
    r = q_page_trend_test(spark, SF).collect()[0]
    # L is a weighted rank sum over the N x K grid: its exact min/max are
    # sum_b b * N * rank when ranks are anti-/co-monotone with b.
    lmin = _PAGE_N * sum(
        (b + 1) * (_PAGE_K - b) for b in range(_PAGE_K)
    )
    lmax = _PAGE_N * sum((b + 1) * (b + 1) for b in range(_PAGE_K))
    assert lmin <= r.l_stat <= lmax
    # 2*E[L] = n*k*(k+1)^2/2 is exactly integral; E[L] itself is 514.5
    assert r.e_l_x2 == _PAGE_EL2
    assert _PAGE_EL2 == _PAGE_N * _PAGE_K * (_PAGE_K + 1) ** 2 // 2
    assert r.trend_flag == (r.z_milli > 1645)


def test_err_in_unit_interval(spark):
    rows = q_err_graded_ranking(spark, SF).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_ranked <= _ERR_D
        # ERR telescopes below sum 1/r of satisfied prefixes -> < H_D < 3
        assert 0 <= r.err_micro <= 3_000_000


def test_holt_forecast_extrapolates_linearly(spark):
    r = q_holt_linear_forecast(spark, SF).collect()[0]
    assert r.n_hours > 2
    assert r.fc1_micro == r.level_micro + r.trend_micro or (
        abs(r.fc1_micro - (r.level_micro + r.trend_micro)) <= 1
    )
    # fc24 - fc1 == 23 * trend up to micro-rounding slack
    assert abs((r.fc24_micro - r.fc1_micro) - 23 * r.trend_micro) <= 24
