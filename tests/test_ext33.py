"""Wave 34: BPE apply, distributed skyline, rolling quantile, JSONL
round trip, schema-merge evolution — plus the prefix-max scan unit."""

from pyspark.sql import functions as F

from etl_poor_main_pipeline_spark.operators.scan_prefix import exclusive_prefix_max
from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext33 import (
    q_bpe_apply_merges,
    q_jsonl_round_trip,
    q_pareto_skyline_2d,
    q_rolling_quantile_window,
    q_schema_merge_evolution,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_prefix_max_matches_sequential(spark):
    import random

    rnd = random.Random(7)
    rows = [(k, rnd.randrange(0, 1000)) for k in range(-500, 500)]
    df = spark.createDataFrame(rows, ["k", "v"])
    got = {
        r.k: r.prior_max
        for r in exclusive_prefix_max(df, "k", "v", group_width=64).collect()
    }
    running = None
    for k, v in rows:  # rows already in ascending-k order
        assert got[k] == running, f"k={k}"
        running = v if running is None else max(running, v)


def test_bpe_apply_merges_symbols(spark):
    rows = q_bpe_apply_merges(spark, SF).collect()
    assert rows
    symbols = {r.symbol for r in rows}
    # merged symbols appear; their raw parts were consumed where adjacent
    assert "the" in symbols or "th" in symbols
    assert all(r.n > 0 for r in rows)


def test_skyline_is_undominated_and_complete(spark):
    sky = {
        (r.o_orderkey, r.cents, r.day)
        for r in q_pareto_skyline_2d(spark, SF).collect()
    }
    assert sky
    pts = [
        (r.o_orderkey, r.cents, r.day)
        for r in load_table(spark, SF, "orders")
        .select(
            "o_orderkey",
            F.floor(F.lit(100.0) * F.col("o_totalprice") + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
            F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit("1992-01-01")))
            .cast("bigint")
            .alias("day"),
        )
        .collect()
    ]
    sky_brute = {
        (k, c, d)
        for (k, c, d) in pts
        if not any(c2 > c and d2 > d for (_, c2, d2) in pts)
    }
    assert sky == sky_brute


def test_rolling_quantile_frame(spark):
    e = load_table(spark, SF, "events")
    uid = e.select("user_id").first()[0]
    first = (
        e.where(F.col("user_id") == uid)
        .orderBy("ts", "event_id")
        .select(
            "event_id",
            F.floor(F.lit(1e6) * F.col("value") + F.lit(0.5))
            .cast("bigint")
            .alias("v_micro"),
        )
        .first()
    )
    out = {
        r.event_id: r.med_micro_x2
        for r in q_rolling_quantile_window(spark, SF)
        .where(F.col("user_id") == uid)
        .collect()
    }
    # first event of a user's stream: frame of one -> median == the value
    assert out[first.event_id] == 2 * first.v_micro


def test_jsonl_and_schema_merge_lossless(spark):
    jr = {r.lang: r for r in q_jsonl_round_trip(spark, SF).collect()}
    d = load_table(spark, SF, "documents")
    truth = {
        r.lang: r
        for r in d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .collect()
    }
    assert set(jr) == set(truth)
    for lang, r in jr.items():
        assert r.n_docs == truth[lang].n_docs
        assert r.sum_chars == truth[lang].sum_chars

    sm = {r.lang: r for r in q_schema_merge_evolution(spark, SF).collect()}
    n = d.count()
    assert sm["<absent>"].n_rows == n  # batch B rows: lang column absent
    assert sm["<absent>"].n_with_chars == n
    assert sum(r.n_rows for r in sm.values()) == 2 * n


def test_wave34_plans_are_scale_safe(spark):
    for fn in (
        q_bpe_apply_merges,
        q_pareto_skyline_2d,
        q_rolling_quantile_window,
        q_jsonl_round_trip,
        q_schema_merge_evolution,
    ):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
