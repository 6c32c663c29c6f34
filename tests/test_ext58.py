"""Wave 59: FK audit, burstiness, position-based attribution."""

from pyspark.sql import functions as F

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
)
from etl_poor_main_pipeline_spark.registry_ext58 import (
    _FK_RELS,
    q_attribution_position_based,
    q_fk_conformance_audit,
    q_interarrival_burstiness,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_fk_audit_covers_all_relationships(spark):
    rows = {r.relationship: r for r in q_fk_conformance_audit(spark, SF).collect()}
    assert len(rows) == len(_FK_RELS)
    for child, ck, parent, pk in _FK_RELS:
        r = rows[f"{child}.{ck}->{parent}.{pk}"]
        assert r.n_child == load_table(spark, SF, child).count()
        assert 0 <= r.n_orphans <= r.n_child


def test_fk_audit_empty_child_has_zero_orphans(spark, tmp_path):
    """An empty child table has no orphans (0, not NULL) — the DuckDB
    oracle's count(*) semantics."""
    import os

    import pyarrow.parquet as pq

    for t in {t for rel in _FK_RELS for t in (rel[0], rel[2])}:
        src = f"{SF}/{t}.parquet"
        if t == "lineitem":
            pq.write_table(pq.read_table(src).slice(0, 0), tmp_path / f"{t}.parquet")
        else:
            os.symlink(src, tmp_path / f"{t}.parquet")
    rows = q_fk_conformance_audit(spark, str(tmp_path)).collect()
    empty = [r for r in rows if r.relationship.startswith("lineitem.")]
    assert len(empty) == 3
    assert all(r.n_child == 0 and r.n_orphans == 0 for r in empty)
    assert all(r.n_orphans is not None for r in rows)


def test_burstiness_in_valid_range(spark):
    rows = q_interarrival_burstiness(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.mean_gap_ms > 0
        assert r.cv_micro > 0
        # B = (cv-1)/(cv+1) in micro terms; must be in (-1, 1)
        assert -1_000_000 < r.burstiness_micro < 1_000_000


def test_attribution_credit_sums_to_conversions_with_touches(spark):
    rows = q_attribution_position_based(spark, SF).collect()
    e = load_table(spark, SF, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t"), "event_id"
    )
    conv = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("t").alias("pt")
    )
    clk = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("t").alias("ct")
    )
    n_attrib = (
        conv.join(clk, "user_id")
        .where(
            (F.col("ct") < F.col("pt"))
            & (F.col("ct") >= F.col("pt") - 168 * 3_600_000_000)
        )
        .select("p_id")
        .distinct()
        .count()
    )
    total_credit = sum(r.credit_micro_sum for r in rows)
    # every attributed conversion hands out ~1.0 credit (micro rounding of
    # the middle split loses < n_touches micros)
    assert abs(total_credit - n_attrib * 1_000_000) < 1_000 * max(n_attrib, 1)
    for r in rows:
        assert 0 <= r.click_hod_utc <= 23


def test_wave59_plans_are_scale_safe(spark):
    for fn in (
        q_fk_conformance_audit,
        q_interarrival_burstiness,
        q_attribution_position_based,
    ):
        df = fn(spark, SF)
        assert_no_python_udf(df)
        assert_no_global_window(df)
