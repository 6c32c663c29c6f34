"""Scale-path mechanics: salted joins return identical results with the
salt in the join key. (Co-bucketed joins planning no shuffle exchange are
pinned by tests/test_ext125.py.)"""

from pyspark.sql import functions as F

from etl_poor_main_pipeline_spark.operators.relational import salted_join


def test_salted_join_matches_plain_join(spark):
    # heavy skew: 90% of left rows share one key
    left = spark.createDataFrame(
        [(1 if i < 90 else i, f"l{i}") for i in range(100)], ["k", "lv"]
    )
    right = spark.createDataFrame([(i, f"r{i}") for i in range(20)], ["k", "rv"])
    plain = {(r.k, r.lv, r.rv) for r in left.join(right, "k").collect()}
    salted = {(r.k, r.lv, r.rv) for r in salted_join(left, right, "k").collect()}
    assert salted == plain
    assert len(plain) == 90  # the hot key matches; keys 90..99 have no match


def test_salted_join_left_outer(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (99, "c")], ["k", "lv"])
    right = spark.createDataFrame([(1, "x")], ["k", "rv"])
    plain = {(r.k, r.lv, r.rv) for r in left.join(right, "k", "left").collect()}
    salted = {(r.k, r.lv, r.rv) for r in salted_join(left, right, "k", how="left").collect()}
    assert salted == plain


def test_salt_spreads_hot_key(spark):
    left = spark.createDataFrame([(1, f"l{i}") for i in range(64)], ["k", "lv"])
    from pyspark.sql import functions as F

    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(8))
    n_salts = left.withColumn("_s", salt).select("_s").distinct().count()
    assert n_salts >= 4  # the single hot key fans out across salt buckets
