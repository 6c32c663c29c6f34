"""Property-based pins for P3/P5/P6 (SURVEY §5.4) — run on the driver
side against the same expressions Spark executes, via small literal
DataFrames batched per example set (hypothesis + Spark would be slow
row-by-row, so examples are collected then evaluated in one job)."""

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from etl_poor_main_pipeline_spark.operators.relational import temperature_category, truncate_str

BUCKETS = {"Freezing", "Cold", "Mild", "Warm"}


@settings(max_examples=20, deadline=None)
@given(st.floats(allow_nan=False, allow_infinity=False, width=64))
def test_bucket_totality(spark, temp):
    # every finite double maps to exactly one category
    df = spark.createDataFrame([(temp,)], "temperature: double")
    b = df.select(temperature_category().alias("b")).head().b
    assert b in BUCKETS
    if temp < 0:
        assert b == "Freezing"
    elif temp < 10:
        assert b == "Cold"
    elif temp < 20:
        assert b == "Mild"
    else:
        assert b == "Warm"


@settings(max_examples=20, deadline=None)
@given(st.text(min_size=0, max_size=30))
def test_truncate_idempotent_and_bounded(spark, s):
    df = spark.createDataFrame([(s,)], "d: string")
    once = df.select(truncate_str("d").alias("d")).head().d
    again = (
        spark.createDataFrame([(once,)], "d: string")
        .select(truncate_str("d").alias("d"))
        .head()
        .d
    )
    assert once == again
    assert once is None or len(once) <= 10


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
        min_size=1,
        max_size=16,
    )
)
def test_int8_quantization_bounds_and_sign(spark, vec):
    """Quantized values always fit int8 range and preserve sign; the max
    magnitude element maps to ±127 (symmetric scheme)."""
    df = spark.createDataFrame([(1, vec)], "vec_id: long, embedding: array<float>")
    s = "array_max(transform(embedding, x -> abs(cast(x as double)))) / 127.0D"
    s0 = f"CASE WHEN ({s}) = 0.0D THEN 1.0D ELSE ({s}) END"
    q = df.selectExpr(
        f"transform(embedding, x -> cast(floor(cast(x as double) / ({s0}) + 0.5D) as int)) AS q",
        "transform(embedding, x -> cast(x as double)) AS v",
    ).head()
    assert all(-127 <= x <= 127 for x in q.q)
    for orig, quant in zip(q.v, q.q):
        if quant != 0:
            assert (orig > 0) == (quant > 0)
    if any(x != 0 for x in q.v):
        assert max(abs(x) for x in q.q) == 127


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=40))
def test_greedy_packing_conserves_tokens(spark, counts):
    """Bin assignment partitions the docs: per-bin doc/token sums add up
    to the corpus totals, and bins are contiguous in doc order."""
    from pyspark.sql.window import Window

    rows = [(i, n) for i, n in enumerate(counts)]
    df = spark.createDataFrame(rows, "doc_id: long, n_tok: long")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    binned = df.withColumn(
        "bin", F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(4096))
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("sum_tokens")
    )
    got = agg.agg(F.sum("n_docs"), F.sum("sum_tokens")).head()
    assert got[0] == len(counts)
    assert got[1] == sum(counts)
    # bins are monotone in doc order (greedy order-preserving packing)
    bins = [r.bin for r in binned.orderBy("doc_id").collect()]
    assert bins == sorted(bins)


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcde", min_size=0, max_size=8),
        min_size=2,
        max_size=25,
    )
)
def test_fuzzy_band_blocking_equals_bruteforce(spark, names):
    """The +-1 length-band blocked levenshtein<=1 join must return
    exactly the brute-force pair set for arbitrary VARYING-LENGTH
    strings — insertions/deletions cross length buckets, which the
    corpus fixture (all-equal-length names) can never exercise."""
    rows = [(i, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, "s_suppkey long, s_name string")

    brute = {
        (a_id, b_id)
        for a_id, a in rows
        for b_id, b in rows
        if a_id < b_id and _lev(a, b) <= 1
    }

    a = df.select(
        F.col("s_suppkey").alias("ka"), F.col("s_name").alias("na"),
        F.length("s_name").alias("blk"),
    )
    b = df.select(
        F.col("s_suppkey").alias("kb"), F.col("s_name").alias("nb"),
        F.explode(
            F.array(F.length("s_name") - 1, F.length("s_name"), F.length("s_name") + 1)
        ).alias("blk"),
    )
    got = {
        (r.ka, r.kb)
        for r in a.join(b, "blk")
        .filter((F.col("ka") < F.col("kb")) & (F.levenshtein("na", "nb") <= 1))
        .select("ka", "kb")
        .collect()
    }
    assert got == brute


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]
