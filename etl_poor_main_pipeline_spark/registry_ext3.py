"""Operator registry, wave 4: statistical aggregates, string distance,
deterministic sampling, interval arithmetic, subquery forms, and the
remaining [EXT] dedup/fingerprint surface. Same conventions as registry.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _dsum, _dsum_sql, _t
from .functions.text import tokens_expr
from .session import barrier


def q_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + deterministic mode (max count, min value tiebreak)
    per group. Mode is computed explicitly via a two-level aggregate
    because native mode() tie-breaking is engine-defined."""
    li = _t(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("median_qty")
    )
    counts = li.groupBy("l_returnflag", "l_quantity").agg(F.count(F.lit(1)).alias("cnt"))
    rank = F.col("cnt") * F.lit(100_000) - F.col("l_quantity").cast("bigint")
    mode = counts.groupBy("l_returnflag").agg(
        F.max_by("l_quantity", rank).alias("mode_qty")
    )
    return med.join(mode, "l_returnflag")


_ORACLE_MEDIAN_MODE = """
WITH med AS (
  SELECT l_returnflag, round(median(l_quantity), 4) AS median_qty
  FROM lineitem GROUP BY l_returnflag
),
counts AS (
  SELECT l_returnflag, l_quantity, count(*) AS cnt
  FROM lineitem GROUP BY l_returnflag, l_quantity
),
md AS (
  SELECT l_returnflag,
         arg_max(l_quantity, cnt * 100000 - cast(l_quantity as bigint)) AS mode_qty
  FROM counts GROUP BY l_returnflag
)
SELECT l_returnflag, median_qty, mode_qty FROM med JOIN md USING (l_returnflag)
"""


def q_corr_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_if + correlation/linear-regression aggregates (corr,
    regr_slope/intercept/r2) of extendedprice on quantity per group."""
    li = _t(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).cast("bigint").alias("n_discounted"),
        F.round(F.corr(x, y), 6).alias("corr_qty_price"),
        F.round(F.regr_slope(y, x), 4).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


_ORACLE_CORR_REGR = """
SELECT l_returnflag,
       cast(count_if(l_discount > 0.05) as bigint) AS n_discounted,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
FROM lineitem GROUP BY l_returnflag
"""


def q_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning (width-bucket pattern): quantity in
    [0,50) -> 10 bins of 5, top bin closed."""
    li = _t(spark, sf_dir, "lineitem")
    bin_ = F.least(F.floor(F.col("l_quantity") / 5), F.lit(9)).cast("bigint")
    return (
        li.groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum(F.col("l_extendedprice"), "sum_price"),
        )
    )


_ORACLE_HISTOGRAM = f"""
SELECT cast(least(floor(l_quantity / 5), 9) as bigint) AS bin,
       count(*) AS n,
       {_dsum_sql('l_extendedprice', 'sum_price')}
FROM lineitem GROUP BY 1
"""


def q_string_distance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-match candidate pairs: Levenshtein distance between part
    names within (brand, size) blocks, 100 closest pairs. The block keys
    turn an O(n^2) theta-join into an equi-join — the same blocking
    strategy the near-dup operators use at scale."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand", "p_size")
    a, b = p.alias("a"), p.alias("b")
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).cast("bigint").alias("dist"),
        )
        .orderBy(F.col("dist").asc(), F.col("key_a").asc(), F.col("key_b").asc())
        .limit(100)
    )


_ORACLE_LEVENSHTEIN = """
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       cast(levenshtein(a.p_name, b.p_name) as bigint) AS dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_size = b.p_size AND a.p_partkey < b.p_partkey
ORDER BY dist ASC, key_a ASC, key_b ASC
LIMIT 100
"""


def q_dedup_embedding_repr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] embedding-cosine near-dup collapse, oracle-able form: each
    vector maps to the min vec_id among its same-label neighbors with
    cosine >= 0.35 (including itself) — one hop of the duplicate-cluster
    collapse, exactly expressible in SQL."""
    from .operators.similarity import cosine_self_join

    e = _t(spark, sf_dir, "embeddings")
    pairs = cosine_self_join(e, threshold=0.35, block_col="label")
    fwd = pairs.select(F.col("id_a").alias("vec_id"), F.col("id_b").alias("nbr"))
    rev = pairs.select(F.col("id_b").alias("vec_id"), F.col("id_a").alias("nbr"))
    self_ = e.select(F.col("vec_id"), F.col("vec_id").alias("nbr"))
    return (
        fwd.unionByName(rev)
        .unionByName(self_)
        .groupBy("vec_id")
        .agg(F.min("nbr").alias("representative"))
    )


_ORACLE_EMB_REPR = """
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b
    ON a.vec_id < b.vec_id AND a.label = b.label
  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.35
),
nbrs AS (
  SELECT id_a AS vec_id, id_b AS nbr FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
  UNION ALL SELECT vec_id, vec_id FROM embeddings
)
SELECT vec_id, min(nbr) AS representative FROM nbrs GROUP BY vec_id
"""


def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (portable across engines): keep rows
    whose md5(key) starts below '10' (a ~1/16 systematic sample). The
    pattern behind reproducible train/validation splits at 100 TB —
    no RNG state, no per-engine sample() semantics."""
    li = _t(spark, sf_dir, "lineitem")
    keep = F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 2) < "10"
    return li.filter(keep).agg(
        F.count(F.lit(1)).alias("n_sampled"),
        _dsum(F.col("l_extendedprice"), "sum_price"),
    )


_ORACLE_SAMPLE = f"""
SELECT count(*) AS n_sampled,
       {_dsum_sql('l_extendedprice', 'sum_price')}
FROM lineitem
WHERE substr(md5(cast(l_orderkey as varchar)), 1, 2) < '10'
"""


def q_window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window forms: first_value/nth_value over a partition
    with injected NULLs (nullif), plus lead with an explicit default."""
    li = _t(spark, sf_dir, "lineitem")
    d = F.expr("nullif(l_discount, 0.0)")
    # (l_orderkey, l_linenumber) is not unique in the fixture — a total
    # order inside the partition is required or IGNORE NULLS picks
    # engine-dependent rows
    order = [F.col("l_linenumber"), F.col("l_partkey"), F.col("l_suppkey"), F.col("l_extendedprice")]
    w_run = (
        Window.partitionBy("l_orderkey")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_full = (
        Window.partitionBy("l_orderkey")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_ord = Window.partitionBy("l_orderkey").orderBy(*order)
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        F.first(d, ignorenulls=True).over(w_run).alias("first_nonzero_disc"),
        F.nth_value(d, 2, ignoreNulls=True).over(w_full).alias("second_nonzero_disc"),
        F.lead("l_quantity", 1, -1.0).over(w_ord).alias("next_qty"),
    )


_ORACLE_WIN_IGNORE_NULLS = """
SELECT l_orderkey, cast(l_linenumber as bigint) AS l_linenumber,
       first_value(nullif(l_discount, 0.0) IGNORE NULLS) OVER
         (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_nonzero_disc,
       nth_value(nullif(l_discount, 0.0), 2 IGNORE NULLS) OVER
         (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_nonzero_disc,
       lead(l_quantity, 1, -1.0) OVER
         (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice) AS next_qty
FROM lineitem
"""


def q_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: build a map column, read values back out, list its
    sorted keys — validates map build/extract as an identity."""
    li = _t(spark, sf_dir, "lineitem")
    m = F.create_map(
        F.lit("qty"), F.col("l_quantity"), F.lit("price"), F.col("l_extendedprice")
    )
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        F.element_at(m, "qty").alias("qty_rt"),
        F.element_at(m, "price").alias("price_rt"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
    )


_ORACLE_MAP_RT = """
SELECT l_orderkey, cast(l_linenumber as bigint) AS l_linenumber,
       l_quantity AS qty_rt,
       l_extendedprice AS price_rt,
       'price,qty' AS keys_sorted
FROM lineitem
"""


def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface over token arrays: distinct size, stopword
    intersection size, sorted prefix join — all codegen'd expressions."""
    d = _t(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in ("the", "and", "of", "to", "in")])
    t = F.array_distinct(tokens_expr(F.col("text")))
    return d.select(
        "doc_id",
        F.size(t).cast("bigint").alias("n_distinct_tokens"),
        F.size(F.array_intersect(t, stop)).cast("bigint").alias("n_stopwords"),
        F.array_join(F.slice(F.array_sort(t), 1, 5), " ").alias("first5_sorted"),
    )


_ORACLE_ARRAY_FNS = r"""
WITH toks AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS t
  FROM documents
)
SELECT doc_id,
       cast(len(t) as bigint) AS n_distinct_tokens,
       cast(len(list_filter(t, x -> x IN ('the','and','of','to','in'))) as bigint) AS n_stopwords,
       array_to_string(list_sort(t)[1:5], ' ') AS first5_sorted
FROM toks
"""


def q_date_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval arithmetic: +30 days, +3 months (month-end clamped),
    quarter truncation, day difference from an epoch date."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.date_add(d, 30).cast("string").alias("plus_30d"),
        F.add_months(d, 3).cast("string").alias("plus_3mo"),
        F.trunc(d, "quarter").cast("string").alias("quarter_start"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("bigint").alias("days_since_95"),
    )


_ORACLE_DATE_ARITH = """
SELECT o_orderkey,
       strftime(cast(o_orderdate as date) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d,
       strftime(cast(o_orderdate as date) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3mo,
       strftime(date_trunc('quarter', cast(o_orderdate as date)), '%Y-%m-%d') AS quarter_start,
       cast(datediff('day', DATE '1995-01-01', cast(o_orderdate as date)) as bigint) AS days_since_95
FROM orders
"""


def q_try_cast_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe casts (try_cast -> NULL, never throw) + null-safe
    equality (<=> / IS NOT DISTINCT FROM)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.expr("try_cast(substr(c_name, 10, 9) as int)").alias("name_num"),
        F.expr("try_cast(substr(c_name, 1, 8) as int)").alias("name_word_num"),
        F.expr("try_cast(c_mktsegment as double)").alias("seg_as_num"),
        F.expr(
            "try_cast(c_mktsegment as double) <=> cast(null as double)"
        ).alias("seg_is_null"),
    )


_ORACLE_TRY_CAST = """
SELECT c_custkey,
       try_cast(substr(c_name, 10, 9) as int) AS name_num,
       try_cast(substr(c_name, 1, 8) as int) AS name_word_num,
       try_cast(c_mktsegment as double) AS seg_as_num,
       try_cast(c_mktsegment as double) IS NOT DISTINCT FROM cast(null as double) AS seg_is_null
FROM customer
"""


def q_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS subqueries (Catalyst decorrelates
    both into semi/anti joins): per-nation counts of customers with and
    without orders."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("ext3_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("ext3_orders")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("ext3_nation")
    return spark.sql(
        """
        SELECT n.n_name,
               cast(count_if(EXISTS (
                 SELECT 1 FROM ext3_orders o WHERE o.o_custkey = c.c_custkey
               )) as bigint) AS n_with_orders,
               cast(count_if(NOT EXISTS (
                 SELECT 1 FROM ext3_orders o WHERE o.o_custkey = c.c_custkey
               )) as bigint) AS n_without_orders
        FROM ext3_customer c JOIN ext3_nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )


_ORACLE_EXISTS = """
SELECT n.n_name,
       cast(count_if(EXISTS (
         SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
       )) as bigint) AS n_with_orders,
       cast(count_if(NOT EXISTS (
         SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
       )) as bigint) AS n_without_orders
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


def q_order_nulls_placement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY with explicit NULLS FIRST / NULLS LAST over injected NULLs
    and a total tiebreak; paginated with LIMIT."""
    li = _t(spark, sf_dir, "lineitem")
    d = F.expr("nullif(l_discount, 0.0)")
    return (
        li.select("l_orderkey", F.col("l_linenumber").cast("bigint").alias("l_linenumber"), d.alias("disc"))
        .orderBy(
            F.col("disc").asc_nulls_first(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(200)
    )


_ORACLE_NULLS_FIRST = """
SELECT l_orderkey, cast(l_linenumber as bigint) AS l_linenumber,
       nullif(l_discount, 0.0) AS disc
FROM lineitem
ORDER BY disc ASC NULLS FIRST, l_orderkey ASC, l_linenumber ASC
LIMIT 200
"""


def q_rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] document fingerprinting via polynomial rolling hash
    (h = (h*31 + codepoint) mod 1e9+7) — the Rabin-Karp-style content
    fingerprint used for exact-dup detection without storing text. Pure
    codegen expression (sequence/transform/aggregate), no Python."""
    d = _t(spark, sf_dir, "documents")
    fp = F.expr(
        "aggregate("
        "  transform(sequence(1, length(text)), i -> cast(ascii(substr(text, i, 1)) as bigint)),"
        "  0L,"
        "  (acc, c) -> (acc * 31 + c) % 1000000007"
        ")"
    )
    return d.select(
        "doc_id",
        F.when(F.length("text") == 0, F.lit(0)).otherwise(fp).cast("bigint").alias("fingerprint"),
    )


_ORACLE_ROLLING_HASH = """
SELECT doc_id,
       cast(CASE WHEN length(text) = 0 THEN 0 ELSE
         list_reduce(
           list_prepend(0::BIGINT,
             list_transform(string_split(text, ''), c -> unicode(c)::BIGINT)),
           (acc, c) -> (acc * 31 + c) % 1000000007)
       END as bigint) AS fingerprint
FROM documents
"""


def q_dedup_char_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X2 character 3-gram shingle Jaccard pairs (>= 0.7, blocked by
    lang + length window) — the shingle-level complement of token-set
    Jaccard, robust to word-boundary edits.

    Shingles are xxhash64-hashed before the pairwise intersection:
    |A∩B| over distinct 64-bit hashes equals |A∩B| over the strings
    unless xxhash64 collides within a document pair (probability ~1e-13
    at ~1k shingles/doc), and bigint set-intersection measured 2x faster
    than 3-char-string intersection at sf0.1. The DuckDB oracle computes
    the same Jaccard over raw shingle strings. The per-side
    localCheckpoint stops the (expensive) shingle extraction from being
    recomputed by each side of the self-join."""
    d = _t(spark, sf_dir, "documents")
    shingles = F.array_distinct(
        F.expr(
            "transform(transform(sequence(1, greatest(length(text) - 2, 0)),"
            " i -> substr(text, i, 3)), s -> xxhash64(s))"
        )
    )
    from .operators.dedup import spread

    base = barrier(
        spread(d).select(
            "doc_id",
            "lang",
            "n_chars",
            F.floor(F.col("n_chars") / 16).cast("long").alias("_bkt"),
            shingles.alias("sh"),
        )
        .withColumn("_nsh", F.size("sh"))
    )
    a = base.select(
        "*", F.explode(F.array(F.col("_bkt") - 1, F.col("_bkt"), F.col("_bkt") + 1)).alias("_jbkt")
    ).drop("_bkt").alias("a")
    b = base.withColumnRenamed("_bkt", "_jbkt").alias("b")
    t = F.lit(0.7)
    cond = (
        (F.col("a._jbkt") == F.col("b._jbkt"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("a.lang") == F.col("b.lang"))
        & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 16)
        & (F.least(F.col("a._nsh"), F.col("b._nsh")) >= t * F.greatest(F.col("a._nsh"), F.col("b._nsh")))
    )
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.col("a._nsh") + F.col("b._nsh") - inter
    jac = F.round(inter.cast("double") / union.cast("double"), 6)
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t)
    )


_ORACLE_CHAR_SHINGLES = """
WITH sh AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(list_transform(range(1, greatest(length(text) - 2, 0) + 1),
                                      i -> substr(text, i::INT, 3))) AS s
  FROM documents
),
sized AS (SELECT *, len(s) AS nsh FROM sh)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.s, b.s)) * 1.0 /
             (a.nsh + b.nsh - len(list_intersect(a.s, b.s))), 6) AS jaccard
FROM sized a JOIN sized b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
 AND abs(a.n_chars - b.n_chars) <= 16
 AND least(a.nsh, b.nsh) >= 0.7 * greatest(a.nsh, b.nsh)
WHERE round(len(list_intersect(a.s, b.s)) * 1.0 /
            (a.nsh + b.nsh - len(list_intersect(a.s, b.s))), 6) >= 0.7
"""


REGISTRY_EXT3: dict[str, QuerySpec] = {
    "agg_median_mode": QuerySpec(q_median_mode, _ORACLE_MEDIAN_MODE, "§2.6 agg"),
    "agg_corr_regression": QuerySpec(q_corr_regr, _ORACLE_CORR_REGR, "§2.6 agg"),
    "histogram_fixed_bins": QuerySpec(q_histogram_bins, _ORACLE_HISTOGRAM, "§2.6 agg"),
    "string_distance_topk": QuerySpec(q_string_distance_topk, _ORACLE_LEVENSHTEIN, "§2.6 scalar"),
    "dedup_embedding_repr": QuerySpec(q_dedup_embedding_repr, _ORACLE_EMB_REPR, "X2/X4"),
    "sample_deterministic_hash": QuerySpec(q_sample_deterministic, _ORACLE_SAMPLE, "§2.6"),
    "window_ignore_nulls": QuerySpec(q_window_ignore_nulls, _ORACLE_WIN_IGNORE_NULLS, "§2.6 window"),
    "map_type_roundtrip": QuerySpec(q_map_roundtrip, _ORACLE_MAP_RT, "§2.6 scalar"),
    "array_functions_deep": QuerySpec(q_array_functions, _ORACLE_ARRAY_FNS, "§2.6 scalar"),
    "date_interval_arith": QuerySpec(q_date_interval_arith, _ORACLE_DATE_ARITH, "§2.6 scalar"),
    "try_cast_null_safe": QuerySpec(q_try_cast_null_safe, _ORACLE_TRY_CAST, "P5"),
    "exists_correlated_subquery": QuerySpec(q_exists_correlated, _ORACLE_EXISTS, "§2.6 subquery"),
    "order_nulls_placement": QuerySpec(q_order_nulls_placement, _ORACLE_NULLS_FIRST, "§2.6 sort"),
    "text_rolling_hash": QuerySpec(q_rolling_hash_fingerprint, _ORACLE_ROLLING_HASH, "X6 fingerprint"),
    "dedup_char_shingles": QuerySpec(q_dedup_char_shingles, _ORACLE_CHAR_SHINGLES, "X2"),
}
