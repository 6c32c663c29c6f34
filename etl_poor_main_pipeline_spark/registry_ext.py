"""Operator registry, wave 2: completion-surface depth (SURVEY §2.6) —
outer joins, bag set ops, pivot/unpivot, lateral explode, array/string/
regexp scalar surface, subqueries & CTEs through the SQL API, window
frames, grouping sets, more TPC-H shapes, hopping windows, percentiles,
and vector aggregation. Same conventions as registry.py (aliases, decimal
sums, rounding, bigint casts, total tiebreak orders).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _dsum, _dsum_sql, _t


# ---- joins / set ops ------------------------------------------------------


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: per-nation customer & supplier counts, nations
    missing on either side kept with NULL counts."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.col("n_customers").cast("bigint").alias("n_customers"),
            F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
        )
    )


_ORACLE_FULL_OUTER = """
WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_customers FROM customer GROUP BY 1),
     s AS (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers FROM supplier GROUP BY 1)
SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
       c.n_customers, s.n_suppliers
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
"""


def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (set semantics): dedups across both inputs."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


_ORACLE_UNION_DISTINCT = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag difference, multiplicity-aware)."""
    a = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    b = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return a.exceptAll(b)


_ORACLE_EXCEPT_ALL = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT ALL
SELECT s_nationkey AS nationkey FROM supplier
"""


def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag intersection)."""
    a = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    b = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return a.intersectAll(b)


_ORACLE_INTERSECT_ALL = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT ALL
SELECT s_nationkey AS nationkey FROM supplier
"""


# ---- pivot / unpivot / explode -------------------------------------------

_EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: long->wide with explicit value list (bounded output schema —
    the only pivot shape that scales, since an unlisted pivot needs a
    pre-pass to discover values)."""
    ev = _t(spark, sf_dir, "events")
    out = ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).agg(F.count(F.lit(1)))
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}") for t in _EVENT_TYPES],
    )


_ORACLE_PIVOT = """
SELECT user_id,
       cast(count(*) FILTER (event_type = 'click') as bigint) AS n_click,
       cast(count(*) FILTER (event_type = 'view') as bigint) AS n_view,
       cast(count(*) FILTER (event_type = 'purchase') as bigint) AS n_purchase,
       cast(count(*) FILTER (event_type = 'error') as bigint) AS n_error,
       cast(count(*) FILTER (event_type = 'signup') as bigint) AS n_signup
FROM events GROUP BY user_id
"""


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide->long over three lineitem measures."""
    li = _t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "value",
    ).select(
        "l_orderkey", F.col("l_linenumber").cast("bigint").alias("l_linenumber"), "measure", "value"
    )


_ORACLE_UNPIVOT = """
SELECT l_orderkey, cast(l_linenumber as bigint) AS l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, cast(l_linenumber as bigint), 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, cast(l_linenumber as bigint), 'l_tax', l_tax FROM lineitem
"""


def q_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode with position: part-name tokens -> (key, pos, tok)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey", F.posexplode(F.split(F.col("p_name"), " ")).alias("pos", "tok")
    ).select("p_partkey", F.col("pos").cast("bigint").alias("pos"), "tok")


_ORACLE_POSEXPLODE = """
SELECT p_partkey, cast(i - 1 as bigint) AS pos, toks[i] AS tok
FROM (SELECT p_partkey, string_split(p_name, ' ') AS toks FROM part),
     range(1, 50) t(i)
WHERE i <= len(toks)
"""


def q_array_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic array aggregation: sorted distinct nation keys per
    market segment, serialized to a string (collect_set order is undefined
    — sorting before serializing is what makes this oracle-able)."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_set(F.col("c_nationkey"))), lambda x: x.cast("string")
            ),
        ).alias("nations"),
        F.count(F.lit(1)).alias("n"),
    )


_ORACLE_ARRAY_AGG = """
SELECT c_mktsegment,
       array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nations,
       count(*) AS n
FROM customer GROUP BY c_mktsegment
"""


def q_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation (listagg/string_agg) with explicit order."""
    n = _t(spark, sf_dir, "nation")
    return n.groupBy(F.col("n_regionkey").alias("regionkey")).agg(
        F.concat_ws("|", F.array_sort(F.collect_list(F.col("n_name")))).alias("nations")
    )


_ORACLE_LISTAGG = """
SELECT n_regionkey AS regionkey,
       string_agg(n_name, '|' ORDER BY n_name) AS nations
FROM nation GROUP BY n_regionkey
"""


# ---- subqueries / CTE / having through the SQL API ------------------------


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate: orders within 10% of the max price."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("subq_orders_v")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM subq_orders_v
        WHERE o_totalprice >= 0.9 * (SELECT max(o_totalprice) FROM subq_orders_v)
        """
    )


_ORACLE_SCALAR_SUBQ = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice >= 0.9 * (SELECT max(o_totalprice) FROM orders)
"""


def q_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE (WITH clause) through spark.sql: top-value customers joined
    back to their names."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("cte_orders_v")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(
        f"""
        WITH cust_totals AS (
          SELECT o_custkey, {_dsum_sql('o_totalprice', 'total_spent')},
                 count(*) AS n_orders
          FROM cte_orders_v GROUP BY o_custkey
        )
        SELECT c_custkey, c_name, total_spent, n_orders
        FROM cust_totals JOIN customer_v ON o_custkey = c_custkey
        WHERE n_orders >= 12
        """
    )


_ORACLE_CTE = f"""
WITH cust_totals AS (
  SELECT o_custkey, {_dsum_sql('o_totalprice', 'total_spent')},
         count(*) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey, c_name, total_spent, n_orders
FROM cust_totals JOIN customer ON o_custkey = c_custkey
WHERE n_orders >= 12
"""


def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING: post-aggregation filter (agg -> filter in DataFrame terms)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") > 12)
    )


_ORACLE_HAVING = """
SELECT o_custkey, count(*) AS n_orders
FROM orders GROUP BY o_custkey HAVING count(*) > 12
"""


# ---- scalar function surface, wave 2 --------------------------------------


def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL surface: nullif / coalesce / null-safe equality / isnull."""
    li = _t(spark, sf_dir, "lineitem")
    zero_disc = F.nullif(F.col("l_discount"), F.lit(0.0))
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        zero_disc.alias("disc_or_null"),
        F.coalesce(zero_disc, F.lit(-1.0)).alias("disc_coalesced"),
        F.col("l_discount").eqNullSafe(zero_disc).cast("int").cast("bigint").alias("nullsafe_eq"),
        F.isnull(zero_disc).cast("int").cast("bigint").alias("is_zero"),
    )


_ORACLE_NULLS = """
SELECT l_orderkey,
       cast(l_linenumber as bigint) AS l_linenumber,
       nullif(l_discount, 0.0) AS disc_or_null,
       coalesce(nullif(l_discount, 0.0), -1.0) AS disc_coalesced,
       cast(cast(l_discount IS NOT DISTINCT FROM nullif(l_discount, 0.0) as int) as bigint) AS nullsafe_eq,
       cast(cast(nullif(l_discount, 0.0) IS NULL as int) as bigint) AS is_zero
FROM lineitem
"""


def q_string_functions2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface, wave 2: split_part/left/right/reverse/translate/
    strpos/repeat/like."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_word1"),
        F.expr("left(p_name, 4)").alias("name_left4"),
        F.expr("right(p_name, 4)").alias("name_right4"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
        F.translate(F.col("p_brand"), "#", "_").alias("brand_t"),
        F.instr(F.col("p_name"), "a").cast("bigint").alias("first_a"),
        F.repeat(F.lit("x"), 3).alias("xxx"),
        F.col("p_name").like("%a%").cast("int").cast("bigint").alias("has_a"),
    )


_ORACLE_STRING2 = """
SELECT p_partkey,
       split_part(p_type, ' ', 1) AS type_word1,
       left(p_name, 4) AS name_left4,
       right(p_name, 4) AS name_right4,
       reverse(p_brand) AS brand_rev,
       replace(p_brand, '#', '_') AS brand_t,
       cast(strpos(p_name, 'a') as bigint) AS first_a,
       repeat('x', 3) AS xxx,
       cast(cast(p_name LIKE '%a%' as int) as bigint) AS has_a
FROM part
"""


def q_regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp surface: extract group / global replace / match flag.
    Patterns kept to the Java-regex ∩ RE2 common subset."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract(F.col("p_type"), "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "*").alias("devoweled"),
        F.col("p_type").rlike("[0-9]").cast("int").cast("bigint").alias("has_digit"),
    )


_ORACLE_REGEXP = """
SELECT p_partkey,
       regexp_extract(p_type, '([a-z]+)', 1) AS first_word,
       regexp_replace(p_name, '[aeiou]', '*', 'g') AS devoweled,
       cast(cast(regexp_matches(p_type, '[0-9]') as int) as bigint) AS has_digit
FROM part
"""


def q_distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT over a multi-column projection."""
    o = _t(spark, sf_dir, "orders")
    return o.select("o_orderstatus", "o_orderpriority").distinct()


_ORACLE_DISTINCT_PROJ = """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
"""


def q_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... OFFSET ... LIMIT pagination (total order => exact)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_orderkey").asc())
        .offset(100)
        .limit(25)
        .select("o_orderkey", "o_totalprice")
    )


_ORACLE_LIMIT_OFFSET = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_orderkey ASC LIMIT 25 OFFSET 100
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles + median per group."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 6).alias("median_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.25)), 6).alias("p25_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 6).alias("p75_qty"),
    )


_ORACLE_PERCENTILES = """
SELECT l_returnflag,
       round(quantile_cont(cast(l_quantity as double), 0.5), 6) AS median_qty,
       round(quantile_cont(cast(l_quantity as double), 0.25), 6) AS p25_qty,
       round(quantile_cont(cast(l_quantity as double), 0.75), 6) AS p75_qty
FROM lineitem GROUP BY l_returnflag
"""


def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct under an accuracy-contract oracle.

    Engines use different sketches, so the raw estimate can't hash-match
    a DuckDB value. The graded output instead carries (a) the exact
    distinct count (the anchor both engines agree on) and (b) the sketch's
    accuracy claim — |approx - exact| <= 5% at rsd=0.01 — as a boolean the
    oracle asserts as TRUE. HLL++ is deterministic for fixed data, so the
    claim is a fixed fact of the dataset, not a flaky bound; rsd=0.01 puts
    5% at ~5 sigma. The sketch path still runs end to end.

    The two aggregates run as separate group-bys joined on the key:
    combining a high-precision HLL with countDistinct in ONE agg trips
    Spark's distinct-expand rewrite into merging dense 2^14-register
    sketches per expanded row (measured 44s vs 2s at sf0.1)."""
    li = _t(spark, sf_dir, "lineitem")
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("_approx")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders")
    )
    return exact.join(F.broadcast(approx), "l_returnflag").select(
        "l_returnflag",
        F.col("exact_orders").cast("bigint").alias("exact_orders"),
        (
            F.abs(F.col("_approx") - F.col("exact_orders")) <= 0.05 * F.col("exact_orders")
        ).alias("approx_within_5pct"),
    )


_ORACLE_APPROX_CD = """
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS approx_within_5pct
FROM lineitem GROUP BY l_returnflag
"""


# ---- window frames --------------------------------------------------------


def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartiles over a total order.

    Deliberately GLOBAL window — the literal ``NTILE(4) OVER (ORDER BY
    ...)`` SQL semantics being demonstrated (sanctioned exception in
    tests/test_plan_guards.py). At 100 TB use the scale-safe
    equivalent: ``equi_depth_histogram`` (registry_ext26) computes the
    same ntile bucket rule via a distributed two-phase rank
    (operators/scan_prefix.py) with no single-partition window."""
    o = _t(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return o.select(
        "o_orderkey", F.ntile(4).over(w).cast("bigint").alias("price_quartile")
    )


_ORACLE_NTILE = """
SELECT o_orderkey,
       cast(ntile(4) OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) as bigint) AS price_quartile
FROM orders
"""


def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE/LAST_VALUE over an explicit unbounded frame."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
    ).distinct()


_ORACLE_FIRST_LAST = """
SELECT DISTINCT o_custkey, o_orderkey,
       first_value(o_orderkey) OVER w AS first_order,
       last_value(o_orderkey) OVER w AS last_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: trailing-90-day spend per customer (time-based frame
    on a numeric day offset — the streaming-ish rolling aggregate)."""
    o = _t(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date"))
    w = Window.partitionBy("o_custkey").orderBy(day).rangeBetween(-90, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double"), 2
        ).alias("spend_90d"),
    )


_ORACLE_RANGE_FRAME = """
SELECT o_custkey, o_orderkey,
       round(cast(sum(cast(o_totalprice as decimal(18,6))) OVER (
         PARTITION BY o_custkey
         ORDER BY date_diff('day', DATE '1990-01-01', cast(o_orderdate as date))
         RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) as double), 2) AS spend_90d
FROM orders
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping() indicators via the SQL API."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               cast(grouping(l_returnflag) as bigint) AS g_flag,
               cast(grouping(l_linestatus) as bigint) AS g_status,
               count(*) AS n,
               {_dsum_sql('l_quantity', 'sum_qty')}
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


_ORACLE_GROUPING_SETS = f"""
SELECT l_returnflag, l_linestatus,
       cast(grouping(l_returnflag) as bigint) AS g_flag,
       cast(grouping(l_linestatus) as bigint) AS g_status,
       count(*) AS n,
       {_dsum_sql('l_quantity', 'sum_qty')}
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


# ---- more TPC-H shapes ----------------------------------------------------


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecasting revenue change: pure scan + filter + scalar agg
    — the pushdown showcase (all three predicates reach the parquet scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.09)
            & (F.col("l_quantity") < 24)
        )
        .agg(_dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


_ORACLE_Q6 = f"""
SELECT {_dsum_sql('l_extendedprice * l_discount', 'revenue')}
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.03 AND l_discount <= 0.09
  AND l_quantity < 24
"""


def q_tpch_q4_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-shaped: order-priority counts over orders having a late-shipping
    lineitem (EXISTS with correlated date arithmetic; the fixture has no
    commit/receipt dates, so 'late' = shipped >60 days after order)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate").cast("date"), 60).cast("timestamp"))
        .select("l_orderkey")
        .distinct()
    )
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_ORACLE_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > cast(cast(o_orderdate as date) + INTERVAL 60 DAY as timestamp))
GROUP BY o_orderpriority
"""


def q_tpch_q12_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-shaped: per linestatus, high- vs low-priority order counts for a
    shipping-date year (join + conditional agg)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


_ORACLE_Q12 = """
SELECT l_linestatus,
       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) as bigint) AS high_line_count,
       cast(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) as bigint) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
"""


def q_tpch_q18_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-shaped large-volume customers: orders whose total quantity
    exceeds a threshold, joined back to customer, deterministic top-100."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(_dsum(F.col("l_quantity"), "total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "total_qty")
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


_ORACLE_Q18 = f"""
WITH big AS (
  SELECT l_orderkey, {_dsum_sql('l_quantity', 'total_qty')}
  FROM lineitem GROUP BY l_orderkey
  HAVING round(cast(sum(cast(l_quantity as decimal(18,6))) as double), 2) > 150
)
SELECT c_custkey, c_name, o_orderkey, total_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey ASC
LIMIT 100
"""


# ---- hopping window + vector agg ------------------------------------------


def q_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window aggregate: 1h windows every 30min — each
    event lands in 2 windows. Batch twin of the streaming sliding-window
    op (F.window with slideDuration)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


_ORACLE_HOPPING = """
WITH starts AS (
  SELECT ts, time_bucket(INTERVAL '30 minutes', ts) - off AS ws
  FROM events, (VALUES (INTERVAL '0 minutes'), (INTERVAL '30 minutes')) t(off)
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS n_events
FROM starts
WHERE ts >= ws AND ts < ws + INTERVAL '1 hour'
GROUP BY ws
"""


def q_vector_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, dimension-wise: posexplode the vector
    and aggregate per (label, dim) — the scalable layout for vector
    aggregation (no per-row array rebuild, plain codegen hash agg)."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("x"), 6).alias("centroid_val"))
        .select("label", F.col("dim").cast("bigint").alias("dim"), "centroid_val")
    )


_ORACLE_CENTROIDS = """
SELECT label, cast(i - 1 as bigint) AS dim,
       round(avg(embedding[i]::DOUBLE), 6) AS centroid_val
FROM embeddings, range(1, 100) t(i)
WHERE i <= len(embedding)
GROUP BY label, i
"""


REGISTRY_EXT: dict[str, QuerySpec] = {
    "join_full_outer": QuerySpec(q_join_full_outer, _ORACLE_FULL_OUTER, "§2.6 join"),
    "set_union_distinct": QuerySpec(q_union_distinct, _ORACLE_UNION_DISTINCT, "§2.6 setop"),
    "set_except_all": QuerySpec(q_except_all, _ORACLE_EXCEPT_ALL, "§2.6 setop"),
    "set_intersect_all": QuerySpec(q_intersect_all, _ORACLE_INTERSECT_ALL, "§2.6 setop"),
    "pivot_wide": QuerySpec(q_pivot, _ORACLE_PIVOT, "§2.6 agg"),
    "unpivot_long": QuerySpec(q_unpivot, _ORACLE_UNPIVOT, "§2.6 agg"),
    "posexplode_lateral": QuerySpec(q_posexplode, _ORACLE_POSEXPLODE, "§2.6 lateral"),
    "array_agg_sorted": QuerySpec(q_array_agg_sorted, _ORACLE_ARRAY_AGG, "§2.6 agg/array"),
    "listagg_ordered": QuerySpec(q_listagg, _ORACLE_LISTAGG, "§2.6 agg/string"),
    "scalar_subquery": QuerySpec(q_scalar_subquery, _ORACLE_SCALAR_SUBQ, "§2.6 subquery"),
    "cte_with_clause": QuerySpec(q_cte, _ORACLE_CTE, "§2.6 sql"),
    "having_filter": QuerySpec(q_having, _ORACLE_HAVING, "§2.6 agg"),
    "null_handling": QuerySpec(q_null_handling, _ORACLE_NULLS, "§2.6 scalar"),
    "string_functions2": QuerySpec(q_string_functions2, _ORACLE_STRING2, "§2.6 scalar"),
    "regexp_functions": QuerySpec(q_regexp_functions, _ORACLE_REGEXP, "§2.6 scalar"),
    "distinct_projection": QuerySpec(q_distinct_projection, _ORACLE_DISTINCT_PROJ, "§2.6"),
    "limit_offset_pagination": QuerySpec(q_limit_offset, _ORACLE_LIMIT_OFFSET, "§2.6 sort"),
    "percentiles_exact": QuerySpec(q_percentiles, _ORACLE_PERCENTILES, "§2.6 agg"),
    "approx_count_distinct": QuerySpec(
        q_approx_count_distinct, _ORACLE_APPROX_CD, "§2.6 agg approx, accuracy-contract oracle"
    ),
    "window_ntile": QuerySpec(q_window_ntile, _ORACLE_NTILE, "§2.6 window"),
    "window_first_last": QuerySpec(q_window_first_last, _ORACLE_FIRST_LAST, "§2.6 window"),
    "window_range_90d": QuerySpec(q_window_range_frame, _ORACLE_RANGE_FRAME, "§2.6 window"),
    "grouping_sets": QuerySpec(q_grouping_sets, _ORACLE_GROUPING_SETS, "§2.6 agg"),
    "tpch_q6_forecast": QuerySpec(q_tpch_q6, _ORACLE_Q6, "§2.6 agg"),
    "tpch_q4_shape": QuerySpec(q_tpch_q4_shape, _ORACLE_Q4, "§2.6 join"),
    "tpch_q12_shape": QuerySpec(q_tpch_q12_shape, _ORACLE_Q12, "§2.6 join+agg"),
    "tpch_q18_shape": QuerySpec(q_tpch_q18_shape, _ORACLE_Q18, "§2.6 join+agg"),
    "hopping_window_agg": QuerySpec(q_hopping_window, _ORACLE_HOPPING, "§2.6 window/streaming-batch"),
    "vector_centroids": QuerySpec(q_vector_centroids, _ORACLE_CENTROIDS, "X5/X3 vector agg"),
}
