"""Operator registry, wave 22: pipeline-operations ops — CDC-style
snapshot diffing, declarative data-quality audits, and a count-min
heavy-hitters sketch with exact anchors. These are the jobs that run
*around* a production lake (change detection, contract enforcement,
cardinality triage), not inside a single query.

Scale stances:
- snapshot diff: one full-outer join on the key with row-fingerprint
  compare — the only data-sized shuffle; per-side fingerprints are
  map-side xxhash64 expressions, so the join carries (key, 8-byte hash),
  not whole rows.
- DQ audit: each rule is a map-side predicate aggregated in ONE pass
  over the fact table (conditional sums, no per-rule scans); the FK
  orphan rule is a broadcast anti-join against the dimension.
- count-min: 3 seeded hash rows per token -> one (seed, bucket)
  aggregate; estimates join back only for the (tiny) exact top-k. The
  sketch is mergeable by construction (bucket counts add), which is the
  100 TB property that matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.dedup import POLY_P, minhash_coeffs, poly_hash_expr, spread
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# CDC snapshot diff
# --------------------------------------------------------------------------

# two deterministic "snapshots" derived from orders: OLD drops keys
# divisible by 97, NEW drops keys divisible by 89 and re-prices keys
# divisible by 7 — so added/removed/changed are all non-empty and exact.
_OLD_PRED = "o_orderkey % 97 <> 0"
_NEW_PRED = "o_orderkey % 89 <> 0"
_NEW_PRICE = "CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END"


def q_snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] W/X CDC-style snapshot diff: full-outer join two table
    versions on the key, classify each key added / removed / changed /
    unchanged by comparing per-row fingerprints (xxhash64 over the
    value columns — the join shuffles an 8-byte hash, never the row
    payload). The per-class counts + key envelope are what an
    incremental-maintenance job consumes."""
    o = _t(spark, sf_dir, "orders")
    old = o.where(F.expr(_OLD_PRED)).select(
        "o_orderkey",
        F.xxhash64(F.col("o_totalprice"), F.col("o_orderstatus")).alias("fp_old"),
    )
    new = o.where(F.expr(_NEW_PRED)).select(
        "o_orderkey",
        F.xxhash64(F.expr(_NEW_PRICE), F.col("o_orderstatus")).alias("fp_new"),
    )
    diff = old.join(new, "o_orderkey", "full_outer").select(
        "o_orderkey",
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") != F.col("fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
    )
    return (
        diff.groupBy("change_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("o_orderkey").alias("key_min"),
            F.max("o_orderkey").alias("key_max"),
        )
        .orderBy("change_type")
    )


# DuckDB's hash() differs from xxhash64 — but the CLASSIFICATION only needs
# "fingerprints equal iff value columns equal", so the oracle compares the
# raw value tuple instead; same classes, engine-portable.
_ORACLE_SNAPSHOT_DIFF = f"""
WITH old AS (
  SELECT o_orderkey, o_totalprice AS p, o_orderstatus AS s
  FROM orders WHERE {_OLD_PRED}
), new AS (
  SELECT o_orderkey, {_NEW_PRICE} AS p, o_orderstatus AS s
  FROM orders WHERE {_NEW_PRED}
), diff AS (
  SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
         CASE WHEN old.o_orderkey IS NULL THEN 'added'
              WHEN new.o_orderkey IS NULL THEN 'removed'
              WHEN old.p <> new.p OR old.s <> new.s THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
)
SELECT change_type, cast(count(*) AS bigint) AS n,
       min(o_orderkey) AS key_min, max(o_orderkey) AS key_max
FROM diff GROUP BY change_type ORDER BY change_type
"""


# --------------------------------------------------------------------------
# data-quality audit
# --------------------------------------------------------------------------


def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] W declarative data-quality audit: every rule evaluates in a
    single pass over lineitem (conditional sums — one scan however many
    rules), plus one anti-join for the FK-orphan rule whose customer-key
    side is size-GATED (fastpath.broadcast_if_small: pinned while the
    table fits an executor, plain shuffled anti-join at scale). Output
    is the contract report: rule name, violation count, rows checked."""
    from .fastpath import broadcast_if_small
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = F.count(F.lit(1)).cast("bigint")
    viol = lambda cond: F.sum(cond.cast("long")).cast("bigint")  # noqa: E731
    single_pass = li.agg(
        n.alias("n_checked"),
        viol(F.col("l_quantity") <= 0).alias("nonpositive_quantity"),
        viol((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias(
            "discount_out_of_range"
        ),
        viol(F.col("l_shipdate").isNull()).alias("null_shipdate"),
        viol(F.col("l_extendedprice") < 0).alias("negative_price"),
    )
    rules = single_pass.selectExpr(
        "stack(4, "
        "'nonpositive_quantity', nonpositive_quantity, "
        "'discount_out_of_range', discount_out_of_range, "
        "'null_shipdate', null_shipdate, "
        "'negative_price', negative_price) AS (rule, n_violations)",
        "n_checked",
    )
    # one job: the orphan count plus orders' row count via a 1-row cross join
    orphans = (
        o.join(
            broadcast_if_small(c, sf_dir, ["customer"]),
            o.o_custkey == c.c_custkey,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
        .crossJoin(o.agg(F.count(F.lit(1)).cast("bigint").alias("n_checked")))
        .select(F.lit("fk_orphan_custkey").alias("rule"), "n_violations", "n_checked")
    )
    return rules.unionByName(orphans).orderBy("rule")


_ORACLE_DQ = """
WITH li AS (
  SELECT cast(count(*) AS bigint) AS n_checked,
         cast(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS bigint) AS nonpositive_quantity,
         cast(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS bigint) AS discount_out_of_range,
         cast(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS bigint) AS null_shipdate,
         cast(sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS bigint) AS negative_price
  FROM lineitem
)
SELECT rule, n_violations, n_checked FROM (
  SELECT 'nonpositive_quantity' AS rule, nonpositive_quantity AS n_violations, n_checked FROM li
  UNION ALL
  SELECT 'discount_out_of_range', discount_out_of_range, n_checked FROM li
  UNION ALL
  SELECT 'null_shipdate', null_shipdate, n_checked FROM li
  UNION ALL
  SELECT 'negative_price', negative_price, n_checked FROM li
  UNION ALL
  SELECT 'fk_orphan_custkey',
         (SELECT cast(count(*) AS bigint) FROM orders o
           WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
         (SELECT cast(count(*) AS bigint) FROM orders)
)
ORDER BY rule
"""


# --------------------------------------------------------------------------
# count-min heavy hitters
# --------------------------------------------------------------------------

_CM_BUCKETS = 1024
# fixed-seed universal-hash rows over the portable polynomial token hash
# (dedup.poly_hash_expr) — same construction the MinHash oracle twins use,
# so both engines compute identical buckets (xxhash64 is Spark-specific)
_CM_COEFFS = minhash_coeffs(3, seed=7)


def q_count_min_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6/sketch count-min heavy hitters over document tokens:
    3 universal-hash rows x 1024 buckets over the portable polynomial
    token hash; estimate(term) = min over rows of its bucket count.
    Bucket counts ADD across partitions/days (mergeable — the property
    that lets 1000 executors sketch 100 TB and a reducer fold 1000
    sketches). Report the exact top-10 terms with their CM estimate;
    CM guarantees estimate >= exact, and the oracle reproduces the
    bucket arithmetic exactly (fixed-seed coefficient literals)."""
    toks = barrier(
        spread(_t(spark, sf_dir, "documents"))
        .select(
            F.explode(
                F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
            ).alias("term")
        )
        .select("term", poly_hash_expr("term").alias("h")),
        eager=True,  # feeds the sketch AND the exact top-k
    )

    def bucket(i: int) -> F.Column:
        a, b = _CM_COEFFS[i]
        return F.pmod(F.pmod(F.col("h") * a + b, F.lit(POLY_P)), F.lit(_CM_BUCKETS))

    with_b = toks.select(
        "term", *[bucket(i).alias(f"b{i}") for i in range(3)]
    )
    buckets = [
        with_b.groupBy(f"b{i}").agg(F.count(F.lit(1)).alias(f"c{i}"))
        for i in range(3)
    ]
    exact = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"), F.first("h").alias("h"))
        .orderBy(F.desc("exact_n"), "term")
        .limit(10)
    )
    est = exact.select(
        "term", "exact_n", *[bucket(i).alias(f"b{i}") for i in range(3)]
    )
    for i in range(3):
        est = est.join(F.broadcast(buckets[i]), f"b{i}")
    return est.select(
        "term",
        "exact_n",
        F.least("c0", "c1", "c2").cast("bigint").alias("cm_estimate"),
        (F.least("c0", "c1", "c2") >= F.col("exact_n")).alias("never_undercounts"),
    ).orderBy(F.desc("exact_n"), "term")


def _oracle_count_min() -> str:
    poly = (
        "list_reduce(list_prepend(0::BIGINT, "
        "list_transform(string_split(term, ''), c -> ascii(c)::BIGINT)), "
        f"(acc, c) -> (acc * 131 + c) % {POLY_P})"
    )
    bucket_exprs = ", ".join(
        f"((h * {a} + {b}) % {POLY_P}) % {_CM_BUCKETS} AS b{i}"
        for i, (a, b) in enumerate(_CM_COEFFS)
    )
    joins = " ".join(f"JOIN bk{i} USING (b{i})" for i in range(3))
    bks = ", ".join(
        f"bk{i} AS (SELECT b{i}, cast(count(*) AS bigint) AS c{i} FROM toks_b GROUP BY 1)"
        for i in range(3)
    )
    return f"""
WITH toks AS (
  SELECT term, {poly} AS h FROM (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS term
    FROM documents
  )
), toks_b AS (
  SELECT term, {bucket_exprs} FROM toks
), {bks},
exact AS (
  SELECT term, cast(count(*) AS bigint) AS exact_n, any_value(h) AS h
  FROM toks GROUP BY term ORDER BY exact_n DESC, term LIMIT 10
), est AS (
  SELECT term, exact_n, {bucket_exprs}
  FROM exact
)
SELECT term, exact_n,
       cast(least(c0, c1, c2) AS bigint) AS cm_estimate,
       least(c0, c1, c2) >= exact_n AS never_undercounts
FROM est {joins}
ORDER BY exact_n DESC, term
"""


REGISTRY_EXT21: dict[str, QuerySpec] = {
    "snapshot_diff_cdc": QuerySpec(
        q_snapshot_diff_cdc, _ORACLE_SNAPSHOT_DIFF, "W/X [EXT] CDC diff"
    ),
    "dq_audit_rules": QuerySpec(q_dq_audit, _ORACLE_DQ, "W [EXT] data quality"),
    "count_min_heavy_hitters": QuerySpec(
        q_count_min_heavy_hitters, _oracle_count_min(), "X6/sketch [EXT]"
    ),
}
