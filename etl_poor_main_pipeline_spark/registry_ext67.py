"""Operator registry, wave 68: Gini inequality of join fanout,
per-user engagement entropy, and degree assortativity.

Scale stances:
- Gini: computed from VALUE COUNTS over the tiny fanout domain
  (1..7), so the classic mean-absolute-difference double sum is a
  |domain|^2 cross join of counts — exact integers through the final
  division, no global sort (the rank-based Gini formula needs one).
- Entropy: per-user Shannon entropy over <= 5 event types — per-user
  terms are nano-ints; the report is a 10-bucket histogram over the
  users-bounded frame.
- Assortativity: Pearson correlation of endpoint degrees across
  edges — one degree aggregate joined to both edge ends, then the
  exact-int correlation numerator/denominator (decimal accumulation);
  positive r = hubs link hubs (dedup clusters are cliques), negative
  = star topology.

Reference parity: none; [EXT] X7/X9 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import dedup
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# Gini coefficient of order fanout (X7 [EXT])
# --------------------------------------------------------------------------


def q_fanout_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Gini coefficient of lineitem-per-order fanout: the
    inequality summary behind "are a few giant orders carrying the
    volume?". Because fanout lives on a tiny integer domain, Gini =
    sum_ij |x_i - x_j| c_i c_j / (2 n^2 mu) is an exact |domain|^2
    cross join of VALUE COUNTS — no global sort, everything integer
    until one final division to a micro."""
    per_order = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("fanout"))
    )
    counts = per_order.groupBy("fanout").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    a = counts.select(F.col("fanout").alias("xi"), F.col("c").alias("ci"))
    b = counts.select(F.col("fanout").alias("xj"), F.col("c").alias("cj"))
    cross = a.crossJoin(F.broadcast(b)).agg(
        F.sum(F.abs(F.col("xi") - F.col("xj")) * F.col("ci") * F.col("cj"))
        .cast("bigint")
        .alias("mad_num")
    )
    tot = counts.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("fanout") * F.col("c")).cast("bigint").alias("s"),
    )
    return cross.crossJoin(tot).select(
        "n",
        F.floor(F.lit(1e6) * F.col("s") / F.col("n") + F.lit(0.5))
        .cast("bigint")
        .alias("mean_fanout_micro"),
        # gini = mad_num / (2 * n * s)
        F.floor(
            F.lit(1e6) * F.col("mad_num") / (F.lit(2) * F.col("n") * F.col("s"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("gini_micro"),
    )


_ORACLE_GINI = """
WITH per_order AS (
  SELECT l_orderkey, count(*)::BIGINT AS fanout FROM lineitem GROUP BY 1
),
counts AS (SELECT fanout, count(*)::BIGINT AS c FROM per_order GROUP BY 1),
crossed AS (
  SELECT sum(abs(a.fanout - b.fanout) * a.c * b.c)::BIGINT AS mad_num
  FROM counts a CROSS JOIN counts b
),
tot AS (
  SELECT sum(c)::BIGINT AS n, sum(fanout * c)::BIGINT AS s FROM counts
)
SELECT t.n,
       cast(floor(1e6 * t.s / t.n + 0.5) AS bigint) AS mean_fanout_micro,
       cast(floor(1e6 * x.mad_num / (2 * t.n * t.s) + 0.5) AS bigint)
         AS gini_micro
FROM crossed x CROSS JOIN tot t
"""


# --------------------------------------------------------------------------
# Per-user engagement entropy histogram (X7/X9 [EXT])
# --------------------------------------------------------------------------


def q_user_diversity_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X9 engagement-diversity histogram: each user's Shannon
    entropy over their event-type distribution (0 = single-note,
    ln(5) = fully mixed), bucketed into 10 fixed bins — the
    segmentation signal that separates bots (entropy ~0) from organic
    browsers. Per-user terms land on nano-ints; the histogram runs
    over the users-bounded frame."""
    ut = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    totals = ut.groupBy("user_id").agg(F.sum("c").cast("bigint").alias("n"))
    terms = ut.join(totals, "user_id").select(
        "user_id",
        F.floor(
            F.lit(-1e9)
            * (F.col("c") / F.col("n"))
            * F.log(F.col("c") / F.col("n"))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("h_nano"),
    )
    max_h = 1.6094379124341003  # ln(5), the 5-type ceiling
    per_user = terms.groupBy("user_id").agg(
        F.sum("h_nano").cast("bigint").alias("h_nano")
    )
    return (
        per_user.select(
            F.least(
                F.floor(F.col("h_nano") * 10 / F.lit(int(max_h * 1e9))),
                F.lit(9),
            )
            .cast("bigint")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("bucket")
    )


_ORACLE_ENTROPY = f"""
WITH ut AS (
  SELECT user_id, event_type, count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
totals AS (SELECT user_id, sum(c)::BIGINT AS n FROM ut GROUP BY 1),
terms AS (
  SELECT ut.user_id,
         cast(floor(-1e9 * (ut.c * 1.0 / t.n) * ln(ut.c * 1.0 / t.n) + 0.5)
              AS bigint) AS h_nano
  FROM ut JOIN totals t USING (user_id)
),
per_user AS (SELECT user_id, sum(h_nano)::BIGINT AS h_nano FROM terms GROUP BY 1)
SELECT least(cast(floor(h_nano * 10.0 / {int(1.6094379124341003 * 1e9)}) AS bigint),
             9) AS bucket,
       count(*)::BIGINT AS n_users
FROM per_user GROUP BY 1 ORDER BY bucket
"""


# --------------------------------------------------------------------------
# Degree assortativity (X9 [EXT])
# --------------------------------------------------------------------------


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 degree assortativity of the near-dup graph: the
    Pearson correlation of endpoint degrees over all (directed) edges
    — positive means hubs attach to hubs (clique-like template
    families, safe to collapse), negative means star topologies
    (collapse pulls in satellites). One degree aggregate joined to
    both edge ends; the correlation keeps exact-int numerators in
    decimal(38,0) and pays one sqrt at the end."""
    d = _t(spark, sf_dir, "documents")
    pairs = barrier(dedup.jaccard_token_sets(
        d, threshold=0.8, block_cols=["lang"], length_window=16
    ).select("id_a", "id_b"))
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).unionAll(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    xy = (
        edges.join(deg.select(F.col("src"), F.col("deg").alias("dx")), "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("deg").alias("dy")), "dst"
        )
        .select("dx", "dy")
    )
    agg = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("m2"),
        F.sum(F.col("dx").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("dy").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("dx").cast("decimal(38,0)") * F.col("dx").cast("decimal(38,0)"))).alias("sxx"),
        F.sum((F.col("dy").cast("decimal(38,0)") * F.col("dy").cast("decimal(38,0)"))).alias("syy"),
        F.sum((F.col("dx").cast("decimal(38,0)") * F.col("dy").cast("decimal(38,0)"))).alias("sxy"),
    )
    num = (F.col("m2").cast("decimal(38,0)") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("m2").cast("decimal(38,0)") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    ) * F.sqrt(
        (F.col("m2").cast("decimal(38,0)") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return agg.select(
        "m2",
        F.floor(F.lit(1e6) * num / den + F.lit(0.5)).cast("bigint").alias("r_micro"),
    )


_ORACLE_ASSORTATIVITY = r"""
WITH toks AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                                   t -> t <> '')) AS tok_set
  FROM documents
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM toks a JOIN toks b
    ON a.doc_id < b.doc_id AND a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 16
  WHERE cast(len(list_intersect(a.tok_set, b.tok_set)) as double)
        / cast(len(list_distinct(list_concat(a.tok_set, b.tok_set))) as double) >= 0.8
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
deg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY 1),
xy AS (
  SELECT da.deg AS dx, db.deg AS dy
  FROM edges e JOIN deg da ON da.src = e.src JOIN deg db ON db.src = e.dst
),
agg AS (
  SELECT count(*)::BIGINT AS m2,
         sum(cast(dx AS hugeint)) AS sx, sum(cast(dy AS hugeint)) AS sy,
         sum(cast(dx AS hugeint) * cast(dx AS hugeint)) AS sxx,
         sum(cast(dy AS hugeint) * cast(dy AS hugeint)) AS syy,
         sum(cast(dx AS hugeint) * cast(dy AS hugeint)) AS sxy
  FROM xy
)
SELECT m2,
       cast(floor(1e6 * cast(m2 * sxy - sx * sy AS double)
                  / (sqrt(cast(m2 * sxx - sx * sx AS double))
                     * sqrt(cast(m2 * syy - sy * sy AS double))) + 0.5) AS bigint)
         AS r_micro
FROM agg
"""


REGISTRY_EXT67: dict[str, QuerySpec] = {
    "fanout_gini": QuerySpec(q_fanout_gini, _ORACLE_GINI, "X7 [EXT] inequality metric"),
    "user_diversity_entropy": QuerySpec(
        q_user_diversity_entropy, _ORACLE_ENTROPY, "X7/X9 [EXT] engagement diversity"
    ),
    "degree_assortativity": QuerySpec(
        q_degree_assortativity, _ORACLE_ASSORTATIVITY, "X9 [EXT] graph topology"
    ),
}
