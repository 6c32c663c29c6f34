"""Operator registry, wave 93: evaluation/audit tier — IPS/SNIPS
counterfactual policy evaluation, a Wald-Wolfowitz runs-test shuffle
audit, and the Markov entropy rate (with stationary distribution by
power iteration on the enum-bounded transition matrix).

Scale stances:
- IPS/SNIPS: logging propensities are one grouped aggregate broadcast
  back; the estimator is a single weighted reduce. Nothing scales
  beyond the event-type enum.
- Runs test: the global shuffle order comes from
  scan_prefix.global_rank_zero (no global window); adjacency along that
  order is an EQUI-join of rank r with r+1 — partition-parallel, one
  row per boundary.
- Entropy rate: the transition matrix is |enum|^2-bounded; the
  stationary distribution runs {it} power-iteration rounds on that tiny
  frame, each iterate micro-snapped (cross-engine determinism rule);
  the final H = -sum pi_i P_ij ln P_ij sums through decimal(38,16).

Reference parity: none; [EXT] X7/X8/X9 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.scan_prefix import global_rank_zero
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# IPS / SNIPS counterfactual policy evaluation (X7 [EXT])
# --------------------------------------------------------------------------


def q_ips_snips_offline_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 counterfactual (off-policy) evaluation of a UNIFORM
    target policy from logged interactions: the logging policy's
    propensity for an event type is its observed frequency; each logged
    reward (milli-value) is reweighted by w = p_target / p_logged =
    (1/K) / freq. Reports the direct average (on-policy), the IPS
    estimate avg(w * r), and the self-normalized SNIPS estimate
    sum(w * r) / sum(w) — SNIPS trades a little bias for much lower
    variance when propensities are skewed, which is why production
    off-policy dashboards show both. One propensity aggregate broadcast
    back + one weighted reduce; micro-int outputs."""
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_type", "cast(floor(1e3 * value + 0.5) as bigint) as rk"
    )
    prop = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a")
    )
    tot = prop.agg(
        F.sum("n_a").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    scored = (
        e.join(F.broadcast(prop), "event_type")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "rk",
            # w = (1/k) / (n_a/n) = n / (k * n_a)
            "cast(n as double) / (cast(k as double) * cast(n_a as double)) as w",
        )
        .selectExpr(
            "rk",
            "w",
            "cast(w * cast(rk as double) as decimal(38,16)) as wr",
        )
    )
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_logged"),
        F.floor(
            F.avg(F.col("rk").cast("double")) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("direct_milli"),
        F.floor(
            F.sum("wr").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("ips_milli"),
        F.floor(
            F.sum("wr").cast("double")
            / F.sum(F.col("w").cast("decimal(38,16)")).cast("double")
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("snips_milli"),
    )


_ORACLE_IPS = """
WITH e AS (
  SELECT event_type, cast(floor(1e3 * value + 0.5) AS bigint) AS rk
  FROM events
),
prop AS (SELECT event_type, count(*)::BIGINT AS n_a FROM e GROUP BY 1),
tot AS (SELECT sum(n_a)::BIGINT AS n, count(*)::BIGINT AS k FROM prop),
scored AS (
  SELECT rk,
         cast(n AS double) / (cast(k AS double) * cast(n_a AS double)) AS w,
         cast(cast(n AS double) / (cast(k AS double) * cast(n_a AS double))
              * cast(rk AS double) AS decimal(38,16)) AS wr
  FROM e JOIN prop USING (event_type) CROSS JOIN tot
)
SELECT count(*)::BIGINT AS n_logged,
       cast(floor(avg(cast(rk AS double)) + 0.5) AS bigint) AS direct_milli,
       cast(floor(cast(sum(wr) AS double) / count(*) + 0.5) AS bigint) AS ips_milli,
       cast(floor(cast(sum(wr) AS double)
                  / cast(sum(cast(w AS decimal(38,16))) AS double) + 0.5)
            AS bigint) AS snips_milli
FROM scored
"""


# --------------------------------------------------------------------------
# Wald-Wolfowitz runs-test shuffle audit (X8 [EXT])
# --------------------------------------------------------------------------


def q_runs_test_shuffle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X8 shuffle-quality audit: order documents by the
    deterministic md5(doc_id) shuffle (the same order the training
    packers use), binarize each doc by whether its source sorts in the
    top half of the source enum, and run the Wald-Wolfowitz runs test:
    R = 1 + #(adjacent pairs that differ), E[R] = 2*n1*n0/n + 1,
    Var[R] = (E[R]-1)(E[R]-2)/(n-1); |z| large means the "shuffle"
    still clusters sources and epoch batches won't be i.i.d. Document
    ranks come from scan_prefix.global_rank_zero; adjacency is an
    equi-join of rank r with r+1 (partition-parallel). One row: n, runs,
    expected runs (micro), z (micro).

    Plan economy (round-12 trim, r11 VERDICT #5): the source enum is
    ranked with a triangular join over the <=|sources| distinct frame
    (enum-bounded — a full Blelloch pipeline for a handful of rows was
    the old plan's first ~10 exchanges), and the ranked sequence is
    localCheckpoint'ed so its THREE consumers (adjacency left side,
    shifted right side, the n/n1 counts) share one computation instead
    of recompiling the whole rank pipeline each."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h"), "source"
    )
    # binarize: source in the lexicographic top half of the DISTINCT enum
    srcs = d.select("source").distinct()
    n_src = srcs.agg(F.count(F.lit(1)).cast("bigint").alias("ns"))
    rhs = srcs.selectExpr("source AS s2")
    ranked_src = (
        srcs.join(F.broadcast(rhs), F.expr("s2 < source"), "left")
        .groupBy("source")
        .agg(F.count("s2").cast("bigint").alias("sr"))
    )
    flag = (
        ranked_src.crossJoin(F.broadcast(n_src))
        .selectExpr("source", "CASE WHEN sr * 2 >= ns THEN 1 ELSE 0 END as b")
    )
    seq = barrier(
        global_rank_zero(
            d.join(F.broadcast(flag), "source").select("doc_id", "h", "b"),
            ["h", "doc_id"],
            8,
            out="r0",
        )
        .select("r0", "b")
    )
    nxt = seq.selectExpr("r0 - 1 as r0", "b as b_next")
    runs = (
        seq.join(nxt, "r0")
        .agg(
            F.sum(F.when(F.col("b") != F.col("b_next"), 1).otherwise(0))
            .cast("bigint")
            .alias("switches")
        )
        .selectExpr("switches + 1 as runs")
    )
    counts = seq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("b").cast("bigint").alias("n1"),
    ).selectExpr("n", "n1", "n - n1 as n0")
    return (
        counts.crossJoin(F.broadcast(runs))
        .selectExpr(
            "n",
            "runs",
            "2.0 * cast(n1 as double) * cast(n0 as double) / cast(n as double)"
            " + 1.0 as er",
        )
        .selectExpr(
            "n",
            "runs",
            "cast(floor(1e6 * er + 0.5) as bigint) as expected_runs_micro",
            "cast(floor(1e6 * (cast(runs as double) - er)"
            " / sqrt((er - 1.0) * (er - 2.0) / cast(n - 1 as double)) + 0.5)"
            " as bigint) as z_micro",
        )
    )


_ORACLE_RUNS = """
WITH d AS (
  SELECT doc_id, md5(cast(doc_id AS varchar)) AS h, source FROM documents
),
srcs AS (SELECT DISTINCT source FROM d),
n_src AS (SELECT count(*)::BIGINT AS ns FROM srcs),
flag AS (
  SELECT source,
         CASE WHEN (row_number() OVER (ORDER BY source) - 1) * 2 >= ns
              THEN 1 ELSE 0 END AS b
  FROM srcs CROSS JOIN n_src
),
seq AS (
  SELECT row_number() OVER (ORDER BY h, doc_id) - 1 AS r0, b
  FROM d JOIN flag USING (source)
),
runs AS (
  SELECT 1 + sum(CASE WHEN a.b <> x.b THEN 1 ELSE 0 END)::BIGINT AS runs
  FROM seq a JOIN seq x ON x.r0 = a.r0 + 1
),
counts AS (
  SELECT count(*)::BIGINT AS n, sum(b)::BIGINT AS n1,
         count(*)::BIGINT - sum(b)::BIGINT AS n0
  FROM seq
)
SELECT n, runs,
       cast(floor(1e6 * (2.0 * cast(n1 AS double) * cast(n0 AS double)
            / cast(n AS double) + 1.0) + 0.5) AS bigint) AS expected_runs_micro,
       cast(floor(1e6 * (cast(runs AS double)
            - (2.0 * cast(n1 AS double) * cast(n0 AS double) / cast(n AS double) + 1.0))
            / sqrt(((2.0 * cast(n1 AS double) * cast(n0 AS double) / cast(n AS double) + 1.0) - 1.0)
                   * ((2.0 * cast(n1 AS double) * cast(n0 AS double) / cast(n AS double) + 1.0) - 2.0)
                   / cast(n - 1 AS double)) + 0.5) AS bigint) AS z_micro
FROM counts CROSS JOIN runs
"""


# --------------------------------------------------------------------------
# Markov entropy rate (X9 [EXT])
# --------------------------------------------------------------------------

_ER_ITERS = 8


def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 entropy rate of the per-user event-type Markov chain:
    H = -sum_i pi_i sum_j P_ij ln P_ij (nats, micro), with the
    stationary distribution pi from {it} power-iteration rounds of
    pi <- pi P on the |enum|^2-bounded transition matrix (uniform
    start, every iterate micro-snapped — the cross-engine determinism
    rule). The one number that says how predictable user behavior is:
    log(K) means memoryless uniform, near 0 means deterministic
    next-action. Also reports the plain transition entropy conditioned
    on the EMPIRICAL source distribution for contrast. The corpus pass
    is the markov_transitions lead() pipeline; everything after is
    enum-bounded."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = barrier(
        e.select("user_id", "event_id", "ts", F.col("event_type").alias("src"))
        .withColumn("dst", F.lead("src").over(w))
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # Round-14 shape: the transition matrix is |enum|^2-bounded (<= 25
    # cells), so after the one corpus pass the whole chain — row
    # normalization, 8 power-iteration rounds, both entropy sums — runs
    # as map/array expression lambdas over ONE collected row. Identical
    # arithmetic (micro-snapped doubles, decimal(38,16) term sums are
    # order-free), but the former 8 per-round shuffles + broadcast
    # builds (21 scheduler jobs measured) collapse into the corpus
    # aggregation job. A state drops out of pi exactly when no surviving
    # transition reaches it — the same semantics the old groupBy(dst)
    # after the inner join on pi had.
    row = tr.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("src"), F.col("dst"), F.col("n")))
        ).alias("td")
    )
    row = row.selectExpr(
        "td",
        "aggregate(td, cast(0 as bigint), (acc, x) -> acc + x.n) AS nt",
        "array_sort(array_distinct(transform(td, x -> x.src))) AS srcs",
    )
    row = row.selectExpr(
        "td",
        "nt",
        "srcs",
        "map_from_arrays(srcs, transform(srcs, s -> aggregate("
        "filter(td, x -> x.src = s), cast(0 as bigint),"
        " (acc, x) -> acc + x.n))) AS totm",
    )
    row = row.selectExpr(
        "nt",
        "totm",
        # micro-snap the transition probabilities once, in both engines
        "transform(td, x -> struct(x.src as src, x.dst as dst,"
        " floor(1e6 * cast(x.n as double)"
        " / cast(try_element_at(totm, x.src) as double) + 0.5) / 1e6 as p))"
        " AS p",
        "map_from_arrays(srcs, transform(srcs,"
        " s -> 1.0 / cast(size(srcs) as double))) AS pi",
    )
    live = "filter(p, x -> try_element_at(pi, x.src) is not null)"
    for _ in range(_ER_ITERS):
        dsts = f"array_sort(array_distinct(transform({live}, x -> x.dst)))"
        newpi = (
            f"map_from_arrays({dsts}, transform({dsts},"
            " d -> floor(1e6 * cast(aggregate("
            f"filter({live}, x -> x.dst = d),"
            " cast(0 as decimal(38,16)), (acc, x) -> cast(acc"
            " + cast(try_element_at(pi, x.src) * x.p as decimal(38,16))"
            " as decimal(38,16)))"
            " as double) + 0.5) / 1e6))"
        )
        row = row.selectExpr("nt", "totm", "p", f"{newpi} AS pi")
    return row.selectExpr(
        f"cast(floor(1e6 * cast(aggregate({live},"
        " cast(0 as decimal(38,16)), (acc, x) -> cast(acc"
        " + cast((-try_element_at(pi, x.src)) * x.p * ln(x.p)"
        " as decimal(38,16)) as decimal(38,16))) as double) + 0.5) as bigint)"
        " AS entropy_rate_micro",
        "cast(floor(1e6 * cast(aggregate(p,"
        " cast(0 as decimal(38,16)), (acc, x) -> cast(acc"
        " + cast((-(cast(try_element_at(totm, x.src) as double)"
        " / cast(nt as double))) * x.p * ln(x.p)"
        " as decimal(38,16)) as decimal(38,16))) as double) + 0.5) as bigint)"
        " AS empirical_cond_entropy_micro",
    )


def _er_oracle() -> str:
    head = """WITH tr AS (
  SELECT src, dst, count(*)::BIGINT AS n FROM (
    SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
    FROM events
  ) WHERE dst IS NOT NULL GROUP BY 1, 2
),
row_tot AS (SELECT src, sum(n)::BIGINT AS tot FROM tr GROUP BY 1),
p AS (
  SELECT src, dst,
         floor(1e6 * cast(n AS double) / cast(tot AS double) + 0.5) / 1e6 AS p
  FROM tr JOIN row_tot USING (src)
),
states AS (SELECT src FROM row_tot),
kk AS (SELECT count(*)::BIGINT AS k FROM states),
pi0 AS (SELECT src, 1.0 / cast(k AS double) AS pi FROM states CROSS JOIN kk)"""
    prev = "pi0"
    parts = [head]
    for it in range(1, _ER_ITERS + 1):
        parts.append(
            f""",
pi{it} AS (
  SELECT p.dst AS src,
         floor(1e6 * cast(sum(cast(pi * p AS decimal(38,16))) AS double) + 0.5)
           / 1e6 AS pi
  FROM p JOIN {prev} USING (src)
  GROUP BY 1
)"""
        )
        prev = f"pi{it}"
    parts.append(
        f""",
ent AS (
  SELECT cast(floor(1e6 * cast(sum(cast(-pi * p * ln(p) AS decimal(38,16)))
                               AS double) + 0.5) AS bigint) AS entropy_rate_micro
  FROM p JOIN {prev} USING (src)
),
emp AS (
  SELECT cast(floor(1e6 * cast(sum(cast(-f * p * ln(p) AS decimal(38,16)))
                               AS double) + 0.5) AS bigint)
           AS empirical_cond_entropy_micro
  FROM (
    SELECT t.src, cast(t.n_src AS double) / cast(x.nt AS double) AS f
    FROM (SELECT src, sum(n)::BIGINT AS n_src FROM tr GROUP BY 1) t
    CROSS JOIN (SELECT sum(n)::BIGINT AS nt FROM tr) x
  ) JOIN p USING (src)
)
SELECT entropy_rate_micro, empirical_cond_entropy_micro FROM ent CROSS JOIN emp"""
    )
    return "".join(parts)


REGISTRY_EXT92: dict[str, QuerySpec] = {
    "ips_snips_offline_eval": QuerySpec(
        q_ips_snips_offline_eval, _ORACLE_IPS, "X7 [EXT] off-policy eval"
    ),
    "runs_test_shuffle_audit": QuerySpec(
        q_runs_test_shuffle_audit, _ORACLE_RUNS, "X8 [EXT] shuffle runs test"
    ),
    "markov_entropy_rate": QuerySpec(
        q_markov_entropy_rate, _er_oracle(), "X9 [EXT] chain entropy rate"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_markov_entropy_rate.__doc__ = q_markov_entropy_rate.__doc__.format(it=_ER_ITERS)  # noqa: E501
