"""Wave 138 [EXT]: experimentation and categorical-association
completers — the delta-method CI for a ratio metric, Goodman-Kruskal
lambda (proportional reduction in error), post-stratified ATE, Katz
centrality and closeness centrality over the event-type transition
graph. Companions of the shipped two_proportion_ztest / cuped_adjustment
/ neyman_allocation / theils_u_uncertainty / markov_transitions /
eigenvector_centrality_types.

Scale notes (the 100x question, per query):
- delta_method_ratio_ci: one per-user reduce to (x, y), one keyless
  exact-moment reduce; the delta-method algebra runs on the 1-row
  totals.
- goodman_kruskal_lambda: the (weekday x event_type) ENUM table (35
  cells) carries everything; lambda is exact integer arithmetic on its
  row maxima and margins.
- post_stratified_ate: per-(stratum, arm) exact moments (14 cells);
  the weighted combination is constant-time.
- katz_centrality_types / closeness_centrality_types: consecutive-event
  edges reduce ONCE (the markov_transitions shape — a per-user lead
  window, distributed by user); the {k}-round Katz recurrence and the
  min-plus distance closure then iterate over the <= 25-cell ENUM
  adjacency — bounded frames at any corpus size (the
  eigenvector_centrality_types category).

Reference parity: none; [EXT] X7/X9 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_DAY_US = 86_400_000_000
_DEC = "cast({x} as decimal(38,0))"
_RATIO_EVENT = "purchase"
_KATZ_ALPHA = 0.1
_KATZ_ROUNDS = 4
_CLOSE_ROUNDS = 3  # min-plus rounds; diameter <= 4 on a 5-node graph
_Z_95 = 1.959964


# --------------------------------------------------------------------------
# Delta-method CI for a ratio metric (X7 [EXT])
# --------------------------------------------------------------------------


def q_delta_method_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 delta-method variance for a RATIO metric (Deng et al.
    2018 — the A/B workhorse): R = sum(x)/sum(y) with x = per-user
    '{ev}' value and y = per-user event count; users are the i.i.d.
    unit, so var(R) ~ (var_x - 2R*cov + R^2*var_y) / (n * ybar^2) — the
    naive per-event variance would be WRONG because events within a
    user correlate. Exact per-user integer moments; one keyless reduce.
    Output one row: n_users, ratio_micro, se_micro, ci_lo_micro,
    ci_hi_micro."""
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.expr(
                f"if(event_type = '{_RATIO_EVENT}',"
                " cast(floor(value * 1e6 + 0.5) as bigint), 0L)"
            )
        ).cast("bigint").alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("y"),
    )
    m = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr(f"{_DEC.format(x='x')} * x")).alias("qx"),
        F.sum(F.expr(f"{_DEC.format(x='y')} * y")).alias("qy"),
        F.sum(F.expr(f"{_DEC.format(x='x')} * y")).alias("qxy"),
    )
    nn = "cast(n as double)"
    r = "(cast(sx as double) / cast(sy as double))"
    vx = f"(cast(qx as double) / {nn} - (cast(sx as double) / {nn}) * (cast(sx as double) / {nn}))"
    vy = f"(cast(qy as double) / {nn} - (cast(sy as double) / {nn}) * (cast(sy as double) / {nn}))"
    cxy = f"(cast(qxy as double) / {nn} - (cast(sx as double) / {nn}) * (cast(sy as double) / {nn}))"
    ybar = f"(cast(sy as double) / {nn})"
    se = (
        f"sqrt(({vx} - 2.0 * {r} * {cxy} + {r} * {r} * {vy})"
        f" / ({nn} * {ybar} * {ybar}))"
    )
    return m.selectExpr(
        "n AS n_users",
        f"cast(floor({r} + 0.5) as bigint) AS ratio_micro",
        f"cast(floor({se} + 0.5) as bigint) AS se_micro",
        f"cast(floor({r} - {_Z_95} * {se} + 0.5) as bigint) AS ci_lo_micro",
        f"cast(floor({r} + {_Z_95} * {se} + 0.5) as bigint) AS ci_hi_micro",
    )


def _oracle_delta() -> str:
    nn = "cast(n AS DOUBLE)"
    r = "(cast(sx AS DOUBLE) / cast(sy AS DOUBLE))"
    vx = f"(cast(qx AS DOUBLE) / {nn} - (cast(sx AS DOUBLE) / {nn}) * (cast(sx AS DOUBLE) / {nn}))"
    vy = f"(cast(qy AS DOUBLE) / {nn} - (cast(sy AS DOUBLE) / {nn}) * (cast(sy AS DOUBLE) / {nn}))"
    cxy = f"(cast(qxy AS DOUBLE) / {nn} - (cast(sx AS DOUBLE) / {nn}) * (cast(sy AS DOUBLE) / {nn}))"
    ybar = f"(cast(sy AS DOUBLE) / {nn})"
    se = (
        f"sqrt(({vx} - 2.0 * {r} * {cxy} + {r} * {r} * {vy})"
        f" / ({nn} * {ybar} * {ybar}))"
    )
    return f"""
WITH per_user AS (
  SELECT user_id,
         sum(CASE WHEN event_type = '{_RATIO_EVENT}'
             THEN cast(floor(value * 1e6 + 0.5) AS BIGINT)
             ELSE 0 END)::BIGINT AS x,
         count(*)::BIGINT AS y
  FROM events GROUP BY 1
),
m AS (
  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         sum(x::HUGEINT * x) AS qx, sum(y::HUGEINT * y) AS qy,
         sum(x::HUGEINT * y) AS qxy
  FROM per_user
)
SELECT n AS n_users,
       cast(floor({r} + 0.5) AS BIGINT) AS ratio_micro,
       cast(floor({se} + 0.5) AS BIGINT) AS se_micro,
       cast(floor({r} - {_Z_95} * {se} + 0.5) AS BIGINT) AS ci_lo_micro,
       cast(floor({r} + {_Z_95} * {se} + 0.5) AS BIGINT) AS ci_hi_micro
FROM m
"""


# --------------------------------------------------------------------------
# Goodman-Kruskal lambda (X7 [EXT])
# --------------------------------------------------------------------------


def q_goodman_kruskal_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Goodman & Kruskal (1954) lambda: the proportional
    reduction in prediction error for event_type given the weekday (and
    vice versa, plus the symmetric form) — the PRE companion of
    theils_u_uncertainty (entropy-based) and cramers_v_pairs
    (chi2-based). lambda_Y|X = (sum_w max_t n_wt - max_t n_t)
    / (n - max_t n_t); all terms exact integers on the 35-cell ENUM
    table. Output one row: n, lambda_y_given_x_milli,
    lambda_x_given_y_milli, lambda_sym_milli."""
    e = _t(spark, sf_dir, "events")
    tab = (
        e.select(
            F.expr(f"(unix_micros(ts) div {_DAY_US} + 3) % 7").alias("w"),
            F.col("event_type").alias("t"),
        )
        .groupBy("w", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tab = barrier(tab)  # 4 margin reduces reuse it
    rowmax = tab.groupBy("w").agg(F.max("c").cast("bigint").alias("mw"))
    colmax = tab.groupBy("t").agg(F.max("c").cast("bigint").alias("mt"))
    colsum = tab.groupBy("t").agg(F.sum("c").cast("bigint").alias("st"))
    rowsum = tab.groupBy("w").agg(F.sum("c").cast("bigint").alias("sw"))
    m = (
        tab.agg(F.sum("c").cast("bigint").alias("n"))
        .crossJoin(
            F.broadcast(rowmax.agg(F.sum("mw").cast("bigint").alias("smw")))
        )
        .crossJoin(
            F.broadcast(colmax.agg(F.sum("mt").cast("bigint").alias("smt")))
        )
        .crossJoin(
            F.broadcast(colsum.agg(F.max("st").cast("bigint").alias("mct")))
        )
        .crossJoin(
            F.broadcast(rowsum.agg(F.max("sw").cast("bigint").alias("mrw")))
        )
    )
    lyx = (
        "(cast(smw - mct as double) / cast(n - mct as double))"
    )
    lxy = (
        "(cast(smt - mrw as double) / cast(n - mrw as double))"
    )
    lsym = (
        "(cast((smw - mct) + (smt - mrw) as double)"
        " / cast((n - mct) + (n - mrw) as double))"
    )
    return m.selectExpr(
        "n",
        f"cast(floor(1e3 * {lyx} + 0.5) as bigint) AS lambda_y_given_x_milli",
        f"cast(floor(1e3 * {lxy} + 0.5) as bigint) AS lambda_x_given_y_milli",
        f"cast(floor(1e3 * {lsym} + 0.5) as bigint) AS lambda_sym_milli",
    )


_ORACLE_LAMBDA = f"""
WITH tab AS (
  SELECT (epoch_us(ts) // {_DAY_US} + 3) % 7 AS w, event_type AS t,
         count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT (SELECT sum(c) FROM tab)::BIGINT AS n,
         (SELECT sum(mw) FROM (SELECT max(c) AS mw FROM tab GROUP BY w))
           ::BIGINT AS smw,
         (SELECT sum(mt) FROM (SELECT max(c) AS mt FROM tab GROUP BY t))
           ::BIGINT AS smt,
         (SELECT max(st) FROM (SELECT sum(c) AS st FROM tab GROUP BY t))
           ::BIGINT AS mct,
         (SELECT max(sw) FROM (SELECT sum(c) AS sw FROM tab GROUP BY w))
           ::BIGINT AS mrw
)
SELECT n,
       cast(floor(1e3 * (cast(smw - mct AS DOUBLE)
            / cast(n - mct AS DOUBLE)) + 0.5) AS BIGINT)
         AS lambda_y_given_x_milli,
       cast(floor(1e3 * (cast(smt - mrw AS DOUBLE)
            / cast(n - mrw AS DOUBLE)) + 0.5) AS BIGINT)
         AS lambda_x_given_y_milli,
       cast(floor(1e3 * (cast((smw - mct) + (smt - mrw) AS DOUBLE)
            / cast((n - mct) + (n - mrw) AS DOUBLE)) + 0.5) AS BIGINT)
         AS lambda_sym_milli
FROM m
"""


# --------------------------------------------------------------------------
# Post-stratified ATE (X7 [EXT])
# --------------------------------------------------------------------------


def q_post_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 post-stratification (the design-free cousin of
    neyman_allocation): the treatment effect of the odd-user 'arm' on
    event value, stratified by weekday — ATE = sum_s (n_s/n) *
    (mean_1s - mean_0s), SE^2 = sum_s (n_s/n)^2 * (v_1s/n_1s +
    v_0s/n_0s). Removes the day-of-week imbalance a raw difference
    inherits. Exact per-(stratum, arm) moments; constant-time
    combination over 7 strata. Output one row: n, n_strata, ate_micro,
    se_micro, z_milli, reject_05."""
    e = _t(spark, sf_dir, "events")
    cells = (
        e.select(
            F.expr(f"(unix_micros(ts) div {_DAY_US} + 3) % 7").alias("s"),
            F.expr("cast(user_id % 2 = 1 as int)").alias("g"),
            F.expr("cast(floor(value * 1e6 + 0.5) as bigint)").alias("vm"),
        )
        .groupBy("s", "g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.sum("vm").cast("bigint").alias("sv"),
            F.sum(F.expr(f"{_DEC.format(x='vm')} * vm")).alias("qv"),
        )
    )
    mean = "(cast(sv{g} as double) / cast(c{g} as double))"
    var = (
        "(cast(qv{g} as double) / cast(c{g} as double)"
        " - (cast(sv{g} as double) / cast(c{g} as double))"
        " * (cast(sv{g} as double) / cast(c{g} as double)))"
    )
    per_s = cells.groupBy("s").agg(
        F.sum("c").cast("bigint").alias("ns"),
        F.sum(F.expr("if(g = 1, c, 0L)")).cast("bigint").alias("c1"),
        F.sum(F.expr("if(g = 0, c, 0L)")).cast("bigint").alias("c0"),
        F.sum(F.expr("if(g = 1, sv, 0L)")).cast("bigint").alias("sv1"),
        F.sum(F.expr("if(g = 0, sv, 0L)")).cast("bigint").alias("sv0"),
        F.sum(F.expr("if(g = 1, qv, cast(0 as decimal(38,0)))")).alias("qv1"),
        F.sum(F.expr("if(g = 0, qv, cast(0 as decimal(38,0)))")).alias("qv0"),
    )
    diff = f"({mean.format(g='1')} - {mean.format(g='0')})"
    vsum = (
        f"({var.format(g='1')} / cast(c1 as double)"
        f" + {var.format(g='0')} / cast(c0 as double))"
    )
    terms = per_s.selectExpr(
        "ns",
        f"cast(floor(cast(ns as double) * {diff} + 0.5) as bigint) AS w_diff",
        # variance term carried in VALUE-UNITS^2 (micro^2 / 1e12): the
        # raw micro^2 form overflows bigint once ns^2 * var > 9e18
        f"cast(floor(cast(ns as double) * cast(ns as double) * {vsum}"
        " / 1e12 + 0.5) as bigint) AS w_var",
    )
    red = terms.agg(
        F.sum("ns").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("w_diff").cast("bigint").alias("swd"),
        F.sum("w_var").cast("bigint").alias("swv"),
    )
    nn = "cast(n as double)"
    ate = f"(cast(swd as double) / {nn})"
    se = f"(1e6 * sqrt(cast(swv as double)) / {nn})"
    return red.selectExpr(
        "n",
        "n_strata",
        f"cast(floor({ate} + 0.5) as bigint) AS ate_micro",
        f"cast(floor({se} + 0.5) as bigint) AS se_micro",
        f"cast(floor(1e3 * {ate} / {se} + 0.5) as bigint) AS z_milli",
        f"abs({ate} / {se}) > {_Z_95} AS reject_05",
    )


def _oracle_ps_ate() -> str:
    mean = "(cast(sv{g} AS DOUBLE) / cast(c{g} AS DOUBLE))"
    var = (
        "(cast(qv{g} AS DOUBLE) / cast(c{g} AS DOUBLE)"
        " - (cast(sv{g} AS DOUBLE) / cast(c{g} AS DOUBLE))"
        " * (cast(sv{g} AS DOUBLE) / cast(c{g} AS DOUBLE)))"
    )
    diff = f"({mean.format(g='1')} - {mean.format(g='0')})"
    vsum = (
        f"({var.format(g='1')} / cast(c1 AS DOUBLE)"
        f" + {var.format(g='0')} / cast(c0 AS DOUBLE))"
    )
    nn = "cast(n AS DOUBLE)"
    ate = f"(cast(swd AS DOUBLE) / {nn})"
    se = f"(1e6 * sqrt(cast(swv AS DOUBLE)) / {nn})"
    return f"""
WITH cells AS (
  SELECT (epoch_us(ts) // {_DAY_US} + 3) % 7 AS s,
         CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS g,
         count(*)::BIGINT AS c,
         sum(cast(floor(value * 1e6 + 0.5) AS BIGINT))::BIGINT AS sv,
         sum(cast(floor(value * 1e6 + 0.5) AS BIGINT)::HUGEINT
             * cast(floor(value * 1e6 + 0.5) AS BIGINT)) AS qv
  FROM events GROUP BY 1, 2
),
per_s AS (
  SELECT s, sum(c)::BIGINT AS ns,
         sum(CASE WHEN g = 1 THEN c ELSE 0 END)::BIGINT AS c1,
         sum(CASE WHEN g = 0 THEN c ELSE 0 END)::BIGINT AS c0,
         sum(CASE WHEN g = 1 THEN sv ELSE 0 END)::BIGINT AS sv1,
         sum(CASE WHEN g = 0 THEN sv ELSE 0 END)::BIGINT AS sv0,
         sum(CASE WHEN g = 1 THEN qv ELSE 0::HUGEINT END) AS qv1,
         sum(CASE WHEN g = 0 THEN qv ELSE 0::HUGEINT END) AS qv0
  FROM cells GROUP BY 1
),
terms AS (
  SELECT ns,
         cast(floor(cast(ns AS DOUBLE) * {diff} + 0.5) AS BIGINT) AS w_diff,
         cast(floor(cast(ns AS DOUBLE) * cast(ns AS DOUBLE) * {vsum}
              / 1e12 + 0.5) AS BIGINT) AS w_var
  FROM per_s
),
red AS (
  SELECT sum(ns)::BIGINT AS n, count(*)::BIGINT AS n_strata,
         sum(w_diff)::BIGINT AS swd, sum(w_var)::BIGINT AS swv
  FROM terms
)
SELECT n, n_strata,
       cast(floor({ate} + 0.5) AS BIGINT) AS ate_micro,
       cast(floor({se} + 0.5) AS BIGINT) AS se_micro,
       cast(floor(1e3 * {ate} / {se} + 0.5) AS BIGINT) AS z_milli,
       abs({ate} / {se}) > {_Z_95} AS reject_05
FROM red
"""


# --------------------------------------------------------------------------
# Katz centrality over the event-type transition graph (X9 [EXT])
# --------------------------------------------------------------------------


def _type_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed consecutive-event edges per user (markov_transitions
    shape): (src type, dst type, count) over the <= 25-cell ENUM
    adjacency. The lead window is PARTITIONED by user."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        "ts", "event_type", "value"
    )
    return (
        e.select(
            "user_id",
            "ts",
            "value",
            F.col("event_type").alias("src"),
            F.lead("event_type", 1).over(w).alias("dst"),
        )
        .filter("dst is not null")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


_SQL_TYPE_EDGES = """
  SELECT src, dst, count(*)::BIGINT AS c
  FROM (
    SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_type, value) AS dst
    FROM events
  )
  WHERE dst IS NOT NULL GROUP BY 1, 2
"""


def q_katz_centrality_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 Katz (1953) centrality over the row-normalized
    event-type transition graph: x = sum_k alpha^k (P^T)^k 1 unrolled
    {r} rounds (x_r+1 = alpha * P^T x_r + 1) with alpha={a} — unlike
    eigenvector_centrality_types every node gets a baseline score, so
    weakly-connected types still rank. The recurrence iterates over the
    <= 25-cell ENUM adjacency (bounded frame); transition probabilities
    and x micro-snap per round (platt rule). Output per type: type,
    katz_micro, rank."""
    edges = _type_edges(spark, sf_dir)
    outs = edges.groupBy("src").agg(F.sum("c").cast("bigint").alias("tot"))
    p = (
        edges.join(F.broadcast(outs), "src")
        .selectExpr(
            "src",
            "dst",
            "cast(floor(1e6 * cast(c as double) / cast(tot as double) + 0.5)"
            " as bigint) AS pm",
        )
    )
    p = barrier(p)  # K rounds reuse the 25-cell frame
    nodes = p.select(F.col("src").alias("t")).union(
        p.select(F.col("dst").alias("t"))
    ).distinct()
    x = nodes.select("t", F.expr("cast(1000000 as bigint)").alias("x"))
    for _ in range(_KATZ_ROUNDS):
        contrib = (
            p.join(x.selectExpr("t as src", "x as xs"), "src")
            .groupBy("dst")
            .agg(
                F.sum(
                    F.expr(
                        f"cast(floor({_KATZ_ALPHA} * cast(pm as double)"
                        " * cast(xs as double) / 1e6 + 0.5) as bigint)"
                    )
                ).cast("bigint").alias("inc")
            )
        )
        x = (
            nodes.join(
                contrib.selectExpr("dst as t", "inc"), "t", "left"
            )
            .selectExpr("t", "1000000L + coalesce(inc, 0L) AS x")
        )
    w = Window.orderBy(F.col("x").desc(), F.col("t").asc())
    return x.select(
        F.col("t").alias("type"),
        F.col("x").alias("katz_micro"),
        F.row_number().over(w).cast("bigint").alias("rank"),
    ).orderBy("rank")


def _oracle_katz() -> str:
    steps = ""
    prev = "x0"
    for k in range(1, _KATZ_ROUNDS + 1):
        steps += f""",
c{k} AS (
  SELECT p.dst AS t,
         sum(cast(floor({_KATZ_ALPHA} * cast(p.pm AS DOUBLE)
             * cast(x.x AS DOUBLE) / 1e6 + 0.5) AS BIGINT))::BIGINT AS inc
  FROM p JOIN {prev} x ON p.src = x.t
  GROUP BY 1
),
x{k} AS (
  SELECT n.t, 1000000 + coalesce(c.inc, 0) AS x
  FROM nodes n LEFT JOIN c{k} c ON n.t = c.t
)"""
        prev = f"x{k}"
    return f"""
WITH edges AS ({_SQL_TYPE_EDGES}),
outs AS (SELECT src, sum(c)::BIGINT AS tot FROM edges GROUP BY 1),
p AS (
  SELECT e.src, e.dst,
         cast(floor(1e6 * cast(e.c AS DOUBLE) / cast(o.tot AS DOUBLE)
              + 0.5) AS BIGINT) AS pm
  FROM edges e JOIN outs o ON e.src = o.src
),
nodes AS (SELECT DISTINCT t FROM (SELECT src AS t FROM p
          UNION ALL SELECT dst FROM p)),
x0 AS (SELECT t, 1000000::BIGINT AS x FROM nodes){steps}
SELECT t AS type, x AS katz_micro,
       row_number() OVER (ORDER BY x DESC, t ASC)::BIGINT AS rank
FROM {prev} ORDER BY rank
"""


# --------------------------------------------------------------------------
# Closeness centrality over the transition support graph (X9 [EXT])
# --------------------------------------------------------------------------


def q_closeness_centrality_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] X9 closeness centrality on the event-type transition
    SUPPORT digraph (edge = any observed transition): shortest-path
    distances via {r} min-plus relaxation rounds over the <= 25-cell
    ENUM frame (diameter <= 4 on 5 nodes), then the Wasserman-Faust
    normalized closeness C(i) = (r_i - 1)^2 / ((n - 1) * sum_j d_ij)
    with r_i the count reachable from i — the harmonic-free form that
    handles disconnection. Output per type: type, reachable,
    dist_sum, closeness_milli."""
    edges = _type_edges(spark, sf_dir).select(
        "src", "dst"
    ).filter("src <> dst").distinct()
    edges = barrier(edges)
    nodes = edges.select(F.col("src").alias("t")).union(
        edges.select(F.col("dst").alias("t"))
    ).distinct()
    # dist frame: rows (i, j, d); start with self 0 + direct edges 1
    dist = nodes.selectExpr("t as i", "t as j", "0L as d").union(
        edges.selectExpr("src as i", "dst as j", "1L as d")
    )
    for _ in range(_CLOSE_ROUNDS):
        relaxed = (
            dist.selectExpr("i", "j as k", "d")
            .join(edges.selectExpr("src as k", "dst as j"), "k")
            .selectExpr("i", "j", "d + 1 as d")
        )
        dist = (
            dist.union(relaxed)
            .groupBy("i", "j")
            .agg(F.min("d").cast("bigint").alias("d"))
        )
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("nn"))
    red = (
        dist.groupBy("i")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("reachable"),
            F.sum("d").cast("bigint").alias("dist_sum"),
        )
        .crossJoin(F.broadcast(n_nodes))
    )
    c = (
        "(cast(reachable - 1 as double) * cast(reachable - 1 as double)"
        " / (cast(nn - 1 as double) * cast(dist_sum as double)))"
    )
    return red.selectExpr(
        "i AS type",
        "reachable",
        "dist_sum",
        f"cast(floor(1e3 * {c} + 0.5) as bigint) AS closeness_milli",
    ).orderBy("type")


def _oracle_closeness() -> str:
    steps = ""
    prev = "d0"
    for k in range(1, _CLOSE_ROUNDS + 1):
        steps += f""",
r{k} AS (
  SELECT x.i, e.dst AS j, x.d + 1 AS d
  FROM {prev} x JOIN edges e ON x.j = e.src
),
d{k} AS (
  SELECT i, j, min(d)::BIGINT AS d
  FROM (SELECT * FROM {prev} UNION ALL SELECT * FROM r{k})
  GROUP BY 1, 2
)"""
        prev = f"d{k}"
    return f"""
WITH raw_edges AS ({_SQL_TYPE_EDGES}),
edges AS (SELECT DISTINCT src, dst FROM raw_edges WHERE src <> dst),
nodes AS (SELECT DISTINCT t FROM (SELECT src AS t FROM edges
          UNION ALL SELECT dst FROM edges)),
d0 AS (
  SELECT t AS i, t AS j, 0::BIGINT AS d FROM nodes
  UNION ALL SELECT src, dst, 1 FROM edges
){steps},
nn AS (SELECT count(*)::BIGINT AS nn FROM nodes)
SELECT i AS type, count(*)::BIGINT AS reachable,
       sum(d)::BIGINT AS dist_sum,
       cast(floor(1e3 * (cast(count(*) - 1 AS DOUBLE)
            * cast(count(*) - 1 AS DOUBLE)
            / (cast(max(nn) - 1 AS DOUBLE) * cast(sum(d) AS DOUBLE)))
            + 0.5) AS BIGINT) AS closeness_milli
FROM d{_CLOSE_ROUNDS}, nn GROUP BY i ORDER BY type
"""


REGISTRY_EXT138: dict[str, QuerySpec] = {
    "delta_method_ratio_ci": QuerySpec(
        q_delta_method_ratio_ci, _oracle_delta(), "X7 [EXT] delta method"
    ),
    "goodman_kruskal_lambda": QuerySpec(
        q_goodman_kruskal_lambda, _ORACLE_LAMBDA, "X7 [EXT] GK lambda"
    ),
    "post_stratified_ate": QuerySpec(
        q_post_stratified_ate, _oracle_ps_ate(), "X7 [EXT] post-strat ATE"
    ),
    "katz_centrality_types": QuerySpec(
        q_katz_centrality_types, _oracle_katz(), "X9 [EXT] Katz centrality"
    ),
    "closeness_centrality_types": QuerySpec(
        q_closeness_centrality_types, _oracle_closeness(),
        "X9 [EXT] closeness",
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_delta_method_ratio_ci.__doc__ = q_delta_method_ratio_ci.__doc__.format(ev=_RATIO_EVENT)  # noqa: E501
q_katz_centrality_types.__doc__ = q_katz_centrality_types.__doc__.format(r=_KATZ_ROUNDS, a=_KATZ_ALPHA)  # noqa: E501
q_closeness_centrality_types.__doc__ = q_closeness_centrality_types.__doc__.format(r=_CLOSE_ROUNDS)  # noqa: E501
