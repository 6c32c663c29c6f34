"""Operator registry, wave 107: ranked-retrieval evaluation, cross-
validated regression, shard topology, and population estimation —
average precision via two-level ranks, k-fold ridge CV from complement
moments, a consistent-hash ring rebalance audit, and Chapman
capture-recapture.

Scale stances:
- pr_auc_average_precision: NO global sort — global ranks decompose as
  bucket-prefix (a window over the value-bounded score-cell frame) +
  within-bucket row_number (a score-partitioned window), the
  distributed_cume_dist idiom; each positive's precision term snaps
  nano before one integer sum.
- kfold_cv_ridge_1d: train-fold coefficients come from COMPLEMENT
  moments (total minus fold — one grouped pass, no 5x re-scan);
  the 5-row coefficient frame broadcasts back for the test-residual
  pass.
- consistent_hash_ring: the ring is a Python-precomputed md5 u32
  literal table (hashlib and both engines agree on md5; uniqueness
  asserted at import) — keys hash-join nothing, they aggregate over a
  256-row literal VALUES scan; successor = min vnode above the key
  hash, wrapping via coalesce to the global ring minimum.
- capture_recapture_chapman: two half-period user sets are grouped
  aggregates; the Chapman estimator folds from four exact bigints.

Reference parity: none; [EXT] X7/X8 tier per BASELINE.json.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier


# --------------------------------------------------------------------------
# Average precision (PR-AUC) with two-level ranks (X7 [EXT])
# --------------------------------------------------------------------------

_AP_POS = "purchase"


def q_pr_auc_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 average precision (the PR curve's area) of value as a
    score for the '{p}' label: AP = mean over positives of
    precision@rank — the ranking metric that, unlike ROC-AUC (a
    Mann-Whitney transform, already shipped), weights the top of the
    list the way curation triage actually reads it. Ranks are TWO-
    LEVEL: a prefix window over the value-cell frame (bounded by the
    centi score domain) plus a row_number partitioned by score with an
    event_id tiebreak — the distributed_cume_dist idiom, so no global
    sort ever materializes. Each positive's cum_pos/rank snaps nano
    before one integer sum. Output one row: n, n_pos, ap_micro."""
    e = _t(spark, sf_dir, "events")
    rows = barrier(e.select(
        "event_id",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint").alias("vc"),
        F.when(F.col("event_type") == _AP_POS, 1).otherwise(0).cast("bigint").alias("y"),
    ))
    cells = rows.groupBy("vc").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("y").cast("bigint").alias("pb"),
    )
    wpre = Window.orderBy(F.desc("vc")).rowsBetween(Window.unboundedPreceding, -1)
    pref = cells.select(
        "vc",
        F.coalesce(F.sum("nb").over(wpre), F.lit(0)).cast("bigint").alias("n_before"),
        F.coalesce(F.sum("pb").over(wpre), F.lit(0)).cast("bigint").alias("p_before"),
    )
    wrk = Window.partitionBy("vc").orderBy("event_id")
    ranked = (
        rows.withColumn("wr", F.row_number().over(wrk).cast("bigint"))
        .withColumn(
            "wp",
            F.sum("y").over(
                Window.partitionBy("vc")
                .orderBy("event_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .cast("bigint"),
        )
        .join(pref, "vc")
        .filter(F.col("y") == 1)
        .select(
            F.expr(
                "cast(floor(1e9 * cast(p_before + wp as double)"
                " / cast(n_before + wr as double) + 0.5) as bigint)"
            ).alias("term_nano")
        )
    )
    tot = rows.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    ap = ranked.agg(F.sum("term_nano").cast("bigint").alias("tsum"))
    return tot.crossJoin(ap).select(
        "n",
        "n_pos",
        F.expr(
            "case when n_pos = 0 then cast(0 as bigint) else"
            " cast(floor(cast(tsum as double) / 1e3 / cast(n_pos as double) + 0.5)"
            " as bigint) end"
        ).alias("ap_micro"),
    )


_ORACLE_AP = f"""
WITH rows_ AS (
  SELECT event_id, cast(floor(value * 100.0 + 0.5) AS bigint) AS vc,
         (CASE WHEN event_type = '{_AP_POS}' THEN 1 ELSE 0 END)::BIGINT AS y
  FROM events
),
cells AS (
  SELECT vc, cast(count(*) AS bigint) AS nb, sum(y)::BIGINT AS pb
  FROM rows_ GROUP BY 1
),
pref AS (
  SELECT vc,
         coalesce(sum(nb) OVER (ORDER BY vc DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS n_before,
         coalesce(sum(pb) OVER (ORDER BY vc DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS p_before
  FROM cells
),
ranked AS (
  SELECT r.y, p.n_before, p.p_before,
         row_number() OVER (PARTITION BY r.vc ORDER BY r.event_id)::BIGINT AS wr,
         sum(r.y) OVER (PARTITION BY r.vc ORDER BY r.event_id)::BIGINT AS wp
  FROM rows_ r JOIN pref p USING (vc)
),
terms AS (
  SELECT cast(floor(1e9 * cast(p_before + wp AS double)
              / cast(n_before + wr AS double) + 0.5) AS bigint) AS term_nano
  FROM ranked WHERE y = 1
),
tot AS (
  SELECT cast(count(*) AS bigint) AS n, sum(y)::BIGINT AS n_pos FROM rows_
),
ap AS (SELECT sum(term_nano)::BIGINT AS tsum FROM terms)
SELECT n, n_pos,
       CASE WHEN n_pos = 0 THEN 0::BIGINT ELSE
         cast(floor(cast(tsum AS double) / 1e3 / cast(n_pos AS double) + 0.5)
              AS bigint) END AS ap_micro
FROM tot CROSS JOIN ap
"""


# --------------------------------------------------------------------------
# k-fold cross-validated 1-D ridge regression (X7 [EXT])
# --------------------------------------------------------------------------

_CV_K = 5
_CV_LAMBDA = 1000.0  # ridge penalty on the centered second moment


def q_kfold_cv_ridge_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 {k}-fold cross-validation of a 1-D ridge regression
    (token count ~ n_chars over documents): fold assignment is an md5
    bucket of doc_id; every fold's TRAIN coefficients come from
    complement moments (total minus fold — one grouped pass over the
    corpus, not k re-scans), slope b = Sxy_c / (Sxx_c + lambda) on
    centered sums with the ridge lambda shared as a literal; the 5-row
    coefficient frame broadcasts back for the held-out residual pass.
    Coefficients snap micro before scoring so both engines residualize
    identically. Output per fold: n_test, slope_micro,
    intercept_micro, test mse (centi^2 units)."""
    d = _t(spark, sf_dir, "documents")
    rows = barrier(d.select(
        F.expr(
            "cast(conv(substring(md5(cast(doc_id as string)), 1, 2), 16, 10) as bigint)"
            " % {k}".format(k=_CV_K)
        ).alias("fold"),
        F.col("n_chars").cast("bigint").alias("x"),
        F.expr(r"cast(size(filter(split(lower(text), '\\s+'), t -> t <> '')) as bigint)")
        .alias("yy"),
    ))
    per_fold = rows.groupBy("fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("yy").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("yy")).cast("bigint").alias("sxy"),
    )
    tot = per_fold.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("sx").cast("bigint").alias("tsx"),
        F.sum("sy").cast("bigint").alias("tsy"),
        F.sum("sxx").cast("bigint").alias("tsxx"),
        F.sum("sxy").cast("bigint").alias("tsxy"),
    )
    coef = per_fold.crossJoin(F.broadcast(tot)).select(
        "fold",
        F.expr(
            "cast(floor(1e6 * (cast(tsxy - sxy as double)"
            " - cast(tsx - sx as double) * (tsy - sy) / (tn - n))"
            " / ((cast(tsxx - sxx as double)"
            " - cast(tsx - sx as double) * (tsx - sx) / (tn - n)) + {lam!r}) + 0.5)"
            " as bigint)".format(lam=_CV_LAMBDA)
        ).alias("b_micro"),
    )
    coef = coef.join(per_fold.select("fold", "n", "sx", "sy"), "fold").crossJoin(
        F.broadcast(tot)
    ).select(
        "fold",
        "b_micro",
        F.expr(
            "cast(floor((cast(tsy - sy as double)"
            " - cast(b_micro as double) / 1e6 * (tsx - sx)) / (tn - n) * 1e6 + 0.5)"
            " as bigint)"
        ).alias("a_micro"),
    )
    scored = rows.join(F.broadcast(coef), "fold").select(
        "fold",
        F.expr(
            "cast(floor(1e4 * pow(cast(yy as double)"
            " - cast(a_micro as double) / 1e6"
            " - cast(b_micro as double) / 1e6 * x, 2) + 0.5) as bigint)"
        ).alias("sq_1e4"),
    )
    return (
        scored.groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.expr(
                "cast(floor(cast(sum(sq_1e4) as double) / cast(count(1) as double)"
                " + 0.5) as bigint)"
            ).alias("mse_1e4"),
        )
        .join(coef, "fold")
        .select("fold", "n_test", "b_micro", "a_micro", "mse_1e4")
        .orderBy("fold")
    )


_ORACLE_CV = f"""
WITH rows_ AS (
  SELECT ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 2))::BIGINT % {_CV_K}
           AS fold,
         cast(n_chars AS bigint) AS x,
         cast(len(list_filter(string_split_regex(lower(text), '\\s+'),
              t -> t <> '')) AS bigint) AS yy
  FROM documents
),
per_fold AS (
  SELECT fold, cast(count(*) AS bigint) AS n,
         sum(x)::BIGINT AS sx, sum(yy)::BIGINT AS sy,
         sum(x * x)::BIGINT AS sxx, sum(x * yy)::BIGINT AS sxy
  FROM rows_ GROUP BY 1
),
tot AS (
  SELECT sum(n)::BIGINT AS tn, sum(sx)::BIGINT AS tsx, sum(sy)::BIGINT AS tsy,
         sum(sxx)::BIGINT AS tsxx, sum(sxy)::BIGINT AS tsxy
  FROM per_fold
),
coef AS (
  SELECT fold,
         cast(floor(1e6 * (cast(tsxy - sxy AS double)
              - cast(tsx - sx AS double) * (tsy - sy) / (tn - n))
              / ((cast(tsxx - sxx AS double)
              - cast(tsx - sx AS double) * (tsx - sx) / (tn - n)) + {_CV_LAMBDA!r})
              + 0.5) AS bigint) AS b_micro,
         n, sx, sy, tn, tsx, tsy
  FROM per_fold CROSS JOIN tot
),
coef2 AS (
  SELECT fold, b_micro,
         cast(floor((cast(tsy - sy AS double)
              - cast(b_micro AS double) / 1e6 * (tsx - sx)) / (tn - n) * 1e6
              + 0.5) AS bigint) AS a_micro
  FROM coef
),
scored AS (
  SELECT r.fold,
         cast(floor(1e4 * pow(cast(r.yy AS double)
              - cast(c.a_micro AS double) / 1e6
              - cast(c.b_micro AS double) / 1e6 * r.x, 2) + 0.5) AS bigint)
           AS sq_1e4
  FROM rows_ r JOIN coef2 c USING (fold)
)
SELECT s.fold, cast(count(*) AS bigint) AS n_test, c.b_micro, c.a_micro,
       cast(floor(cast(sum(s.sq_1e4) AS double) / cast(count(*) AS double)
            + 0.5) AS bigint) AS mse_1e4
FROM scored s JOIN coef2 c USING (fold)
GROUP BY 1, 3, 4 ORDER BY fold
"""


# --------------------------------------------------------------------------
# Consistent-hash ring rebalance audit (X8 [EXT])
# --------------------------------------------------------------------------

_RING_NODES = 8
_RING_REPLICAS = 32


def _ring_table(n_nodes: int) -> list[tuple[int, str]]:
    """Python-precomputed vnode ring: u32 of md5('node:<i>:vr:<r>') —
    hashlib agrees bit-for-bit with both engines' md5, so the ring can
    be a shared literal table. Uniqueness asserted (a u32 collision
    would make the successor ambiguous)."""
    ring = []
    for i in range(n_nodes):
        for r in range(_RING_REPLICAS):
            h = int(hashlib.md5(f"node:{i}:vr:{r}".encode()).hexdigest()[:8], 16)
            ring.append((h, f"node{i}"))
    assert len({h for h, _ in ring}) == len(ring), "vnode u32 collision"
    return sorted(ring)


def _assign(spark: SparkSession, keys: DataFrame, n_nodes: int, out: str) -> DataFrame:
    ring = _ring_table(n_nodes)
    # literal ring as explode over a 1-row Range spine: provably bounded
    # to the plan guards (createDataFrame would scan an unsizable RDD)
    entries = ", ".join(f"struct({h}L as vh, '{nd}' as nd)" for h, nd in ring)
    vn = (
        spark.range(1)
        .select(F.explode(F.expr(f"array({entries})")).alias("s"))
        .select("s.vh", "s.nd")
    )
    agg = (
        keys.crossJoin(F.broadcast(vn))
        .groupBy("doc_id", "h")
        .agg(
            F.min(F.when(F.col("vh") > F.col("h"), F.col("vh"))).alias("succ"),
            F.min("vh").alias("wrap"),
        )
        .select("doc_id", F.coalesce("succ", "wrap").alias("vh"))
    )
    return agg.join(F.broadcast(vn), "vh").select("doc_id", F.col("nd").alias(out))


def q_consistent_hash_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X8 consistent-hash ring rebalance audit: documents hash to
    a u32, each of {n} (then {n1}) nodes projects {r} virtual nodes
    onto the same ring, and a key belongs to its successor vnode
    (wrapping at the top) — the shard-assignment scheme whose selling
    point is that adding one node moves only ~1/(n+1) of the keys,
    which this query MEASURES. The ring is a Python-precomputed md5
    literal table shared with the oracle (uniqueness asserted); keys
    aggregate over the broadcast 256/288-row VALUES scan — bounded
    fan-out, no corpus-sized shuffle beyond one groupBy. Output per
    node of the grown ring: keys before, keys after, keys moved
    in."""
    d = _t(spark, sf_dir, "documents")
    keys = barrier(d.select(
        "doc_id",
        F.expr(
            "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)"
        ).alias("h"),
    ))
    a8 = _assign(spark, keys, _RING_NODES, "nd8")
    a9 = _assign(spark, keys, _RING_NODES + 1, "nd9")
    both = a8.join(a9, "doc_id")
    per9 = both.groupBy(F.col("nd9").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("keys_after"),
        F.sum(F.when(F.col("nd8") != F.col("nd9"), 1).otherwise(0))
        .cast("bigint")
        .alias("moved_in"),
    )
    per8 = both.groupBy(F.col("nd8").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("keys_before")
    )
    return (
        per9.join(per8, "node", "left")
        .select(
            "node",
            F.coalesce("keys_before", F.lit(0)).cast("bigint").alias("keys_before"),
            "keys_after",
            "moved_in",
        )
        .orderBy("node")
    )


def _ring_values_sql(n_nodes: int) -> str:
    return ", ".join(f"({h}, '{nd}')" for h, nd in _ring_table(n_nodes))


def _ring_oracle() -> str:
    v8 = _ring_values_sql(_RING_NODES)
    v9 = _ring_values_sql(_RING_NODES + 1)
    return f"""
WITH keys AS (
  SELECT doc_id,
         ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))::BIGINT AS h
  FROM documents
),
vn8(vh, nd) AS (SELECT * FROM (VALUES {v8})),
vn9(vh, nd) AS (SELECT * FROM (VALUES {v9})),
a8 AS (
  SELECT k.doc_id, coalesce(min(CASE WHEN v.vh > k.h THEN v.vh END),
                            min(v.vh)) AS vh
  FROM keys k CROSS JOIN vn8 v GROUP BY 1, k.h
),
a8n AS (SELECT a.doc_id, v.nd AS nd8 FROM a8 a JOIN vn8 v USING (vh)),
a9 AS (
  SELECT k.doc_id, coalesce(min(CASE WHEN v.vh > k.h THEN v.vh END),
                            min(v.vh)) AS vh
  FROM keys k CROSS JOIN vn9 v GROUP BY 1, k.h
),
a9n AS (SELECT a.doc_id, v.nd AS nd9 FROM a9 a JOIN vn9 v USING (vh)),
both_ AS (SELECT a8n.doc_id, nd8, nd9 FROM a8n JOIN a9n USING (doc_id)),
per9 AS (
  SELECT nd9 AS node, cast(count(*) AS bigint) AS keys_after,
         sum(CASE WHEN nd8 <> nd9 THEN 1 ELSE 0 END)::BIGINT AS moved_in
  FROM both_ GROUP BY 1
),
per8 AS (
  SELECT nd8 AS node, cast(count(*) AS bigint) AS keys_before
  FROM both_ GROUP BY 1
)
SELECT p9.node, coalesce(p8.keys_before, 0)::BIGINT AS keys_before,
       p9.keys_after, p9.moved_in
FROM per9 p9 LEFT JOIN per8 p8 USING (node)
ORDER BY node
"""


_ORACLE_RING = _ring_oracle()


# --------------------------------------------------------------------------
# Chapman capture-recapture population estimate (X7 [EXT])
# --------------------------------------------------------------------------


def q_capture_recapture_chapman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Chapman's capture-recapture estimator: sample the user
    population once in each half of the corpus period (capture A =
    users active before the midpoint, capture B = after) and estimate
    the total from the overlap: N_hat = (nA+1)(nB+1)/(m+1) - 1 — the
    bias-corrected Lincoln-Petersen index ecology, fraud, and coverage
    estimation share. The midpoint is derived in-query from exact
    micros; both captures and the overlap are grouped aggregates; the
    estimate folds from three bigints and is reported next to the TRUE
    distinct-user count so the query audits its own estimator."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t_us")
    )
    span = e.agg(
        ((F.min("t_us") + F.max("t_us")) / 2).cast("bigint").alias("mid")
    )
    flags = e.crossJoin(F.broadcast(span)).groupBy("user_id").agg(
        F.max(F.when(F.col("t_us") < F.col("mid"), 1).otherwise(0))
        .cast("bigint")
        .alias("in_a"),
        F.max(F.when(F.col("t_us") >= F.col("mid"), 1).otherwise(0))
        .cast("bigint")
        .alias("in_b"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
        F.sum("in_a").cast("bigint").alias("na"),
        F.sum("in_b").cast("bigint").alias("nb"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("m"),
    )
    return agg.select(
        "na",
        "nb",
        "m",
        F.expr(
            "cast(floor(cast(na + 1 as double) * (nb + 1) / (m + 1) - 1.0 + 0.5)"
            " as bigint)"
        ).alias("n_hat"),
        "n_true",
    )


_ORACLE_CRC = """
WITH ev AS (SELECT user_id, epoch_us(ts) AS t_us FROM events),
span AS (SELECT ((min(t_us) + max(t_us)) // 2)::BIGINT AS mid FROM ev),
flags AS (
  SELECT user_id,
         max(CASE WHEN t_us < (SELECT mid FROM span) THEN 1 ELSE 0 END)::BIGINT
           AS in_a,
         max(CASE WHEN t_us >= (SELECT mid FROM span) THEN 1 ELSE 0 END)::BIGINT
           AS in_b
  FROM ev GROUP BY 1
),
agg AS (
  SELECT cast(count(*) AS bigint) AS n_true,
         sum(in_a)::BIGINT AS na, sum(in_b)::BIGINT AS nb,
         sum(in_a * in_b)::BIGINT AS m
  FROM flags
)
SELECT na, nb, m,
       cast(floor(cast(na + 1 AS double) * (nb + 1) / (m + 1) - 1.0 + 0.5)
            AS bigint) AS n_hat,
       n_true
FROM agg
"""


REGISTRY_EXT106: dict[str, QuerySpec] = {
    "pr_auc_average_precision": QuerySpec(
        q_pr_auc_average_precision, _ORACLE_AP, "X7 [EXT] average precision (PR-AUC)"
    ),
    "kfold_cv_ridge_1d": QuerySpec(
        q_kfold_cv_ridge_1d, _ORACLE_CV, "X7 [EXT] k-fold ridge CV"
    ),
    "consistent_hash_ring": QuerySpec(
        q_consistent_hash_ring, _ORACLE_RING, "X8 [EXT] consistent-hash rebalance"
    ),
    "capture_recapture_chapman": QuerySpec(
        q_capture_recapture_chapman, _ORACLE_CRC, "X7 [EXT] Chapman capture-recapture"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_pr_auc_average_precision.__doc__ = q_pr_auc_average_precision.__doc__.format(p=_AP_POS)  # noqa: E501
q_kfold_cv_ridge_1d.__doc__ = q_kfold_cv_ridge_1d.__doc__.format(k=_CV_K)  # noqa: E501
q_consistent_hash_ring.__doc__ = q_consistent_hash_ring.__doc__.format(n=_RING_NODES, n1=_RING_NODES + 1, r=_RING_REPLICAS)  # noqa: E501
