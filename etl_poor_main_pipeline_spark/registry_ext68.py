"""Operator registry, wave 69: MMR diversified re-ranking,
business-day deadline arithmetic, and near-dup evidence tokens.

Scale stances:
- MMR: the two-phase serving shape — the EXPENSIVE work (corpus-wide
  relevance top-k and the shortlist's pairwise sims) runs
  distributed; the inherently sequential greedy selection runs over
  the K-BOUNDED shortlist exactly as production re-rankers do
  (driver-sized by construction, the PQ-codebook/Lloyd-means
  precedent). All scores are micro-ints, so the selection is
  bit-deterministic and fully oracle-checkable via unrolled SQL.
- Business days: pure closed-form weekday arithmetic (identical CASE
  text both engines), no calendar table scan.
- Evidence tokens: the "why was this pair flagged" explainability
  surface — top pairs via TakeOrdered, shared-token explode bounded
  by 20 pairs, document frequencies vocabulary-bounded, rarest-3
  picked by pair-partitioned rank windows.

Reference parity: none; [EXT] X2/X3/X7 tier per BASELINE.json.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.text import tokens_expr
from .operators import dedup, similarity
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# MMR diversified re-ranking (X3 [EXT])
# --------------------------------------------------------------------------

_MMR_SHORTLIST = 20
_MMR_K = 10
_MMR_LAMBDA_MICRO = 700_000  # lambda = 0.7 in micro units


def _cos_micro_expr(a: str, b: str) -> str:
    return (
        f"cast(floor(1e6 * aggregate("
        f"  zip_with({a}, {b}, (x, y) -> named_struct('d', x * y, 'nx', x * x, 'ny', y * y)),"
        f"  named_struct('d', cast(0.0 as double), 'nx', cast(0.0 as double), 'ny', cast(0.0 as double)),"
        f"  (acc, s) -> named_struct('d', acc.d + s.d, 'nx', acc.nx + s.nx, 'ny', acc.ny + s.ny),"
        f"  acc -> acc.d / (sqrt(acc.nx) * sqrt(acc.ny))"
        f") + 0.5) as bigint)"
    )


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X3 maximal marginal relevance: diversify the vec_id=0
    cosine top-{s} shortlist into a top-{k} where each pick maximizes
    lambda*rel - (1-lambda)*max-sim-to-already-picked (lambda=0.7) —
    the re-ranker that stops retrieval returning ten copies of the
    same near-dup. Corpus-wide relevance scoring and the shortlist's
    {s}x{s} sim matrix run DISTRIBUTED; the greedy selection is
    inherently sequential and runs over the collected K-bounded
    shortlist (driver-sized by construction), on micro-int scores
    with id tie-breaks — bit-identical to the oracle's unrolled
    selection."""
    e = _t(spark, sf_dir, "embeddings")
    qv = similarity.query_vector(sf_dir, vec_id=0)
    qnorm = math.sqrt(sum(float(x) * float(x) for x in qv))
    qlits = ",".join(repr(float(x)) for x in qv)
    rel_expr = (
        f"cast(floor(1e6 * aggregate("
        f"  zip_with(cast(embedding as array<double>), array({qlits}),"
        f"           (x, y) -> named_struct('d', x * y, 'n', x * x)),"
        f"  named_struct('d', cast(0.0 as double), 'n', cast(0.0 as double)),"
        f"  (acc, s) -> named_struct('d', acc.d + s.d, 'n', acc.n + s.n),"
        f"  acc -> acc.d / (sqrt(acc.n) * {qnorm!r})"
        f") + 0.5) as bigint)"
    )
    short = barrier(
        e.where(F.col("vec_id") != 0)
        .selectExpr("vec_id", "embedding", f"{rel_expr} as rel")
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_SHORTLIST)
    )
    a = short.select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("ea")
    )
    b = short.select(
        F.col("vec_id").alias("ib"), F.col("embedding").alias("eb")
    )
    sims = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("ia") < F.col("ib"))
        .selectExpr(
            "ia",
            "ib",
            _cos_micro_expr(
                "cast(ea as array<double>)", "cast(eb as array<double>)"
            )
            + " as sim",
        )
    )
    rel_rows = {r.vec_id: r.rel for r in short.select("vec_id", "rel").collect()}
    sim_map: dict[tuple[int, int], int] = {}
    for r in sims.collect():
        sim_map[(r.ia, r.ib)] = r.sim
        sim_map[(r.ib, r.ia)] = r.sim
    lam, lam1 = _MMR_LAMBDA_MICRO, 1_000_000 - _MMR_LAMBDA_MICRO
    selected: list[tuple[int, int, int]] = []
    remaining = dict(rel_rows)
    for rank in range(1, _MMR_K + 1):
        best = None
        for vid, rel in remaining.items():
            pen = max((sim_map[(vid, s)] for s, _, _ in selected), default=0)
            # micro arithmetic: lambda*rel - (1-lambda)*penalty, in micro^2 / 1e6.
            # TRUNCATE toward zero (DuckDB's `//`), not Python floor — the two
            # differ on negative scores
            num = lam * rel - lam1 * pen
            score = -((-num) // 1_000_000) if num < 0 else num // 1_000_000
            key = (score, -vid)
            if best is None or key > best[0]:
                best = (key, vid, score)
        selected.append((best[1], rank, best[2]))
        del remaining[best[1]]
    return spark.createDataFrame(
        [(rank, vid, score) for vid, rank, score in selected],
        "rank bigint, vec_id bigint, mmr_score_micro bigint",
    ).orderBy("rank")


def _oracle_mmr() -> str:
    lam, lam1 = _MMR_LAMBDA_MICRO, 1_000_000 - _MMR_LAMBDA_MICRO
    head = f"""
WITH qv AS MATERIALIZED (
  SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0
),
short AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS ev,
         cast(floor(1e6 * list_cosine_similarity(embedding::DOUBLE[],
                                                 (SELECT q FROM qv)) + 0.5)
              AS bigint) AS rel
  FROM embeddings WHERE vec_id <> 0
  ORDER BY rel DESC, vec_id LIMIT {_MMR_SHORTLIST}
),
sims AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         cast(floor(1e6 * list_cosine_similarity(a.ev, b.ev) + 0.5) AS bigint)
           AS sim
  FROM short a JOIN short b ON a.vec_id <> b.vec_id
),
sel0(vec_id, rnk, score) AS (SELECT cast(NULL AS bigint), 0, cast(NULL AS bigint))"""
    steps = []
    for i in range(1, _MMR_K + 1):
        prev = ", ".join(f"sel{j}" for j in range(1, i))
        prev_filter = (
            f"AND s.vec_id NOT IN (SELECT vec_id FROM picked{i - 1})" if i > 1 else ""
        )
        # every step MUST be MATERIALIZED: chained plain CTEs re-inline
        # exponentially (sel_j re-evaluated by every later picked_k)
        picked_def = (
            f"picked{i - 1} AS MATERIALIZED (SELECT vec_id FROM ({' UNION ALL '.join(f'SELECT vec_id FROM sel{j}' for j in range(1, i))}))"
            if i > 1
            else "picked0 AS MATERIALIZED (SELECT cast(NULL AS bigint) AS vec_id WHERE false)"
        )
        pen = (
            f"coalesce((SELECT max(m.sim) FROM sims m"
            f" WHERE m.ia = s.vec_id AND m.ib IN (SELECT vec_id FROM picked{i - 1})), 0)"
        )
        steps.append(
            f""",
{picked_def},
sel{i}(vec_id, rnk, score) AS MATERIALIZED (
  SELECT s.vec_id, {i},
         ({lam} * s.rel - {lam1} * {pen}) // 1000000
  FROM short s
  WHERE true {prev_filter}
  ORDER BY ({lam} * s.rel - {lam1} * {pen}) // 1000000 DESC, s.vec_id ASC
  LIMIT 1
)"""
        )
    tail = (
        "\nSELECT cast(rnk AS bigint) AS rank, vec_id,"
        " cast(score AS bigint) AS mmr_score_micro FROM ("
        + " UNION ALL ".join(f"SELECT * FROM sel{i}" for i in range(1, _MMR_K + 1))
        + ") ORDER BY rank"
    )
    return head + "".join(steps) + tail


# --------------------------------------------------------------------------
# Business-day deadline arithmetic (X7/W [EXT])
# --------------------------------------------------------------------------

_BIZ_DAYS = 7

# identical closed-form SQL both engines: dow0 = Monday-0 index;
# start shifts weekend to next Monday, then add full weeks + remainder
# with one weekend hop if the remainder overflows the work week.
_BIZ_CASE = (
    "(CASE WHEN {dow0} = 5 THEN 2 WHEN {dow0} = 6 THEN 1 ELSE 0 END)"  # to Monday
)


def q_business_day_deadline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7/W business-day arithmetic: each order's SLA deadline =
    order date + {b} business days (weekends skipped, closed-form
    weekday math — no calendar-table scan, identical CASE text in
    both engines). Validated shape: the census of (start weekday,
    calendar days added) — every weekday start must map to exactly
    one span."""
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        # Monday-0 weekday index: Spark dayofweek is Sunday-1
        "cast((dayofweek(o_orderdate) + 5) % 7 as bigint) as dow0",
    )
    shift = _BIZ_CASE.format(dow0="dow0")
    eff = f"cast((dow0 + {shift}) % 7 as bigint)"  # effective start dow (0..4)
    full_w = _BIZ_DAYS // 5
    rem = _BIZ_DAYS % 5
    cal = (
        f"({shift}) + {full_w * 7} + {rem}"
        f" + (CASE WHEN ({eff}) + {rem} > 4 THEN 2 ELSE 0 END)"
    )
    return (
        o.selectExpr("dow0", f"cast({cal} as bigint) as cal_days")
        .groupBy("dow0", "cal_days")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .orderBy("dow0", "cal_days")
    )


def _oracle_bizdays() -> str:
    shift = _BIZ_CASE.format(dow0="dow0")
    eff = f"cast((dow0 + {shift}) % 7 AS bigint)"
    full_w = _BIZ_DAYS // 5
    rem = _BIZ_DAYS % 5
    cal = (
        f"({shift}) + {full_w * 7} + {rem}"
        f" + (CASE WHEN ({eff}) + {rem} > 4 THEN 2 ELSE 0 END)"
    )
    return f"""
WITH o AS (
  SELECT o_orderkey, cast(isodow(o_orderdate) - 1 AS bigint) AS dow0 FROM orders
)
SELECT dow0, cast({cal} AS bigint) AS cal_days, count(*)::BIGINT AS n_orders
FROM o GROUP BY 1, 2 ORDER BY dow0, cal_days
"""


# --------------------------------------------------------------------------
# Near-dup evidence tokens (X2 [EXT])
# --------------------------------------------------------------------------

_EVID_PAIRS = 20
_EVID_TOP = 3


def q_dedup_evidence_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X2 dedup explainability: for the {p} highest-Jaccard
    near-dup pairs, the {t} RAREST shared tokens (lowest document
    frequency — the distinctive evidence, not 'the'), the "why was
    this flagged" view a reviewer reads. Top pairs via TakeOrdered;
    the shared-token explode is bounded by {p} pairs; document
    frequencies are vocabulary-bounded; rarest-{t} picked by
    pair-partitioned rank windows."""
    d = _t(spark, sf_dir, "documents")
    pairs = (
        dedup.jaccard_token_sets(d, threshold=0.8, block_cols=["lang"], length_window=16)
        .select(
            "id_a",
            "id_b",
            F.floor(F.lit(1e6) * F.col("jaccard") + F.lit(0.5))
            .cast("bigint")
            .alias("jm"),
        )
        .orderBy(F.desc("jm"), F.asc("id_a"), F.asc("id_b"))
        .limit(_EVID_PAIRS)
    )
    toks = d.select("doc_id", F.array_distinct(tokens_expr("text")).alias("ts"))
    shared = (
        pairs.join(toks.select(F.col("doc_id").alias("id_a"), F.col("ts").alias("ta")), "id_a")
        .join(toks.select(F.col("doc_id").alias("id_b"), F.col("ts").alias("tb")), "id_b")
        .select(
            "id_a", "id_b", "jm", F.explode(F.array_intersect("ta", "tb")).alias("w")
        )
    )
    dfreq = (
        d.select(F.explode(F.array_distinct(tokens_expr("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    w = Window.partitionBy("id_a", "id_b").orderBy(F.asc("df"), F.asc("w"))
    return (
        shared.join(dfreq, "w")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _EVID_TOP)
        .select("id_a", "id_b", "jm", F.col("rk").cast("bigint").alias("rk"), "w", "df")
        .orderBy("id_a", "id_b", "rk")
    )


_ORACLE_EVIDENCE = rf"""
WITH toks AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                                   t -> t <> '')) AS tok_set
  FROM documents
),
all_pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.tok_set AS ta, b.tok_set AS tb,
         cast(floor(1e6 * (len(list_intersect(a.tok_set, b.tok_set)) * 1.0
               / len(list_distinct(list_concat(a.tok_set, b.tok_set)))) + 0.5)
              AS bigint) AS jm
  FROM toks a JOIN toks b
    ON a.doc_id < b.doc_id AND a.lang = b.lang
   AND abs(a.n_chars - b.n_chars) <= 16
  WHERE len(list_intersect(a.tok_set, b.tok_set)) * 1.0
        / len(list_distinct(list_concat(a.tok_set, b.tok_set))) >= 0.8
),
top_pairs AS (
  SELECT * FROM all_pairs ORDER BY jm DESC, id_a, id_b LIMIT {_EVID_PAIRS}
),
shared AS (
  SELECT id_a, id_b, jm, unnest(list_intersect(ta, tb)) AS w FROM top_pairs
),
dfreq AS (
  SELECT w, count(*)::BIGINT AS df FROM (
    SELECT doc_id, unnest(tok_set) AS w FROM toks
  ) GROUP BY 1
),
ranked AS (
  SELECT s.id_a, s.id_b, s.jm, s.w, d.df,
         row_number() OVER (PARTITION BY s.id_a, s.id_b
                            ORDER BY d.df ASC, s.w ASC) AS rk
  FROM shared s JOIN dfreq d USING (w)
)
SELECT id_a, id_b, jm, cast(rk AS bigint) AS rk, w, df
FROM ranked WHERE rk <= {_EVID_TOP}
ORDER BY id_a, id_b, rk
"""


REGISTRY_EXT68: dict[str, QuerySpec] = {
    "mmr_rerank": QuerySpec(q_mmr_rerank, _oracle_mmr(), "X3 [EXT] diversified retrieval"),
    "business_day_deadline": QuerySpec(
        q_business_day_deadline, _oracle_bizdays(), "X7/W [EXT] SLA arithmetic"
    ),
    "dedup_evidence_tokens": QuerySpec(
        q_dedup_evidence_tokens, _ORACLE_EVIDENCE, "X2 [EXT] flag explainability"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_mmr_rerank.__doc__ = q_mmr_rerank.__doc__.format(s=_MMR_SHORTLIST, k=_MMR_K)  # noqa: E501
q_business_day_deadline.__doc__ = q_business_day_deadline.__doc__.format(b=_BIZ_DAYS)  # noqa: E501
q_dedup_evidence_tokens.__doc__ = q_dedup_evidence_tokens.__doc__.format(p=_EVID_PAIRS, t=_EVID_TOP)  # noqa: E501
