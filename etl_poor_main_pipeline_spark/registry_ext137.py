"""Wave 137 [EXT]: training-data planners II — embedding-space
anisotropy audit, data-constrained epoch allocation (Muennighoff et al.
2023 repeat-capping), quality-gate agreement between rule families,
chunk-boundary split audit for concat-and-chunk packing, and a
curriculum pacing plan over length deciles. Companions of the shipped
mixture_temperature_sample / token_budget_apportion /
context_window_pack / text_gopher_rules / c4_quality_filters.

Scale notes (the 100x question, per query):
- anisotropy_audit: the mean pairwise cosine collapses to the identity
  (||sum v_hat||^2 - sum ||v_hat||^2) / (n*(n-1)) — per-dimension sums
  of micro-snapped normalized components (exact integers; IEEE sqrt and
  divide are correctly rounded in both engines), so the n^2 pair sum is
  ONE groupBy(dim) reduce. Never materializes a pair.
- data_constrained_epochs: per-source token totals (one reduce), then
  constant-time closed-form allocation over the 20-row source frame
  with ONE redistribution round (documented).
- quality_gate_agreement: two pure-expression gates evaluated in one
  corpus pass; the 2x2 agreement table is a keyless reduce.
- chunk_boundary_split_audit: per-source running token offsets (window
  PARTITIONED by source — the sessionization shape); split flags are
  per-row arithmetic on the offsets.
- curriculum_pacing_plan: length deciles cut off the token-count cell
  CDF (decile_lift_table category); the phase x decile plan is a
  literal-weight cross over the 10-row decile frame.

Reference parity: none; [EXT] X3/X6/X8 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_TOK = r"filter(split(text, '\\s+'), t -> t <> '')"
_DUCK_TOK = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"
_EPOCH_CAP_MILLI = 4000  # max 4 epochs per source (repeat cap)
_EPOCH_BUDGET_X = 2  # token budget = 2x total corpus tokens
_EPOCH_TAU = 0.5  # temperature on source token shares
_CHUNK_L = 2048  # packing chunk length (tokens)
#: curriculum phase weights over EASY/MID/HARD length terciles of the
#: decile axis (deciles 0-2 / 3-6 / 7-9), rows sum to 1000 (milli)
_PHASES = (
    ("warmup", 700, 200, 100),
    ("main", 333, 334, 333),
    ("anneal", 100, 300, 600),
)


# --------------------------------------------------------------------------
# Embedding anisotropy audit (X3 [EXT])
# --------------------------------------------------------------------------


def q_anisotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X3 representation anisotropy (Ethayarajh 2019): the mean
    pairwise cosine between all embeddings of a label — near 0 for an
    isotropic (well-spread) space, near 1 when vectors crowd a cone
    (the degeneracy that silently breaks cosine retrieval). Uses the
    identity sum_{{i!=j}} cos = ||sum v_hat||^2 - sum_i ||v_hat_i||^2
    over micro-snapped normalized components, so the n^2 pair sum is
    one per-dimension reduce — no pair is ever materialized. Output per
    label: label, n_vecs, mean_cos_micro."""
    e = _t(spark, sf_dir, "embeddings")
    norm = (
        "sqrt(aggregate(embedding, cast(0.0 as double),"
        " (acc, x) -> acc + cast(x as double) * cast(x as double)))"
    )
    comps = e.select(
        "label",
        F.expr("cast(vec_id as bigint)").alias("vec_id"),
        F.posexplode(
            F.expr(
                f"transform(embedding, x -> cast(floor(1e6"
                f" * cast(x as double) / {norm} + 0.5) as bigint))"
            )
        ).alias("d", "c"),
    )
    dims = comps.groupBy("label", "d").agg(
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.expr(f"{_DEC.format(x='c')} * c")).alias("q"),
        F.countDistinct("vec_id").cast("bigint").alias("n"),
    )
    red = dims.groupBy("label").agg(
        F.max("n").cast("bigint").alias("n_vecs"),
        F.sum(F.expr(f"{_DEC.format(x='s')} * s")).alias("s2"),
        F.sum("q").alias("qq"),
    )
    mean_cos = (
        "((cast(s2 as double) - cast(qq as double))"
        " / (cast(n_vecs as double) * (cast(n_vecs as double) - 1.0) * 1e12))"
    )
    return red.selectExpr(
        "cast(label as bigint) AS label",
        "n_vecs",
        f"cast(floor(1e6 * {mean_cos} + 0.5) as bigint) AS mean_cos_micro",
    ).orderBy("label")


_ORACLE_ANISO = """
WITH comps AS (
  SELECT label, vec_id, u.d, u.c
  FROM (
    SELECT label, vec_id,
           list_transform(embedding, x -> cast(floor(1e6
             * cast(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
               y -> cast(y AS DOUBLE) * cast(y AS DOUBLE)))) + 0.5)
             AS BIGINT)) AS lst
    FROM embeddings
  ), LATERAL (
    SELECT generate_subscripts(lst, 1) AS d, unnest(lst) AS c
  ) u
),
dims AS (
  SELECT label, d, sum(c)::BIGINT AS s, sum(c::HUGEINT * c) AS q,
         count(DISTINCT vec_id)::BIGINT AS n
  FROM comps GROUP BY 1, 2
),
red AS (
  SELECT label, max(n)::BIGINT AS n_vecs, sum(s::HUGEINT * s) AS s2,
         sum(q) AS qq
  FROM dims GROUP BY 1
)
SELECT cast(label AS BIGINT) AS label, n_vecs,
       cast(floor(1e6 * ((cast(s2 AS DOUBLE) - cast(qq AS DOUBLE))
            / (cast(n_vecs AS DOUBLE) * (cast(n_vecs AS DOUBLE) - 1.0)
               * 1e12)) + 0.5) AS BIGINT) AS mean_cos_micro
FROM red ORDER BY label
"""


# --------------------------------------------------------------------------
# Data-constrained epoch allocation (X8 [EXT])
# --------------------------------------------------------------------------


def q_data_constrained_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X8 data-constrained mixing (Muennighoff et al. 2023: repeats
    beyond ~4 epochs stop helping): allocate a token budget of
    {b}x total corpus tokens across sources by temperature-{t} weights
    w ~ T^{t} (the mixture_temperature_sample rule), cap every source at
    {c} milli-epochs, and redistribute the capped surplus to UNCAPPED
    sources in ONE proportional round (re-capped; any residual after
    the round is reported, not silently re-spread — documented
    single-round policy). Output per source: source, tokens, w_micro,
    alloc0, alloc_final, epochs_milli, capped."""
    d = _t(spark, sf_dir, "documents")
    per_src = (
        d.select("source", F.expr(f"size({_TOK})").cast("bigint").alias("n"))
        .groupBy("source")
        .agg(F.sum("n").cast("bigint").alias("t"))
    )
    per_src = barrier(per_src)  # reused by 3 reduces
    # temperature weights: w_s = T_s^tau / sum T^tau, micro-snapped
    pw = per_src.select(
        "source",
        "t",
        F.expr(f"cast(floor(1e6 * pow(cast(t as double), {_EPOCH_TAU})"
               " + 0.5) as bigint)").alias("tw"),
    )
    tot = pw.agg(
        F.sum("t").cast("bigint").alias("tt"),
        F.sum("tw").cast("bigint").alias("stw"),
    )
    base = pw.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "t",
        "tt",
        "cast(floor(1e6 * cast(tw as double) / cast(stw as double) + 0.5)"
        " as bigint) AS w_micro",
    ).selectExpr(
        "source",
        "t",
        "w_micro",
        f"cast(floor({_EPOCH_BUDGET_X}.0 * cast(tt as double)"
        " * cast(w_micro as double) / 1e6 + 0.5) as bigint) AS alloc0",
    ).selectExpr(
        "source",
        "t",
        "w_micro",
        "alloc0",
        f"least(alloc0, (t * {_EPOCH_CAP_MILLI}) div 1000) AS alloc1",
        f"cast(alloc0 > (t * {_EPOCH_CAP_MILLI}) div 1000 as int) AS capped",
    )
    base = barrier(base)
    pool = base.agg(
        F.sum(F.expr("alloc0 - alloc1")).cast("bigint").alias("surplus"),
        F.sum(F.expr("if(capped = 0, alloc1, 0L)"))
        .cast("bigint")
        .alias("uncapped_mass"),
    )
    final = base.crossJoin(F.broadcast(pool)).selectExpr(
        "source",
        "t AS tokens",
        "w_micro",
        "alloc0",
        "capped",
        # one proportional redistribution round to uncapped sources,
        # re-capped at the epoch ceiling
        f"if(capped = 1, alloc1, least((t * {_EPOCH_CAP_MILLI}) div 1000,"
        " alloc1 + cast(floor(cast(surplus as double)"
        " * cast(alloc1 as double) / cast(uncapped_mass as double) + 0.5)"
        " as bigint))) AS alloc_final",
    )
    return final.selectExpr(
        "source",
        "tokens",
        "w_micro",
        "alloc0",
        "alloc_final",
        "cast(floor(1e3 * cast(alloc_final as double)"
        " / cast(tokens as double) + 0.5) as bigint) AS epochs_milli",
        "cast(capped as boolean) AS capped",
    ).orderBy("source")


_ORACLE_EPOCHS = f"""
WITH per_src AS (
  SELECT source, sum(len({_DUCK_TOK}))::BIGINT AS t
  FROM documents GROUP BY 1
),
pw AS (
  SELECT source, t,
         cast(floor(1e6 * pow(cast(t AS DOUBLE), {_EPOCH_TAU}) + 0.5)
              AS BIGINT) AS tw
  FROM per_src
),
tot AS (SELECT sum(t)::BIGINT AS tt, sum(tw)::BIGINT AS stw FROM pw),
base AS (
  SELECT source, t, w_micro, alloc0,
         least(alloc0, (t * {_EPOCH_CAP_MILLI}) // 1000) AS alloc1,
         CASE WHEN alloc0 > (t * {_EPOCH_CAP_MILLI}) // 1000
              THEN 1 ELSE 0 END AS capped
  FROM (
    SELECT source, t, w_micro,
           cast(floor({_EPOCH_BUDGET_X}.0 * cast(tt AS DOUBLE)
                * cast(w_micro AS DOUBLE) / 1e6 + 0.5) AS BIGINT) AS alloc0
    FROM (
      SELECT source, t, tt,
             cast(floor(1e6 * cast(tw AS DOUBLE) / cast(stw AS DOUBLE)
                  + 0.5) AS BIGINT) AS w_micro
      FROM pw, tot
    )
  )
),
pool AS (
  SELECT sum(alloc0 - alloc1)::BIGINT AS surplus,
         sum(CASE WHEN capped = 0 THEN alloc1 ELSE 0 END)::BIGINT
           AS uncapped_mass
  FROM base
)
SELECT source, t AS tokens, w_micro, alloc0,
       CASE WHEN capped = 1 THEN alloc1
            ELSE least((t * {_EPOCH_CAP_MILLI}) // 1000,
                 alloc1 + cast(floor(cast(surplus AS DOUBLE)
                   * cast(alloc1 AS DOUBLE) / cast(uncapped_mass AS DOUBLE)
                   + 0.5) AS BIGINT)) END AS alloc_final,
       cast(floor(1e3 * cast(CASE WHEN capped = 1 THEN alloc1
            ELSE least((t * {_EPOCH_CAP_MILLI}) // 1000,
                 alloc1 + cast(floor(cast(surplus AS DOUBLE)
                   * cast(alloc1 AS DOUBLE) / cast(uncapped_mass AS DOUBLE)
                   + 0.5) AS BIGINT)) END AS DOUBLE)
            / cast(t AS DOUBLE) + 0.5) AS BIGINT) AS epochs_milli,
       cast(capped AS BOOLEAN) AS capped
FROM base, pool ORDER BY source
"""


# --------------------------------------------------------------------------
# Quality-gate agreement (X6 [EXT])
# --------------------------------------------------------------------------


def q_quality_gate_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 do two quality-rule families agree on which documents
    to keep? Gate A (Gopher-style structure): 50-10000 words AND mean
    word length 3-10 chars. Gate B (C4-style form): >= 5 words AND ends
    with terminal punctuation AND no '{{'. The 2x2 agreement table
    gives raw agreement, Cohen's kappa, and McNemar's b vs c (which
    gate is stricter and WHERE they disagree) — the audit a pipeline
    runs before swapping its quality filter. Output one row: n_docs,
    both_keep, only_a, only_b, neither, agree_milli, kappa_milli."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        F.expr(f"size({_TOK})").cast("bigint").alias("w"),
        F.expr(
            f"aggregate({_TOK}, 0L, (acc, t) -> acc + length(t))"
        ).cast("bigint").alias("chars"),
        F.expr("text rlike '[.!?]\\\\s*$'").alias("term"),
        F.expr("instr(text, '{') > 0").alias("brace"),
    )
    gates = base.selectExpr(
        "cast(w between 50 and 10000"
        " and chars * 10 between w * 30 and w * 100 as int) AS ga",
        "cast(w >= 5 and term and not brace as int) AS gb",
    )
    m = gates.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("ga * gb")).cast("bigint").alias("bk"),
        F.sum(F.expr("ga * (1 - gb)")).cast("bigint").alias("oa"),
        F.sum(F.expr("(1 - ga) * gb")).cast("bigint").alias("ob"),
        F.sum(F.expr("(1 - ga) * (1 - gb)")).cast("bigint").alias("nn"),
    )
    nn = "cast(n as double)"
    pa = f"((cast(bk as double) + cast(nn2 as double)) / {nn})"
    pe = (
        f"((cast(bk as double) + cast(oa as double)) / {nn}"
        f" * (cast(bk as double) + cast(ob as double)) / {nn}"
        f" + (cast(ob as double) + cast(nn2 as double)) / {nn}"
        f" * (cast(oa as double) + cast(nn2 as double)) / {nn})"
    )
    return m.selectExpr("n", "bk", "oa", "ob", "nn as nn2").selectExpr(
        "n AS n_docs",
        "bk AS both_keep",
        "oa AS only_a",
        "ob AS only_b",
        "nn2 AS neither",
        f"cast(floor(1e3 * {pa} + 0.5) as bigint) AS agree_milli",
        f"cast(floor(1e3 * ({pa} - {pe}) / (1.0 - {pe}) + 0.5) as bigint)"
        " AS kappa_milli",
    )


def _oracle_gates() -> str:
    nn = "cast(n AS DOUBLE)"
    pa = f"((cast(bk AS DOUBLE) + cast(nn2 AS DOUBLE)) / {nn})"
    pe = (
        f"((cast(bk AS DOUBLE) + cast(oa AS DOUBLE)) / {nn}"
        f" * (cast(bk AS DOUBLE) + cast(ob AS DOUBLE)) / {nn}"
        f" + (cast(ob AS DOUBLE) + cast(nn2 AS DOUBLE)) / {nn}"
        f" * (cast(oa AS DOUBLE) + cast(nn2 AS DOUBLE)) / {nn})"
    )
    return f"""
WITH base AS (
  SELECT len({_DUCK_TOK})::BIGINT AS w,
         list_sum(list_transform({_DUCK_TOK}, t -> length(t)))::BIGINT
           AS chars,
         regexp_matches(text, '[.!?]\\s*$') AS term,
         instr(text, '{{') > 0 AS brace
  FROM documents
),
gates AS (
  SELECT CASE WHEN w BETWEEN 50 AND 10000
              AND chars * 10 BETWEEN w * 30 AND w * 100
         THEN 1 ELSE 0 END AS ga,
         CASE WHEN w >= 5 AND term AND NOT brace THEN 1 ELSE 0 END AS gb
  FROM base
),
m AS (
  SELECT count(*)::BIGINT AS n, sum(ga * gb)::BIGINT AS bk,
         sum(ga * (1 - gb))::BIGINT AS oa,
         sum((1 - ga) * gb)::BIGINT AS ob,
         sum((1 - ga) * (1 - gb))::BIGINT AS nn2
  FROM gates
)
SELECT n AS n_docs, bk AS both_keep, oa AS only_a, ob AS only_b,
       nn2 AS neither,
       cast(floor(1e3 * {pa} + 0.5) AS BIGINT) AS agree_milli,
       cast(floor(1e3 * ({pa} - {pe}) / (1.0 - {pe}) + 0.5) AS BIGINT)
         AS kappa_milli
FROM m
"""


# --------------------------------------------------------------------------
# Chunk-boundary split audit (X8 [EXT])
# --------------------------------------------------------------------------


def q_chunk_boundary_split_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] X8 concat-and-chunk packing audit at L={l} tokens: per
    source, documents concatenate in doc_id order and the stream is cut
    every {l} tokens (the padding-free GPT-style packing); a document
    is SPLIT when it straddles a cut. Running offsets are a window
    PARTITIONED by source (the sessionization shape — distributed by
    key, never a global order). Output per source: source, n_docs,
    tokens, n_chunks, split_docs, split_rate_milli."""
    d = _t(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = d.select(
        "source",
        "doc_id",
        F.expr(f"size({_TOK})").cast("bigint").alias("n"),
    ).select(
        "source",
        "n",
        F.coalesce(F.sum("n").over(w), F.lit(0)).cast("bigint").alias("start"),
    )
    marked = toks.selectExpr(
        "source",
        "n",
        f"cast(start div {_CHUNK_L} < (start + n - 1) div {_CHUNK_L} as int)"
        " AS split",
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("tokens"),
            F.expr(f"cast((sum(n) + {_CHUNK_L} - 1) div {_CHUNK_L} as bigint)")
            .alias("n_chunks"),
            F.sum("split").cast("bigint").alias("split_docs"),
        )
        .selectExpr(
            "source",
            "n_docs",
            "tokens",
            "n_chunks",
            "split_docs",
            "cast(floor(1e3 * cast(split_docs as double)"
            " / cast(n_docs as double) + 0.5) as bigint)"
            " AS split_rate_milli",
        )
        .orderBy("source")
    )


_ORACLE_CHUNK = f"""
WITH toks AS (
  SELECT source, n,
         coalesce(sum(n) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS start
  FROM (SELECT source, doc_id, len({_DUCK_TOK})::BIGINT AS n
        FROM documents)
),
marked AS (
  SELECT source, n,
         CASE WHEN start // {_CHUNK_L} < (start + n - 1) // {_CHUNK_L}
              THEN 1 ELSE 0 END AS split
  FROM toks
)
SELECT source, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS tokens,
       ((sum(n) + {_CHUNK_L} - 1) // {_CHUNK_L})::BIGINT AS n_chunks,
       sum(split)::BIGINT AS split_docs,
       cast(floor(1e3 * cast(sum(split) AS DOUBLE)
            / cast(count(*) AS DOUBLE) + 0.5) AS BIGINT)
         AS split_rate_milli
FROM marked GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------------
# Curriculum pacing plan (X8 [EXT])
# --------------------------------------------------------------------------


def q_curriculum_pacing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X8 curriculum pacing: documents bucket into LENGTH deciles
    (token-count cell CDF cut — short = easy proxy); each training
    phase draws its token budget across the easy/mid/hard TERCILES of
    the decile axis with literal weights ({p}) — warmup favors short
    documents, anneal favors long. Within a tercile the budget spreads
    proportionally to decile token mass. Output per (phase, decile):
    phase, decile, docs, tokens, weight_milli, planned_tokens."""
    d = _t(spark, sf_dir, "documents")
    cells = (
        d.select(F.expr(f"size({_TOK})").cast("bigint").alias("n"))
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.expr("cast(sum(n) as bigint)").alias("toks"),
        )
    )
    w = Window.orderBy("n").rowsBetween(Window.unboundedPreceding, 0)
    tot = cells.agg(F.sum("c").cast("bigint").alias("nd"))
    dec = (
        cells.select(
            "n", "c", "toks", F.sum("c").over(w).cast("bigint").alias("cum")
        )
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "c",
            "toks",
            "least(cast(((cum - 1) * 10) div nd as int), 9) AS decile",
        )
        .groupBy("decile")
        .agg(
            F.sum("c").cast("bigint").alias("docs"),
            F.sum("toks").cast("bigint").alias("tokens"),
        )
    )
    dec = barrier(dec)  # tercile mass + plan reuse it
    ter = dec.selectExpr(
        "decile",
        "docs",
        "tokens",
        "if(decile <= 2, 0, if(decile <= 6, 1, 2)) AS ter",
    )
    tmass = ter.groupBy("ter").agg(
        F.sum("tokens").cast("bigint").alias("ter_tokens")
    )
    phases = ",".join(
        f"named_struct('phase', '{n}', 'w0', {a}L, 'w1', {b}L, 'w2', {c}L)"
        for n, a, b, c in _PHASES
    )
    budget = dec.agg(F.sum("tokens").cast("bigint").alias("bt"))
    plan = (
        ter.join(F.broadcast(tmass), "ter")
        .crossJoin(F.broadcast(budget))
        .select(
            "*", F.explode(F.expr(f"array({phases})")).alias("ph")
        )
        .selectExpr(
            "ph.phase AS phase",
            "cast(decile as bigint) AS decile",
            "docs",
            "tokens",
            "if(ter = 0, ph.w0, if(ter = 1, ph.w1, ph.w2)) AS wt",
            "ter_tokens",
            "bt",
        )
        .selectExpr(
            "phase",
            "decile",
            "docs",
            "tokens",
            "wt AS weight_milli",
            # phase budget = total tokens; tercile share wt/1000, spread
            # within the tercile by decile token mass
            "cast(floor(cast(bt as double) * cast(wt as double) / 1e3"
            " * cast(tokens as double) / cast(ter_tokens as double) + 0.5)"
            " as bigint) AS planned_tokens",
        )
    )
    return plan.orderBy("phase", "decile")


_ORACLE_CURRICULUM = f"""
WITH cells AS (
  SELECT n, count(*)::BIGINT AS c, sum(n)::BIGINT AS toks
  FROM (SELECT len({_DUCK_TOK})::BIGINT AS n FROM documents)
  GROUP BY 1
),
tot AS (SELECT sum(c)::BIGINT AS nd FROM cells),
dec AS (
  SELECT least(cast(((cum - 1) * 10) // nd AS INT), 9) AS decile,
         sum(c)::BIGINT AS docs, sum(toks)::BIGINT AS tokens
  FROM (SELECT c, toks, sum(c) OVER (ORDER BY n)::BIGINT AS cum
        FROM cells), tot
  GROUP BY 1
),
ter AS (
  SELECT decile, docs, tokens,
         CASE WHEN decile <= 2 THEN 0 WHEN decile <= 6 THEN 1 ELSE 2 END
           AS ter
  FROM dec
),
tmass AS (SELECT ter, sum(tokens)::BIGINT AS ter_tokens FROM ter GROUP BY 1),
budget AS (SELECT sum(tokens)::BIGINT AS bt FROM dec),
phases AS (
  SELECT * FROM (VALUES {", ".join(f"('{n}', {a}, {b}, {c})" for n, a, b, c in _PHASES)})
    p(phase, w0, w1, w2)
)
SELECT p.phase, cast(t.decile AS BIGINT) AS decile, t.docs, t.tokens,
       (CASE WHEN t.ter = 0 THEN p.w0 WHEN t.ter = 1 THEN p.w1
             ELSE p.w2 END)::BIGINT AS weight_milli,
       cast(floor(cast(b.bt AS DOUBLE)
            * cast(CASE WHEN t.ter = 0 THEN p.w0 WHEN t.ter = 1 THEN p.w1
                   ELSE p.w2 END AS DOUBLE) / 1e3
            * cast(t.tokens AS DOUBLE) / cast(m.ter_tokens AS DOUBLE) + 0.5)
            AS BIGINT) AS planned_tokens
FROM ter t JOIN tmass m ON t.ter = m.ter, budget b, phases p
ORDER BY phase, decile
"""


REGISTRY_EXT137: dict[str, QuerySpec] = {
    "anisotropy_audit": QuerySpec(
        q_anisotropy_audit, _ORACLE_ANISO, "X3 [EXT] anisotropy"
    ),
    "data_constrained_epochs": QuerySpec(
        q_data_constrained_epochs, _ORACLE_EPOCHS, "X8 [EXT] epoch cap"
    ),
    "quality_gate_agreement": QuerySpec(
        q_quality_gate_agreement, _oracle_gates(), "X6 [EXT] gate agreement"
    ),
    "chunk_boundary_split_audit": QuerySpec(
        q_chunk_boundary_split_audit, _ORACLE_CHUNK, "X8 [EXT] chunk splits"
    ),
    "curriculum_pacing_plan": QuerySpec(
        q_curriculum_pacing_plan, _ORACLE_CURRICULUM, "X8 [EXT] curriculum"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_data_constrained_epochs.__doc__ = q_data_constrained_epochs.__doc__.format(b=_EPOCH_BUDGET_X, t=_EPOCH_TAU, c=_EPOCH_CAP_MILLI)  # noqa: E501
q_chunk_boundary_split_audit.__doc__ = q_chunk_boundary_split_audit.__doc__.format(l=_CHUNK_L)  # noqa: E501
q_curriculum_pacing_plan.__doc__ = q_curriculum_pacing_plan.__doc__.format(p=", ".join(f"{n}:{a}/{b}/{c}" for n, a, b, c in _PHASES))  # noqa: E501
