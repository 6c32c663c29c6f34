"""Operator registry, wave 104: hyperparameter-search scheduling,
categorical association, cluster validity, and lexical burstiness —
successive halving over sources, a Cramér's V pair matrix, the
Calinski-Harabasz index, and Church-Gale variance-to-mean burstiness.

Scale stances:
- successive_halving_bandit: the budgeted search scheduler (keep the
  top half each round, double the per-arm budget). Per-arm samples are
  md5-rank slices of a ONCE-checkpointed ranked frame — each round is
  one rank filter + one grouped mean + a LIMIT TakeOrdered, rounds
  chained as lazy frames (the kmeanspp idiom, zero collects).
- cramers_v_pairs: each feature pair reduces map-side to its
  contingency cells; chi2 uses the n*(S-1) identity (S = sum of
  n_ab^2/(n_a*n_b)) so absent cells need no grid completion, every
  cell term snaps nano before the integer sum.
- calinski_harabasz_index: one posexplode pass -> (label, dim) decimal
  sums (float32 products exact in double, decimal kills merge-order);
  B and W fold from per-(label, dim) micro-snapped terms against the
  broadcast per-dim global means. 10 x 64 cells of state — the
  map-side-combine pattern at any corpus size.
- token_burstiness_vmr: two grouped passes (token x doc counts, then
  token moments); VMR folds from exact bigints; output bounded by a
  df floor + LIMIT.

Reference parity: none; [EXT] X3/X6/X7/X8 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_TOK = r"filter(split(lower(text), '\\s+'), t -> t <> '')"
_DUCK_TOK = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"


# --------------------------------------------------------------------------
# Successive halving over sources (X8 [EXT])
# --------------------------------------------------------------------------

_SH_ROUNDS = [(1, 8, 20), (2, 16, 10), (3, 32, 5)]  # (round, budget/arm, arms kept INTO round)


def q_successive_halving_bandit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X8 successive halving (Karnin/Jamieson-Talwalkar) over the
    20 document sources as arms, reward = lexical-diversity micro
    (distinct-token ratio): round r evaluates each surviving arm on its
    first n_r md5-ranked documents (n_r doubling: 8, 16, 32) and keeps
    the top half (mean desc, source asc) — the fixed-budget scheduler
    Hyperband runs inside, here deciding which sources deserve deeper
    quality audits. The ranked frame checkpoints once; each round is a
    rank slice + grouped mean + TakeOrdered LIMIT, chained lazily.
    Output one row per (round, surviving arm): the budget, the arm's
    mean reward at that budget, and its rank in the round."""
    d = _t(spark, sf_dir, "documents")
    wrk = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.asc("doc_id")
    )
    ranked = barrier(
        d.select(
            "source",
            "doc_id",
            F.expr(
                "cast(floor(1e6 * cast(size(array_distinct({t})) as double)"
                " / cast(greatest(size({t}), 1) as double) + 0.5) as bigint)".format(
                    t=_TOK
                )
            ).alias("reward"),
        )
        .withColumn("rk", F.row_number().over(wrk))
    )
    alive = ranked.select("source").distinct()
    out = None
    for rnd, budget, keep in _SH_ROUNDS:
        means = (
            ranked.filter(F.col("rk") <= budget)
            .join(alive.select("source"), "source", "leftsemi")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_used"),
                F.expr(
                    "cast(floor(cast(sum(reward) as double)"
                    " / cast(count(1) as double) + 0.5) as bigint)"
                ).alias("mean_reward_micro"),
            )
            .orderBy(F.desc("mean_reward_micro"), F.asc("source"))
            .limit(keep)
        )
        wr = Window.orderBy(F.desc("mean_reward_micro"), F.asc("source"))
        round_rows = means.select(
            F.lit(rnd).cast("bigint").alias("round"),
            "source",
            F.lit(budget).cast("bigint").alias("budget"),
            "n_used",
            "mean_reward_micro",
            F.row_number().over(wr).cast("bigint").alias("rank_in_round"),
        )
        out = round_rows if out is None else out.unionAll(round_rows)
        alive = means.select("source")
    return out.orderBy("round", "rank_in_round")


def _sh_oracle() -> str:
    ctes = [
        f"ranked AS (SELECT source, doc_id, "
        f"cast(floor(1e6 * cast(len(list_distinct({_DUCK_TOK})) AS double) "
        f"/ cast(greatest(len({_DUCK_TOK}), 1) AS double) + 0.5) AS bigint) AS reward, "
        f"row_number() OVER (PARTITION BY source "
        f"ORDER BY md5(cast(doc_id AS varchar)), doc_id) AS rk "
        f"FROM documents)"
    ]
    prev_alive = "SELECT DISTINCT source FROM ranked"
    unions = []
    for rnd, budget, keep in _SH_ROUNDS:
        ctes.append(
            f"m{rnd} AS (SELECT source, cast(count(*) AS bigint) AS n_used, "
            f"cast(floor(cast(sum(reward) AS double) / cast(count(*) AS double)"
            f" + 0.5) AS bigint) AS mean_reward_micro "
            f"FROM ranked WHERE rk <= {budget} AND source IN ({prev_alive}) "
            f"GROUP BY source ORDER BY mean_reward_micro DESC, source LIMIT {keep})"
        )
        unions.append(
            f"SELECT {rnd}::BIGINT AS round, source, {budget}::BIGINT AS budget, "
            f"n_used, mean_reward_micro, "
            f"row_number() OVER (ORDER BY mean_reward_micro DESC, source)::BIGINT "
            f"AS rank_in_round FROM m{rnd}"
        )
        prev_alive = f"SELECT source FROM m{rnd}"
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT * FROM ("
        + " UNION ALL ".join(f"({u})" for u in unions)
        + ") ORDER BY round, rank_in_round"
    )


_ORACLE_SH = _sh_oracle()


# --------------------------------------------------------------------------
# Cramér's V association pair matrix (X7 [EXT])
# --------------------------------------------------------------------------


def q_cramers_v_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Cramér's V for three categorical feature pairs over
    documents — (lang, source), (lang, len_bucket), (source,
    len_bucket with n_chars div 100) — the normalized-association
    screen feature stores run to drop redundant categoricals. Uses the
    identity chi2 = n*(S - 1) with S = sum over OBSERVED cells of
    n_ab^2/(n_a*n_b), so zero cells never need grid completion; each
    cell term snaps nano before the integer sum and V = sqrt((S-1) /
    (min(r,c)-1)) folds once. Each pair is its own map-side-combinable
    cell reduction; output (pair, n, r, c, chi2_micro, v_micro)."""
    d = barrier(_t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.expr("cast(n_chars div 100 as bigint)").alias("len_bucket"),
    ))

    def pair_stats(a: str, b: str, name: str) -> DataFrame:
        cells = d.groupBy(F.col(a).alias("ka"), F.col(b).alias("kb")).agg(
            F.count(F.lit(1)).cast("bigint").alias("nab")
        )
        ra = d.groupBy(F.col(a).alias("ka")).agg(
            F.count(F.lit(1)).cast("bigint").alias("na")
        )
        cb = d.groupBy(F.col(b).alias("kb")).agg(
            F.count(F.lit(1)).cast("bigint").alias("nb")
        )
        tot = d.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct(a).cast("bigint").alias("r"),
            F.countDistinct(b).cast("bigint").alias("c"),
        )
        s = (
            cells.join(F.broadcast(ra), "ka")
            .join(F.broadcast(cb), "kb")
            .select(
                F.expr(
                    "cast(floor(1e9 * cast(nab as double) * cast(nab as double)"
                    " / (cast(na as double) * cast(nb as double)) + 0.5) as bigint)"
                ).alias("term")
            )
            .agg(F.sum("term").cast("bigint").alias("s_nano"))
        )
        return s.crossJoin(F.broadcast(tot)).select(
            F.lit(name).alias("pair"),
            "n",
            "r",
            "c",
            F.expr(
                "cast(floor(1e6 * cast(n as double)"
                " * (cast(s_nano as double) / 1e9 - 1.0) + 0.5) as bigint)"
            ).alias("chi2_micro"),
            F.expr(
                "case when least(r, c) <= 1 then cast(0 as bigint) else"
                " cast(floor(1e6 * sqrt(greatest(cast(s_nano as double) / 1e9 - 1.0,"
                " 0.0) / cast(least(r, c) - 1 as double)) + 0.5) as bigint) end"
            ).alias("v_micro"),
        )

    return (
        pair_stats("lang", "source", "lang_source")
        .unionAll(pair_stats("lang", "len_bucket", "lang_len"))
        .unionAll(pair_stats("source", "len_bucket", "source_len"))
        .orderBy("pair")
    )


def _cv_oracle() -> str:
    parts = []
    for a, b, name in [
        ("lang", "source", "lang_source"),
        ("lang", "len_bucket", "lang_len"),
        ("source", "len_bucket", "source_len"),
    ]:
        parts.append(
            f"""(
WITH base AS (
  SELECT lang, source, cast(n_chars // 100 AS bigint) AS len_bucket FROM documents
),
cells AS (SELECT {a} AS ka, {b} AS kb, cast(count(*) AS bigint) AS nab
          FROM base GROUP BY 1, 2),
ra AS (SELECT {a} AS ka, cast(count(*) AS bigint) AS na FROM base GROUP BY 1),
cb AS (SELECT {b} AS kb, cast(count(*) AS bigint) AS nb FROM base GROUP BY 1),
tot AS (SELECT cast(count(*) AS bigint) AS n,
               cast(count(DISTINCT {a}) AS bigint) AS r,
               cast(count(DISTINCT {b}) AS bigint) AS c FROM base),
s AS (
  SELECT sum(cast(floor(1e9 * cast(nab AS double) * cast(nab AS double)
             / (cast(na AS double) * cast(nb AS double)) + 0.5) AS bigint))::BIGINT
           AS s_nano
  FROM cells JOIN ra USING (ka) JOIN cb USING (kb)
)
SELECT '{name}' AS pair, n, r, c,
       cast(floor(1e6 * cast(n AS double)
            * (cast(s_nano AS double) / 1e9 - 1.0) + 0.5) AS bigint) AS chi2_micro,
       CASE WHEN least(r, c) <= 1 THEN 0::BIGINT ELSE
         cast(floor(1e6 * sqrt(greatest(cast(s_nano AS double) / 1e9 - 1.0, 0.0)
              / cast(least(r, c) - 1 AS double)) + 0.5) AS bigint) END AS v_micro
FROM s CROSS JOIN tot
)"""
        )
    return " UNION ALL ".join(parts) + " ORDER BY pair"


_ORACLE_CV = _cv_oracle()


# --------------------------------------------------------------------------
# Calinski-Harabasz cluster-validity index (X3 [EXT])
# --------------------------------------------------------------------------


def q_calinski_harabasz_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X3 the Calinski-Harabasz (variance-ratio) index of the
    embedding table's label clustering: CH = [B/(k-1)] / [W/(n-k)] with
    B the between-cluster and W the within-cluster squared scatter —
    the cluster-validity score that, unlike the shipped silhouette
    margin, needs only MOMENTS (one posexplode pass to (label, dim)
    decimal sums; float32 products are exact in double and decimal
    sums kill partition merge order). Per-(label, dim) B and W terms
    snap micro against the broadcast per-dim global means before the
    integer fold, so the two-engine scatter split is exact. Output one
    row: n, k, b_micro, w_micro, ch_micro."""
    e = _t(spark, sf_dir, "embeddings")
    ld = barrier(
        e.select("label", F.posexplode(F.col("embedding").cast("array<double>")))
        .groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nk"),
            F.sum(F.col("col").cast("decimal(28,10)")).cast("double").alias("s"),
            F.sum((F.col("col") * F.col("col")).cast("decimal(28,10)"))
            .cast("double")
            .alias("ss"),
        )
    )
    gdim = ld.groupBy("pos").agg(
        F.sum("nk").cast("bigint").alias("n"),
        F.sum(F.col("s").cast("decimal(28,10)")).cast("double").alias("gs"),
    )
    terms = ld.join(F.broadcast(gdim), "pos").select(
        "label",
        F.expr(
            "cast(floor(1e6 * nk * pow(s / nk - gs / n, 2) + 0.5) as bigint)"
        ).alias("b_term"),
        F.expr(
            "cast(floor(1e6 * (ss - nk * pow(s / nk, 2)) + 0.5) as bigint)"
        ).alias("w_term"),
    )
    folded = terms.agg(
        F.countDistinct("label").cast("bigint").alias("k"),
        F.sum("b_term").cast("bigint").alias("b_micro"),
        F.sum("w_term").cast("bigint").alias("w_micro"),
    )
    n_tot = e.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return folded.crossJoin(F.broadcast(n_tot)).select(
        "n",
        "k",
        "b_micro",
        "w_micro",
        F.expr(
            "case when w_micro <= 0 or k <= 1 then cast(null as bigint) else"
            " cast(floor(1e6 * (cast(b_micro as double) / (k - 1))"
            " / (cast(w_micro as double) / (n - k)) + 0.5) as bigint) end"
        ).alias("ch_micro"),
    )


_ORACLE_CH = """
WITH ld AS (
  SELECT label, i - 1 AS pos, cast(count(*) AS bigint) AS nk,
         cast(sum(cast(cast(embedding[i] AS double) AS decimal(28,10))) AS double) AS s,
         cast(sum(cast(cast(embedding[i] AS double) * cast(embedding[i] AS double)
              AS decimal(28,10))) AS double) AS ss
  FROM embeddings, range(1, 65) r(i)
  GROUP BY 1, 2
),
gdim AS (
  SELECT pos, sum(nk)::BIGINT AS n,
         cast(sum(cast(s AS decimal(28,10))) AS double) AS gs
  FROM ld GROUP BY 1
),
terms AS (
  SELECT label,
         cast(floor(1e6 * nk * pow(s / nk - gs / n, 2) + 0.5) AS bigint) AS b_term,
         cast(floor(1e6 * (ss - nk * pow(s / nk, 2)) + 0.5) AS bigint) AS w_term
  FROM ld JOIN gdim USING (pos)
),
folded AS (
  SELECT cast(count(DISTINCT label) AS bigint) AS k,
         sum(b_term)::BIGINT AS b_micro, sum(w_term)::BIGINT AS w_micro
  FROM terms
),
n_tot AS (SELECT cast(count(*) AS bigint) AS n FROM embeddings)
SELECT n, k, b_micro, w_micro,
       CASE WHEN w_micro <= 0 OR k <= 1 THEN NULL ELSE
         cast(floor(1e6 * (cast(b_micro AS double) / (k - 1))
              / (cast(w_micro AS double) / (n - k)) + 0.5) AS bigint) END
         AS ch_micro
FROM folded CROSS JOIN n_tot
"""


# --------------------------------------------------------------------------
# Church-Gale token burstiness (X6 [EXT])
# --------------------------------------------------------------------------

_VMR_MIN_DF = 5
_VMR_TOP = 20


def q_token_burstiness_vmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 Church-Gale burstiness: the variance-to-mean ratio of a
    token's per-document count over ALL documents (zeros included via
    the moment identities mean = tot/N, E[x^2] = sq/N) — bursty content
    words (VMR >> 1, Poisson would be 1) versus evenly-sprinkled
    function words, the signal behind adapted stopword lists and
    topical-keyword mining. Two grouped passes (token x doc counts,
    then token moments over exact bigints); VMR folds once per token
    and the output is df-floored and LIMIT-bounded. Output: top {t}
    tokens by VMR with df, total count, and vmr_micro."""
    d = _t(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    percell = (
        d.select("doc_id", F.explode(F.expr(_TOK)).alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    mom = percell.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("c").cast("bigint").alias("tot"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sq"),
    )
    return (
        mom.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") >= _VMR_MIN_DF)
        .select(
            "tok",
            "df",
            "tot",
            F.expr(
                "cast(floor(1e6 * ((cast(sq as double) / nd"
                " - pow(cast(tot as double) / nd, 2))"
                " / (cast(tot as double) / nd)) + 0.5) as bigint)"
            ).alias("vmr_micro"),
        )
        .orderBy(F.desc("vmr_micro"), F.asc("tok"))
        .limit(_VMR_TOP)
    )


_ORACLE_VMR = f"""
WITH n_docs AS (SELECT cast(count(*) AS bigint) AS nd FROM documents),
percell AS (
  SELECT tok, doc_id, cast(count(*) AS bigint) AS c
  FROM (SELECT doc_id, {_DUCK_TOK} AS ts FROM documents), unnest(ts) AS u(tok)
  GROUP BY 1, 2
),
mom AS (
  SELECT tok, cast(count(*) AS bigint) AS df,
         sum(c)::BIGINT AS tot, sum(c * c)::BIGINT AS sq
  FROM percell GROUP BY 1
)
SELECT tok, df, tot,
       cast(floor(1e6 * ((cast(sq AS double) / nd
            - pow(cast(tot AS double) / nd, 2))
            / (cast(tot AS double) / nd)) + 0.5) AS bigint) AS vmr_micro
FROM mom CROSS JOIN n_docs
WHERE df >= {_VMR_MIN_DF}
ORDER BY vmr_micro DESC, tok LIMIT {_VMR_TOP}
"""


REGISTRY_EXT103: dict[str, QuerySpec] = {
    "successive_halving_bandit": QuerySpec(
        q_successive_halving_bandit, _ORACLE_SH, "X8 [EXT] successive halving"
    ),
    "cramers_v_pairs": QuerySpec(
        q_cramers_v_pairs, _ORACLE_CV, "X7 [EXT] Cramér's V pair matrix"
    ),
    "calinski_harabasz_index": QuerySpec(
        q_calinski_harabasz_index, _ORACLE_CH, "X3 [EXT] Calinski-Harabasz index"
    ),
    "token_burstiness_vmr": QuerySpec(
        q_token_burstiness_vmr, _ORACLE_VMR, "X6 [EXT] Church-Gale burstiness"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_token_burstiness_vmr.__doc__ = q_token_burstiness_vmr.__doc__.format(t=_VMR_TOP)  # noqa: E501
