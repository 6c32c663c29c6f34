"""Wave 132 [EXT]: vocabulary-richness and community-overlap completers
over the document token corpus — Chao2 incidence richness, first/second
order jackknife richness, the abundance-based coverage estimator (ACE),
Bray-Curtis source dissimilarity, Morisita-Horn source overlap, and the
Hill-numbers diversity profile. Together with the shipped
chao1_vocab_richness / good_turing_unseen_mass / heaps_law_vocab_growth /
simpson_diversity_lang these complete the standard richness toolkit a
corpus-coverage audit runs before adding a new source.

Scale notes (the 100x question, per query):
- chao2/jackknife: per-(token) incidence (# of sources containing it)
  reduces map-side from the (source, token) frame; Q1/Q2 are counts
  over that reduce — the estimators are constant-time arithmetic on
  (S_obs, Q1, Q2, m). The (source, token) frame is the tf_idf shuffle.
- ace_richness: corpus-wide token abundances reduce to a
  COUNT-OF-COUNTS frame (F_i for i <= {r}); every ACE term is an exact
  integer sum over <= {r} cells.
- bray_curtis / morisita_horn: per-(source, token) count frames self-
  join on token — fanout bounded by the SOURCE ENUM (<= 20 per token,
  never all-pairs over documents); the pair statistics are exact
  integer sums, one row per unordered source pair.
- hill_numbers_profile: token abundances band into the count-of-counts
  frame; Shannon/Simpson moments are exact sums of per-cell snapped
  ln terms times integer weights (one ln per DISTINCT abundance, not
  per token).

Reference parity: none; [EXT] X6/X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import QuerySpec, _t
from .session import barrier

_DEC = "cast({x} as decimal(38,0))"
_TOK = r"filter(split(text, '\\s+'), t -> t <> '')"
_DUCK_TOK = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"
_ACE_RARE = 10  # ACE rare-abundance threshold (Chao & Lee 1992)


def _src_tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, token) counts — the shared shuffle of this wave."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("source", F.explode(F.expr(_TOK)).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


_SQL_SRC_TOK = f"""
  SELECT source, tok, count(*)::BIGINT AS c
  FROM (SELECT source, unnest({_DUCK_TOK}) AS tok FROM documents)
  GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Chao2 incidence-based richness (X6/X7 [EXT])
# --------------------------------------------------------------------------


def q_chao2_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6/X7 Chao2 (Chao 1987) incidence-based richness: treating
    each SOURCE as a sampling unit, how many token types does the
    corpus really have beyond the S_obs we saw? Bias-corrected form
    S_chao2 = S_obs + ((m-1)/m) * Q1*(Q1-1) / (2*(Q2+1)) with Q1/Q2 the
    uniques/duplicates across sources — the incidence companion of the
    shipped chao1_vocab_richness (abundance form). Output one row:
    m_samples, s_obs, q1, q2, chao2_milli."""
    inc = (
        _src_tok(spark, sf_dir)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inc"))
    )
    m = _t(spark, sf_dir, "documents").agg(
        F.countDistinct("source").cast("bigint").alias("m")
    )
    red = inc.crossJoin(F.broadcast(m)).agg(
        F.max("m").cast("bigint").alias("m_samples"),
        F.count(F.lit(1)).cast("bigint").alias("s_obs"),
        F.sum(F.expr("cast(inc = 1 as int)")).cast("bigint").alias("q1"),
        F.sum(F.expr("cast(inc = 2 as int)")).cast("bigint").alias("q2"),
    )
    chao2 = (
        "(cast(s_obs as double)"
        " + (cast(m_samples as double) - 1.0) / cast(m_samples as double)"
        " * cast(q1 as double) * (cast(q1 as double) - 1.0)"
        " / (2.0 * (cast(q2 as double) + 1.0)))"
    )
    return red.selectExpr(
        "m_samples",
        "s_obs",
        "q1",
        "q2",
        f"cast(floor(1e3 * {chao2} + 0.5) as bigint) AS chao2_milli",
    )


_ORACLE_CHAO2 = f"""
WITH st AS ({_SQL_SRC_TOK}),
inc AS (SELECT tok, count(*)::BIGINT AS inc FROM st GROUP BY 1),
m AS (SELECT count(DISTINCT source)::BIGINT AS m FROM documents),
red AS (
  SELECT max(m)::BIGINT AS m_samples, count(*)::BIGINT AS s_obs,
         sum(CASE WHEN inc = 1 THEN 1 ELSE 0 END)::BIGINT AS q1,
         sum(CASE WHEN inc = 2 THEN 1 ELSE 0 END)::BIGINT AS q2
  FROM inc, m
)
SELECT m_samples, s_obs, q1, q2,
       cast(floor(1e3 * (cast(s_obs AS DOUBLE)
            + (cast(m_samples AS DOUBLE) - 1.0) / cast(m_samples AS DOUBLE)
            * cast(q1 AS DOUBLE) * (cast(q1 AS DOUBLE) - 1.0)
            / (2.0 * (cast(q2 AS DOUBLE) + 1.0))) + 0.5) AS BIGINT)
         AS chao2_milli
FROM red
"""


# --------------------------------------------------------------------------
# Jackknife richness, 1st and 2nd order (X6/X7 [EXT])
# --------------------------------------------------------------------------


def q_jackknife_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6/X7 jackknife richness (Burnham & Overton 1978; Smith &
    van Belle 1984): Jack1 = S_obs + Q1*(m-1)/m and
    Jack2 = S_obs + Q1*(2m-3)/m - Q2*(m-2)^2/(m*(m-1)) over the same
    source-incidence frame as chao2_richness — the estimators a
    coverage audit reports side by side because Jack2 > Jack1 > S_obs
    signals an unsaturated corpus. Output one row: m_samples, s_obs,
    q1, q2, jack1_milli, jack2_milli."""
    inc = (
        _src_tok(spark, sf_dir)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inc"))
    )
    m = _t(spark, sf_dir, "documents").agg(
        F.countDistinct("source").cast("bigint").alias("m")
    )
    red = inc.crossJoin(F.broadcast(m)).agg(
        F.max("m").cast("bigint").alias("m_samples"),
        F.count(F.lit(1)).cast("bigint").alias("s_obs"),
        F.sum(F.expr("cast(inc = 1 as int)")).cast("bigint").alias("q1"),
        F.sum(F.expr("cast(inc = 2 as int)")).cast("bigint").alias("q2"),
    )
    md = "cast(m_samples as double)"
    j1 = f"(cast(s_obs as double) + cast(q1 as double) * ({md} - 1.0) / {md})"
    j2 = (
        f"(cast(s_obs as double) + cast(q1 as double) * (2.0 * {md} - 3.0)"
        f" / {md} - cast(q2 as double) * ({md} - 2.0) * ({md} - 2.0)"
        f" / ({md} * ({md} - 1.0)))"
    )
    return red.selectExpr(
        "m_samples",
        "s_obs",
        "q1",
        "q2",
        f"cast(floor(1e3 * {j1} + 0.5) as bigint) AS jack1_milli",
        f"cast(floor(1e3 * {j2} + 0.5) as bigint) AS jack2_milli",
    )


_ORACLE_JACK = f"""
WITH st AS ({_SQL_SRC_TOK}),
inc AS (SELECT tok, count(*)::BIGINT AS inc FROM st GROUP BY 1),
m AS (SELECT count(DISTINCT source)::BIGINT AS m FROM documents),
red AS (
  SELECT max(m)::BIGINT AS m_samples, count(*)::BIGINT AS s_obs,
         sum(CASE WHEN inc = 1 THEN 1 ELSE 0 END)::BIGINT AS q1,
         sum(CASE WHEN inc = 2 THEN 1 ELSE 0 END)::BIGINT AS q2
  FROM inc, m
)
SELECT m_samples, s_obs, q1, q2,
       cast(floor(1e3 * (cast(s_obs AS DOUBLE) + cast(q1 AS DOUBLE)
            * (cast(m_samples AS DOUBLE) - 1.0)
            / cast(m_samples AS DOUBLE)) + 0.5) AS BIGINT) AS jack1_milli,
       cast(floor(1e3 * (cast(s_obs AS DOUBLE)
            + cast(q1 AS DOUBLE) * (2.0 * cast(m_samples AS DOUBLE) - 3.0)
              / cast(m_samples AS DOUBLE)
            - cast(q2 AS DOUBLE) * (cast(m_samples AS DOUBLE) - 2.0)
              * (cast(m_samples AS DOUBLE) - 2.0)
              / (cast(m_samples AS DOUBLE)
                 * (cast(m_samples AS DOUBLE) - 1.0))) + 0.5) AS BIGINT)
         AS jack2_milli
FROM red
"""


# --------------------------------------------------------------------------
# ACE abundance-based coverage estimator (X6/X7 [EXT])
# --------------------------------------------------------------------------


def q_ace_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6/X7 ACE (Chao & Lee 1992): abundance-based coverage
    richness with rare threshold {r}. S_rare/F1/N_rare and the
    sum i*(i-1)*F_i all come from the COUNT-OF-COUNTS frame (token
    abundance histogram); C_ace = 1 - F1/N_rare,
    gamma^2 = max(S_rare*sum_ii1/(C_ace*N_rare*(N_rare-1)) - 1, 0),
    ACE = S_abund + S_rare/C_ace + F1*gamma^2/C_ace. When every rare
    token is a singleton C_ace = 0 and ACE is undefined — the EstimateS
    convention falls back to the bias-corrected Chao1
    S_obs + F1*(F1-1)/(2*(F2+1)) (the case a template-heavy tiny corpus
    hits). Exact integers until the final divides. Output one row:
    s_abund, s_rare, f1, n_rare, ace_milli."""
    ab = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.expr(_TOK)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    )
    foc = ab.groupBy("a").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    red = foc.agg(
        F.sum(F.expr(f"if(a > {_ACE_RARE}, f, 0L)"))
        .cast("bigint")
        .alias("s_abund"),
        F.sum(F.expr(f"if(a <= {_ACE_RARE}, f, 0L)"))
        .cast("bigint")
        .alias("s_rare"),
        F.sum(F.expr("if(a = 1, f, 0L)")).cast("bigint").alias("f1"),
        F.sum(F.expr(f"if(a <= {_ACE_RARE}, a * f, 0L)"))
        .cast("bigint")
        .alias("n_rare"),
        F.sum(F.expr(f"if(a <= {_ACE_RARE}, a * (a - 1) * f, 0L)"))
        .cast("bigint")
        .alias("sii"),
        F.sum(F.expr("if(a = 2, f, 0L)")).cast("bigint").alias("f2"),
    )
    c = "(1.0 - cast(f1 as double) / cast(n_rare as double))"
    g2 = (
        f"greatest(cast(s_rare as double) * cast(sii as double)"
        f" / ({c} * cast(n_rare as double) * (cast(n_rare as double) - 1.0))"
        " - 1.0, 0.0)"
    )
    ace = (
        f"(cast(s_abund as double) + cast(s_rare as double) / {c}"
        f" + cast(f1 as double) * {g2} / {c})"
    )
    chao1 = (
        "(cast(s_abund as double) + cast(s_rare as double)"
        " + cast(f1 as double) * (cast(f1 as double) - 1.0)"
        " / (2.0 * (cast(f2 as double) + 1.0)))"
    )
    est = f"if(f1 = n_rare, {chao1}, {ace})"
    return red.selectExpr(
        "s_abund",
        "s_rare",
        "f1",
        "n_rare",
        f"cast(floor(1e3 * {est} + 0.5) as bigint) AS ace_milli",
    )


_ORACLE_ACE = f"""
WITH ab AS (
  SELECT tok, count(*)::BIGINT AS a
  FROM (SELECT unnest({_DUCK_TOK}) AS tok FROM documents)
  GROUP BY 1
),
foc AS (SELECT a, count(*)::BIGINT AS f FROM ab GROUP BY 1),
red AS (
  SELECT sum(CASE WHEN a > {_ACE_RARE} THEN f ELSE 0 END)::BIGINT AS s_abund,
         sum(CASE WHEN a <= {_ACE_RARE} THEN f ELSE 0 END)::BIGINT AS s_rare,
         sum(CASE WHEN a = 1 THEN f ELSE 0 END)::BIGINT AS f1,
         sum(CASE WHEN a <= {_ACE_RARE} THEN a * f ELSE 0 END)::BIGINT
           AS n_rare,
         sum(CASE WHEN a <= {_ACE_RARE} THEN a * (a - 1) * f ELSE 0 END)
           ::BIGINT AS sii,
         sum(CASE WHEN a = 2 THEN f ELSE 0 END)::BIGINT AS f2
  FROM foc
)
SELECT s_abund, s_rare, f1, n_rare,
       cast(floor(1e3 * (CASE WHEN f1 = n_rare THEN
            cast(s_abund AS DOUBLE) + cast(s_rare AS DOUBLE)
            + cast(f1 AS DOUBLE) * (cast(f1 AS DOUBLE) - 1.0)
              / (2.0 * (cast(f2 AS DOUBLE) + 1.0))
       ELSE
            cast(s_abund AS DOUBLE)
            + cast(s_rare AS DOUBLE)
              / (1.0 - cast(f1 AS DOUBLE) / cast(n_rare AS DOUBLE))
            + cast(f1 AS DOUBLE)
              * greatest(cast(s_rare AS DOUBLE) * cast(sii AS DOUBLE)
                / ((1.0 - cast(f1 AS DOUBLE) / cast(n_rare AS DOUBLE))
                   * cast(n_rare AS DOUBLE)
                   * (cast(n_rare AS DOUBLE) - 1.0)) - 1.0, 0.0)
              / (1.0 - cast(f1 AS DOUBLE) / cast(n_rare AS DOUBLE))
       END) + 0.5) AS BIGINT) AS ace_milli
FROM red
"""


# --------------------------------------------------------------------------
# Bray-Curtis pairwise source dissimilarity (X6/X7 [EXT])
# --------------------------------------------------------------------------


def q_bray_curtis_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6/X7 Bray-Curtis (1957) dissimilarity between every
    unordered source pair on token abundances:
    BC = 1 - 2*sum_t min(c1t, c2t) / (N1 + N2) — the corpus-mixing
    distance matrix a source-selection pass ranks. The self-join keys
    on TOKEN with s1 < s2, so the fanout per token is bounded by the
    source ENUM (never all-pairs over documents). Output per pair:
    s1, s2, n1, n2, shared_min, bc_milli."""
    st = _src_tok(spark, sf_dir)
    st = barrier(st)  # reused by both join sides
    tots = st.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    a = st.select(
        F.col("source").alias("s1"), "tok", F.col("c").alias("c1")
    )
    b = st.select(
        F.col("source").alias("s2"), F.col("tok").alias("tok2"),
        F.col("c").alias("c2"),
    )
    pairs = (
        a.join(b, (a.tok == b.tok2) & (a.s1 < b.s2))
        .groupBy("s1", "s2")
        .agg(
            F.sum(F.expr("least(c1, c2)")).cast("bigint").alias("shared_min")
        )
    )
    t1 = tots.select(F.col("source").alias("s1"), F.col("n").alias("n1"))
    t2 = tots.select(F.col("source").alias("s2"), F.col("n").alias("n2"))
    return (
        pairs.join(F.broadcast(t1), "s1")
        .join(F.broadcast(t2), "s2")
        .selectExpr(
            "s1",
            "s2",
            "n1",
            "n2",
            "shared_min",
            "cast(floor(1e3 * (1.0 - 2.0 * cast(shared_min as double)"
            " / (cast(n1 as double) + cast(n2 as double))) + 0.5) as bigint)"
            " AS bc_milli",
        )
        .orderBy("s1", "s2")
    )


_ORACLE_BC = f"""
WITH st AS ({_SQL_SRC_TOK}),
tots AS (SELECT source, sum(c)::BIGINT AS n FROM st GROUP BY 1),
pairs AS (
  SELECT a.source AS s1, b.source AS s2,
         sum(least(a.c, b.c))::BIGINT AS shared_min
  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s1, s2, t1.n AS n1, t2.n AS n2, shared_min,
       cast(floor(1e3 * (1.0 - 2.0 * cast(shared_min AS DOUBLE)
            / (cast(t1.n AS DOUBLE) + cast(t2.n AS DOUBLE))) + 0.5)
            AS BIGINT) AS bc_milli
FROM pairs JOIN tots t1 ON pairs.s1 = t1.source
JOIN tots t2 ON pairs.s2 = t2.source
ORDER BY s1, s2
"""


# --------------------------------------------------------------------------
# Morisita-Horn pairwise source overlap (X6/X7 [EXT])
# --------------------------------------------------------------------------


def q_morisita_horn_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6/X7 Morisita-Horn (Horn 1966) overlap between every
    unordered source pair: MH = 2*sum c1*c2 / ((d1 + d2) * N1 * N2)
    with d = sum c^2 / N^2 — the abundance-overlap index that, unlike
    Bray-Curtis, is insensitive to sample size (the reason coverage
    audits report both). Cross-products carry in decimal(38,0)/HUGEINT.
    Output per pair: s1, s2, cross_sum, mh_milli."""
    st = _src_tok(spark, sf_dir)
    st = barrier(st)
    tots = st.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.expr(f"{_DEC.format(x='c')} * c")).alias("q"),
    )
    a = st.select(F.col("source").alias("s1"), "tok", F.col("c").alias("c1"))
    b = st.select(
        F.col("source").alias("s2"), F.col("tok").alias("tok2"),
        F.col("c").alias("c2"),
    )
    pairs = (
        a.join(b, (a.tok == b.tok2) & (a.s1 < b.s2))
        .groupBy("s1", "s2")
        .agg(
            F.sum(F.expr(f"{_DEC.format(x='c1')} * c2")).alias("cross_sum")
        )
    )
    t1 = tots.select(
        F.col("source").alias("s1"), F.col("n").alias("n1"),
        F.col("q").alias("q1"),
    )
    t2 = tots.select(
        F.col("source").alias("s2"), F.col("n").alias("n2"),
        F.col("q").alias("q2"),
    )
    d1 = "(cast(q1 as double) / (cast(n1 as double) * cast(n1 as double)))"
    d2 = "(cast(q2 as double) / (cast(n2 as double) * cast(n2 as double)))"
    mh = (
        f"(2.0 * cast(cross_sum as double) / (({d1} + {d2})"
        " * cast(n1 as double) * cast(n2 as double)))"
    )
    return (
        pairs.join(F.broadcast(t1), "s1")
        .join(F.broadcast(t2), "s2")
        .selectExpr(
            "s1",
            "s2",
            "cast(cross_sum as double) AS cross_sum",
            f"cast(floor(1e3 * {mh} + 0.5) as bigint) AS mh_milli",
        )
        .orderBy("s1", "s2")
    )


_ORACLE_MH = f"""
WITH st AS ({_SQL_SRC_TOK}),
tots AS (
  SELECT source, sum(c)::BIGINT AS n, sum(c::HUGEINT * c) AS q
  FROM st GROUP BY 1
),
pairs AS (
  SELECT a.source AS s1, b.source AS s2,
         sum(a.c::HUGEINT * b.c) AS cross_sum
  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s1, s2, cast(cross_sum AS DOUBLE) AS cross_sum,
       cast(floor(1e3 * (2.0 * cast(cross_sum AS DOUBLE)
            / (((cast(t1.q AS DOUBLE) / (cast(t1.n AS DOUBLE)
                 * cast(t1.n AS DOUBLE)))
                + (cast(t2.q AS DOUBLE) / (cast(t2.n AS DOUBLE)
                   * cast(t2.n AS DOUBLE))))
               * cast(t1.n AS DOUBLE) * cast(t2.n AS DOUBLE))) + 0.5)
            AS BIGINT) AS mh_milli
FROM pairs JOIN tots t1 ON pairs.s1 = t1.source
JOIN tots t2 ON pairs.s2 = t2.source
ORDER BY s1, s2
"""


# --------------------------------------------------------------------------
# Hill-numbers diversity profile (X6/X7 [EXT])
# --------------------------------------------------------------------------


def q_hill_numbers_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6/X7 Hill (1973) diversity profile of the corpus token
    distribution: q=0 (vocabulary size), q=1 (exp Shannon, the
    'effective vocabulary'), q=2 (inverse Simpson) plus Pielou's J
    evenness = ln(hill1)/ln(hill0). Shannon reduces over the
    COUNT-OF-COUNTS frame — one snapped ln per DISTINCT abundance
    (ln(a/N) weighted by a*F_a), never per token. Output one row:
    n_tokens, hill0, hill1_milli, hill2_milli, pielou_milli."""
    ab = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.expr(_TOK)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    )
    foc = ab.groupBy("a").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    tot = foc.agg(F.sum(F.expr("a * f")).cast("bigint").alias("n"))
    # per-cell snapped ln(a/N) in micro-nats, weighted by a*f exactly
    red = foc.crossJoin(F.broadcast(tot)).agg(
        F.max("n").cast("bigint").alias("n_tokens"),
        F.sum("f").cast("bigint").alias("hill0"),
        F.sum(
            F.expr(
                f"{_DEC.format(x='(a * f)')}"
                " * cast(floor(1e6 * ln(cast(a as double)"
                " / cast(n as double)) + 0.5) as bigint)"
            )
        ).alias("sh_micro_sum"),
        F.sum(F.expr(f"{_DEC.format(x='f')} * a * a")).alias("q2"),
    )
    sh = "(-cast(sh_micro_sum as double) / (cast(n_tokens as double) * 1e6))"
    h1 = f"exp({sh})"
    h2 = (
        "(cast(n_tokens as double) * cast(n_tokens as double)"
        " / cast(q2 as double))"
    )
    return red.selectExpr(
        "n_tokens",
        "hill0",
        f"cast(floor(1e3 * {h1} + 0.5) as bigint) AS hill1_milli",
        f"cast(floor(1e3 * {h2} + 0.5) as bigint) AS hill2_milli",
        f"cast(floor(1e3 * {sh} / ln(cast(hill0 as double)) + 0.5) as bigint)"
        " AS pielou_milli",
    )


_ORACLE_HILL = f"""
WITH ab AS (
  SELECT tok, count(*)::BIGINT AS a
  FROM (SELECT unnest({_DUCK_TOK}) AS tok FROM documents)
  GROUP BY 1
),
foc AS (SELECT a, count(*)::BIGINT AS f FROM ab GROUP BY 1),
tot AS (SELECT sum(a * f)::BIGINT AS n FROM foc),
red AS (
  SELECT max(n)::BIGINT AS n_tokens, sum(f)::BIGINT AS hill0,
         sum((a * f)::HUGEINT * cast(floor(1e6 * ln(cast(a AS DOUBLE)
             / cast(n AS DOUBLE)) + 0.5) AS BIGINT)) AS sh_micro_sum,
         sum(f::HUGEINT * a * a) AS q2
  FROM foc, tot
)
SELECT n_tokens, hill0,
       cast(floor(1e3 * exp(-cast(sh_micro_sum AS DOUBLE)
            / (cast(n_tokens AS DOUBLE) * 1e6)) + 0.5) AS BIGINT)
         AS hill1_milli,
       cast(floor(1e3 * (cast(n_tokens AS DOUBLE) * cast(n_tokens AS DOUBLE)
            / cast(q2 AS DOUBLE)) + 0.5) AS BIGINT) AS hill2_milli,
       cast(floor(1e3 * (-cast(sh_micro_sum AS DOUBLE)
            / (cast(n_tokens AS DOUBLE) * 1e6))
            / ln(cast(hill0 AS DOUBLE)) + 0.5) AS BIGINT) AS pielou_milli
FROM red
"""


REGISTRY_EXT132: dict[str, QuerySpec] = {
    "chao2_richness": QuerySpec(
        q_chao2_richness, _ORACLE_CHAO2, "X6/X7 [EXT] Chao2"
    ),
    "jackknife_richness": QuerySpec(
        q_jackknife_richness, _ORACLE_JACK, "X6/X7 [EXT] jackknife"
    ),
    "ace_richness": QuerySpec(q_ace_richness, _ORACLE_ACE, "X6/X7 [EXT] ACE"),
    "bray_curtis_sources": QuerySpec(
        q_bray_curtis_sources, _ORACLE_BC, "X6/X7 [EXT] Bray-Curtis"
    ),
    "morisita_horn_overlap": QuerySpec(
        q_morisita_horn_overlap, _ORACLE_MH, "X6/X7 [EXT] Morisita-Horn"
    ),
    "hill_numbers_profile": QuerySpec(
        q_hill_numbers_profile, _ORACLE_HILL, "X6/X7 [EXT] Hill numbers"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_ace_richness.__doc__ = q_ace_richness.__doc__.format(r=_ACE_RARE)  # noqa: E501
