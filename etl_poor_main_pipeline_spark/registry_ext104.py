"""Operator registry, wave 105: domain-adaptation resampling, robust
trend testing, matched multi-classifier testing, and factorial variance
decomposition — SIR importance resampling, the Mann-Kendall test,
Cochran's Q, and two-way ANOVA.

Scale stances:
- sir_importance_resample: both unigram LMs are vocabulary-sized
  grouped aggregates that BROADCAST onto the exploded token stream; a
  document's acceptance draw is one md5 u32 against an exp() threshold
  computed from exact micro scores (sampling-importance-resampling with
  zero RNG state, the stratified_sample_md5 discipline).
- mann_kendall_trend: the corpus reduces to per-type daily means FIRST;
  the sign-pair triangle is days^2 per type — bounded by the time
  window, not the corpus — and the tie-corrected variance folds from
  exact bigint tie counts (S and var are integers by construction).
- cochran_q_test: three per-row expression raters, one grouped fold of
  six bigint counters; Q and its chi2(2) decision are exact-int
  arithmetic until the final micro snap.
- anova_two_way: y = n_chars is EXACT bigint, so every cell/margin sum
  is exact; SS terms snap micro per cell/margin before integer sums,
  and the unbalanced-design caveat (additive Type-I-style split,
  SS_AB as remainder) is documented rather than hidden. 100 cells of
  state — map-side-combine at any corpus size.

Reference parity: none; [EXT] X6/X7/X8 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import QuerySpec, _t
from .session import barrier

_TOK = r"filter(split(lower(text), '\\s+'), t -> t <> '')"
_DUCK_TOK = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"


# --------------------------------------------------------------------------
# Sampling-importance-resampling toward a target domain (X8 [EXT])
# --------------------------------------------------------------------------

_SIR_TARGET = "src0"


def q_sir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X8 sampling-importance-resampling toward a target domain:
    score every document by its total log-likelihood ratio under the
    '{t}'-source unigram LM versus the corpus LM (add-one smoothing
    over the shared vocabulary), then keep it with probability
    exp(score - max_score) via a deterministic md5 u32 draw — the
    data-mixture move (CCNet/DoReMi lineage) that upsamples
    target-looking text without mutable RNG state. Per-token ratios
    snap micro in a broadcast table; doc scores are exact bigint sums;
    the acceptance threshold folds through one exp() from exact ints.
    Output per source: docs, kept, acceptance rate, mean score."""
    d = _t(spark, sf_dir, "documents")
    toks = barrier(d.select("doc_id", "source", F.explode(F.expr(_TOK)).alias("tok")))
    vocab = toks.agg(F.countDistinct("tok").cast("bigint").alias("v"))
    n_all = toks.agg(F.count(F.lit(1)).cast("bigint").alias("na"))
    n_tgt = toks.filter(F.col("source") == _SIR_TARGET).agg(
        F.count(F.lit(1)).cast("bigint").alias("nt")
    )
    c_all = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("ca"))
    c_tgt = (
        toks.filter(F.col("source") == _SIR_TARGET)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    )
    ratios = (
        c_all.join(c_tgt, "tok", "left")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_all))
        .crossJoin(F.broadcast(n_tgt))
        .select(
            "tok",
            F.expr(
                "cast(floor(1e6 * (ln(cast(coalesce(ct, 0) + 1 as double)"
                " / cast(nt + v as double))"
                " - ln(cast(ca + 1 as double) / cast(na + v as double))) + 0.5)"
                " as bigint)"
            ).alias("lr_micro"),
        )
    )
    scored = (
        toks.join(F.broadcast(ratios), "tok")
        .groupBy("doc_id", "source")
        .agg(F.sum("lr_micro").cast("bigint").alias("score_micro"))
    )
    smax = scored.agg(F.max("score_micro").cast("bigint").alias("smax"))
    decided = scored.crossJoin(F.broadcast(smax)).select(
        "source",
        "score_micro",
        (
            F.expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)")
            < F.expr(
                "cast(floor(4294967296.0"
                " * exp(cast(score_micro - smax as double) / 1e6)) as bigint)"
            )
        ).alias("kept"),
    )
    return (
        decided.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.expr(
                "cast(floor(cast(sum(score_micro) as double) / cast(count(1) as double)"
                " + 0.5) as bigint)"
            ).alias("mean_score_micro"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            F.expr(
                "cast(floor(1e4 * cast(n_kept as double) / cast(n_docs as double)"
                " + 0.5) as bigint)"
            ).alias("accept_bp"),
            "mean_score_micro",
        )
        .orderBy("source")
    )


_ORACLE_SIR = f"""
WITH toks AS (
  SELECT doc_id, source, tok
  FROM (SELECT doc_id, source, {_DUCK_TOK} AS ts FROM documents),
       unnest(ts) AS u(tok)
),
vocab AS (SELECT cast(count(DISTINCT tok) AS bigint) AS v FROM toks),
n_all AS (SELECT cast(count(*) AS bigint) AS na FROM toks),
n_tgt AS (SELECT cast(count(*) AS bigint) AS nt FROM toks
          WHERE source = '{_SIR_TARGET}'),
c_all AS (SELECT tok, cast(count(*) AS bigint) AS ca FROM toks GROUP BY 1),
c_tgt AS (SELECT tok, cast(count(*) AS bigint) AS ct FROM toks
          WHERE source = '{_SIR_TARGET}' GROUP BY 1),
ratios AS (
  SELECT a.tok,
         cast(floor(1e6 * (ln(cast(coalesce(t.ct, 0) + 1 AS double)
              / cast((SELECT nt FROM n_tgt) + (SELECT v FROM vocab) AS double))
              - ln(cast(a.ca + 1 AS double)
              / cast((SELECT na FROM n_all) + (SELECT v FROM vocab) AS double)))
              + 0.5) AS bigint) AS lr_micro
  FROM c_all a LEFT JOIN c_tgt t USING (tok)
),
scored AS (
  SELECT t.doc_id, t.source,
         sum(r.lr_micro)::BIGINT AS score_micro
  FROM toks t JOIN ratios r USING (tok)
  GROUP BY 1, 2
),
smax AS (SELECT max(score_micro)::BIGINT AS smax FROM scored),
decided AS (
  SELECT source, score_micro,
         (('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))::BIGINT
          < cast(floor(4294967296.0
              * exp(cast(score_micro - (SELECT smax FROM smax) AS double) / 1e6))
              AS bigint)) AS kept
  FROM scored
)
SELECT source, cast(count(*) AS bigint) AS n_docs,
       sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       cast(floor(1e4 * cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS double)
            / cast(count(*) AS double) + 0.5) AS bigint) AS accept_bp,
       cast(floor(cast(sum(score_micro) AS double) / cast(count(*) AS double)
            + 0.5) AS bigint) AS mean_score_micro
FROM decided GROUP BY 1 ORDER BY source
"""


# --------------------------------------------------------------------------
# Mann-Kendall trend test with tie correction (X7 [EXT])
# --------------------------------------------------------------------------


def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the Mann-Kendall monotone-trend test on the daily mean
    event value per type: S = sum over day pairs i<j of sign(x_j -
    x_i), with the tie-corrected variance var = [n(n-1)(2n+5) - sum
    t(t-1)(2t+5)] / 18 and the continuity-corrected normal z — the
    nonparametric companion to the shipped theil_sen_slope (that one
    estimates the slope; this one tests its existence). The pair
    triangle lives on the per-type DAILY frame — days^2 per type,
    bounded by the time window, not the corpus. S, n and the tie term
    are exact integers; z folds once. Output per type: n_days, s,
    var18 (18*variance, exact), z_micro."""
    e = _t(spark, sf_dir, "events")
    daily = barrier(
        e.select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint").alias("vc"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.floor(
                F.sum("vc").cast("double") / F.count(F.lit(1)).cast("double") + F.lit(0.5)
            )
            .cast("bigint")
            .alias("x")
        )
    )
    s = (
        daily.alias("a")
        .join(
            daily.select(
                F.col("event_type").alias("et2"),
                F.col("day").alias("day2"),
                F.col("x").alias("y"),
            ),
            (F.col("a.event_type") == F.col("et2")) & (F.col("a.day") < F.col("day2")),
        )
        .groupBy("a.event_type")
        .agg(
            F.sum(F.signum(F.col("y") - F.col("a.x")).cast("bigint"))
            .cast("bigint")
            .alias("s")
        )
        .select(F.col("event_type"), "s")
    )
    nd = daily.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("bigint")
            .alias("tie_term")
        )
    )
    return (
        nd.join(s, "event_type")
        .join(ties, "event_type")
        .select(
            "event_type",
            "n_days",
            "s",
            (
                F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
                - F.col("tie_term")
            )
            .cast("bigint")
            .alias("var18"),
        )
        .select(
            "event_type",
            "n_days",
            "s",
            "var18",
            F.expr(
                "case when var18 <= 0 then cast(0 as bigint)"
                " when s > 0 then cast(floor(1e6 * (cast(s as double) - 1.0)"
                "   / sqrt(cast(var18 as double) / 18.0) + 0.5) as bigint)"
                " when s < 0 then cast(floor(1e6 * (cast(s as double) + 1.0)"
                "   / sqrt(cast(var18 as double) / 18.0) + 0.5) as bigint)"
                " else cast(0 as bigint) end"
            ).alias("z_micro"),
        )
        .orderBy("event_type")
    )


_ORACLE_MK = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         cast(floor(cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS double)
              / cast(count(*) AS double) + 0.5) AS bigint) AS x
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT a.event_type,
         sum(cast(sign(b.x - a.x) AS bigint))::BIGINT AS s
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type AND b.day > a.day
  GROUP BY 1
),
nd AS (SELECT event_type, cast(count(*) AS bigint) AS n_days FROM daily GROUP BY 1),
ties AS (
  SELECT event_type,
         sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie_term
  FROM (SELECT event_type, x, cast(count(*) AS bigint) AS t
        FROM daily GROUP BY 1, 2)
  GROUP BY 1
),
base AS (
  SELECT nd.event_type, nd.n_days, s.s,
         (nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5) - ties.tie_term)::BIGINT
           AS var18
  FROM nd JOIN s USING (event_type) JOIN ties USING (event_type)
)
SELECT event_type, n_days, s, var18,
       CASE WHEN var18 <= 0 THEN 0::BIGINT
            WHEN s > 0 THEN cast(floor(1e6 * (cast(s AS double) - 1.0)
              / sqrt(cast(var18 AS double) / 18.0) + 0.5) AS bigint)
            WHEN s < 0 THEN cast(floor(1e6 * (cast(s AS double) + 1.0)
              / sqrt(cast(var18 AS double) / 18.0) + 0.5) AS bigint)
            ELSE 0::BIGINT END AS z_micro
FROM base ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Cochran's Q for three matched classifiers (X7 [EXT])
# --------------------------------------------------------------------------

_CQ_CHARS = 300
_CQ_RATIO_C = 45
_CQ_TOKS = 56
_CQ_CRIT_MICRO = 5_991_465  # chi2_{0.95, df=2}


def q_cochran_q_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Cochran's Q for the THREE matched keep/drop raters of
    fleiss_kappa_agreement (length, lexical diversity, verbosity): do
    the raters have equal keep rates, judged on the same documents?
    Q = (k-1) * (k * sum C_j^2 - (sum C_j)^2) / (k * sum R_i - sum
    R_i^2) ~ chi2(k-1) — the k-classifier generalization of McNemar
    (k = 2 reduces to it exactly). Every quantity folds from six exact
    bigint counters in ONE grouped pass; the 5% decision compares
    against the Python-precomputed chi2(2) critical micro literal
    shared with the oracle."""
    d = _t(spark, sf_dir, "documents")
    rated = d.select(
        F.when(F.col("n_chars") >= _CQ_CHARS, 1).otherwise(0).cast("bigint").alias("r1"),
        F.expr(
            "case when size(array_distinct({tok})) * 100 >= {rc} * size({tok})"
            " then 1 else 0 end".format(tok=_TOK, rc=_CQ_RATIO_C)
        )
        .cast("bigint")
        .alias("r2"),
        F.expr(
            "case when size({tok}) >= {t} then 1 else 0 end".format(tok=_TOK, t=_CQ_TOKS)
        )
        .cast("bigint")
        .alias("r3"),
    )
    agg = rated.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("r1").cast("bigint").alias("c1"),
        F.sum("r2").cast("bigint").alias("c2"),
        F.sum("r3").cast("bigint").alias("c3"),
        F.sum(
            (F.col("r1") + F.col("r2") + F.col("r3"))
            * (F.col("r1") + F.col("r2") + F.col("r3"))
        )
        .cast("bigint")
        .alias("sr2"),
    )
    return agg.select(
        "n_items",
        "c1",
        "c2",
        "c3",
        F.expr(
            "case when 3 * (c1 + c2 + c3) - sr2 = 0 then cast(0 as bigint) else"
            " cast(floor(1e6 * 2.0 * cast(3 * (c1*c1 + c2*c2 + c3*c3)"
            " - (c1 + c2 + c3) * (c1 + c2 + c3) as double)"
            " / cast(3 * (c1 + c2 + c3) - sr2 as double) + 0.5) as bigint) end"
        ).alias("q_micro"),
    ).select(
        "*",
        (F.col("q_micro") > _CQ_CRIT_MICRO).alias("reject_equal_rates_05"),
    )


_ORACLE_CQ = f"""
WITH rated AS (
  SELECT (CASE WHEN n_chars >= {_CQ_CHARS} THEN 1 ELSE 0 END)::BIGINT AS r1,
         (CASE WHEN len(list_distinct({_DUCK_TOK})) * 100
               >= {_CQ_RATIO_C} * len({_DUCK_TOK}) THEN 1 ELSE 0 END)::BIGINT AS r2,
         (CASE WHEN len({_DUCK_TOK}) >= {_CQ_TOKS} THEN 1 ELSE 0 END)::BIGINT AS r3
  FROM documents
),
agg AS (
  SELECT cast(count(*) AS bigint) AS n_items,
         sum(r1)::BIGINT AS c1, sum(r2)::BIGINT AS c2, sum(r3)::BIGINT AS c3,
         sum((r1 + r2 + r3) * (r1 + r2 + r3))::BIGINT AS sr2
  FROM rated
)
SELECT n_items, c1, c2, c3,
       CASE WHEN 3 * (c1 + c2 + c3) - sr2 = 0 THEN 0::BIGINT ELSE
         cast(floor(1e6 * 2.0 * cast(3 * (c1*c1 + c2*c2 + c3*c3)
              - (c1 + c2 + c3) * (c1 + c2 + c3) AS double)
              / cast(3 * (c1 + c2 + c3) - sr2 AS double) + 0.5) AS bigint) END
         AS q_micro,
       (CASE WHEN 3 * (c1 + c2 + c3) - sr2 = 0 THEN 0::BIGINT ELSE
         cast(floor(1e6 * 2.0 * cast(3 * (c1*c1 + c2*c2 + c3*c3)
              - (c1 + c2 + c3) * (c1 + c2 + c3) AS double)
              / cast(3 * (c1 + c2 + c3) - sr2 AS double) + 0.5) AS bigint) END
        > {_CQ_CRIT_MICRO}) AS reject_equal_rates_05
FROM agg
"""


# --------------------------------------------------------------------------
# Two-way ANOVA on document length (X7 [EXT])
# --------------------------------------------------------------------------


def q_anova_two_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 two-way factorial ANOVA of document length (n_chars,
    exact bigint) by lang x source: the additive decomposition SS_A +
    SS_B + SS_AB + SS_W with SS_AB = SS_cells - SS_A - SS_B (the
    Type-I-style split; the design is unbalanced and this is stated,
    not hidden) and F ratios against MS_W. Cell and margin sums are
    exact bigints; each (mu - grand)^2 term snaps micro per cell/margin
    before the integer sums, so the split is engine-exact. Interaction
    df uses the general ncells - r - c + 1. Output one row per effect
    (lang, source, interaction): df, ss_micro, f_micro."""
    d = _t(spark, sf_dir, "documents")
    cells = barrier(
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nc"),
            F.sum("n_chars").cast("bigint").alias("sc"),
        )
    )
    sq = d.agg(F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("sqq"))
    grand = cells.agg(
        F.sum("nc").cast("bigint").alias("n"),
        F.sum("sc").cast("bigint").alias("sg"),
        F.count(F.lit(1)).cast("bigint").alias("ncells"),
        F.countDistinct("lang").cast("bigint").alias("r"),
        F.countDistinct("source").cast("bigint").alias("c"),
    )
    _TERM = (
        "cast(floor(1e6 * nk * pow(cast(sk as double) / nk"
        " - cast(sg as double) / n, 2) + 0.5) as bigint)"
    )

    def ss_over(keys: list[str]) -> DataFrame:
        return (
            cells.groupBy(*keys)
            .agg(F.sum("nc").cast("bigint").alias("nk"), F.sum("sc").cast("bigint").alias("sk"))
            .crossJoin(F.broadcast(grand))
            .select(F.expr(_TERM).alias("term"))
            .agg(F.sum("term").cast("bigint").alias("ss"))
        )

    ss_a = ss_over(["lang"]).select(F.col("ss").alias("ss_a"))
    ss_b = ss_over(["source"]).select(F.col("ss").alias("ss_b"))
    ss_cells = ss_over(["lang", "source"]).select(F.col("ss").alias("ss_cells"))
    base = (
        grand.crossJoin(ss_a)
        .crossJoin(ss_b)
        .crossJoin(ss_cells)
        .crossJoin(sq)
        .select(
            "*",
            F.expr(
                "cast(floor(1e6 * (cast(sqq as double)"
                " - cast(sg as double) * sg / n) + 0.5) as bigint)"
            ).alias("ss_tot"),
        )
        .select(
            "*",
            (F.col("ss_tot") - F.col("ss_cells")).cast("bigint").alias("ss_w"),
            (F.col("ss_cells") - F.col("ss_a") - F.col("ss_b"))
            .cast("bigint")
            .alias("ss_ab"),
            (F.col("n") - F.col("ncells")).cast("bigint").alias("df_w"),
        )
    )
    _F = (
        "case when ss_w <= 0 or df_w <= 0 or {df} <= 0 then cast(null as bigint) else"
        " cast(floor(1e6 * (cast({ss} as double) / {df})"
        " / (cast(ss_w as double) / df_w) + 0.5) as bigint) end"
    )
    out = (
        base.select(
            F.lit("lang").alias("effect"),
            (F.col("r") - 1).cast("bigint").alias("df"),
            F.col("ss_a").alias("ss_micro"),
            F.expr(_F.format(ss="ss_a", df="(r - 1)")).alias("f_micro"),
        )
        .unionAll(
            base.select(
                F.lit("source").alias("effect"),
                (F.col("c") - 1).cast("bigint").alias("df"),
                F.col("ss_b").alias("ss_micro"),
                F.expr(_F.format(ss="ss_b", df="(c - 1)")).alias("f_micro"),
            )
        )
        .unionAll(
            base.select(
                F.lit("interaction").alias("effect"),
                (F.col("ncells") - F.col("r") - F.col("c") + 1)
                .cast("bigint")
                .alias("df"),
                F.col("ss_ab").alias("ss_micro"),
                F.expr(
                    _F.format(ss="ss_ab", df="(ncells - r - c + 1)")
                ).alias("f_micro"),
            )
        )
    )
    return out.orderBy("effect")


_ORACLE_ANOVA2 = """
WITH cells AS (
  SELECT lang, source, cast(count(*) AS bigint) AS nc,
         sum(n_chars)::BIGINT AS sc
  FROM documents GROUP BY 1, 2
),
sq AS (SELECT sum(n_chars * n_chars)::BIGINT AS sqq FROM documents),
grand AS (
  SELECT sum(nc)::BIGINT AS n, sum(sc)::BIGINT AS sg,
         cast(count(*) AS bigint) AS ncells,
         cast(count(DISTINCT lang) AS bigint) AS r,
         cast(count(DISTINCT source) AS bigint) AS c
  FROM cells
),
ssa AS (
  SELECT sum(cast(floor(1e6 * nk * pow(cast(sk AS double) / nk
             - cast(g.sg AS double) / g.n, 2) + 0.5) AS bigint))::BIGINT AS ss_a
  FROM (SELECT lang, sum(nc)::BIGINT AS nk, sum(sc)::BIGINT AS sk
        FROM cells GROUP BY 1) m CROSS JOIN grand g
),
ssb AS (
  SELECT sum(cast(floor(1e6 * nk * pow(cast(sk AS double) / nk
             - cast(g.sg AS double) / g.n, 2) + 0.5) AS bigint))::BIGINT AS ss_b
  FROM (SELECT source, sum(nc)::BIGINT AS nk, sum(sc)::BIGINT AS sk
        FROM cells GROUP BY 1) m CROSS JOIN grand g
),
ssc AS (
  SELECT sum(cast(floor(1e6 * nc * pow(cast(sc AS double) / nc
             - cast(g.sg AS double) / g.n, 2) + 0.5) AS bigint))::BIGINT AS ss_cells
  FROM cells CROSS JOIN grand g
),
base AS (
  SELECT g.*, ss_a, ss_b, ss_cells,
         cast(floor(1e6 * (cast(sqq AS double)
              - cast(sg AS double) * sg / n) + 0.5) AS bigint) AS ss_tot
  FROM grand g CROSS JOIN ssa CROSS JOIN ssb CROSS JOIN ssc CROSS JOIN sq
),
base2 AS (
  SELECT *, (ss_tot - ss_cells)::BIGINT AS ss_w,
         (ss_cells - ss_a - ss_b)::BIGINT AS ss_ab,
         (n - ncells)::BIGINT AS df_w
  FROM base
)
SELECT * FROM (
  SELECT 'lang' AS effect, (r - 1)::BIGINT AS df, ss_a AS ss_micro,
         CASE WHEN ss_w <= 0 OR df_w <= 0 OR r - 1 <= 0 THEN NULL ELSE
           cast(floor(1e6 * (cast(ss_a AS double) / (r - 1))
                / (cast(ss_w AS double) / df_w) + 0.5) AS bigint) END AS f_micro
  FROM base2
  UNION ALL
  SELECT 'source', (c - 1)::BIGINT, ss_b,
         CASE WHEN ss_w <= 0 OR df_w <= 0 OR c - 1 <= 0 THEN NULL ELSE
           cast(floor(1e6 * (cast(ss_b AS double) / (c - 1))
                / (cast(ss_w AS double) / df_w) + 0.5) AS bigint) END
  FROM base2
  UNION ALL
  SELECT 'interaction', (ncells - r - c + 1)::BIGINT, ss_ab,
         CASE WHEN ss_w <= 0 OR df_w <= 0 OR ncells - r - c + 1 <= 0 THEN NULL ELSE
           cast(floor(1e6 * (cast(ss_ab AS double) / (ncells - r - c + 1))
                / (cast(ss_w AS double) / df_w) + 0.5) AS bigint) END
  FROM base2
) ORDER BY effect
"""


REGISTRY_EXT104: dict[str, QuerySpec] = {
    "sir_importance_resample": QuerySpec(
        q_sir_importance_resample, _ORACLE_SIR, "X8 [EXT] SIR domain resampling"
    ),
    "mann_kendall_trend": QuerySpec(
        q_mann_kendall_trend, _ORACLE_MK, "X7 [EXT] Mann-Kendall trend test"
    ),
    "cochran_q_test": QuerySpec(
        q_cochran_q_test, _ORACLE_CQ, "X7 [EXT] Cochran's Q (3 raters)"
    ),
    "anova_two_way": QuerySpec(
        q_anova_two_way, _ORACLE_ANOVA2, "X7 [EXT] two-way factorial ANOVA"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_sir_importance_resample.__doc__ = q_sir_importance_resample.__doc__.format(t=_SIR_TARGET)  # noqa: E501
