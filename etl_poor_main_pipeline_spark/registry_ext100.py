"""Operator registry, wave 101: supervised text classification, sketch
moments, forecast-quality decomposition, and multi-rater agreement —
multinomial Naive Bayes language ID, the AMS tug-of-war F2 sketch,
the Murphy decomposition of the Brier score, and Fleiss' kappa.

Scale stances:
- naive_bayes_lang_id: the model IS a grouped aggregate — the
  (token, lang) conditional-count table is vocabulary x 5 sized and
  BROADCASTS onto the exploded token stream; scoring fans each token out
  over the 5-row language spine (a constant-factor projection, never a
  corpus^2 term). Per-(token, lang) ln is snapped micro immediately so
  document scores are exact bigint sums and the argmax (score desc,
  lang asc) is engine-exact.
- ams_f2_sketch: the stream collapses to a users-sized count frame
  FIRST; the 12 tug-of-war estimators are an explode x12 over that
  reduced frame with md5-derived +-1 signs — sketch state is 12 bigints,
  mergeable by construction (that is the point of AMS), and the
  median-of-means fold is integer arithmetic on a 3-row frame.
- brier_decomposition: one map-side-combinable aggregate builds the
  10-bin (n_k, sum_p, sum_y) profile; every decomposition term is
  snapped micro PER BIN from exact integer sums, then integer-summed, so
  the reliability/resolution/uncertainty split never depends on
  float summation order.
- fleiss_kappa_agreement: the three raters are pure per-row expressions
  (no shuffle until the single grouped fold); kappa folds once from
  four exact bigint counters.

Reference parity: none; [EXT] X6/X7 tier per BASELINE.json.
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
# Multinomial Naive Bayes language ID (X6 [EXT])
# --------------------------------------------------------------------------


def q_naive_bayes_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 multinomial Naive Bayes language identifier, trained and
    applied in one plan: P(lang | doc) ∝ P(lang) * prod P(tok | lang)
    with add-one (Laplace) smoothing over the corpus vocabulary. The
    smoothing identity ln((c+1)/(n_lang+V)) = ln(c+1) - ln(n_lang+V)
    means unseen (token, lang) pairs contribute ln(1) = 0, so scoring is
    an EQUI-join of the token stream against observed conditional counts
    only (a 5-way hash fan-out, never a token x lang explode), plus a
    per-document n_toks * ln(n_lang+V) correction on the 5-row language
    spine. Both ln tables are snapped micro so scores are exact bigint
    sums; the prediction is the (score desc, lang asc) argmax —
    deterministic across engines. Output: the lang x predicted-lang
    confusion matrix (resubstitution self-consistency of the model).

    No dedup.spread: tokenize+explode is cheap expression work — the
    text-column shuffle costs more than the extra cores recover (the
    tf_idf measurement); parallelism arrives at the first groupBy
    exchange."""
    d = _t(spark, sf_dir, "documents")
    toks = barrier(
        d.select("doc_id", "lang", F.explode(F.expr(_TOK)).alias("tok"))
    )
    vocab = toks.agg(F.countDistinct("tok").cast("bigint").alias("v"))
    docs_total = d.agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    # ln(c_{tok,cand} + 1) in micro for OBSERVED pairs only
    cond = toks.groupBy(F.col("lang").alias("cand"), "tok").agg(
        F.expr("cast(floor(1e6 * ln(cast(count(1) + 1 as double)) + 0.5) as bigint)")
        .alias("lnc_micro")
    )
    # per-candidate denominator ln(n_lang + V) and the doc-count prior
    n_lang = (
        toks.groupBy(F.col("lang").alias("cand"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("nl"))
        .crossJoin(F.broadcast(vocab))
        .select(
            "cand",
            F.expr(
                "cast(floor(1e6 * ln(cast(nl + v as double)) + 0.5) as bigint)"
            ).alias("lnv_micro"),
        )
    )
    prior = (
        d.groupBy(F.col("lang").alias("cand"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("dl"))
        .crossJoin(F.broadcast(docs_total))
        .select(
            "cand",
            F.expr(
                "cast(floor(1e6 * ln(cast(dl as double) / cast(nd as double))"
                " + 0.5) as bigint)"
            ).alias("prior_micro"),
        )
    )
    # observed-pair contributions: equi-join on tok (<= 5 rows per token)
    obs = (
        toks.join(F.broadcast(cond), "tok")
        .groupBy("doc_id", "lang", "cand")
        .agg(F.sum("lnc_micro").cast("bigint").alias("sum_lnc"))
    )
    # complete (doc, cand) spine via a constant-key broadcast hash join
    per_doc = toks.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_toks")
    )
    spine = per_doc.withColumn("one", F.lit(1)).join(
        F.broadcast(
            n_lang.join(prior, "cand").withColumn("one", F.lit(1))
        ),
        "one",
    )
    scored = spine.join(obs, ["doc_id", "lang", "cand"], "left").select(
        "doc_id",
        "lang",
        "cand",
        (
            F.coalesce(F.col("sum_lnc"), F.lit(0))
            - F.col("n_toks") * F.col("lnv_micro")
            + F.col("prior_micro")
        )
        .cast("bigint")
        .alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand"))
    pred = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("lang", F.col("cand").alias("pred"))
    )
    return (
        pred.groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .select(
            "lang", "pred", "n_docs", (F.col("lang") == F.col("pred")).alias("correct")
        )
        .orderBy("lang", "pred")
    )


_ORACLE_NB = f"""
WITH toks AS (
  SELECT doc_id, lang, tok
  FROM (SELECT doc_id, lang, {_DUCK_TOK} AS ts FROM documents), unnest(ts) AS u(tok)
),
vocab AS (SELECT cast(count(DISTINCT tok) AS bigint) AS v FROM toks),
docs_total AS (SELECT cast(count(*) AS bigint) AS nd FROM documents),
cond AS (
  SELECT lang AS cand, tok,
         cast(floor(1e6 * ln(cast(count(*) + 1 AS double)) + 0.5) AS bigint)
           AS lnc_micro
  FROM toks GROUP BY 1, 2
),
n_lang AS (
  SELECT lang AS cand,
         cast(floor(1e6 * ln(cast(count(*) + (SELECT v FROM vocab) AS double))
              + 0.5) AS bigint) AS lnv_micro
  FROM toks GROUP BY 1
),
prior AS (
  SELECT lang AS cand,
         cast(floor(1e6 * ln(cast(count(*) AS double)
              / cast((SELECT nd FROM docs_total) AS double)) + 0.5) AS bigint)
           AS prior_micro
  FROM documents GROUP BY 1
),
obs AS (
  SELECT t.doc_id, t.lang, c.cand,
         sum(c.lnc_micro)::BIGINT AS sum_lnc
  FROM toks t JOIN cond c USING (tok)
  GROUP BY 1, 2, 3
),
per_doc AS (
  SELECT doc_id, lang, cast(count(*) AS bigint) AS n_toks
  FROM toks GROUP BY 1, 2
),
scored AS (
  SELECT pd.doc_id, pd.lang, n.cand,
         (coalesce(o.sum_lnc, 0) - pd.n_toks * n.lnv_micro + p.prior_micro)::BIGINT
           AS score
  FROM per_doc pd
  CROSS JOIN n_lang n
  JOIN prior p ON p.cand = n.cand
  LEFT JOIN obs o
    ON o.doc_id = pd.doc_id AND o.lang = pd.lang AND o.cand = n.cand
),
pred AS (
  SELECT lang, cand AS pred
  FROM (
    SELECT lang, cand,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rk
    FROM scored
  ) WHERE rk = 1
)
SELECT lang, pred, cast(count(*) AS bigint) AS n_docs, lang = pred AS correct
FROM pred GROUP BY 1, 2 ORDER BY lang, pred
"""


# --------------------------------------------------------------------------
# AMS tug-of-war F2 sketch (X7 [EXT])
# --------------------------------------------------------------------------

_AMS_B = 12  # estimators: 3 groups of 4 -> median of means


def q_ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the Alon-Matias-Szegedy tug-of-war sketch for the second
    frequency moment F2 = sum_u count(u)^2 of user_id in events (the
    "surprise number" behind join-size and self-join-cardinality
    estimation). Each of {b} estimators keeps one bigint
    Z_b = sum_u sign_b(u) * count(u) with a deterministic md5-derived
    +-1 sign; E[Z^2] = F2. The fold is median-of-means over 3 groups of
    4 (the classic accuracy boost), all exact integer arithmetic
    (median of 3 = the middle order statistic; group mean = sum div 4,
    taken on the monotone sums so the median commutes). Output one row:
    exact F2, the sketch estimate, and the relative error in micro
    units."""
    e = _t(spark, sf_dir, "events")
    ucnt = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    est = (
        ucnt.select(
            "user_id",
            "c",
            F.explode(
                F.array(*[F.lit(b).cast("bigint") for b in range(_AMS_B)])
            ).alias("b"),
        )
        .select(
            "b",
            (
                F.when(
                    F.expr(
                        "instr('13579bdf',"
                        " substring(md5(concat_ws(':', user_id, b)), 1, 1)) > 0"
                    ),
                    F.lit(-1),
                ).otherwise(F.lit(1))
                * F.col("c")
            )
            .cast("bigint")
            .alias("z_term"),
        )
        .groupBy("b")
        .agg(F.sum("z_term").cast("bigint").alias("z"))
        .select("b", (F.col("z") * F.col("z")).cast("bigint").alias("zz"))
    )
    grp = est.groupBy((F.col("b") / F.lit(4)).cast("bigint").alias("g")).agg(
        F.sum("zz").cast("bigint").alias("gsum")
    )
    wmed = Window.orderBy("gsum")
    mom = (
        grp.withColumn("rk", F.row_number().over(wmed))
        .filter(F.col("rk") == 2)
        .select(F.expr("gsum div 4").cast("bigint").alias("mom_f2"))
    )
    exact = ucnt.agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("exact_f2"))
    return exact.crossJoin(mom).select(
        "exact_f2",
        "mom_f2",
        F.expr(
            "cast(floor(1e6 * abs(cast(mom_f2 - exact_f2 as double))"
            " / cast(exact_f2 as double) + 0.5) as bigint)"
        ).alias("rel_err_micro"),
    )


_ORACLE_AMS = f"""
WITH ucnt AS (
  SELECT user_id, cast(count(*) AS bigint) AS c FROM events GROUP BY 1
),
est AS (
  SELECT b.b,
         sum(CASE WHEN strpos('13579bdf',
                    substr(md5(user_id || ':' || b.b), 1, 1)) > 0
              THEN -c ELSE c END)::BIGINT AS z
  FROM ucnt
  CROSS JOIN (SELECT unnest(range(0, {_AMS_B})) AS b) b
  GROUP BY 1
),
grp AS (
  SELECT b // 4 AS g, sum(z * z)::BIGINT AS gsum FROM est GROUP BY 1
),
mom AS (
  SELECT (gsum // 4)::BIGINT AS mom_f2
  FROM (SELECT gsum, row_number() OVER (ORDER BY gsum) AS rk FROM grp)
  WHERE rk = 2
),
exact AS (
  SELECT sum(c * c)::BIGINT AS exact_f2 FROM ucnt
)
SELECT exact_f2, mom_f2,
       cast(floor(1e6 * abs(cast(mom_f2 - exact_f2 AS double))
            / cast(exact_f2 AS double) + 0.5) AS bigint) AS rel_err_micro
FROM exact CROSS JOIN mom
"""


# --------------------------------------------------------------------------
# Brier score Murphy decomposition (X7 [EXT])
# --------------------------------------------------------------------------

_BRIER_POS = "purchase"  # the predicted label (same convention as ext48)


def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Murphy decomposition of the Brier score for the
    value/500 pseudo-probability of the '{p}' label (the same forecast
    calibration_bins diagrams): brier = reliability - resolution +
    uncertainty (+ within-bin variance, since p varies inside a bin).
    Per-row p snaps to basis points (1e4) so the raw Brier sum is an
    exact bigint; each per-bin reliability/resolution term is snapped
    micro from exact (n_k, sum_p, sum_y) integers and then
    integer-summed — no float summation-order dependence anywhere.
    Output one row with all four decomposition terms plus the raw
    score; forecasters read reliability (calibration debt) against
    resolution (discrimination earned)."""
    e = _t(spark, sf_dir, "events")
    rows = e.select(
        F.when(F.col("event_type") == _BRIER_POS, 1).otherwise(0).cast("bigint").alias("y"),
        F.least(
            F.floor(F.col("value") * F.lit(20.0)).cast("bigint"),
            F.lit(10000).cast("bigint"),
        ).alias("p_c"),
        F.least(
            F.floor(F.col("value") / F.lit(50.0)).cast("bigint"), F.lit(9).cast("bigint")
        ).alias("bin"),
    )
    bins = rows.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_k"),
        F.sum("p_c").cast("bigint").alias("sp"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum((F.col("p_c") - F.col("y") * F.lit(10000)) * (F.col("p_c") - F.col("y") * F.lit(10000)))
        .cast("bigint")
        .alias("sq"),
    )
    tot = bins.agg(
        F.sum("n_k").cast("bigint").alias("n"),
        F.sum("sy").cast("bigint").alias("sy_all"),
        F.sum("sq").cast("bigint").alias("sq_all"),
    )
    terms = bins.crossJoin(F.broadcast(tot)).select(
        F.expr(
            "cast(floor(1e6 * cast(n_k as double)"
            " * pow(cast(sp as double) / cast(n_k as double) / 1e4"
            "       - cast(sy as double) / cast(n_k as double), 2)"
            " / cast(n as double) + 0.5) as bigint)"
        ).alias("rel_term"),
        F.expr(
            "cast(floor(1e6 * cast(n_k as double)"
            " * pow(cast(sy as double) / cast(n_k as double)"
            "       - cast(sy_all as double) / cast(n as double), 2)"
            " / cast(n as double) + 0.5) as bigint)"
        ).alias("res_term"),
    )
    folded = terms.agg(
        F.sum("rel_term").cast("bigint").alias("reliability_micro"),
        F.sum("res_term").cast("bigint").alias("resolution_micro"),
    )
    return folded.crossJoin(tot).select(
        F.col("n"),
        F.expr(
            "cast(floor(cast(sq_all as double) / cast(n as double) / 100.0 + 0.5)"
            " as bigint)"
        ).alias("brier_micro"),
        "reliability_micro",
        "resolution_micro",
        F.expr(
            "cast(floor(1e6 * cast(sy_all as double) / cast(n as double)"
            " * (1.0 - cast(sy_all as double) / cast(n as double)) + 0.5) as bigint)"
        ).alias("uncertainty_micro"),
    )


_ORACLE_BRIER = f"""
WITH rows_ AS (
  SELECT CASE WHEN event_type = '{_BRIER_POS}' THEN 1 ELSE 0 END::BIGINT AS y,
         least(cast(floor(value * 20.0) AS bigint), 10000) AS p_c,
         least(cast(floor(value / 50.0) AS bigint), 9) AS bin
  FROM events
),
bins AS (
  SELECT bin, cast(count(*) AS bigint) AS n_k,
         sum(p_c)::BIGINT AS sp, sum(y)::BIGINT AS sy,
         sum((p_c - y * 10000) * (p_c - y * 10000))::BIGINT AS sq
  FROM rows_ GROUP BY 1
),
tot AS (
  SELECT sum(n_k)::BIGINT AS n, sum(sy)::BIGINT AS sy_all,
         sum(sq)::BIGINT AS sq_all
  FROM bins
),
terms AS (
  SELECT
    cast(floor(1e6 * cast(n_k AS double)
         * pow(cast(sp AS double) / cast(n_k AS double) / 1e4
               - cast(sy AS double) / cast(n_k AS double), 2)
         / cast(t.n AS double) + 0.5) AS bigint) AS rel_term,
    cast(floor(1e6 * cast(n_k AS double)
         * pow(cast(sy AS double) / cast(n_k AS double)
               - cast(t.sy_all AS double) / cast(t.n AS double), 2)
         / cast(t.n AS double) + 0.5) AS bigint) AS res_term
  FROM bins CROSS JOIN tot t
),
folded AS (
  SELECT sum(rel_term)::BIGINT AS reliability_micro,
         sum(res_term)::BIGINT AS resolution_micro
  FROM terms
)
SELECT t.n,
       cast(floor(cast(t.sq_all AS double) / cast(t.n AS double) / 100.0 + 0.5)
            AS bigint) AS brier_micro,
       reliability_micro, resolution_micro,
       cast(floor(1e6 * cast(t.sy_all AS double) / cast(t.n AS double)
            * (1.0 - cast(t.sy_all AS double) / cast(t.n AS double)) + 0.5)
            AS bigint) AS uncertainty_micro
FROM folded CROSS JOIN tot t
"""


# --------------------------------------------------------------------------
# Fleiss' kappa multi-rater agreement (X7 [EXT])
# --------------------------------------------------------------------------

_FK_CHARS = 300  # rater 1: long doc
_FK_RATIO_C = 45  # rater 2: distinct-token ratio >= 0.45 (centi units)
_FK_TOKS = 56  # rater 3: token count >= median


def q_fleiss_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Fleiss' kappa for THREE deterministic keep/drop raters
    over documents — the chance-corrected agreement statistic for more
    than two raters (Cohen's kappa, already shipped, stops at two).
    Raters: length (n_chars >= {c}), lexical diversity (distinct-token
    ratio >= 0.{r}), and verbosity (token count >= {t}) — three real
    curation heuristics whose disagreement rate is exactly what a
    labeling pipeline wants monitored. Per-item agreement
    P_i = sum_j n_ij(n_ij-1) / (n(n-1)) with n = 3 raters; kappa =
    (P_bar - P_e) / (1 - P_e) folds once from four exact bigint
    counters (items, total keeps, sum n_i1^2) — single grouped
    aggregate, no shuffle before it."""
    d = _t(spark, sf_dir, "documents")
    rated = d.select(
        (
            F.when(F.col("n_chars") >= _FK_CHARS, 1).otherwise(0)
            + F.expr(
                "case when size(array_distinct({tok})) * 100 >= {rc} * size({tok})"
                " then 1 else 0 end".format(tok=_TOK, rc=_FK_RATIO_C)
            )
            + F.expr(
                "case when size({tok}) >= {t} then 1 else 0 end".format(
                    tok=_TOK, t=_FK_TOKS
                )
            )
        )
        .cast("bigint")
        .alias("k1")
    )
    agg = rated.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("k1").cast("bigint").alias("keeps"),
        F.sum(F.col("k1") * F.col("k1")).cast("bigint").alias("keeps_sq"),
    )
    # P_i = (n_i1(n_i1-1) + n_i0(n_i0-1)) / 6 with n_i0 = 3 - n_i1;
    # sum over items is linear in keeps and keeps_sq: sum P_i =
    # (2*keeps_sq - 6*keeps + 6*n) / 6.
    return agg.select(
        "n_items",
        F.expr(
            "cast(floor(1e6 * cast(keeps as double) / (3.0 * cast(n_items as double))"
            " + 0.5) as bigint)"
        ).alias("p_keep_micro"),
        F.expr(
            "cast(floor(1e6 * cast(2 * keeps_sq - 6 * keeps + 6 * n_items as double)"
            " / (6.0 * cast(n_items as double)) + 0.5) as bigint)"
        ).alias("p_bar_micro"),
        F.expr(
            "cast(floor(1e6 * ("
            "  pow(cast(keeps as double) / (3.0 * cast(n_items as double)), 2)"
            "  + pow(1.0 - cast(keeps as double) / (3.0 * cast(n_items as double)), 2)"
            ") + 0.5) as bigint)"
        ).alias("p_e_micro"),
        F.expr(
            "cast(floor(1e6 * ("
            "  (cast(2 * keeps_sq - 6 * keeps + 6 * n_items as double)"
            "   / (6.0 * cast(n_items as double))"
            "   - (pow(cast(keeps as double) / (3.0 * cast(n_items as double)), 2)"
            "      + pow(1.0 - cast(keeps as double) / (3.0 * cast(n_items as double)), 2)))"
            "  / (1.0 - (pow(cast(keeps as double) / (3.0 * cast(n_items as double)), 2)"
            "      + pow(1.0 - cast(keeps as double) / (3.0 * cast(n_items as double)), 2)))"
            ") + 0.5) as bigint)"
        ).alias("kappa_micro"),
    )


_ORACLE_FLEISS = f"""
WITH rated AS (
  SELECT (CASE WHEN n_chars >= {_FK_CHARS} THEN 1 ELSE 0 END
        + CASE WHEN len(list_distinct({_DUCK_TOK})) * 100
               >= {_FK_RATIO_C} * len({_DUCK_TOK}) THEN 1 ELSE 0 END
        + CASE WHEN len({_DUCK_TOK}) >= {_FK_TOKS} THEN 1 ELSE 0 END)::BIGINT
          AS k1
  FROM documents
),
agg AS (
  SELECT cast(count(*) AS bigint) AS n_items,
         sum(k1)::BIGINT AS keeps,
         sum(k1 * k1)::BIGINT AS keeps_sq
  FROM rated
)
SELECT n_items,
       cast(floor(1e6 * cast(keeps AS double) / (3.0 * cast(n_items AS double))
            + 0.5) AS bigint) AS p_keep_micro,
       cast(floor(1e6 * cast(2 * keeps_sq - 6 * keeps + 6 * n_items AS double)
            / (6.0 * cast(n_items AS double)) + 0.5) AS bigint) AS p_bar_micro,
       cast(floor(1e6 * (
         pow(cast(keeps AS double) / (3.0 * cast(n_items AS double)), 2)
         + pow(1.0 - cast(keeps AS double) / (3.0 * cast(n_items AS double)), 2)
       ) + 0.5) AS bigint) AS p_e_micro,
       cast(floor(1e6 * (
         (cast(2 * keeps_sq - 6 * keeps + 6 * n_items AS double)
          / (6.0 * cast(n_items AS double))
          - (pow(cast(keeps AS double) / (3.0 * cast(n_items AS double)), 2)
             + pow(1.0 - cast(keeps AS double) / (3.0 * cast(n_items AS double)), 2)))
         / (1.0 - (pow(cast(keeps AS double) / (3.0 * cast(n_items AS double)), 2)
             + pow(1.0 - cast(keeps AS double) / (3.0 * cast(n_items AS double)), 2)))
       ) + 0.5) AS bigint) AS kappa_micro
FROM agg
"""


REGISTRY_EXT100: dict[str, QuerySpec] = {
    "naive_bayes_lang_id": QuerySpec(
        q_naive_bayes_lang_id, _ORACLE_NB, "X6 [EXT] Naive Bayes language ID"
    ),
    "ams_f2_sketch": QuerySpec(
        q_ams_f2_sketch, _ORACLE_AMS, "X7 [EXT] AMS tug-of-war F2 sketch"
    ),
    "brier_decomposition": QuerySpec(
        q_brier_decomposition, _ORACLE_BRIER, "X7 [EXT] Brier Murphy decomposition"
    ),
    "fleiss_kappa_agreement": QuerySpec(
        q_fleiss_kappa_agreement, _ORACLE_FLEISS, "X7 [EXT] Fleiss kappa (3 raters)"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_ams_f2_sketch.__doc__ = q_ams_f2_sketch.__doc__.format(b=_AMS_B)  # noqa: E501
q_brier_decomposition.__doc__ = q_brier_decomposition.__doc__.format(p=_BRIER_POS)  # noqa: E501
q_fleiss_kappa_agreement.__doc__ = q_fleiss_kappa_agreement.__doc__.format(c=_FK_CHARS, r=_FK_RATIO_C, t=_FK_TOKS)  # noqa: E501
