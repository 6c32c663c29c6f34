"""Operator registry, wave 100: LM-score curation, sequential testing, and
series self-structure — CCNet perplexity bucketing, Wald's SPRT monitor,
autocorrelation at lags, and a token-run repetition audit.

Scale stances:
- ccnet_perplexity_buckets: vocabulary-sized frequency dim broadcasts onto
  the exploded token stream (the text_unigram_logprob shape); every
  per-token ln is snapped micro IMMEDIATELY so document scores are exact
  bigint sums, and the per-lang tertile rank runs in a lang-PARTITIONED
  window — no global sort.
- sprt_sequential_test: the log-likelihood-ratio constants ln(p1/p0) /
  ln(q1/q0) and the decision boundaries are PYTHON-precomputed micro
  literals, so the whole sequential monitor is exact integer arithmetic —
  counts in, bigint LLR out; cumulative over a per-type partitioned window.
- acf_lags: daily means reduce the corpus to a days-sized frame; lagged
  pairs are equi-joins on day+k against a literal lag spine; all moment
  sums are exact bigints and r folds once through IEEE-exact sqrt/divide.
- token_run_length_audit: gaps-and-islands run grouping via
  pos - row_number in a (doc, token)-partitioned window; two grouped
  aggregates after it.

Reference parity: none; [EXT] X6/X7 tier per BASELINE.json.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier

_TOK = r"filter(split(lower(text), '\\s+'), t -> t <> '')"
_DUCK_TOK = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"


# --------------------------------------------------------------------------
# CCNet perplexity bucketing (X6 [EXT])
# --------------------------------------------------------------------------


def q_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 CCNet-style LM-score bucketing: score every document by
    its mean unigram log-probability (the cheap perplexity proxy), split
    each language into tertiles — head / middle / tail — and keep
    head+middle (the CCNet admission rule; the tail is the
    gibberish/boilerplate band). Per-token ln(p) is snapped micro at the
    token level, so document scores are exact bigint sums and the
    tertile assignment ((rank-1)*3 div n, rank in a lang-partitioned
    window with a doc_id tiebreak) is engine-exact — no ntile, whose
    tie placement differs across engines. Output: (lang, bucket) with
    doc counts, the score range, and the keep decision."""
    from .operators.dedup import spread

    d = _t(spark, sf_dir, "documents")
    toks = barrier(
        spread(d)
        .select("doc_id", "lang", F.explode(F.expr(_TOK)).alias("tok"))
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tot = toks.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    scored = (
        toks.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            F.expr(
                "cast(floor(1e6 * ln(cast(cnt as double) / cast(total as double))"
                " + 0.5) as bigint)"
            ).alias("lp_micro"),
        )
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.sum("lp_micro").cast("bigint").alias("sum_lp"),
        )
        .select(
            "doc_id",
            "lang",
            F.floor(
                F.col("sum_lp").cast("double") / F.col("n_tok").cast("double")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("avg_lp_micro"),
        )
    )
    wr = Window.partitionBy("lang").orderBy(F.desc("avg_lp_micro"), F.asc("doc_id"))
    wn = Window.partitionBy("lang")
    bucketed = (
        scored.withColumn("rk", F.row_number().over(wr))
        .withColumn("n_lang", F.count(F.lit(1)).over(wn).cast("bigint"))
        .select(
            "lang",
            "avg_lp_micro",
            F.expr("((rk - 1) * 3) div n_lang").cast("bigint").alias("bucket"),
        )
    )
    return (
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("avg_lp_micro").cast("bigint").alias("best_lp_micro"),
            F.min("avg_lp_micro").cast("bigint").alias("worst_lp_micro"),
        )
        .select(
            "lang",
            "bucket",
            "n_docs",
            "best_lp_micro",
            "worst_lp_micro",
            (F.col("bucket") <= 1).alias("keep"),
        )
        .orderBy("lang", "bucket")
    )


_ORACLE_CCNET = f"""
WITH toks AS (
  SELECT doc_id, lang, tok
  FROM (SELECT doc_id, lang, {_DUCK_TOK} AS ts FROM documents), unnest(ts) AS u(tok)
),
freq AS (SELECT tok, cast(count(*) AS bigint) AS cnt FROM toks GROUP BY 1),
tot AS (SELECT cast(count(*) AS bigint) AS total FROM toks),
scored AS (
  SELECT doc_id, lang,
         cast(floor(cast(sum(lp_micro) AS double) / cast(count(*) AS double) + 0.5)
              AS bigint) AS avg_lp_micro
  FROM (
    SELECT t.doc_id, t.lang,
           cast(floor(1e6 * ln(cast(f.cnt as double) / cast(tot.total as double))
                      + 0.5) as bigint) AS lp_micro
    FROM toks t JOIN freq f USING (tok) CROSS JOIN tot
  ) GROUP BY 1, 2
),
bucketed AS (
  SELECT lang, avg_lp_micro,
         ((row_number() OVER (PARTITION BY lang
                              ORDER BY avg_lp_micro DESC, doc_id) - 1) * 3)
           // (count(*) OVER (PARTITION BY lang)) AS bucket
  FROM scored
)
SELECT lang, bucket::BIGINT AS bucket, cast(count(*) AS bigint) AS n_docs,
       max(avg_lp_micro)::BIGINT AS best_lp_micro,
       min(avg_lp_micro)::BIGINT AS worst_lp_micro,
       bucket <= 1 AS keep
FROM bucketed GROUP BY lang, bucket ORDER BY lang, bucket
"""


# --------------------------------------------------------------------------
# Wald SPRT sequential monitor (X7 [EXT])
# --------------------------------------------------------------------------

_SPRT_P0 = 0.30
_SPRT_P1 = 0.35
_SPRT_ALPHA = 0.05
_SPRT_BETA = 0.05
_SPRT_THRESH = 50.0  # conversion = value >= threshold
# Python-precomputed micro constants: the monitor is pure integer arithmetic
_SPRT_C1 = math.floor(1e6 * math.log(_SPRT_P1 / _SPRT_P0) + 0.5)
_SPRT_C2 = math.floor(1e6 * math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) + 0.5)
_SPRT_UPPER = math.floor(1e6 * math.log((1 - _SPRT_BETA) / _SPRT_ALPHA) + 0.5)
_SPRT_LOWER = math.floor(1e6 * math.log(_SPRT_BETA / (1 - _SPRT_ALPHA)) + 0.5)


def q_sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Wald's sequential probability ratio test as a daily
    monitor: per event type, is the conversion rate (value >= {t})
    p1 = {p1} rather than p0 = {p0}? The cumulative log-likelihood
    ratio LLR_d = sum(k*ln(p1/p0) + (n-k)*ln(q1/q0)) crosses
    ln((1-b)/a) -> accept H1, ln(b/(1-a)) -> accept H0, else keep
    sampling — the always-valid early-stopping monitor that, unlike the
    fixed-horizon z-test, can stop a bad experiment any day. The ln
    constants and both boundaries are Python-precomputed micro literals
    shared with the oracle, so every LLR value is an EXACT bigint from
    daily grouped counts + a per-type partitioned prefix window."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.when(F.col("value") >= _SPRT_THRESH, 1).otherwise(0).alias("conv"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("conv").cast("bigint").alias("k"),
        )
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "event_type",
        "day",
        "n",
        "k",
        F.sum(
            F.col("k") * F.lit(_SPRT_C1) + (F.col("n") - F.col("k")) * F.lit(_SPRT_C2)
        )
        .over(wc)
        .cast("bigint")
        .alias("cum_llr_micro"),
    )
    return cum.select(
        "event_type",
        "day",
        "n",
        "k",
        "cum_llr_micro",
        F.when(F.col("cum_llr_micro") >= _SPRT_UPPER, F.lit("accept_h1"))
        .when(F.col("cum_llr_micro") <= _SPRT_LOWER, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    ).orderBy("event_type", "day")


_ORACLE_SPRT = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         cast(count(*) AS bigint) AS n,
         sum(CASE WHEN value >= {_SPRT_THRESH!r} THEN 1 ELSE 0 END)::BIGINT AS k
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, day, n, k,
         sum(k * {_SPRT_C1} + (n - k) * {_SPRT_C2})
           OVER (PARTITION BY event_type ORDER BY day)::BIGINT AS cum_llr_micro
  FROM daily
)
SELECT event_type, day, n, k, cum_llr_micro,
       CASE WHEN cum_llr_micro >= {_SPRT_UPPER} THEN 'accept_h1'
            WHEN cum_llr_micro <= {_SPRT_LOWER} THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM cum ORDER BY event_type, day
"""


# --------------------------------------------------------------------------
# Autocorrelation function at lags (X7 [EXT])
# --------------------------------------------------------------------------

_ACF_LAGS = [1, 2, 3, 7]


def q_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 the autocorrelation function of the daily mean event
    value, per event type, at lags {lags} — the self-structure
    diagnostic behind seasonality detection and forecast-model order
    selection (a lag-7 peak = weekly cycle). Daily means land on an
    exact centi grid; lagged pairs come from an equi-join on day + k
    against a literal lag spine; the five Pearson moment sums are
    exact bigints and r folds once through IEEE-correctly-rounded
    sqrt/divide (deterministic across engines). Constant-series
    degeneracy (zero variance) maps to r = 0 in both engines."""
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
    # literal lag spine via explode — a plain projection, no join fan-in
    pairs = (
        daily.select(
            "event_type",
            "day",
            "x",
            F.explode(
                F.array(*[F.lit(k).cast("bigint") for k in _ACF_LAGS])
            ).alias("k"),
        )
        .alias("a")
        .join(
            daily.select(
                F.col("event_type").alias("et2"),
                F.col("day").alias("day2"),
                F.col("x").alias("y"),
            ),
            (F.col("a.event_type") == F.col("et2"))
            & (F.col("a.day") + F.col("a.k") == F.col("day2")),
        )
        .select("a.event_type", "a.k", "a.x", "y")
    )
    g = pairs.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    return g.select(
        "event_type",
        F.col("k").alias("lag"),
        "n",
        F.when(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") <= 0)
            | (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") <= 0),
            F.lit(0).cast("bigint"),
        )
        .otherwise(
            F.floor(
                F.lit(1e6)
                * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
                / (
                    F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
                    * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
                )
                + F.lit(0.5)
            ).cast("bigint")
        )
        .alias("r_micro"),
    ).orderBy("event_type", "lag")


_ORACLE_ACF = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         cast(floor(cast(sum(cast(floor(value * 100.0 + 0.5) AS bigint)) AS double)
                    / cast(count(*) AS double) + 0.5) AS bigint) AS x
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type, l.k, a.x, b.x AS y
  FROM daily a
  CROSS JOIN (SELECT unnest([{", ".join(str(k) for k in _ACF_LAGS)}]::BIGINT[]) AS k) l
  JOIN daily b ON b.event_type = a.event_type AND b.day = a.day + l.k
),
g AS (
  SELECT event_type, k,
         cast(count(*) AS bigint) AS n,
         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
         sum(x * y)::BIGINT AS sxy
  FROM pairs GROUP BY 1, 2
)
SELECT event_type, k AS lag, n,
       CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0
            THEN 0::BIGINT
            ELSE cast(floor(1e6 * cast(n * sxy - sx * sy AS double)
                 / (sqrt(cast(n * sxx - sx * sx AS double))
                    * sqrt(cast(n * syy - sy * sy AS double))) + 0.5) AS bigint)
       END AS r_micro
FROM g ORDER BY event_type, lag
"""


# --------------------------------------------------------------------------
# Token run-length repetition audit (X6 [EXT])
# --------------------------------------------------------------------------

_RUN_FLAG = 3  # a run of >= 3 identical consecutive tokens flags the doc


def q_token_run_length_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 degenerate-repetition audit: the longest run of identical
    CONSECUTIVE tokens per document ("the the the..."), aggregated per
    source — the cheap detector for the stuck-generation / scraped-
    boilerplate failure mode that n-gram dedup misses (runs are within
    one window). Gaps-and-islands: run id = position - row_number in a
    (doc, token)-partitioned window, then two grouped counts. Output per
    source: docs, the longest run anywhere, and docs carrying a run
    >= {r}."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.posexplode(F.expr(_TOK)),
    ).select("doc_id", "source", F.col("pos").cast("bigint").alias("i"), F.col("col").alias("t"))
    wrt = Window.partitionBy("doc_id", "t").orderBy("i")
    runs = (
        toks.withColumn("grp", F.col("i") - F.row_number().over(wrt))
        .groupBy("doc_id", "source", "t", "grp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("run_len"))
    )
    per_doc = runs.groupBy("doc_id", "source").agg(
        F.max("run_len").cast("bigint").alias("max_run")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("max_run").cast("bigint").alias("longest_run"),
            F.sum(F.when(F.col("max_run") >= _RUN_FLAG, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_flagged"),
        )
        .orderBy("source")
    )


_ORACLE_RUNS = f"""
WITH toks AS (
  SELECT doc_id, source, i - 1 AS i, ts[i] AS t
  FROM (SELECT doc_id, source, {_DUCK_TOK} AS ts FROM documents),
       range(1, 100000) r(i)
  WHERE i <= len(ts)
),
runs AS (
  SELECT doc_id, source, t,
         i - row_number() OVER (PARTITION BY doc_id, t ORDER BY i) AS grp
  FROM toks
),
rl AS (
  SELECT doc_id, source, cast(count(*) AS bigint) AS run_len
  FROM runs GROUP BY doc_id, source, t, grp
),
per_doc AS (
  SELECT doc_id, source, max(run_len)::BIGINT AS max_run
  FROM rl GROUP BY 1, 2
)
SELECT source, cast(count(*) AS bigint) AS n_docs,
       max(max_run)::BIGINT AS longest_run,
       sum(CASE WHEN max_run >= {_RUN_FLAG} THEN 1 ELSE 0 END)::BIGINT
         AS docs_flagged
FROM per_doc GROUP BY 1 ORDER BY source
"""


REGISTRY_EXT99: dict[str, QuerySpec] = {
    "ccnet_perplexity_buckets": QuerySpec(
        q_ccnet_perplexity_buckets, _ORACLE_CCNET, "X6 [EXT] LM-score tertile curation"
    ),
    "sprt_sequential_test": QuerySpec(
        q_sprt_sequential_test, _ORACLE_SPRT, "X7 [EXT] Wald sequential monitor"
    ),
    "acf_lags": QuerySpec(q_acf_lags, _ORACLE_ACF, "X7 [EXT] autocorrelation at lags"),
    "token_run_length_audit": QuerySpec(
        q_token_run_length_audit, _ORACLE_RUNS, "X6 [EXT] run-length repetition audit"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_sprt_sequential_test.__doc__ = q_sprt_sequential_test.__doc__.format(t=_SPRT_THRESH, p0=_SPRT_P0, p1=_SPRT_P1)  # noqa: E501
q_acf_lags.__doc__ = q_acf_lags.__doc__.format(lags=_ACF_LAGS)  # noqa: E501
q_token_run_length_audit.__doc__ = q_token_run_length_audit.__doc__.format(r=_RUN_FLAG)  # noqa: E501
