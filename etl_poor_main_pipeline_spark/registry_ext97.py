"""Operator registry, wave 98: data-mixing & budget-allocation operators —
the recipe layer of a training-data pipeline: how much of each source goes
into the mix, and exactly how many tokens each gets.

Scale stances:
- All four reduce the corpus to per-source / per-bin GROUPED AGGREGATES
  first (one map-side-combinable pass over documents/events); everything
  downstream is bounded by the source-enum / bin domain (~20 rows), so
  windows and joins on those frames cost nothing at any corpus size.
- Transcendentals (pow/exp/ln) appear ONLY on the tiny aggregate frames
  and are snapped to the micro grid immediately with byte-identical
  expression text in both engines (the platt_calibration_newton idiom);
  everything else is exact integer arithmetic. token_budget apportionment
  is 100% integer (floor quotas + largest-remainder ranks) — bit-exact by
  construction.

Reference parity: none; [EXT] X7/X8 tier per BASELINE.json.
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
# Temperature-scaled source sampling weights (X8 [EXT])
# --------------------------------------------------------------------------

_TEMP_ALPHAS_CENTI = [30, 70, 100]  # alpha = 0.3 (aggressive), 0.7 (mT5), 1.0


def q_temperature_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X8 temperature-scaled sampling weights per source —
    p_s proportional to n_tokens^alpha (mT5 / XLM-R multilingual
    sampling): alpha = 1 reproduces natural proportions, alpha < 1
    up-samples small sources. One grouped token-count pass, then the
    pow() runs on the ~20-row source frame and is snapped to the micro
    grid immediately (identical expression text in the oracle), so the
    published weight table is cross-engine reproducible. Output: one
    row per (source, alpha)."""
    d = _t(spark, sf_dir, "documents")
    tokc = d.select("source", F.expr(f"size({_TOK})").cast("bigint").alias("nt")).groupBy(
        "source"
    ).agg(F.sum("nt").cast("bigint").alias("n_tokens"))
    # literal lag spine via explode — a plain projection, no join at all
    alphas = F.explode(
        F.array(*[F.lit(a).cast("bigint") for a in _TEMP_ALPHAS_CENTI])
    ).alias("alpha_centi")
    pw = tokc.select("source", "n_tokens", alphas).select(
        "source",
        "alpha_centi",
        "n_tokens",
        F.expr(
            "cast(floor(1e6 * pow(cast(n_tokens as double),"
            " cast(alpha_centi as double) / 100.0) + 0.5) as bigint)"
        ).alias("pw_micro"),
    )
    wsum = Window.partitionBy("alpha_centi")
    return (
        pw.withColumn("sum_pw", F.sum("pw_micro").over(wsum).cast("bigint"))
        .select(
            "source",
            "alpha_centi",
            "n_tokens",
            F.floor(
                F.lit(1e6) * F.col("pw_micro").cast("double")
                / F.col("sum_pw").cast("double")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("weight_micro"),
        )
        .orderBy("alpha_centi", "source")
    )


_ORACLE_TEMP = f"""
WITH tokc AS (
  SELECT source, sum(cast(len({_DUCK_TOK}) AS bigint))::BIGINT AS n_tokens
  FROM documents GROUP BY 1
),
pw AS (
  SELECT source, alpha_centi, n_tokens,
         cast(floor(1e6 * pow(cast(n_tokens as double),
              cast(alpha_centi as double) / 100.0) + 0.5) as bigint) AS pw_micro
  FROM tokc CROSS JOIN (SELECT unnest([{", ".join(str(a) for a in _TEMP_ALPHAS_CENTI)}]::BIGINT[]) AS alpha_centi)
)
SELECT source, alpha_centi, n_tokens,
       cast(floor(1e6 * cast(pw_micro AS double)
                  / cast(sum(pw_micro) OVER (PARTITION BY alpha_centi) AS double)
                  + 0.5) AS bigint) AS weight_micro
FROM pw
ORDER BY alpha_centi, source
"""


# --------------------------------------------------------------------------
# Token-budget apportionment, largest-remainder (X8 [EXT])
# --------------------------------------------------------------------------

_BUDGET_TOKENS = 1_000_000


def q_token_budget_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X8 integer token-budget apportionment (Hamilton /
    largest-remainder): split a {b}-token budget across sources
    proportionally to their token mass with EXACT integer arithmetic —
    floor quotas from bigint division, then the leftover seats go to
    the largest remainders (source-name tiebreak). Quotas sum to the
    budget by construction, every step is integer, and the whole thing
    is two grouped aggregates plus a window over the ~20-row source
    frame. This is the allocator that turns mixing WEIGHTS into actual
    per-source token QUOTAS for a training run."""
    d = _t(spark, sf_dir, "documents")
    # feeds the total, the quota frame, and the winner join
    tokc = barrier(
        d.select("source", F.expr(f"size({_TOK})").cast("bigint").alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").cast("bigint").alias("n_tokens"))
    )
    tot = tokc.agg(F.sum("n_tokens").cast("bigint").alias("w_total"))
    quo = barrier(tokc.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.expr(f"({_BUDGET_TOKENS} * n_tokens) div w_total").cast("bigint").alias("q"),
        F.expr(f"({_BUDGET_TOKENS} * n_tokens) % w_total").cast("bigint").alias("rem"),
    ))
    # deficit seats: one scalar (< n_sources by construction); the winners
    # then come from a TakeOrderedAndProject — no global window anywhere
    deficit = int(
        quo.agg((F.lit(_BUDGET_TOKENS) - F.sum("q")).cast("bigint").alias("d"))
        .collect()[0]["d"]
    )
    winners = (
        quo.orderBy(F.desc("rem"), F.asc("source"))
        .limit(deficit)
        .select("source", F.lit(1).cast("bigint").alias("extra"))
    )
    return (
        quo.join(winners, "source", "left")
        .select(
            "source",
            "n_tokens",
            (F.col("q") + F.coalesce(F.col("extra"), F.lit(0)))
            .cast("bigint")
            .alias("quota_tokens"),
        )
        .orderBy("source")
    )


_ORACLE_BUDGET = f"""
WITH tokc AS (
  SELECT source, sum(cast(len({_DUCK_TOK}) AS bigint))::BIGINT AS n_tokens
  FROM documents GROUP BY 1
),
quo AS (
  SELECT source, n_tokens,
         ({_BUDGET_TOKENS} * n_tokens) // (SELECT sum(n_tokens) FROM tokc) AS q,
         ({_BUDGET_TOKENS} * n_tokens) % (SELECT sum(n_tokens) FROM tokc) AS rem
  FROM tokc
),
rk AS (
  SELECT source, n_tokens, q, rem,
         row_number() OVER (ORDER BY rem DESC, source) AS rk,
         {_BUDGET_TOKENS} - (SELECT sum(q) FROM quo) AS deficit
  FROM quo
)
SELECT source, n_tokens,
       (q + CASE WHEN rk <= deficit THEN 1 ELSE 0 END)::BIGINT AS quota_tokens
FROM rk ORDER BY source
"""


# --------------------------------------------------------------------------
# Softmax domain reweighting by excess loss (X8 [EXT])
# --------------------------------------------------------------------------

_DSR_ETA_T = 0.5  # eta * T for the collapsed static-loss EG update


def q_domain_softmax_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X8 softmax domain reweighting — the DoReMi-family
    exponentiated-gradient update on per-domain excess loss, in the
    static-loss closed form (with a fixed loss signal, T multiplicative
    updates collapse to one softmax over eta*T*excess; the iterative
    variant with a re-evaluated proxy loss needs a model in the loop and
    is out of scope by design). The excess-loss proxy is each source's
    mean tokens-per-doc relative to the corpus mean, an exact rational
    (Ts*D)/(Ds*T) - 1 of grouped bigints. z = eta*T*excess is snapped
    micro, exp(z) is snapped micro (identical text both engines), and
    the final normalized weight is one correctly-rounded division —
    up-weights token-dense (information-dense proxy) domains."""
    d = _t(spark, sf_dir, "documents")
    s = d.select(
        "source", F.expr(f"size({_TOK})").cast("bigint").alias("nt")
    ).groupBy("source").agg(
        F.sum("nt").cast("bigint").alias("ts"),
        F.count(F.lit(1)).cast("bigint").alias("ds"),
    )
    tot = s.agg(
        F.sum("ts").cast("bigint").alias("t_all"),
        F.sum("ds").cast("bigint").alias("d_all"),
    )
    z = (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "ts",
            "ds",
            F.expr(
                f"cast(floor(1e6 * ({_DSR_ETA_T!r} * (cast(ts as double) * cast(d_all as double)"
                " / (cast(ds as double) * cast(t_all as double)) - 1.0)) + 0.5) as bigint)"
            ).alias("z_micro"),
        )
        .select(
            "source",
            "ts",
            "ds",
            "z_micro",
            F.expr(
                "cast(floor(1e6 * exp(cast(z_micro as double) / 1e6) + 0.5) as bigint)"
            ).alias("e_micro"),
        )
    )
    z = barrier(z)
    esum = z.agg(F.sum("e_micro").cast("bigint").alias("e_sum"))
    return (
        z.crossJoin(F.broadcast(esum))
        .select(
            "source",
            F.col("ts").alias("n_tokens"),
            F.col("ds").alias("n_docs"),
            "z_micro",
            F.floor(
                F.lit(1e6) * F.col("e_micro").cast("double")
                / F.col("e_sum").cast("double")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("weight_micro"),
        )
        .orderBy("source")
    )


_ORACLE_DSR = f"""
WITH s AS (
  SELECT source, sum(cast(len({_DUCK_TOK}) AS bigint))::BIGINT AS ts,
         cast(count(*) AS bigint) AS ds
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(ts)::BIGINT AS t_all, sum(ds)::BIGINT AS d_all FROM s),
z AS (
  SELECT source, ts, ds,
         cast(floor(1e6 * ({_DSR_ETA_T!r} * (cast(ts as double) * cast(d_all as double)
              / (cast(ds as double) * cast(t_all as double)) - 1.0)) + 0.5) as bigint)
           AS z_micro
  FROM s CROSS JOIN tot
),
e AS (
  SELECT source, ts, ds, z_micro,
         cast(floor(1e6 * exp(cast(z_micro as double) / 1e6) + 0.5) as bigint)
           AS e_micro
  FROM z
)
SELECT source, ts AS n_tokens, ds AS n_docs, z_micro,
       cast(floor(1e6 * cast(e_micro AS double)
                  / cast((SELECT sum(e_micro) FROM e) AS double) + 0.5) AS bigint)
         AS weight_micro
FROM e ORDER BY source
"""


# --------------------------------------------------------------------------
# Weight-of-evidence / information-value binning (X7 [EXT])
# --------------------------------------------------------------------------

_WOE_BINS = 10
_WOE_POS = "purchase"


def q_woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 weight-of-evidence / information-value binning — the
    classic scorecard feature-prep statistic: per value-decile bin,
    WoE = ln(smoothed pos-rate / smoothed neg-rate) and the IV
    contribution (p_b - q_b) * WoE, whose sum ranks the feature's
    predictive power. Outcome = event_type '{p}'. Laplace 0.5-smoothing
    keeps empty bins defined; the smoothed rate ratio is an exact
    half-integer rational folded to double, the single ln is snapped
    micro (identical text both engines), and the IV term multiplies the
    SNAPPED WoE so both engines multiply identical operands. All counts
    come from one grouped pass over the fixed 10-bin grid."""
    e = _t(spark, sf_dir, "events")
    binned = e.select(
        F.least(
            F.lit(_WOE_BINS - 1),
            F.greatest(F.lit(0), F.floor(F.col("value") / F.lit(10.0))),
        )
        .cast("bigint")
        .alias("b"),
        F.when(F.col("event_type") == _WOE_POS, 1).otherwise(0).alias("y"),
    )
    cnt = binned.groupBy("b").agg(
        F.sum("y").cast("bigint").alias("pos"),
        F.sum(F.lit(1) - F.col("y")).cast("bigint").alias("neg"),
    )
    grid = (
        spark.range(_WOE_BINS)
        .select(F.col("id").cast("bigint").alias("b"))
        .join(cnt, "b", "left")
        .select(
            "b",
            F.coalesce("pos", F.lit(0)).cast("bigint").alias("pos"),
            F.coalesce("neg", F.lit(0)).cast("bigint").alias("neg"),
        )
    )
    grid = barrier(grid)
    tot = grid.agg(
        F.sum("pos").cast("bigint").alias("pos_all"),
        F.sum("neg").cast("bigint").alias("neg_all"),
    )
    out = (
        grid.crossJoin(F.broadcast(tot))
        .select(
            "b",
            "pos",
            "neg",
            F.expr(
                f"cast(floor(1e6 * ln(((cast(pos as double) + 0.5) * (cast(neg_all as double) + {0.5 * _WOE_BINS!r}))"
                f" / ((cast(neg as double) + 0.5) * (cast(pos_all as double) + {0.5 * _WOE_BINS!r})))"
                " + 0.5) as bigint)"
            ).alias("woe_micro"),
            F.expr(
                f"(cast(pos as double) + 0.5) / (cast(pos_all as double) + {0.5 * _WOE_BINS!r})"
                f" - (cast(neg as double) + 0.5) / (cast(neg_all as double) + {0.5 * _WOE_BINS!r})"
            ).alias("dp"),
        )
        .select(
            "b",
            "pos",
            "neg",
            "woe_micro",
            F.expr(
                "cast(floor(1e9 * dp * (cast(woe_micro as double) / 1e6) + 0.5) as bigint)"
            ).alias("iv_part_nano"),
        )
    )
    return out.orderBy("b")


_ORACLE_WOE = f"""
WITH binned AS (
  SELECT least({_WOE_BINS - 1}, greatest(0, cast(floor(value / 10.0) AS bigint)))
           AS b,
         CASE WHEN event_type = '{_WOE_POS}' THEN 1 ELSE 0 END AS y
  FROM events
),
cnt AS (
  SELECT b, sum(y)::BIGINT AS pos, sum(1 - y)::BIGINT AS neg
  FROM binned GROUP BY 1
),
grid AS (
  SELECT s.b, coalesce(cnt.pos, 0)::BIGINT AS pos, coalesce(cnt.neg, 0)::BIGINT AS neg
  FROM (SELECT unnest(range({_WOE_BINS})) AS b) s LEFT JOIN cnt USING (b)
),
tot AS (SELECT sum(pos)::BIGINT AS pos_all, sum(neg)::BIGINT AS neg_all FROM grid),
w AS (
  SELECT b, pos, neg,
         cast(floor(1e6 * ln(((cast(pos as double) + 0.5) * (cast(neg_all as double) + {0.5 * _WOE_BINS!r}))
              / ((cast(neg as double) + 0.5) * (cast(pos_all as double) + {0.5 * _WOE_BINS!r})))
              + 0.5) as bigint) AS woe_micro,
         (cast(pos as double) + 0.5) / (cast(pos_all as double) + {0.5 * _WOE_BINS!r})
           - (cast(neg as double) + 0.5) / (cast(neg_all as double) + {0.5 * _WOE_BINS!r}) AS dp
  FROM grid CROSS JOIN tot
)
SELECT b, pos, neg, woe_micro,
       cast(floor(1e9 * dp * (cast(woe_micro as double) / 1e6) + 0.5) as bigint)
         AS iv_part_nano
FROM w ORDER BY b
"""


REGISTRY_EXT97: dict[str, QuerySpec] = {
    "temperature_sampling_weights": QuerySpec(
        q_temperature_sampling_weights, _ORACLE_TEMP, "X8 [EXT] temperature mixing weights"
    ),
    "token_budget_apportion": QuerySpec(
        q_token_budget_apportion, _ORACLE_BUDGET, "X8 [EXT] largest-remainder quotas"
    ),
    "domain_softmax_reweight": QuerySpec(
        q_domain_softmax_reweight, _ORACLE_DSR, "X8 [EXT] softmax excess-loss reweight"
    ),
    "woe_iv_binning": QuerySpec(
        q_woe_iv_binning, _ORACLE_WOE, "X7 [EXT] weight-of-evidence / IV"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_token_budget_apportion.__doc__ = q_token_budget_apportion.__doc__.format(b=_BUDGET_TOKENS)  # noqa: E501
q_woe_iv_binning.__doc__ = q_woe_iv_binning.__doc__.format(p=_WOE_POS)  # noqa: E501
