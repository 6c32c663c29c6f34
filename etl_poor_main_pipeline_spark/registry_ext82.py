"""Operator registry, wave 83: isotonic calibration (closed-form PAVA),
hash-seeded permutation test, and winnowing document fingerprints.

Scale stances:
- Isotonic calibration: the facts reduce to {B} probability bins (one
  aggregate); the isotonic fit uses the MINIMAX CLOSED FORM
  fitted[i] = max_{{k<=i}} min_{{j>=i}} avg(y[k..j]) over interval averages
  of the bounded bin frame. Every frame after the first aggregate is built
  from literal spark.range({B}) spines, so interval enumeration is
  O(B^2)=constant and BOTH plan guards (global window, nested-loop join)
  pass mechanically — no sanctioned-list entry needed.
- Permutation test: {P} label permutations are evaluated in ONE pass — each
  event explodes onto a literal permutation spine, the assignment is a
  pure md5 hash of (user, perm), and the per-(perm, arm) sums are exact
  micro-ints. Cluster-randomized (user-level) assignment, so the test
  respects within-user correlation.
- Winnowing: the MOSS fingerprint scheme — per-doc k-gram rolling hashes,
  window-min selection — is pure array-lambda expression work, linear per
  document, shuffle-free; the cross-doc candidate pairing (not included
  here) joins EQUI on fingerprint, the blocked shape the dedup tier
  already uses.

Reference parity: none; [EXT] X2/X6/X7 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.dedup import spread
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# Isotonic calibration via the minimax closed form (X7 [EXT])
# --------------------------------------------------------------------------

_ISO_BINS = 20  # value/25 bins over [0, 500)


def q_isotonic_calibration_pava(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 isotonic calibration of the purchase rate against the
    value score, {B} equal-width bins: the PAVA fit via the minimax
    closed form fitted[i] = max_(k<=i) min_(j>=i) avg(y[k..j]) — no
    sequential pool-adjacent loop, every candidate interval average
    enumerated over literal range spines (O(B^2) cells, constant at any
    corpus size). Interval averages are exact-int ratios; the max-min
    compares identical correctly-rounded doubles in both engines, and
    the fitted curve is non-decreasing by construction (pytest asserts
    it)."""
    e = _t(spark, sf_dir, "events").selectExpr(
        f"least(cast(floor(value / 25.0) as bigint), {_ISO_BINS - 1}) as pbin",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END as y",
    )
    binned = e.groupBy("pbin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
    )
    bins = barrier(  # B rows; feeds the interval spine twice
        spark.range(_ISO_BINS)
        .selectExpr("cast(id as bigint) as pbin")
        .join(binned, "pbin", "left")
        .selectExpr(
            "pbin",
            "coalesce(n, cast(0 as bigint)) as n",
            "coalesce(s, cast(0 as bigint)) as s",
        )
    )
    k = spark.range(_ISO_BINS).selectExpr("cast(id as bigint) as k")
    j = spark.range(_ISO_BINS).selectExpr("cast(id as bigint) as j")
    intervals = (
        k.join(j, F.col("k") <= F.col("j"))
        .join(
            F.broadcast(bins),
            (F.col("pbin") >= F.col("k")) & (F.col("pbin") <= F.col("j")),
        )
        .groupBy("k", "j")
        .agg(
            F.sum("n").cast("bigint").alias("n_int"),
            F.sum("s").cast("bigint").alias("s_int"),
        )
        .where(F.col("n_int") > 0)
        .selectExpr(
            "k", "j", "cast(s_int as double) / cast(n_int as double) as avg_int"
        )
    )
    i = spark.range(_ISO_BINS).selectExpr("cast(id as bigint) as i")
    inner_min = (
        i.join(
            F.broadcast(intervals),
            (F.col("k") <= F.col("i")) & (F.col("j") >= F.col("i")),
        )
        .groupBy("i", "k")
        .agg(F.min("avg_int").alias("min_avg"))
    )
    fitted = inner_min.groupBy("i").agg(F.max("min_avg").alias("fit"))
    return (
        bins.join(F.broadcast(fitted), bins.pbin == fitted.i)
        .where(F.col("n") > 0)
        .selectExpr(
            "pbin",
            "n",
            "s",
            "cast(floor(1e6 * cast(s as double) / cast(n as double) + 0.5)"
            " as bigint) as raw_rate_micro",
            "cast(floor(1e6 * fit + 0.5) as bigint) as fitted_rate_micro",
        )
        .orderBy("pbin")
    )


_ORACLE_ISOTONIC = f"""
WITH e AS (
  SELECT least(cast(floor(value / 25.0) AS bigint), {_ISO_BINS - 1}) AS pbin,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
binned AS (
  SELECT pbin, count(*)::BIGINT AS n, sum(y)::BIGINT AS s FROM e GROUP BY 1
),
bins AS (
  SELECT r.range::BIGINT AS pbin, coalesce(b.n, 0)::BIGINT AS n,
         coalesce(b.s, 0)::BIGINT AS s
  FROM range(0, {_ISO_BINS}) r LEFT JOIN binned b ON b.pbin = r.range
),
intervals AS (
  SELECT k.range::BIGINT AS k, j.range::BIGINT AS j,
         sum(b.n)::BIGINT AS n_int, sum(b.s)::BIGINT AS s_int
  FROM range(0, {_ISO_BINS}) k
  JOIN range(0, {_ISO_BINS}) j ON k.range <= j.range
  JOIN bins b ON b.pbin >= k.range AND b.pbin <= j.range
  GROUP BY 1, 2
),
iv AS (
  SELECT k, j, cast(s_int AS double) / cast(n_int AS double) AS avg_int
  FROM intervals WHERE n_int > 0
),
inner_min AS (
  SELECT i.range::BIGINT AS i, iv.k, min(iv.avg_int) AS min_avg
  FROM range(0, {_ISO_BINS}) i
  JOIN iv ON iv.k <= i.range AND iv.j >= i.range
  GROUP BY 1, 2
),
fitted AS (SELECT i, max(min_avg) AS fit FROM inner_min GROUP BY i)
SELECT b.pbin, b.n, b.s,
       cast(floor(1e6 * cast(b.s AS double) / cast(b.n AS double) + 0.5)
            AS bigint) AS raw_rate_micro,
       cast(floor(1e6 * f.fit + 0.5) AS bigint) AS fitted_rate_micro
FROM bins b JOIN fitted f ON b.pbin = f.i
WHERE b.n > 0
ORDER BY b.pbin
"""


# --------------------------------------------------------------------------
# Hash-seeded permutation test (X7 [EXT])
# --------------------------------------------------------------------------

_PERM_N = 19  # permutations; perm 0 is the observed assignment


def q_permutation_test_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 cluster-randomized permutation test: treatment is the
    deterministic md5 half of user_id (perm 0 = observed); the null
    distribution re-assigns USERS (not events) by md5(user:perm) for
    {P} permutations, all evaluated in ONE pass (events explode onto a
    literal permutation spine; per-(perm, arm) value sums are exact
    micro-ints). Two-sided p = (1 + #(|diff_perm| >= |diff_obs|)) /
    ({P} + 1) — the add-one estimator. RNG-free, reproducible on any
    cluster."""
    perms = ", ".join(str(p) for p in range(_PERM_N + 1))
    # P+1 md5 evaluations per event; spread the one-split scan so the
    # explode+hash map stage uses every core (no-op at scale)
    e = spread(_t(spark, sf_dir, "events")).selectExpr(
        "user_id",
        "cast(floor(1e6 * value + 0.5) as bigint) as vm",
    )
    exploded = e.selectExpr("*", f"explode(array({perms})) as perm").selectExpr(
        "perm",
        "vm",
        "CASE WHEN substring(md5(concat(cast(user_id as string), ':',"
        " cast(perm as string))), 1, 1) < '8' THEN 1 ELSE 0 END as arm",
    )
    per_perm = barrier(  # P+1 rows; observed + null both read it
        exploded.groupBy("perm")
        .agg(
            F.sum(F.when(F.col("arm") == 1, F.col("vm")).otherwise(0))
            .cast("bigint")
            .alias("s1"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
            F.sum(F.when(F.col("arm") == 0, F.col("vm")).otherwise(0))
            .cast("bigint")
            .alias("s0"),
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
        )
        .selectExpr(
            "perm",
            "cast(floor(cast(s1 as double) / cast(n1 as double)"
            " - cast(s0 as double) / cast(n0 as double) + 0.5) as bigint) as diff_micro",
        )
    )
    # limit(1) is a no-op (perm 0 is unique) that keeps the 1-row bound
    # visible to the nested-loop plan guard through the lazy checkpoint
    obs = (
        per_perm.where(F.col("perm") == 0)
        .limit(1)
        .selectExpr("diff_micro as diff_obs_micro")
    )
    return (
        per_perm.where(F.col("perm") > 0)
        .crossJoin(F.broadcast(obs))
        .groupBy("diff_obs_micro")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_perms"),
            F.sum(
                F.when(F.abs(F.col("diff_micro")) >= F.abs(F.col("diff_obs_micro")), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_extreme"),
        )
        .selectExpr(
            "diff_obs_micro",
            "n_perms",
            "n_extreme",
            "cast(floor(1e6 * cast(1 + n_extreme as double)"
            " / cast(n_perms + 1 as double) + 0.5) as bigint) as p_value_micro",
        )
    )


_ORACLE_PERM = f"""
WITH e AS (
  SELECT user_id, cast(floor(1e6 * value + 0.5) AS bigint) AS vm FROM events
),
exploded AS (
  SELECT p.range AS perm, e.vm,
         CASE WHEN substr(md5(cast(e.user_id AS varchar) || ':'
                           || cast(p.range AS varchar)), 1, 1) < '8'
              THEN 1 ELSE 0 END AS arm
  FROM e CROSS JOIN range(0, {_PERM_N + 1}) p
),
per_perm AS (
  SELECT perm,
         cast(floor(cast(sum(CASE WHEN arm = 1 THEN vm ELSE 0 END) AS double)
                    / cast(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS double)
                    - cast(sum(CASE WHEN arm = 0 THEN vm ELSE 0 END) AS double)
                    / cast(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS double)
                    + 0.5) AS bigint) AS diff_micro
  FROM exploded GROUP BY perm
),
obs AS (SELECT diff_micro AS diff_obs_micro FROM per_perm WHERE perm = 0)
SELECT o.diff_obs_micro,
       count(*)::BIGINT AS n_perms,
       sum(CASE WHEN abs(p.diff_micro) >= abs(o.diff_obs_micro)
                THEN 1 ELSE 0 END)::BIGINT AS n_extreme,
       cast(floor(1e6 * cast(1 + sum(CASE WHEN abs(p.diff_micro)
                                          >= abs(o.diff_obs_micro)
                                     THEN 1 ELSE 0 END) AS double)
                  / cast(count(*) + 1 AS double) + 0.5) AS bigint)
         AS p_value_micro
FROM per_perm p CROSS JOIN obs o
WHERE p.perm > 0
GROUP BY o.diff_obs_micro
"""


# --------------------------------------------------------------------------
# Winnowing fingerprints (X2/X6 [EXT])
# --------------------------------------------------------------------------

_WIN_K = 3  # tokens per k-gram
_WIN_W = 4  # winnowing window (k-grams per window)

_WIN_TOKS = "filter(split(lower(text), '\\\\s+'), t -> t <> '')"


def win_minima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_grams, j, fp): the minimum k-gram hash of every winnowing
    window j per document — the EXPLODED formulation of the MOSS scheme.

    The array-lambda formulation (transform + md5 inside a higher-order
    function) evaluates interpreted, ~200us per gram (10.7s at sf0.1);
    here the gram hash is a TOP-LEVEL projection (whole-stage codegen) on
    an exploded gram-index spine, each gram re-explodes onto the <= {w}
    windows containing it, and the window minimum is one hash aggregate —
    no arrays anywhere, every expression codegen'd, ~6x faster for
    identical values. Window j covers grams j..j+{w1}; gram i belongs to
    windows max(1, i-{w1})..min(i, n_grams-{w1})."""
    k, w = _WIN_K, _WIN_W
    toks = (
        spread(_t(spark, sf_dir, "documents"))
        .selectExpr("doc_id", f"{_WIN_TOKS} as tk")
        .selectExpr("doc_id", "tk", f"size(tk) - {k - 1} as n_grams")
        .where(F.col("n_grams") >= w)
    )
    gram = "concat_ws(' ', " + ", ".join(
        f"element_at(tk, i + {d})" for d in range(k)
    ) + ")"
    grams = toks.selectExpr(
        "doc_id", "n_grams", "explode(sequence(1, n_grams)) as i", "tk"
    ).selectExpr(
        "doc_id",
        "n_grams",
        "i",
        f"cast(conv(substring(md5({gram}), 1, 13), 16, 10) as bigint) as h",
    )
    return (
        grams.selectExpr(
            "doc_id",
            "n_grams",
            "h",
            f"explode(sequence(greatest(1, i - {w - 1}),"
            f" least(i, n_grams - {w - 1}))) as j",
        )
        .groupBy("doc_id", "n_grams", "j")
        .agg(F.min("h").alias("fp"))
    )


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X2/X6 winnowing document fingerprints (the MOSS scheme):
    per doc, {k}-gram token hashes (md5-derived 52-bit ints), then the
    minimum hash of every {w}-gram window — guarantees any shared
    substring of >= {k}+{w}-1 tokens yields a shared fingerprint, at a
    ~2/({w}+1) retention rate. Pure array-lambda expression work,
    linear per doc, shuffle-free; downstream candidate pairing joins
    EQUI on fingerprint (the blocked dedup shape). Reports per doc the
    gram/fingerprint counts and the fingerprint-set min/max as the
    set's value signature."""
    return (
        win_minima(spark, sf_dir)
        .groupBy("doc_id", "n_grams")
        .agg(
            F.countDistinct("fp").cast("bigint").alias("n_fingerprints"),
            F.min("fp").alias("fp_min"),
            F.max("fp").alias("fp_max"),
        )
        .selectExpr(
            "doc_id",
            "cast(n_grams as bigint) as n_grams",
            "n_fingerprints",
            "fp_min",
            "fp_max",
        )
        .orderBy("doc_id")
    )


def _oracle_winnowing() -> str:
    k, w = _WIN_K, _WIN_W
    toks = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"
    gram_concat = " || ' ' || ".join(f"tk[i + {d}]" for d in range(k))
    return f"""
WITH t AS (
  SELECT doc_id, {toks} AS tk FROM documents
),
g AS (
  SELECT doc_id,
         list_transform(range(1, len(tk) - {k - 1} + 1), i ->
           ('0x' || substr(md5({gram_concat}), 1, 13))::BIGINT) AS gh
  FROM t
),
f AS (
  SELECT doc_id, len(gh)::BIGINT AS n_grams,
         list_distinct(list_transform(range(1, len(gh) - {w - 1} + 1), i ->
           list_min(list_slice(gh, i, i + {w - 1})))) AS fp
  FROM g WHERE len(gh) >= {w}
)
SELECT doc_id, n_grams, len(fp)::BIGINT AS n_fingerprints,
       list_min(fp) AS fp_min, list_max(fp) AS fp_max
FROM f ORDER BY doc_id
"""


REGISTRY_EXT82: dict[str, QuerySpec] = {
    "isotonic_calibration_pava": QuerySpec(
        q_isotonic_calibration_pava, _ORACLE_ISOTONIC, "X7 [EXT] minimax isotonic fit"
    ),
    "permutation_test_hashed": QuerySpec(
        q_permutation_test_hashed, _ORACLE_PERM, "X7 [EXT] hash-seeded permutation test"
    ),
    "winnowing_fingerprints": QuerySpec(
        q_winnowing_fingerprints, _oracle_winnowing(), "X2/X6 [EXT] MOSS winnowing"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_isotonic_calibration_pava.__doc__ = q_isotonic_calibration_pava.__doc__.format(B=_ISO_BINS)  # noqa: E501
q_permutation_test_hashed.__doc__ = q_permutation_test_hashed.__doc__.format(P=_PERM_N)  # noqa: E501
win_minima.__doc__ = win_minima.__doc__.format(w=_WIN_W, w1=_WIN_W - 1)  # noqa: E501
q_winnowing_fingerprints.__doc__ = q_winnowing_fingerprints.__doc__.format(k=_WIN_K, w=_WIN_W)  # noqa: E501
