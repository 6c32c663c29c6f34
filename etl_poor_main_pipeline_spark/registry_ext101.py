"""Operator registry, wave 102: submodular data selection, ranking
agreement, paired-classifier testing, and phonetic entity-resolution
blocking — greedy max-coverage source picking, rank-biased overlap,
McNemar's test, and simplified-Soundex key blocking.

Scale stances:
- greedy_max_coverage: the classic facility-location curation greedy
  (pick the source adding the most unseen vocabulary, K rounds). The
  universe collapses to the DISTINCT (source, token) frame first; each
  round is one anti-join + one grouped count-distinct + a LIMIT 1
  TakeOrdered — K corpus-free scans of the reduced frame, zero
  driver-side collects (the kmeanspp chained-limit idiom).
- rank_biased_overlap: both top-d lists materialize via orderBy+LIMIT
  (TakeOrderedAndProject — never a global row_number over the corpus);
  ranks are row_numbers over the d-row frames, and the RBO weight sum
  is a per-item explode over a LITERAL k-spine (a projection, not a
  join), every (1-p)p^(k-1)/k term snapped micro before the integer sum.
- mcnemar_paired_test: one map-side-combinable aggregate; the
  continuity-corrected statistic folds from two bigint discordance
  counters.
- phonetic_block_keys: the key is a pure expression chain
  (translate -> run-collapse -> zero-strip) over the DISTINCT token
  frame — vocabulary-sized, shuffles once on the key; the same
  expression text runs on both engines, so parity does not depend on
  any engine's soundex() builtin.

Reference parity: none; [EXT] X2/X7/X8 tier per BASELINE.json.
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
# Greedy max-coverage source selection (X8 [EXT])
# --------------------------------------------------------------------------

_COV_K = 4  # greedy rounds


def q_greedy_max_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X8 submodular data curation: greedily pick {k} sources
    maximizing covered vocabulary — round r adds the source whose token
    set contributes the most UNSEEN tokens (gain desc, source asc
    tiebreak), the (1 - 1/e)-approximate maximizer of coverage that
    budgeted corpus selection (which sources do we license/crawl next?)
    runs on. Sources already picked stay in the candidate scan with
    gain 0 via a null-skipping count-distinct, so ties and exhausted
    rounds stay deterministic. Output: (step, source, gain,
    covered_total) with covered_total the running sum of gains — the
    greedy invariant makes that exactly the covered-vocabulary
    size."""
    d = _t(spark, sf_dir, "documents")
    st = barrier(
        d.select("source", F.explode(F.expr(_TOK)).alias("tok"))
        .distinct()
    )
    # Each round's winner is COLLECTED (1 row, bounded by LIMIT 1 — the
    # PQ-codebook idiom) so round r+1 filters on a LITERAL source list
    # instead of chaining round r's lazy plan: the previous in-plan
    # formulation re-expanded every prior round's join work inside each
    # union branch (93 shuffles at K=4, the registry's heaviest stage
    # count, VERDICT r9 #4); this runs K independent jobs over the one
    # checkpointed (source, tok) frame.
    first = (
        st.groupBy("source")
        .agg(F.countDistinct("tok").cast("bigint").alias("gain"))
        .orderBy(F.desc("gain"), F.asc("source"))
        .limit(1)
        .collect()
    )
    picked: list[tuple[int, str, int]] = [
        (1, first[0]["source"], first[0]["gain"])
    ] if first else []
    for step in range(2, _COV_K + 1):
        if not picked:
            break
        srcs = [s for _, s, _ in picked]
        cov = (
            st.filter(F.col("source").isin(srcs))
            .select("tok")
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        nxt = (
            st.filter(~F.col("source").isin(srcs))
            .join(cov, "tok", "left")
            .groupBy("source")
            .agg(
                F.countDistinct(F.when(F.col("hit").isNull(), F.col("tok")))
                .cast("bigint")
                .alias("gain")
            )
            .orderBy(F.desc("gain"), F.asc("source"))
            .limit(1)
            .collect()
        )
        if not nxt:  # sources exhausted before K rounds
            break
        picked.append((step, nxt[0]["source"], nxt[0]["gain"]))
    total = 0
    rows = []
    for step, src, gain in picked:
        total += gain
        rows.append((step, src, gain, total))
    return spark.createDataFrame(
        rows, "step bigint, source string, gain bigint, covered_total bigint"
    ).orderBy("step")


def _cov_oracle() -> str:
    ctes = [
        f"st AS (SELECT DISTINCT source, tok FROM "
        f"(SELECT source, {_DUCK_TOK} AS ts FROM documents), unnest(ts) AS u(tok))",
        "s1 AS (SELECT 1::BIGINT AS step, source, "
        "cast(count(DISTINCT tok) AS bigint) AS gain "
        "FROM st GROUP BY source ORDER BY gain DESC, source LIMIT 1)",
    ]
    prev_sel = "SELECT source FROM s1"
    prev_union = "SELECT step, source, gain FROM s1"
    for step in range(2, _COV_K + 1):
        ctes.append(
            f"cov{step} AS (SELECT DISTINCT tok FROM st "
            f"WHERE source IN ({prev_sel}))"
        )
        ctes.append(
            f"s{step} AS (SELECT {step}::BIGINT AS step, source, "
            f"cast(count(DISTINCT CASE WHEN tok NOT IN (SELECT tok FROM cov{step}) "
            f"THEN tok END) AS bigint) AS gain "
            f"FROM st WHERE source NOT IN ({prev_sel}) "
            f"GROUP BY source ORDER BY gain DESC, source LIMIT 1)"
        )
        prev_sel += f" UNION ALL SELECT source FROM s{step}"
        prev_union += f" UNION ALL SELECT step, source, gain FROM s{step}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f",\nsel AS ({prev_union})\n"
        "SELECT step, source, gain, "
        "sum(gain) OVER (ORDER BY step)::BIGINT AS covered_total "
        "FROM sel ORDER BY step"
    )


_ORACLE_COV = _cov_oracle()


# --------------------------------------------------------------------------
# Rank-biased overlap of two rankings (X7 [EXT])
# --------------------------------------------------------------------------

_RBO_D = 50
_RBO_P = 0.9


def q_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 rank-biased overlap (Webber et al.) between two document
    rankings — by n_chars and by token count (both doc_id-tiebroken) —
    at depth {d} with persistence p = {p}: RBO_min = sum over k of
    (1-p) p^(k-1) |A_k ∩ B_k| / k, the top-weighted agreement measure
    retrieval teams use where Kendall's tau over-weights the tail. An
    item with ranks (ra, rb) joins every prefix k >= max(ra, rb), so
    its total weight is a k-spine sum — implemented as a literal
    explode over the <= {d}-row joined frame with every term snapped
    micro. Output one row: items in both lists, overlap at depth d,
    and rbo_micro."""
    d = _t(spark, sf_dir, "documents")
    top_a = d.orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(_RBO_D).select("doc_id")
    top_b = (
        d.select("doc_id", F.expr(f"size({_TOK})").alias("ntok"))
        .orderBy(F.desc("ntok"), F.asc("doc_id"))
        .limit(_RBO_D)
        .select("doc_id")
    )
    # ranks recomputed deterministically INSIDE the bounded frames (the
    # corpus-level TakeOrdered cut, then a d-row window — never a global
    # corpus sort)
    ra = (
        _t(spark, sf_dir, "documents")
        .join(top_a, "doc_id", "leftsemi")
        .select("doc_id", "n_chars")
        .withColumn(
            "ra", F.row_number().over(Window.orderBy(F.desc("n_chars"), F.asc("doc_id")))
        )
        .select("doc_id", "ra")
    )
    rb = (
        _t(spark, sf_dir, "documents")
        .join(top_b, "doc_id", "leftsemi")
        .select("doc_id", F.expr(f"size({_TOK})").alias("ntok"))
        .withColumn(
            "rb", F.row_number().over(Window.orderBy(F.desc("ntok"), F.asc("doc_id")))
        )
        .select("doc_id", "rb")
    )
    both = ra.join(rb, "doc_id").select(
        F.greatest("ra", "rb").cast("bigint").alias("m")
    )
    terms = (
        both.select(
            "m",
            F.explode(
                F.array(*[F.lit(k).cast("bigint") for k in range(1, _RBO_D + 1)])
            ).alias("k"),
        )
        .filter(F.col("k") >= F.col("m"))
        .select(
            F.expr(
                "cast(floor(1e6 * (1.0 - {p}) * pow({p}, cast(k - 1 as double))"
                " / cast(k as double) + 0.5) as bigint)".format(p=_RBO_P)
            ).alias("t")
        )
    )
    agg = terms.agg(F.sum("t").cast("bigint").alias("rbo_micro"))
    counts = both.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_both"),
        F.sum(F.when(F.col("m") <= _RBO_D, 1).otherwise(0))
        .cast("bigint")
        .alias("overlap_at_d"),
    )
    return counts.crossJoin(agg).select(
        "n_both", "overlap_at_d", F.coalesce("rbo_micro", F.lit(0)).alias("rbo_micro")
    )


_ORACLE_RBO = f"""
WITH ra AS (
  SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS ra
  FROM documents ORDER BY n_chars DESC, doc_id LIMIT {_RBO_D}
),
rb AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY len({_DUCK_TOK}) DESC, doc_id) AS rb
  FROM documents ORDER BY len({_DUCK_TOK}) DESC, doc_id LIMIT {_RBO_D}
),
both_ AS (
  SELECT greatest(ra.ra, rb.rb)::BIGINT AS m
  FROM ra JOIN rb USING (doc_id)
),
terms AS (
  SELECT cast(floor(1e6 * (1.0 - {_RBO_P}) * pow({_RBO_P}, cast(k - 1 AS double))
              / cast(k AS double) + 0.5) AS bigint) AS t
  FROM both_, (SELECT unnest(range(1, {_RBO_D} + 1)) AS k) ks
  WHERE k >= m
),
agg AS (SELECT sum(t)::BIGINT AS rbo_micro FROM terms),
counts AS (
  SELECT cast(count(*) AS bigint) AS n_both,
         sum(CASE WHEN m <= {_RBO_D} THEN 1 ELSE 0 END)::BIGINT AS overlap_at_d
  FROM both_
)
SELECT n_both, overlap_at_d, coalesce(rbo_micro, 0) AS rbo_micro
FROM counts CROSS JOIN agg
"""


# --------------------------------------------------------------------------
# McNemar's paired classifier test (X7 [EXT])
# --------------------------------------------------------------------------

_MCN_THRESH_A = 250.0
_MCN_THRESH_B = 200.0
_MCN_POS = "purchase"


def q_mcnemar_paired_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 McNemar's test on paired predictions: do the value>={a}
    and value>={b} detectors of the '{p}' label differ, judged only on
    the DISCORDANT pairs (b = A right, B wrong; c = A wrong, B right)?
    chi2 = (|b-c|-1)^2 / (b+c) with continuity correction — the correct
    paired comparison where two-proportion z-tests (already shipped)
    wrongly assume independent samples. One map-side-combinable
    aggregate; the statistic folds from two exact bigint counters
    (0 when no discordance)."""
    e = _t(spark, sf_dir, "events")
    rows = e.select(
        F.when(F.col("event_type") == _MCN_POS, 1).otherwise(0).alias("y"),
        F.when(F.col("value") >= _MCN_THRESH_A, 1).otherwise(0).alias("pa"),
        F.when(F.col("value") >= _MCN_THRESH_B, 1).otherwise(0).alias("pb"),
    )
    agg = rows.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when((F.col("pa") == F.col("y")) & (F.col("pb") != F.col("y")), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when((F.col("pa") != F.col("y")) & (F.col("pb") == F.col("y")), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when(F.col("pa") == F.col("y"), 1).otherwise(0))
        .cast("bigint")
        .alias("acc_a"),
        F.sum(F.when(F.col("pb") == F.col("y"), 1).otherwise(0))
        .cast("bigint")
        .alias("acc_b"),
    )
    return agg.select(
        "n",
        "b",
        "c",
        "acc_a",
        "acc_b",
        F.expr(
            "case when b + c = 0 then cast(0 as bigint) else"
            " cast(floor(1e6 * pow(abs(cast(b - c as double)) - 1.0, 2)"
            " / cast(b + c as double) + 0.5) as bigint) end"
        ).alias("chi2_micro"),
    )


_ORACLE_MCN = f"""
WITH rows_ AS (
  SELECT CASE WHEN event_type = '{_MCN_POS}' THEN 1 ELSE 0 END AS y,
         CASE WHEN value >= {_MCN_THRESH_A!r} THEN 1 ELSE 0 END AS pa,
         CASE WHEN value >= {_MCN_THRESH_B!r} THEN 1 ELSE 0 END AS pb
  FROM events
),
agg AS (
  SELECT cast(count(*) AS bigint) AS n,
         sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)::BIGINT AS b,
         sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)::BIGINT AS c,
         sum(CASE WHEN pa = y THEN 1 ELSE 0 END)::BIGINT AS acc_a,
         sum(CASE WHEN pb = y THEN 1 ELSE 0 END)::BIGINT AS acc_b
  FROM rows_
)
SELECT n, b, c, acc_a, acc_b,
       CASE WHEN b + c = 0 THEN 0::BIGINT ELSE
         cast(floor(1e6 * pow(abs(cast(b - c AS double)) - 1.0, 2)
              / cast(b + c AS double) + 0.5) AS bigint) END AS chi2_micro
FROM agg
"""


# --------------------------------------------------------------------------
# Simplified-Soundex phonetic blocking (X2 [EXT])
# --------------------------------------------------------------------------


def _soundex_expr(col: str, duck: bool = False) -> str:
    """Simplified Soundex as a pure expression chain, the SAME algorithm
    on both engines (neither engine's builtin is trusted for parity):
    uppercase -> consonant-class translate -> collapse digit runs ->
    drop the first letter's own code -> strip vowels(0) -> pad to 3.
    Adjacent same-class letters collapse BEFORE the first-code drop, so
    'PF...' dedupes exactly like classic Soundex. The only per-engine
    difference is DuckDB's explicit 'g' flag — its regexp_replace is
    first-match-only by default, Spark's is always global."""
    g = ", 'g'" if duck else ""
    t = f"translate(upper({col}), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230120022455012623010202')"
    for dgt in "123456":
        t = f"regexp_replace({t}, '{dgt}+', '{dgt}'{g})"
    return (
        f"concat(substring(upper({col}), 1, 1), "
        f"substring(rpad(replace(substring({t}, 2), '0', ''), 3, '0'), 1, 3))"
    )


def q_phonetic_block_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X2 phonetic blocking for entity resolution: pool the
    distinct name strings from five surfaces (document tokens, part
    name and type words, nation and region names), key each on a
    simplified Soundex of its letters-only form, and report the blocks
    where two or more DIFFERENT names collide — exactly the candidate
    sets a record-linkage pass would compare (phonetic keys catch the
    spelling/suffix variants that first-letter blocking misses, e.g.
    the nation_<i> family folding into one block). Key construction is
    a pure expression chain over the DISTINCT name frame
    (vocabulary-sized, shuffles once on the key); pairs =
    n_names*(n_names-1)/2 budgets the downstream matcher."""
    d = _t(spark, sf_dir, "documents")
    p = _t(spark, sf_dir, "part")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    names = (
        d.select(F.explode(F.expr(_TOK)).alias("name"))
        .unionAll(
            p.select(
                F.explode(F.split(F.lower(F.col("p_name")), " ")).alias("name")
            )
        )
        .unionAll(
            p.select(
                F.explode(F.split(F.lower(F.col("p_type")), " ")).alias("name")
            )
        )
        .unionAll(n.select(F.lower(F.col("n_name")).alias("name")))
        .unionAll(r.select(F.lower(F.col("r_name")).alias("name")))
        .distinct()
        .withColumn("clean", F.regexp_replace("name", "[^a-z]", ""))
        .filter(F.col("clean") != "")
    )
    keyed = names.select("name", F.expr(_soundex_expr("clean")).alias("pkey"))
    return (
        keyed.groupBy("pkey")
        .agg(
            F.countDistinct("name").cast("bigint").alias("n_names"),
            F.min("name").alias("example_name"),
        )
        .filter(F.col("n_names") >= 2)
        .select(
            "pkey",
            "n_names",
            "example_name",
            F.expr("n_names * (n_names - 1) div 2").cast("bigint").alias("cand_pairs"),
        )
        .orderBy("pkey")
    )


_ORACLE_PHON = f"""
WITH names AS (
  SELECT DISTINCT name, regexp_replace(name, '[^a-z]', '', 'g') AS clean
  FROM (
    SELECT tok AS name
    FROM (SELECT {_DUCK_TOK} AS ts FROM documents), unnest(ts) AS u(tok)
    UNION ALL
    SELECT w FROM (SELECT string_split(lower(p_name), ' ') AS ws FROM part),
                  unnest(ws) AS v(w)
    UNION ALL
    SELECT w FROM (SELECT string_split(lower(p_type), ' ') AS ws FROM part),
                  unnest(ws) AS v(w)
    UNION ALL SELECT lower(n_name) FROM nation
    UNION ALL SELECT lower(r_name) FROM region
  )
),
keyed AS (
  SELECT name, {_soundex_expr('clean', duck=True)} AS pkey
  FROM names WHERE clean <> ''
)
SELECT pkey, cast(count(DISTINCT name) AS bigint) AS n_names,
       min(name) AS example_name,
       (count(DISTINCT name) * (count(DISTINCT name) - 1) // 2)::BIGINT
         AS cand_pairs
FROM keyed GROUP BY pkey HAVING count(DISTINCT name) >= 2 ORDER BY pkey
"""


REGISTRY_EXT101: dict[str, QuerySpec] = {
    "greedy_max_coverage": QuerySpec(
        q_greedy_max_coverage, _ORACLE_COV, "X8 [EXT] greedy max-coverage selection"
    ),
    "rank_biased_overlap": QuerySpec(
        q_rank_biased_overlap, _ORACLE_RBO, "X7 [EXT] rank-biased overlap (RBO)"
    ),
    "mcnemar_paired_test": QuerySpec(
        q_mcnemar_paired_test, _ORACLE_MCN, "X7 [EXT] McNemar paired test"
    ),
    "phonetic_block_keys": QuerySpec(
        q_phonetic_block_keys, _ORACLE_PHON, "X2 [EXT] phonetic blocking keys"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_greedy_max_coverage.__doc__ = q_greedy_max_coverage.__doc__.format(k=_COV_K)  # noqa: E501
q_rank_biased_overlap.__doc__ = q_rank_biased_overlap.__doc__.format(d=_RBO_D, p=_RBO_P)  # noqa: E501
q_mcnemar_paired_test.__doc__ = q_mcnemar_paired_test.__doc__.format(a=_MCN_THRESH_A, b=_MCN_THRESH_B, p=_MCN_POS)  # noqa: E501
