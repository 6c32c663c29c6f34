"""Round-13 optimization invariants.

Three optimizations changed operator internals this round; each gets a
direct equivalence pin so a future refactor can't silently change
results:

1. jaccard_token_sets grew a 64-bit token Bloom-mask join prune
   (bit_count(sig_a & ~sig_b) lower-bounds |A \\ B|). The prune must be
   CONSERVATIVE: the pair set must equal the brute-force Jaccard pair
   set, including pairs sitting exactly AT the threshold.
2. fellegi_sunter_linkage derives the comparator m/u counts from the
   8-row pattern table instead of a second pass over the ~9M blocked
   pairs. The derived integers must equal the direct pair-level counts.
3. rfm_segmentation ranks all three metrics in ONE Blelloch pass over a
   tagged union (within-metric rank = global rank - metric*n). The
   quintile codes must match per-metric ranks recomputed directly.
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _brute_jaccard_pairs(rows, threshold=0.8, length_window=16):
    """Reference pair set: same semantics as jaccard_token_sets."""
    out = set()
    for a, b in itertools.combinations(rows, 2):
        if a["lang"] != b["lang"]:
            continue
        if abs(a["n_chars"] - b["n_chars"]) > length_window:
            continue
        # token sets come from the OPERATOR's own tokenizer (ADVICE r13:
        # a local .lower().split() re-implementation would silently
        # diverge if tokens_expr ever changes punctuation/empty handling
        # — this pin is about the prune, not the tokenizer)
        sa = a["_tok"]
        sb = b["_tok"]
        if not sa | sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if round(j, 6) >= threshold:
            lo, hi = sorted((a["doc_id"], b["doc_id"]))
            out.add((lo, hi))
    return out


def test_bloom_mask_prune_is_conservative(spark):
    """The masked join must return EXACTLY the brute-force pair set on a
    corpus crafted to include pairs at and just below the threshold
    (4/5 = 0.8 shared-token overlap -> jaccard exactly 0.8)."""
    from etl_poor_main_pipeline_spark.operators.dedup import jaccard_token_sets

    docs = [
        # jaccard exactly 4/6 = 0.667 (below) and 4/4=1.0 (above)
        (1, "en", "alpha beta gamma delta", 22),
        (2, "en", "alpha beta gamma delta", 22),
        # exactly at threshold: |A|=9, |B|=9, shared 8 -> J = 8/10 = 0.8
        (3, "en", "a b c d e f g h i", 17),
        (4, "en", "a b c d e f g h j", 17),
        # just below: shared 7 of 9/9 -> 7/11 = 0.636
        (5, "en", "a b c d e f g x y", 17),
        # different lang: never a candidate
        (6, "de", "alpha beta gamma delta", 22),
        # length window breaker
        (7, "en", "alpha beta gamma delta " + "pad " * 20, 120),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "lang", "text", "n_chars"])
    got = {
        (r.id_a, r.id_b)
        for r in jaccard_token_sets(
            df, threshold=0.8, block_cols=["lang"], length_window=16
        ).collect()
    }
    # reference token sets through the operator's own tokens_expr, so
    # this test pins only the prune (ADVICE r13)
    from etl_poor_main_pipeline_spark.functions.text import tokens_expr

    tok_rows = df.select(
        "doc_id",
        "lang",
        "n_chars",
        F.array_distinct(tokens_expr("text")).alias("_tok"),
    ).collect()
    want = _brute_jaccard_pairs(
        [
            {
                "doc_id": r.doc_id,
                "lang": r.lang,
                "n_chars": r.n_chars,
                "_tok": set(r._tok),
            }
            for r in tok_rows
        ]
    )
    assert got == want
    assert (3, 4) in got  # the exactly-at-threshold pair survived the mask


def test_fellegi_mu_equals_direct_pair_counts(spark):
    """m/u derived from the pattern table == direct counts over the
    blocked pair population (the old two-pass formulation)."""
    from etl_poor_main_pipeline_spark.registry_ext75 import _fs_source_b_exprs

    c = spark.read.parquet(f"{SF}/customer.parquet")
    a = c.selectExpr(
        "c_custkey AS a_key",
        "c_name AS a_name",
        "c_nationkey AS a_nation",
        "c_acctbal AS a_bal",
        "c_mktsegment AS a_seg",
    )
    b = c.selectExpr(*_fs_source_b_exprs("spark"))
    pairs = a.join(b, F.col("a_nation") == F.col("b_nation")).selectExpr(
        "cast(a_key = b_key as boolean) AS is_true",
        "cast(abs(a_bal - b_bal) <= 1.0 as boolean) AS ag_bal",
        "cast(coalesce(a_seg = b_seg, false) as boolean) AS ag_seg",
        "cast(a_name = b_name as boolean) AS ag_name",
    )
    direct = pairs.agg(
        F.sum(F.when(F.col("is_true"), 1).otherwise(0)).alias("nm"),
        F.sum(F.when(~F.col("is_true"), 1).otherwise(0)).alias("nu"),
        *[
            x
            for f in ("ag_bal", "ag_seg", "ag_name")
            for x in (
                F.sum(F.when(F.col("is_true") & F.col(f), 1).otherwise(0)).alias(f"m_{f}"),
                F.sum(F.when(~F.col("is_true") & F.col(f), 1).otherwise(0)).alias(f"u_{f}"),
            )
        ],
    ).collect()[0]
    pat = pairs.groupBy("ag_bal", "ag_seg", "ag_name").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("is_true"), 1).otherwise(0)).alias("n_true"),
    )
    derived = pat.agg(
        F.sum("n_true").alias("nm"),
        F.sum(F.col("n_pairs") - F.col("n_true")).alias("nu"),
        *[
            x
            for f in ("ag_bal", "ag_seg", "ag_name")
            for x in (
                F.sum(F.when(F.col(f), F.col("n_true")).otherwise(0)).alias(f"m_{f}"),
                F.sum(F.when(F.col(f), F.col("n_pairs") - F.col("n_true")).otherwise(0)).alias(f"u_{f}"),
            )
        ],
    ).collect()[0]
    assert direct.asDict() == derived.asDict()


def test_rfm_union_rank_matches_per_metric_ranks(spark):
    """The single-pass union rank must reproduce the three per-metric
    quintile codes: for every user, the code from the union pass equals
    floor(rank_within_metric * 5 / n) + 1 with rank recomputed directly
    in pandas."""
    import pandas as pd  # noqa: F401

    from etl_poor_main_pipeline_spark.registry import queries

    out = (
        queries()["rfm_segmentation"](spark, SF)
        .toPandas()
        .sort_values(["r_q", "f_q", "m_q"])
        .reset_index(drop=True)
    )
    # reference: per-user metrics via SQL, codes via pandas ranks
    e = spark.read.parquet(f"{SF}/events.parquet")
    e.createOrReplaceTempView("rfm_ev")
    per_user = spark.sql(
        """
        WITH t AS (SELECT max(unix_micros(ts)) AS tmax FROM rfm_ev)
        SELECT user_id,
               cast((tmax - max(unix_micros(ts))) / 1000000 AS bigint) AS rec_s,
               cast(count(1) AS bigint) AS freq,
               cast(sum(CASE WHEN event_type = 'purchase'
                        THEN cast(floor(value * 100.0 + 0.5) AS bigint)
                        ELSE 0 END) AS bigint) AS money
        FROM rfm_ev CROSS JOIN t GROUP BY user_id, tmax
        """
    ).toPandas()
    n = len(per_user)

    def code(keys):
        order = sorted(range(n), key=keys)
        r = [0] * n
        for rank, idx in enumerate(order):
            r[idx] = rank
        return [int(rank * 5 // n) + 1 for rank in r]

    pu = per_user.to_dict("records")
    r_q = code(lambda i: (pu[i]["rec_s"], pu[i]["user_id"]))
    f_q = code(lambda i: (-pu[i]["freq"], pu[i]["user_id"]))
    m_q = code(lambda i: (-pu[i]["money"], pu[i]["user_id"]))
    from collections import Counter

    want = Counter(zip(r_q, f_q, m_q))
    got = Counter(
        (int(r.r_q), int(r.f_q), int(r.m_q))
        for r in out.itertuples()
        for _ in range(int(r.n_users))
    )
    assert got == want
