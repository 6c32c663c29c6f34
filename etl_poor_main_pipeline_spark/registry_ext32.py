"""Operator registry, wave 33: curation + ML-prep breadth — PII
redaction, corpus-frequency boilerplate pruning, calendar interval
overlap, leave-one-out target encoding, the feature-hashing trick,
robust MAD outlier gating, and bipartite HITS.

Scale stances (the 100 TB question, per op):
- pii_redact: pure regexp expressions inside the scan stage — no
  shuffle at all; the only state is the regex automaton per task.
- boilerplate prune: explode to (doc, gram), ONE hash aggregate on the
  gram key (map-side combined), per-doc re-aggregate; the corpus-wide
  boilerplate set is joined on the already-shuffled gram key, never
  collected.
- interval overlap: the month spine is O(years) rows — broadcast
  nested-loop against it is the *right* plan (each row lands in a
  handful of months); no shuffle of the fact side.
- target encoding: one segment-level aggregate (tiny) broadcast back;
  integer cents arithmetic end-to-end. At true 100 TB the
  sum*10000 staging would move to DECIMAL to dodge int64 overflow
  (documented on the query).
- feature hashing: explode + one aggregate on a 256-value key —
  bounded output cardinality regardless of corpus size.
- MAD: two grouped exact-percentile passes + broadcast joins of the
  5-row group stats; all comparisons in scaled integers, no FP ties.
- HITS: per-iteration aggregates shuffle on user/type keys only;
  decimal partial sums keep the reduce order-insensitive;
  localCheckpoint truncates lineage between iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.dedup import POLY_MULT, POLY_P, poly_hash_expr, spread
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# PII redaction scrub (X6 [EXT])
# --------------------------------------------------------------------------

# patterns restricted to the Java-regex / RE2 common subset
_RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_RE_PHONE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
_RE_CARD = r"[0-9]{13,16}"


def q_pii_redact_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 PII redaction — the scrub pass every pre-training corpus
    runs: emails -> <EMAIL>, then phones -> <PHONE>, then long digit
    runs -> <CARD>, counting each class. The word-only fixture corpus
    contains no PII, so the query first APPENDS deterministic synthetic
    identifiers derived from doc_id (doc_id%3+1 repeated emails, one
    alt-domain email, one E.164-ish phone, one 16-digit PAN) — both
    engines build the identical augmented text, making the full
    redaction cascade value-hash checkable, not vacuous. Pure
    regexp_count/regexp_replace expressions: no shuffle, no UDF."""
    d = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.expr(
            "repeat(concat(' contact user', cast(doc_id as string),"
            " '@example.com'), cast(doc_id % 3 + 1 as int))"
        ),
        F.expr("concat(' or admin-', cast(doc_id as string), '@mail.example.org')"),
        F.expr(
            "concat(' call +1-555-', lpad(cast(doc_id % 10000 as string), 4, '0'))"
        ),
        F.lit(" card 4111111111111111 end"),
    )
    s0 = d.select("doc_id", aug.alias("s0"))
    s1 = s0.withColumn("n_email", F.regexp_count("s0", F.lit(_RE_EMAIL))).withColumn(
        "s1", F.regexp_replace("s0", _RE_EMAIL, "<EMAIL>")
    )
    s2 = s1.withColumn("n_phone", F.regexp_count("s1", F.lit(_RE_PHONE))).withColumn(
        "s2", F.regexp_replace("s1", _RE_PHONE, "<PHONE>")
    )
    s3 = s2.withColumn("n_card", F.regexp_count("s2", F.lit(_RE_CARD))).withColumn(
        "s3", F.regexp_replace("s2", _RE_CARD, "<CARD>")
    )
    return s3.select(
        "doc_id",
        F.col("n_email").cast("bigint").alias("n_email"),
        F.col("n_phone").cast("bigint").alias("n_phone"),
        F.col("n_card").cast("bigint").alias("n_card"),
        F.md5(F.col("s3")).alias("scrub_md5"),
        F.length("s3").cast("bigint").alias("n_chars_scrubbed"),
    ).orderBy("doc_id")


_ORACLE_PII = f"""
WITH aug AS (
  SELECT doc_id,
         text
         || repeat(' contact user' || doc_id || '@example.com', (doc_id % 3 + 1)::INT)
         || ' or admin-' || doc_id || '@mail.example.org'
         || ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
         || ' card 4111111111111111 end' AS s0
  FROM documents
),
st1 AS (
  SELECT doc_id,
         len(regexp_extract_all(s0, '{_RE_EMAIL}')) AS n_email,
         regexp_replace(s0, '{_RE_EMAIL}', '<EMAIL>', 'g') AS s1
  FROM aug
),
st2 AS (
  SELECT doc_id, n_email,
         len(regexp_extract_all(s1, '{_RE_PHONE}')) AS n_phone,
         regexp_replace(s1, '{_RE_PHONE}', '<PHONE>', 'g') AS s2
  FROM st1
),
st3 AS (
  SELECT doc_id, n_email, n_phone,
         len(regexp_extract_all(s2, '{_RE_CARD}')) AS n_card,
         regexp_replace(s2, '{_RE_CARD}', '<CARD>', 'g') AS s3
  FROM st2
)
SELECT doc_id,
       cast(n_email AS bigint) AS n_email,
       cast(n_phone AS bigint) AS n_phone,
       cast(n_card AS bigint) AS n_card,
       md5(s3) AS scrub_md5,
       cast(length(s3) AS bigint) AS n_chars_scrubbed
FROM st3 ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Corpus-frequency boilerplate pruning (X2/X6 [EXT])
# --------------------------------------------------------------------------

_BP_K = 3  # gram width (tokens)
_BP_MIN_DOCS = 5  # fixed doc-frequency cut (see docstring)


def q_boilerplate_ngram_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X2/X6 boilerplate pruning by corpus frequency (the
    RefinedWeb/CCNet line-frequency rule, on {_BP_K}-token sliding grams
    since the corpus is single-line): a gram occurring in >=
    {_BP_MIN_DOCS} DISTINCT documents is boilerplate; report per doc how
    much survives. The cut is FIXED, not corpus-relative, matching the
    published recipes (CCNet counts raw duplication); the fixture's
    template vocab keeps gram doc-frequency flat as the corpus grows
    (max nd = 9 at 500 docs, 25 at 5000), so a relative cut would go
    vacuous at scale. Differs from chunk_dedup_rebuild (first
    occurrence KEPT there; here ALL occurrences of frequent grams are
    boilerplate, including the first). Docs shorter than {_BP_K} tokens
    emit no grams and are excluded (none in the fixture).

    Scale: explode -> one map-side-combined aggregate on the gram key ->
    per-doc re-aggregate; the boilerplate set stays distributed (joined
    on the gram key), never driver-side."""
    d = spread(_t(spark, sf_dir, "documents"))
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    grams = (
        d.select("doc_id", toks.alias("ts"))
        .where(F.size("ts") >= _BP_K)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("ts") - _BP_K),
                    lambda i: F.array_join(
                        F.slice(F.col("ts"), i + 1, _BP_K), " "
                    ),
                )
            ).alias("gram"),
        )
    )
    grams = barrier(grams, eager=True)  # feeds 3 consumers; explode once
    boiler = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= F.lit(_BP_MIN_DOCS))
        .select("gram")
    )
    per_doc = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    boiler_per_doc = (
        grams.join(boiler, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_boiler"))
    )
    return (
        per_doc.join(boiler_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_boiler", F.lit(0)).cast("bigint").alias("n_boiler"),
            F.floor(
                F.lit(1000000.0)
                * F.coalesce("n_boiler", F.lit(0))
                / F.col("n_grams")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("boiler_ppm"),
        )
        .orderBy("doc_id")
    )


_ORACLE_BOILER = rf"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
  FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(ts[(i+1):(i+{_BP_K})], ' ') AS gram
  FROM toks, range(0, 100000) t(i)
  WHERE len(ts) >= {_BP_K} AND i <= len(ts) - {_BP_K}
),
boiler AS (
  SELECT gram FROM grams GROUP BY gram
  HAVING count(DISTINCT doc_id) >= {_BP_MIN_DOCS}
),
per AS (
  SELECT g.doc_id,
         count(*) AS n_grams,
         sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
  FROM grams g LEFT JOIN boiler b ON g.gram = b.gram
  GROUP BY g.doc_id
)
SELECT doc_id, cast(n_grams AS bigint) AS n_grams,
       cast(n_boiler AS bigint) AS n_boiler,
       cast(floor(1000000.0 * n_boiler / n_grams + 0.5) AS bigint) AS boiler_ppm
FROM per ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Calendar interval-overlap join (join [EXT])
# --------------------------------------------------------------------------

_IV_SPINE_START = "1995-01-01"
_IV_SPINE_END = "1996-12-01"


def q_interval_overlap_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] interval-overlap join against a calendar spine: each
    lineitem carries the open interval [o_orderdate, l_shipdate]
    (order placed -> shipped); for every month of 1995-1996 count the
    in-flight lineitems whose interval overlaps the month and total the
    overlap days (inclusive). The spine is O(years) rows — BROADCAST
    nested-loop against it is the plan you want at 100 TB: the fact side
    never shuffles, each row lands in the handful of months it spans."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("ship_d")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("order_d")
    )
    iv = li.join(o, li.l_orderkey == o.o_orderkey).select("order_d", "ship_d")
    months = spark.sql(
        f"""SELECT mstart, last_day(mstart) AS mend FROM (
              SELECT explode(sequence(to_date('{_IV_SPINE_START}'),
                                      to_date('{_IV_SPINE_END}'),
                                      interval 1 month)) AS mstart)"""
    )
    ov = iv.join(
        F.broadcast(months),
        (F.col("order_d") <= F.col("mend")) & (F.col("ship_d") >= F.col("mstart")),
    )
    days = (
        F.datediff(
            F.least("ship_d", "mend"), F.greatest("order_d", "mstart")
        )
        + F.lit(1)
    )
    return (
        ov.groupBy(F.date_format("mstart", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_in_flight"),
            F.sum(days).cast("bigint").alias("sum_overlap_days"),
        )
        .orderBy("month")
    )


_ORACLE_INTERVAL = f"""
WITH iv AS (
  SELECT o.o_orderdate::DATE AS order_d, l.l_shipdate::DATE AS ship_d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
months AS (
  SELECT mstart::DATE AS mstart, last_day(mstart::DATE) AS mend
  FROM generate_series(DATE '{_IV_SPINE_START}', DATE '{_IV_SPINE_END}',
                       INTERVAL 1 MONTH) t(mstart)
)
SELECT strftime(mstart, '%Y-%m') AS month,
       cast(count(*) AS bigint) AS n_in_flight,
       cast(sum(date_diff('day', greatest(order_d, mstart),
                          least(ship_d, mend)) + 1) AS bigint) AS sum_overlap_days
FROM iv JOIN months ON order_d <= mend AND ship_d >= mstart
GROUP BY mstart ORDER BY month
"""


# --------------------------------------------------------------------------
# Leave-one-out target encoding (ML prep [EXT])
# --------------------------------------------------------------------------


def q_target_mean_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] leave-one-out target encoding — the category feature every
    tabular-ML pipeline derives: encode c_mktsegment by the mean
    o_totalprice of all OTHER orders in the segment (LOO removes the
    self-leak). All arithmetic in integer cents scaled x10000 with floor
    division, so both engines agree bit-for-bit. One tiny segment-level
    aggregate broadcast back to the fact side — no second shuffle. At a
    true 100 TB the (sum*10000) staging product would move to DECIMAL to
    dodge int64 overflow (fixture sums stay < 2^53)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.lit(100.0) * F.col("o_totalprice") + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    from .fastpath import broadcast_if_small

    # customer grows with the corpus: size-gated pin, shuffled join at scale
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    oc = o.join(
        broadcast_if_small(c, sf_dir, ["customer"]), o.o_custkey == c.c_custkey
    ).select("o_orderkey", "c_mktsegment", "cents")
    seg = oc.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seg"),
        F.sum("cents").cast("bigint").alias("sum_seg"),
    )
    return (
        oc.join(F.broadcast(seg), "c_mktsegment")
        .where(F.col("n_seg") > 1)
        .select(
            "o_orderkey",
            F.col("c_mktsegment").alias("segment"),
            F.expr("((sum_seg - cents) * 10000L) div (n_seg - 1)")
            .cast("bigint")
            .alias("loo_cents_x10000"),
        )
        .orderBy("o_orderkey")
    )


_ORACLE_TARGET_ENC = """
WITH oc AS (
  SELECT o.o_orderkey, c.c_mktsegment,
         cast(floor(100.0 * o.o_totalprice + 0.5) AS bigint) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
seg AS (
  SELECT c_mktsegment, count(*)::BIGINT AS n_seg, sum(cents)::BIGINT AS sum_seg
  FROM oc GROUP BY c_mktsegment
)
SELECT oc.o_orderkey, oc.c_mktsegment AS segment,
       cast(((seg.sum_seg - oc.cents) * 10000) // (seg.n_seg - 1) AS bigint)
         AS loo_cents_x10000
FROM oc JOIN seg USING (c_mktsegment)
WHERE seg.n_seg > 1
ORDER BY oc.o_orderkey
"""


# --------------------------------------------------------------------------
# Feature hashing (the hashing trick) (X6/ML prep [EXT])
# --------------------------------------------------------------------------

_FH_BUCKETS = 256


def q_feature_hashing_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] the feature-hashing trick: map every token into one of
    {_FH_BUCKETS} buckets via the portable polynomial hash
    (operators/dedup.py poly_hash_expr — acc*{POLY_MULT}+code mod 2^31-1,
    reproduced arithmetically by the oracle), reporting per-bucket token
    mass, distinct-token collisions, and document reach. Output
    cardinality is BOUNDED at {_FH_BUCKETS} rows no matter the corpus
    size — explode + one map-side-combined aggregate is the whole plan."""
    d = spread(_t(spark, sf_dir, "documents"))
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    tok = d.select("doc_id", F.explode(toks).alias("tok"))
    return (
        tok.withColumn("bucket", F.pmod(poly_hash_expr("tok"), F.lit(_FH_BUCKETS)))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.countDistinct("tok").cast("bigint").alias("n_distinct_toks"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .select(F.col("bucket").cast("bigint").alias("bucket"), "n_tokens", "n_distinct_toks", "n_docs")
        .orderBy("bucket")
    )


_ORACLE_FEATURE_HASH = rf"""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    t -> t <> '')) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id, tok,
         list_reduce(list_prepend(0::BIGINT,
                       list_transform(string_split(tok, ''), c -> ascii(c)::BIGINT)),
                     (acc, c) -> (acc * {POLY_MULT} + c) % {POLY_P}) % {_FH_BUCKETS}
           AS bucket
  FROM tok
)
SELECT cast(bucket AS bigint) AS bucket,
       cast(count(*) AS bigint) AS n_tokens,
       cast(count(DISTINCT tok) AS bigint) AS n_distinct_toks,
       cast(count(DISTINCT doc_id) AS bigint) AS n_docs
FROM hashed GROUP BY bucket ORDER BY bucket
"""


# --------------------------------------------------------------------------
# Robust MAD outlier gate (X7 [EXT])
# --------------------------------------------------------------------------


def q_mad_outliers_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 robust outlier gate per o_orderpriority: flag values
    whose |x - median| exceeds 3 * 1.4826 * MAD (the normal-consistent
    median-absolute-deviation rule — robust where the z-score gate
    (anomaly_zscore) is skewed by the outliers themselves). Everything
    runs in scaled integers: cents, doubled medians (2*median of ints is
    exact), and the comparison dev2*20000 > mad4*44478 — zero FP ties,
    so both engines agree exactly. Two grouped exact-percentile passes
    plus broadcast joins of the 5-row group stats."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.lit(100.0) * F.col("o_totalprice") + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    med = o.groupBy("o_orderpriority").agg(
        (F.lit(2.0) * F.percentile("cents", F.lit(0.5))).cast("bigint").alias("med2")
    )
    dev = o.join(F.broadcast(med), "o_orderpriority").withColumn(
        "dev2", F.abs(F.lit(2) * F.col("cents") - F.col("med2"))
    )
    mad = dev.groupBy("o_orderpriority").agg(
        (F.lit(2.0) * F.percentile("dev2", F.lit(0.5))).cast("bigint").alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max("med2").alias("med_cents_x2"),
            F.max("mad4").alias("mad_cents_x4"),
            F.sum(
                F.when(
                    F.col("dev2") * F.lit(20000) > F.col("mad4") * F.lit(44478), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("o_orderpriority")
    )


_ORACLE_MAD = """
WITH o AS (
  SELECT o_orderpriority,
         cast(floor(100.0 * o_totalprice + 0.5) AS bigint) AS cents
  FROM orders
),
med AS (
  SELECT o_orderpriority,
         cast(2.0 * quantile_cont(cents, 0.5) AS bigint) AS med2
  FROM o GROUP BY o_orderpriority
),
dev AS (
  SELECT o.o_orderpriority, o.cents, med.med2,
         abs(2 * o.cents - med.med2) AS dev2
  FROM o JOIN med USING (o_orderpriority)
),
mad AS (
  SELECT o_orderpriority,
         cast(2.0 * quantile_cont(dev2, 0.5) AS bigint) AS mad4
  FROM dev GROUP BY o_orderpriority
)
SELECT dev.o_orderpriority,
       cast(count(*) AS bigint) AS n,
       max(dev.med2) AS med_cents_x2,
       max(mad.mad4) AS mad_cents_x4,
       cast(sum(CASE WHEN dev.dev2 * 20000 > mad.mad4 * 44478 THEN 1 ELSE 0 END)
            AS bigint) AS n_outliers
FROM dev JOIN mad USING (o_orderpriority)
GROUP BY dev.o_orderpriority ORDER BY dev.o_orderpriority
"""


# --------------------------------------------------------------------------
# Bipartite HITS (X9 [EXT])
# --------------------------------------------------------------------------

_HITS_ITERS = 3


def q_hits_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 HITS (Kleinberg) on the weighted bipartite user <->
    event_type graph: authority(type) = sum over users of w * hub(user),
    hub(user) = sum over types of w * auth(type), L1-normalized each
    half-step, {_HITS_ITERS} iterations. The mutually-reinforcing twin
    of pagerank_docs — same iterative discipline: weights materialized
    once, decimal(38,16) partial sums for order-insensitive reduces,
    localCheckpoint between iterations to truncate lineage. Output: the
    per-event-type authority vector (micro-scaled)."""
    e = _t(spark, sf_dir, "events")
    w = barrier(
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("w")),
        eager=True,
    )
    auth = w.select("event_type").distinct().select(
        "event_type", F.lit(1.0).alias("a")
    )
    for _ in range(_HITS_ITERS):
        hub_raw = (
            w.join(auth, "event_type")
            .select("user_id", (F.col("w") * F.col("a")).cast("decimal(38,16)").alias("c"))
            .groupBy("user_id")
            .agg(F.sum("c").cast("double").alias("h"))
        )
        hs = hub_raw.agg(
            F.sum(F.col("h").cast("decimal(38,16)")).cast("double").alias("s")
        )
        hub = hub_raw.crossJoin(F.broadcast(hs)).select(
            "user_id", (F.col("h") / F.col("s")).alias("h")
        )
        auth_raw = (
            w.join(hub, "user_id")
            .select(
                "event_type",
                (F.col("w") * F.col("h")).cast("decimal(38,16)").alias("c"),
            )
            .groupBy("event_type")
            .agg(F.sum("c").cast("double").alias("a"))
        )
        asum = auth_raw.agg(
            F.sum(F.col("a").cast("decimal(38,16)")).cast("double").alias("s")
        )
        auth = barrier(
            auth_raw.crossJoin(F.broadcast(asum))
            .select("event_type", (F.col("a") / F.col("s")).alias("a")),
            eager=True,
        )
    return auth.select(
        "event_type",
        F.floor(F.col("a") * 1e6 + F.lit(0.5)).cast("bigint").alias("auth_micro"),
    ).orderBy("event_type")


def _oracle_hits() -> str:
    head = """
WITH e AS (
  SELECT user_id, event_type, cast(count(*) AS double) AS w
  FROM events GROUP BY user_id, event_type
),
a0 AS (SELECT DISTINCT event_type, cast(1.0 AS double) AS a FROM events)"""
    parts = [head]
    prev = "a0"
    for i in range(1, _HITS_ITERS + 1):
        parts.append(
            f""",
h{i}r AS (
  SELECT e.user_id, cast(sum(cast(e.w * {prev}.a AS DECIMAL(38,16))) AS double) AS h
  FROM e JOIN {prev} USING (event_type) GROUP BY e.user_id
),
h{i}s AS (SELECT cast(sum(cast(h AS DECIMAL(38,16))) AS double) AS s FROM h{i}r),
h{i} AS (SELECT user_id, h / (SELECT s FROM h{i}s) AS h FROM h{i}r),
a{i}r AS (
  SELECT e.event_type, cast(sum(cast(e.w * h{i}.h AS DECIMAL(38,16))) AS double) AS a
  FROM e JOIN h{i} USING (user_id) GROUP BY e.event_type
),
a{i}s AS (SELECT cast(sum(cast(a AS DECIMAL(38,16))) AS double) AS s FROM a{i}r),
a{i} AS (SELECT event_type, a / (SELECT s FROM a{i}s) AS a FROM a{i}r)"""
        )
        prev = f"a{i}"
    parts.append(
        f"""
SELECT event_type,
       cast(floor(a * 1000000.0 + 0.5) AS bigint) AS auth_micro
FROM {prev} ORDER BY event_type"""
    )
    return "".join(parts)


REGISTRY_EXT32: dict[str, QuerySpec] = {
    "pii_redact_scrub": QuerySpec(
        q_pii_redact_scrub, _ORACLE_PII, "X6 [EXT] PII redaction cascade"
    ),
    "boilerplate_ngram_prune": QuerySpec(
        q_boilerplate_ngram_prune, _ORACLE_BOILER, "X2/X6 [EXT] corpus-frequency prune"
    ),
    "interval_overlap_months": QuerySpec(
        q_interval_overlap_months, _ORACLE_INTERVAL, "join [EXT] calendar overlap"
    ),
    "target_mean_encoding": QuerySpec(
        q_target_mean_encoding, _ORACLE_TARGET_ENC, "ML [EXT] LOO target encoding"
    ),
    "feature_hashing_sparse": QuerySpec(
        q_feature_hashing_sparse, _ORACLE_FEATURE_HASH, "X6/ML [EXT] hashing trick"
    ),
    "mad_outliers_robust": QuerySpec(
        q_mad_outliers_robust, _ORACLE_MAD, "X7 [EXT] robust MAD gate"
    ),
    "hits_event_types": QuerySpec(
        q_hits_event_types, _oracle_hits(), "X9 [EXT] bipartite HITS"
    ),
}
