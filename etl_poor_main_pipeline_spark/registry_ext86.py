"""Operator registry, wave 87: sequential patterns, RAKE keyword
extraction, and watermark-bounded streaming dedup.

Scale stances:
- Frequent sequences: consecutive event-type triples from per-user lead
  windows (partitioned; each journey is one group) reduce to a
  |types|^3-bounded pattern frame; support = distinct users per pattern,
  output a TakeOrdered top-K.
- RAKE: candidate phrases come from THREE passes of a space-anchored
  stopword regexp (RE2-safe — no lookarounds, so the same pattern text
  runs in both engines; pass k clears stopword runs of length k). Word
  degree/freq are corpus aggregates over the exploded phrase words; each
  word's score lands on a micro-int BEFORE phrase summation, so the
  phrase score is an order-independent integer sum. All joins equi on the
  word / phrase.
- Streaming dedup within watermark: the STATE-BOUNDED production twin of
  streaming_dedup_keys — dropDuplicatesWithinWatermark evicts keys older
  than the delay, so state is O(keys per window) instead of O(all keys
  ever). Single-file availableNow source -> one micro-batch, so the
  drained result equals batch DISTINCT (the repo's drain-equivalence
  rule); the BOUNDED-STATE semantics is what the op exists to pin.

Reference parity: none; [EXT] X6/X9/X10 tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QuerySpec, _t
from .session import barrier
from .streaming.events import drain_to_table, read_event_stream_parquet

# --------------------------------------------------------------------------
# Frequent consecutive sequences (X9 [EXT])
# --------------------------------------------------------------------------

_SEQ_TOPK = 15


def q_frequent_sequences_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 frequent consecutive behavior sequences: every
    event-type triple (a > b > c) occurring back-to-back in a user's
    (ts, event_id)-ordered stream, ranked by USER support (distinct
    users exhibiting it) with occurrence counts — the PrefixSpan-lite
    every product-analytics stack runs first. Per-user lead windows
    (partitioned), a |types|^3-bounded pattern aggregate, TakeOrdered
    top-{k}."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        _t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("e2", F.lead("event_type", 1).over(w))
        .withColumn("e3", F.lead("event_type", 2).over(w))
        .where(F.col("e3").isNotNull())
        .selectExpr("user_id", "concat(event_type, ' > ', e2, ' > ', e3) as pattern")
    )
    return (
        tr.groupBy("pattern")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.desc("n_users"), F.desc("n_occurrences"), F.asc("pattern"))
        .limit(_SEQ_TOPK)
    )


_ORACLE_SEQ = f"""
WITH tr AS (
  SELECT user_id,
         event_type || ' > '
           || lead(event_type, 1) OVER w || ' > '
           || lead(event_type, 2) OVER w AS pattern,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT pattern, count(*)::BIGINT AS n_occurrences,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM tr WHERE e3 IS NOT NULL
GROUP BY pattern
ORDER BY n_users DESC, n_occurrences DESC, pattern ASC
LIMIT {_SEQ_TOPK}
"""


# --------------------------------------------------------------------------
# RAKE keyword extraction (X6 [EXT])
# --------------------------------------------------------------------------

_RAKE_STOPWORDS = (
    "the|of|and|a|in|to|is|for|on|with|as|by|at|from|that|this|are|be|or|an"
)
_RAKE_TOPK = 15
_RAKE_MIN_OCC = 3


def q_rake_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 RAKE keyword extraction over the corpus: candidate
    phrases are maximal stopword-free token runs (three space-anchored
    regexp passes — RE2-safe, identical text in both engines; pass k
    clears stopword runs of length k); word score = degree/freq over
    the candidate-phrase vocabulary (degree = sum of hosting-phrase
    lengths, freq = occurrences); phrase score = SUM of its member
    words' MICRO-ROUNDED scores (order-independent integer sum).
    Top-{k} phrases of >= 2 words occurring >= {m} times. The classic
    unsupervised keyword baseline, expression-only and linear per
    document."""
    sw = _RAKE_STOPWORDS
    seg = "concat(' ', lower(text), ' ')"
    for _ in range(3):
        seg = f"regexp_replace({seg}, ' ({sw}) ', ' | ')"
    phrases = barrier(  # feeds word stats + phrase scoring
        _t(spark, sf_dir, "documents")
        .selectExpr(f"explode(split({seg}, '\\\\|')) as rawp")
        .selectExpr("filter(split(trim(rawp), '\\\\s+'), t -> t <> '') as pw")
        .where(F.expr("size(pw) >= 1"))
        .selectExpr("pw", "size(pw) as plen", "concat_ws(' ', pw) as phrase")
    )
    words = phrases.selectExpr("explode(pw) as word", "plen")
    wstats = words.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("degree"),
    ).selectExpr(
        "word",
        "cast(floor(1e6 * cast(degree as double) / cast(freq as double) + 0.5)"
        " as bigint) as wscore_micro",
    )
    scored = (
        phrases.selectExpr("phrase", "plen", "posexplode(pw) as (pos, word)")
        .join(wstats, "word")
        .groupBy("phrase", "plen")
        .agg(F.sum("wscore_micro").cast("bigint").alias("score_sum_micro"))
    )
    occ = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )
    return (
        scored.join(occ, "phrase")
        .where((F.col("plen") >= 2) & (F.col("n_occurrences") >= _RAKE_MIN_OCC))
        .selectExpr(
            "phrase",
            "cast(plen as bigint) as n_words",
            "n_occurrences",
            # per-occurrence sums scale with occurrence count; report the
            # per-occurrence phrase score
            "cast(floor(cast(score_sum_micro as double)"
            " / cast(n_occurrences as double) + 0.5) as bigint) as score_micro",
        )
        .orderBy(F.desc("score_micro"), F.asc("phrase"))
        .limit(_RAKE_TOPK)
    )


def _oracle_rake() -> str:
    sw = _RAKE_STOPWORDS
    seg = "' ' || lower(text) || ' '"
    for _ in range(3):
        seg = f"regexp_replace({seg}, ' ({sw}) ', ' | ', 'g')"
    return f"""
WITH rawp AS (
  SELECT unnest(string_split({seg}, '|')) AS rawp FROM documents
),
phr AS (
  SELECT list_filter(string_split_regex(trim(rawp), '\\s+'), t -> t <> '') AS pw
  FROM rawp
),
phrases AS (
  SELECT pw, len(pw)::BIGINT AS plen, array_to_string(pw, ' ') AS phrase
  FROM phr WHERE len(pw) >= 1
),
words AS (SELECT unnest(pw) AS word, plen FROM phrases),
wstats AS (
  SELECT word,
         cast(floor(1e6 * cast(sum(plen) AS double) / cast(count(*) AS double)
                    + 0.5) AS bigint) AS wscore_micro
  FROM words GROUP BY word
),
pw_exploded AS (SELECT phrase, plen, unnest(pw) AS word FROM phrases),
scored AS (
  SELECT p.phrase, p.plen, sum(w.wscore_micro)::BIGINT AS score_sum_micro
  FROM pw_exploded p JOIN wstats w USING (word)
  GROUP BY 1, 2
),
occ AS (
  SELECT phrase, count(*)::BIGINT AS n_occurrences FROM phrases GROUP BY 1
)
SELECT s.phrase, s.plen AS n_words, o.n_occurrences,
       cast(floor(cast(s.score_sum_micro AS double)
                  / cast(o.n_occurrences AS double) + 0.5) AS bigint)
         AS score_micro
FROM scored s JOIN occ o USING (phrase)
WHERE s.plen >= 2 AND o.n_occurrences >= {_RAKE_MIN_OCC}
ORDER BY score_micro DESC, phrase ASC
LIMIT {_RAKE_TOPK}
"""


# --------------------------------------------------------------------------
# Watermark-bounded streaming dedup (X10 [EXT])
# --------------------------------------------------------------------------


def q_streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X10 the state-BOUNDED production twin of
    streaming_dedup_keys: dropDuplicatesWithinWatermark over
    (user_id, event_type) with a 1-hour event-time watermark — the
    state store holds only keys newer than the watermark instead of
    every key ever seen, which is the difference between O(window) and
    O(corpus) state at 100 TB. The availableNow single-file source
    yields one micro-batch, so the drained result equals batch
    DISTINCT (the repo's drain-equivalence rule); duplicates farther
    apart than the delay would legitimately re-emit on a multi-batch
    source, and the batch twin would then be a windowed DISTINCT."""
    ev = read_event_stream_parquet(spark, sf_dir)
    ded = (
        ev.withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return drain_to_table(ded, "append", state_partitions=8)


_ORACLE_STREAM_DEDUP_WM = """
SELECT DISTINCT user_id, event_type FROM events
"""


REGISTRY_EXT86: dict[str, QuerySpec] = {
    "frequent_sequences_topk": QuerySpec(
        q_frequent_sequences_topk, _ORACLE_SEQ, "X9 [EXT] sequential patterns"
    ),
    "rake_keyword_extract": QuerySpec(
        q_rake_keyword_extract, _oracle_rake(), "X6 [EXT] RAKE keywords"
    ),
    "streaming_dedup_within_watermark": QuerySpec(
        q_streaming_dedup_within_watermark,
        _ORACLE_STREAM_DEDUP_WM,
        "X10 [EXT] bounded-state stream dedup",
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_frequent_sequences_topk.__doc__ = q_frequent_sequences_topk.__doc__.format(k=_SEQ_TOPK)  # noqa: E501
q_rake_keyword_extract.__doc__ = q_rake_keyword_extract.__doc__.format(k=_RAKE_TOPK, m=_RAKE_MIN_OCC)  # noqa: E501
