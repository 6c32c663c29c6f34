"""Wave 114 [EXT]: triangle structure on the near-dup graph, stylometric
source distance, a char-level readability companion, and small-sample
outlier testing.

Scale notes (the 100x question, per query):
- triangle_count_clustering: the degree-ordered ORIENTATION bounds wedge
  fan-out by sqrt(2m) per node (the classic external-memory triangle
  algorithm) — wedges and the closing-edge probe are plain equi-joins on
  node keys, never all-pairs; edges are materialized once
  (localCheckpoint) and feed degree, wedge, and probe stages.
- burrows_delta_sources: the frame collapses to (top-50 corpus tokens x
  ~20 sources) after one map-side token reduction; z-scores and the
  pairwise delta live on that constant 50x190 grid. Frequencies and
  z-scores are micro-snapped ints, so cross-source sums are exact.
- coleman_liau_index: letters/words/sentences are pure-expression regexp
  counts (linear, JVM codegen) reduced to per-source bigints; the index
  is two double divisions on exact integers, milli-snapped.
- dixon_q_outlier: order statistics on the ~20-row per-source mean
  frame via one sorted bounded array — constant at any corpus size.

Reference parity: none; [EXT] X6/X9/X7 tier per BASELINE.json. Graph
definition shared with pagerank_docs/kcore (registry_ext19._EDGE_SQL):
nodes = documents, undirected edges = token-set Jaccard >= 0.8 pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import dedup
from .registry import QuerySpec, _t
from .registry_ext19 import _EDGE_SQL
from .session import barrier

_TOK = r"filter(split(lower(text), '\\s+'), t -> t <> '')"
_DUCK_TOK = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"

_MFW_K = 50
_DELTA_TOPK = 15
_DIXON_CRIT_MICRO = 290_000  # Q crit, n~20, alpha=0.05


# --------------------------------------------------------------------------
# Triangle count + global clustering on the near-dup graph (X9 [EXT])
# --------------------------------------------------------------------------


def q_triangle_count_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X9 exact GLOBAL triangle census and global clustering
    coefficient of the document near-dup graph (pagerank_docs edges:
    token-set Jaccard >= 0.8). Companion of the shipped PER-NODE
    `triangle_count` (registry_ext23) and `local_clustering_coeff`:
    those enumerate each triangle at every corner (3x work, per-node
    answers); this one uses the degree-ordered ORIENTATION — every edge
    points from the (deg, id)-smaller endpoint, each triangle is counted
    exactly once at its minimum vertex, and per-node wedge fan-out is
    bounded by sqrt(2m) — the shape that survives skewed degree
    distributions at corpus scale.
    GCC = 3*T / sum_v deg_v*(deg_v-1)/2, micro-snapped. Output one row:
    n_nodes, n_edges, n_triangles, n_wedges, gcc_micro."""
    d = _t(spark, sf_dir, "documents")
    pairs = barrier(
        dedup.jaccard_token_sets(
            d, threshold=0.8, block_cols=["lang"], length_window=16
        )
        .select("id_a", "id_b"),
        eager=True,
    )
    und = pairs.select(F.col("id_a").alias("v"), F.col("id_b").alias("w")).unionAll(
        pairs.select(F.col("id_b").alias("v"), F.col("id_a").alias("w"))
    )
    deg = und.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("dv"))
    withdeg = (
        pairs.join(deg.select(F.col("v").alias("id_a"), F.col("dv").alias("da")), "id_a")
        .join(deg.select(F.col("v").alias("id_b"), F.col("dv").alias("db")), "id_b")
    )
    oriented = barrier(
        withdeg.select(
            F.expr(
                "case when da < db or (da = db and id_a < id_b)"
                " then id_a else id_b end"
            ).alias("src"),
            F.expr(
                "case when da < db or (da = db and id_a < id_b)"
                " then id_b else id_a end"
            ).alias("dst"),
            F.expr(
                "case when da < db or (da = db and id_a < id_b)"
                " then db else da end"
            ).alias("ddst"),
        ),
        eager=True,
    )
    o1 = oriented.select("src", F.col("dst").alias("b"), F.col("ddst").alias("degb"))
    o2 = oriented.select("src", F.col("dst").alias("c"), F.col("ddst").alias("degc"))
    wedge = (
        o1.join(o2, "src")
        .filter(
            (F.col("degb") < F.col("degc"))
            | ((F.col("degb") == F.col("degc")) & (F.col("b") < F.col("c")))
        )
        .select("b", "c")
    )
    tri = wedge.join(
        oriented.select(F.col("src").alias("b"), F.col("dst").alias("c")),
        ["b", "c"],
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    stats = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges")).crossJoin(
        F.broadcast(
            deg.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
                F.sum(F.expr("dv * (dv - 1) div 2")).cast("bigint").alias("n_wedges"),
            )
        )
    )
    return (
        stats.crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.expr(
                "case when n_wedges > 0 then cast(floor(1e6"
                " * (3.0 * cast(n_triangles as double))"
                " / cast(n_wedges as double) + 0.5) as bigint)"
                " else cast(0 as bigint) end"
            ).alias("gcc_micro"),
        )
    )


_ORACLE_TRIANGLE = rf"""
WITH toks AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                       t -> t <> '')) AS tok_set
  FROM documents
), pairs AS ({_EDGE_SQL}),
und AS (
  SELECT id_a AS v, id_b AS w FROM pairs
  UNION ALL
  SELECT id_b AS v, id_a AS w FROM pairs
),
deg AS (SELECT v, count(*)::BIGINT AS dv FROM und GROUP BY v),
oriented AS (
  SELECT CASE WHEN da.dv < db.dv OR (da.dv = db.dv AND p.id_a < p.id_b)
              THEN p.id_a ELSE p.id_b END AS src,
         CASE WHEN da.dv < db.dv OR (da.dv = db.dv AND p.id_a < p.id_b)
              THEN p.id_b ELSE p.id_a END AS dst,
         CASE WHEN da.dv < db.dv OR (da.dv = db.dv AND p.id_a < p.id_b)
              THEN db.dv ELSE da.dv END AS ddst
  FROM pairs p JOIN deg da ON da.v = p.id_a JOIN deg db ON db.v = p.id_b
),
wedge AS (
  SELECT o1.dst AS b, o2.dst AS c
  FROM oriented o1 JOIN oriented o2 ON o1.src = o2.src
  WHERE o1.ddst < o2.ddst OR (o1.ddst = o2.ddst AND o1.dst < o2.dst)
),
tri AS (
  SELECT count(*)::BIGINT AS n_triangles
  FROM wedge JOIN oriented o ON o.src = wedge.b AND o.dst = wedge.c
),
stats AS (
  SELECT (SELECT count(*)::BIGINT FROM pairs) AS n_edges,
         (SELECT count(*)::BIGINT FROM deg) AS n_nodes,
         (SELECT sum(dv * (dv - 1) // 2)::BIGINT FROM deg) AS n_wedges
)
SELECT n_nodes, n_edges, n_triangles, n_wedges,
       CASE WHEN n_wedges > 0 THEN cast(floor(1e6
            * (3.0 * cast(n_triangles AS DOUBLE))
            / cast(n_wedges AS DOUBLE) + 0.5) AS BIGINT)
            ELSE 0::BIGINT END AS gcc_micro
FROM stats, tri
"""


# --------------------------------------------------------------------------
# Burrows' delta stylometric distance between sources (X6 [EXT])
# --------------------------------------------------------------------------


def q_burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 Burrows' delta between sources over the {k} most frequent
    corpus tokens — the stylometry-standard "which sources write alike?"
    distance (authorship attribution, contamination forensics). Per-source
    token rates (per-million, micro ints) are z-scored ACROSS sources per
    token (sample sd; zero-sd tokens contribute 0), and
    delta(s1, s2) = mean_w |z1 - z2|. The frame is the constant
    ({k} tokens x sources) grid after one map-side token reduction.
    Output the {p} closest pairs: src_a, src_b, delta_milli."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.expr(_TOK)).alias("token"))
    mfw = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ctot"))
        .orderBy(F.col("ctot").desc(), F.col("token").asc())
        .limit(_MFW_K)
        .select("token")
    )
    per_src_tot = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("ntok")
    )
    cnt = (
        tok.join(F.broadcast(mfw), "token")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # dense grid: every (source, mfw-token) cell, zero-filled
    grid = (
        per_src_tot.crossJoin(F.broadcast(mfw))
        .join(cnt, ["source", "token"], "left")
        .select(
            "source",
            "token",
            F.expr(
                "cast(floor(1e6 * cast(coalesce(c, 0) as double)"
                " / cast(ntok as double) + 0.5) as bigint)"
            ).alias("f"),
        )
    )
    stats = grid.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns"),
        F.sum("f").cast("bigint").alias("sf"),
        F.sum(F.col("f") * F.col("f")).cast("bigint").alias("sf2"),
    )
    z = (
        grid.join(stats, "token")
        .select(
            "source",
            "token",
            F.expr(
                "case when ns > 1 and (cast(sf2 as double)"
                " - cast(sf as double) * cast(sf as double) / cast(ns as double))"
                " > 0.0 then"
                " cast(floor(1e6 * (cast(f as double) - cast(sf as double)"
                " / cast(ns as double))"
                " / sqrt((cast(sf2 as double) - cast(sf as double)"
                "   * cast(sf as double) / cast(ns as double))"
                "   / (cast(ns as double) - 1.0)) + 0.5) as bigint)"
                " else cast(0 as bigint) end"
            ).alias("z"),
        )
    )
    za = z.select(
        F.col("source").alias("src_a"), "token", F.col("z").alias("z1")
    )
    zb = z.select(
        F.col("source").alias("src_b"), "token", F.col("z").alias("z2")
    )
    return (
        za.join(zb, "token")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.expr(
                "cast(floor(1e3 * (cast(sum(abs(z1 - z2)) as double) / 1e6)"
                f" / {_MFW_K}.0 + 0.5) as bigint)"
            ).alias("delta_milli")
        )
        .orderBy(F.col("delta_milli").asc(), F.col("src_a").asc(), F.col("src_b").asc())
        .limit(_DELTA_TOPK)
    )


_ORACLE_BURROWS = f"""
WITH tok AS (
  SELECT source, t.token
  FROM documents, unnest({_DUCK_TOK}) t(token)
),
mfw AS (
  SELECT token FROM (
    SELECT token, count(*)::BIGINT AS ctot FROM tok GROUP BY token
  ) ORDER BY ctot DESC, token ASC LIMIT {_MFW_K}
),
per_src_tot AS (
  SELECT source, count(*)::BIGINT AS ntok FROM tok GROUP BY source
),
cnt AS (
  SELECT source, token, count(*)::BIGINT AS c
  FROM tok JOIN mfw USING (token)
  GROUP BY source, token
),
grid AS (
  SELECT p.source, m.token,
         cast(floor(1e6 * cast(coalesce(cnt.c, 0) AS DOUBLE)
              / cast(p.ntok AS DOUBLE) + 0.5) AS BIGINT) AS f
  FROM per_src_tot p CROSS JOIN mfw m
  LEFT JOIN cnt ON cnt.source = p.source AND cnt.token = m.token
),
stats AS (
  SELECT token, count(*)::BIGINT AS ns, sum(f)::BIGINT AS sf,
         sum(f * f)::BIGINT AS sf2
  FROM grid GROUP BY token
),
z AS (
  SELECT source, grid.token,
         CASE WHEN ns > 1 AND (cast(sf2 AS DOUBLE)
              - cast(sf AS DOUBLE) * cast(sf AS DOUBLE) / cast(ns AS DOUBLE))
              > 0.0 THEN
           cast(floor(1e6 * (cast(f AS DOUBLE) - cast(sf AS DOUBLE)
             / cast(ns AS DOUBLE))
             / sqrt((cast(sf2 AS DOUBLE) - cast(sf AS DOUBLE)
                * cast(sf AS DOUBLE) / cast(ns AS DOUBLE))
                / (cast(ns AS DOUBLE) - 1.0)) + 0.5) AS BIGINT)
           ELSE 0::BIGINT END AS z
  FROM grid JOIN stats ON stats.token = grid.token
)
SELECT za.source AS src_a, zb.source AS src_b,
       cast(floor(1e3 * (cast(sum(abs(za.z - zb.z)) AS DOUBLE) / 1e6)
            / {_MFW_K}.0 + 0.5) AS BIGINT) AS delta_milli
FROM z za JOIN z zb ON za.token = zb.token AND za.source < zb.source
GROUP BY za.source, zb.source
ORDER BY delta_milli ASC, src_a ASC, src_b ASC
LIMIT {_DELTA_TOPK}
"""


# --------------------------------------------------------------------------
# Coleman-Liau readability index per source (X6 [EXT])
# --------------------------------------------------------------------------


def q_coleman_liau_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 Coleman-Liau readability index per source: CLI =
    0.0588*L - 0.296*S - 15.8 with L = letters per 100 words and S =
    sentences per 100 words — the char-level companion of
    flesch_reading_ease that needs NO syllable heuristic (robust on
    noisy web text). Letters/words/sentences are pure-expression regexp
    counts reduced to per-source bigints; the index is exact-integer
    ratios, milli-snapped. Output per source: source, n_docs, n_letters,
    n_words, n_sentences, cli_milli."""
    d = _t(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.expr("length(regexp_replace(text, '[^a-zA-Z]', ''))").alias("l"),
        F.expr("size(filter(split(text, '\\\\s+'), t -> t <> ''))").alias("w"),
        F.expr("greatest(1, size(regexp_extract_all(text, '[.!?]+', 0)))").alias("s"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("l").cast("bigint").alias("n_letters"),
            F.sum("w").cast("bigint").alias("n_words"),
            F.sum("s").cast("bigint").alias("n_sentences"),
        )
        .select(
            "source",
            "n_docs",
            "n_letters",
            "n_words",
            "n_sentences",
            F.expr(
                "cast(floor(1e3 * (0.0588"
                " * (100.0 * cast(n_letters as double)"
                "    / cast(greatest(1, n_words) as double))"
                " - 0.296 * (100.0 * cast(n_sentences as double)"
                "    / cast(greatest(1, n_words) as double))"
                " - 15.8) + 0.5) as bigint)"
            ).alias("cli_milli"),
        )
    )


_ORACLE_CLI = r"""
WITH per_doc AS (
  SELECT source,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::BIGINT AS l,
         len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
           ::BIGINT AS w,
         greatest(1, len(regexp_extract_all(text, '[.!?]+', 0)))::BIGINT AS s
  FROM documents
),
agg AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(l)::BIGINT AS n_letters,
         sum(w)::BIGINT AS n_words, sum(s)::BIGINT AS n_sentences
  FROM per_doc GROUP BY source
)
SELECT source, n_docs, n_letters, n_words, n_sentences,
       cast(floor(1e3 * (0.0588
            * (100.0 * cast(n_letters AS DOUBLE)
               / cast(greatest(1, n_words) AS DOUBLE))
            - 0.296 * (100.0 * cast(n_sentences AS DOUBLE)
               / cast(greatest(1, n_words) AS DOUBLE))
            - 15.8) + 0.5) AS BIGINT) AS cli_milli
FROM agg
"""


# --------------------------------------------------------------------------
# Dixon's Q outlier test on the per-source mean-length frame (X7 [EXT])
# --------------------------------------------------------------------------


def q_dixon_q_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X7 Dixon's Q test on the ~|sources|-row frame of per-source
    mean document lengths — the small-sample "is the most extreme source
    a data-quality outlier?" screen (Grubbs needs normality; Q is the
    robust bench-chemistry standard for n <= 30). Means are micro-snapped
    ints; order statistics come from ONE sorted bounded array
    (|sources| elements); Q_low = (x2-x1)/(xn-x1),
    Q_high = (xn-x(n-1))/(xn-x1), both micro-snapped, flagged at the
    n~20, alpha=.05 critical value {c}. Output one row: n_sources,
    q_low_micro, q_high_micro, low_outlier, high_outlier."""
    d = _t(spark, sf_dir, "documents")
    means = d.groupBy("source").agg(
        F.expr(
            "cast(floor(1e6 * cast(sum(cast(n_chars as decimal(18,6))) as double)"
            " / count(1) + 0.5) as bigint)"
        ).alias("m")
    )
    return (
        means.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sources"),
            F.expr("array_sort(collect_list(m))").alias("xs"),
        )
        .select(
            "n_sources",
            F.expr(
                "cast(floor(1e6 * cast(element_at(xs, 2) - element_at(xs, 1)"
                " as double) / cast(element_at(xs, cast(n_sources as int))"
                " - element_at(xs, 1) as double) + 0.5) as bigint)"
            ).alias("q_low_micro"),
            F.expr(
                "cast(floor(1e6 * cast(element_at(xs, cast(n_sources as int))"
                " - element_at(xs, cast(n_sources as int) - 1) as double)"
                " / cast(element_at(xs, cast(n_sources as int))"
                " - element_at(xs, 1) as double) + 0.5) as bigint)"
            ).alias("q_high_micro"),
        )
        .select(
            "n_sources",
            "q_low_micro",
            "q_high_micro",
            (F.col("q_low_micro") > F.lit(_DIXON_CRIT_MICRO)).alias("low_outlier"),
            (F.col("q_high_micro") > F.lit(_DIXON_CRIT_MICRO)).alias("high_outlier"),
        )
    )


_ORACLE_DIXON = f"""
WITH means AS (
  SELECT source,
         cast(floor(1e6 * cast(sum(cast(n_chars AS DECIMAL(18,6))) AS DOUBLE)
              / count(*) + 0.5) AS BIGINT) AS m
  FROM documents GROUP BY source
),
arr AS (
  SELECT count(*)::BIGINT AS n_sources, list(m ORDER BY m) AS xs FROM means
),
q AS (
  SELECT n_sources,
         cast(floor(1e6 * cast(xs[2] - xs[1] AS DOUBLE)
              / cast(xs[cast(n_sources AS INT)] - xs[1] AS DOUBLE) + 0.5)
           AS BIGINT) AS q_low_micro,
         cast(floor(1e6 * cast(xs[cast(n_sources AS INT)]
              - xs[cast(n_sources AS INT) - 1] AS DOUBLE)
              / cast(xs[cast(n_sources AS INT)] - xs[1] AS DOUBLE) + 0.5)
           AS BIGINT) AS q_high_micro
  FROM arr
)
SELECT n_sources, q_low_micro, q_high_micro,
       q_low_micro > {_DIXON_CRIT_MICRO} AS low_outlier,
       q_high_micro > {_DIXON_CRIT_MICRO} AS high_outlier
FROM q
"""


REGISTRY_EXT114: dict[str, QuerySpec] = {
    "triangle_count_clustering": QuerySpec(
        q_triangle_count_clustering, _ORACLE_TRIANGLE, "X9 [EXT] triangle census"
    ),
    "burrows_delta_sources": QuerySpec(
        q_burrows_delta_sources, _ORACLE_BURROWS, "X6 [EXT] Burrows' delta"
    ),
    "coleman_liau_index": QuerySpec(
        q_coleman_liau_index, _ORACLE_CLI, "X6 [EXT] Coleman-Liau readability"
    ),
    "dixon_q_outlier": QuerySpec(
        q_dixon_q_outlier, _ORACLE_DIXON, "X7 [EXT] Dixon Q outlier test"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_burrows_delta_sources.__doc__ = q_burrows_delta_sources.__doc__.format(k=_MFW_K, p=_DELTA_TOPK)  # noqa: E501
q_dixon_q_outlier.__doc__ = q_dixon_q_outlier.__doc__.format(c=_DIXON_CRIT_MICRO / 1e6)  # noqa: E501
