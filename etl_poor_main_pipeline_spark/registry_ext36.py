"""Operator registry, wave 37: pipeline self-evaluation — LSH recall
audit, Johnson-Lindenstrauss projection quality, exact-quota stratified
sampling, and corpus novelty curves.

These are the ops that EVALUATE the curation pipeline itself (recall of
the approximate dedup path, distortion of the dim-reduction path,
diversity growth of the corpus) — the honest-measurement layer every
production 100 TB pipeline runs beside the transforms.

Scale stances:
- LSH recall: the truth set and the candidate set are both distributed
  pair frames; the audit is one semi-join + three one-row aggregates.
- JL projection: the seeded sign matrix is constant-folded (8x64
  literals); per-vector work is pure expressions, one label aggregate.
- quota sampling: partitioned rank window per stratum — exact N per
  stratum regardless of stratum skew.
- novelty: gram first-occurrence is one MIN aggregate on the gram key;
  per-doc novelty one re-aggregate. Same two-aggregate shape as the
  boilerplate prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .operators import dedup
from .operators.dedup import POLY_P, spread
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# LSH recall audit (X2 eval [EXT])
# --------------------------------------------------------------------------

_LSH_HASHES = 60
_LSH_BANDS = 10
_LSH_ROWS = 6


def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X2 the dedup pipeline's own quality gate: RECALL of the
    MinHash-LSH candidate generator against the exact-Jaccard truth set
    (threshold 0.8, the dedup_jaccard_pairs definition). One row:
    |truth|, |candidates|, |hits|, recall_ppm. Production runs this on
    a sample every time the banding config changes — an approximate
    pipeline without a recall audit is a silent-data-loss machine.
    Shapes: both pair sets stay distributed; the audit is one semi-join
    plus three one-row aggregates. Same fixed-seed portable-hash
    pipeline as dedup_minhash_lsh, so the oracle reproduces candidate
    generation arithmetically."""
    d = _t(spark, sf_dir, "documents")
    truth = dedup.jaccard_token_sets(
        d, threshold=0.8, block_cols=["lang"], length_window=16
    ).select("id_a", "id_b")
    truth = barrier(truth)  # feeds 2 consumers
    sigs = barrier(dedup.minhash_signatures(
        d, num_hashes=_LSH_HASHES, shingle_k=1, id_cols=["doc_id"], token_hash="poly"
    ))
    cands = dedup.minhash_lsh_candidates(
        sigs,
        num_bands=_LSH_BANDS,
        rows_per_band=_LSH_ROWS,
        bucket_hash=False,
        distinct=True,
    ).select("id_a", "id_b")
    cands = barrier(cands)  # feeds 2 consumers
    n_true = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    n_cand = cands.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    n_hit = truth.join(cands, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    return (
        n_true.crossJoin(n_cand)
        .crossJoin(n_hit)
        .select(
            "n_true",
            "n_candidates",
            "n_hits",
            F.floor(F.lit(1000000.0) * F.col("n_hits") / F.col("n_true"))
            .cast("bigint")
            .alias("recall_ppm"),
        )
    )


def _oracle_lsh_recall() -> str:
    p = POLY_P
    coeffs = dedup.minhash_coeffs(_LSH_HASHES)
    mins = ",\n       ".join(
        f"coalesce(list_min(list_transform(hs, x -> (x*{a} + {b}) % {p})), {p}) AS s{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_rows = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || ',' || ".join(
            f"s{b * _LSH_ROWS + r}::VARCHAR" for r in range(_LSH_ROWS)
        )
        + " AS bucket FROM sigs"
        for b in range(_LSH_BANDS)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS ts
  FROM documents
),
truth AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM toks a JOIN toks b
    ON a.doc_id < b.doc_id AND a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 16
  WHERE round(cast(len(list_intersect(a.ts, b.ts)) as double)
              / cast(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) as double), 6) >= 0.8
),
hs AS (
  SELECT doc_id,
         list_transform(ts, t -> list_reduce(
             list_prepend(0::BIGINT, list_transform(string_split(t, ''), c -> ascii(c)::BIGINT)),
             (acc, c) -> (acc * 131 + c) % {p})) AS hs
  FROM toks
),
sigs AS (SELECT doc_id, {mins} FROM hs),
bands AS (
  {band_rows}
),
kept AS (
  SELECT doc_id, band, bucket
  FROM (SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM bands)
  WHERE bsz <= 500
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
nt AS (SELECT count(*)::BIGINT AS n_true FROM truth),
nc AS (SELECT count(*)::BIGINT AS n_candidates FROM cands),
nh AS (
  SELECT count(*)::BIGINT AS n_hits
  FROM truth t WHERE EXISTS (
    SELECT 1 FROM cands c WHERE c.id_a = t.id_a AND c.id_b = t.id_b)
)
SELECT nt.n_true, nc.n_candidates, nh.n_hits,
       cast(floor(1000000.0 * nh.n_hits / nt.n_true) AS bigint) AS recall_ppm
FROM nt, nc, nh
"""


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (X3 [EXT])
# --------------------------------------------------------------------------

_JL_OUT_DIMS = 8
_JL_IN_DIMS = 64
_JL_HALF = (POLY_P - 1) // 2
#: fixed-seed +/-1 sign matrix via the universal-hash sign trick (same
#: construction as the SimHash hyperplanes, different seed)
_JL_COEFFS = dedup.simhash_coeffs(_JL_OUT_DIMS, seed=9091)


def q_jl_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X3 Johnson-Lindenstrauss sanity audit for the dim-reduction
    path: project every embedding 64 -> {_JL_OUT_DIMS} dims through a
    fixed-seed +/-1 sign matrix (constant-folded literals, identical in
    both engines), then report per-label how well scaled projected norms
    preserve true norms — with unnormalized +/-1 entries E[||Pv||^2] =
    k*||v||^2, so ratio = ||Pv||^2 / (k*||v||^2) and JL says E[ratio]=1
    (concentration ~1/sqrt(k)). Per-vector work is pure sequential-sum
    expressions (deterministic FP both engines); one label aggregate."""
    e = _t(spark, sf_dir, "embeddings")
    a_lits = ",".join(str(a) + "L" for a, _ in _JL_COEFFS)
    b_lits = ",".join(str(b) + "L" for _, b in _JL_COEFFS)
    # ONE aggregate over the input-dim sequence carrying an 8-wide
    # accumulator (projs folded together): the unrolled 8x64-term twin is
    # value-identical (same i-ascending summation order per output dim)
    # but bills ~13s of Janino compile; this folds to one codegen loop.
    proj = (
        f"aggregate(sequence(0, {_JL_IN_DIMS - 1}),"
        f" array_repeat(0.0D, {_JL_OUT_DIMS}),"
        " (acc, i) -> zip_with(acc, sequence(0, %d), (a, j) ->"
        " a + element_at(v, i + 1) * (CASE WHEN"
        " (cast(i AS bigint) * element_at(array(%s), j + 1)"
        " + element_at(array(%s), j + 1)) %% %d >= %d"
        " THEN 1.0D ELSE -1.0D END)))"
        % (_JL_OUT_DIMS - 1, a_lits, b_lits, POLY_P, _JL_HALF)
    )
    pe = e.select(
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    ).selectExpr(
        "label",
        "aggregate(v, 0.0D, (acc, x) -> acc + x * x) AS n2",
        proj + " AS p",
    )
    ratio_micro = F.floor(
        F.lit(1e6)
        * (
            F.lit(1.0 / _JL_OUT_DIMS)
            * F.expr("aggregate(p, 0.0D, (acc, x) -> acc + x * x)")
            / F.col("n2")
        )
        + F.lit(0.5)
    ).cast("bigint")
    return (
        pe.select("label", ratio_micro.alias("rm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.floor(F.avg("rm")).cast("bigint").alias("avg_ratio_micro"),
            F.min("rm").alias("min_ratio_micro"),
            F.max("rm").alias("max_ratio_micro"),
        )
        .orderBy("label")
    )


def _oracle_jl() -> str:
    proj_terms = []
    for j, (a, b) in enumerate(_JL_COEFFS):
        terms = " + ".join(
            f"embedding[{i + 1}]::DOUBLE * (CASE WHEN ({i}::BIGINT * {a} + {b}) % {POLY_P}"
            f" >= {_JL_HALF} THEN 1.0 ELSE -1.0 END)"
            for i in range(_JL_IN_DIMS)
        )
        proj_terms.append(f"({terms}) AS p{j}")
    norm2 = " + ".join(
        f"embedding[{i + 1}]::DOUBLE * embedding[{i + 1}]::DOUBLE"
        for i in range(_JL_IN_DIMS)
    )
    pnorm2 = " + ".join(f"p{j} * p{j}" for j in range(_JL_OUT_DIMS))
    scale = 1.0 / _JL_OUT_DIMS
    return f"""
WITH pe AS (
  SELECT vec_id, label, ({norm2}) AS n2,
         {", ".join(proj_terms)}
  FROM embeddings
),
rm AS (
  SELECT label,
         cast(floor(1000000.0 * ({scale!r} * ({pnorm2}) / n2) + 0.5) AS bigint) AS rm
  FROM pe
)
SELECT label, count(*)::BIGINT AS n_vecs,
       cast(floor(avg(rm)) AS bigint) AS avg_ratio_micro,
       min(rm) AS min_ratio_micro,
       max(rm) AS max_ratio_micro
FROM rm GROUP BY label ORDER BY label
"""


# --------------------------------------------------------------------------
# Exact-quota stratified sampling (X8 [EXT])
# --------------------------------------------------------------------------

_QUOTA_N = 20


def q_quota_sample_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X8 exact-N-per-stratum sampling: exactly {_QUOTA_N} docs
    per language, chosen by md5 rank (deterministic, order- and
    partitioning-independent) — the eval-set construction rule when
    every stratum must be represented EQUALLY regardless of its corpus
    share (split_train_val_test's threshold rule draws proportionally
    instead). One partitioned rank window per stratum."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _QUOTA_N)
        .select("lang", F.col("rn").cast("bigint").alias("rank_in_stratum"), "doc_id")
        .orderBy("lang", "rank_in_stratum")
    )


_ORACLE_QUOTA = f"""
SELECT lang, cast(rn AS bigint) AS rank_in_stratum, doc_id
FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
  FROM documents
)
WHERE rn <= {_QUOTA_N}
ORDER BY lang, rank_in_stratum
"""


# --------------------------------------------------------------------------
# Corpus novelty curve (X6 [EXT])
# --------------------------------------------------------------------------

_NOV_K = 3


def q_ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X6 corpus diversity audit: for each document (in doc_id
    ingestion order), the fraction of its DISTINCT {_NOV_K}-grams never
    seen in any earlier document — the novelty curve that tells a
    corpus builder when additional data stops adding information.
    Gram first-occurrence is one MIN aggregate on the gram key; novelty
    one per-doc re-aggregate (the boilerplate-prune two-aggregate
    shape, different statistic)."""
    d = spread(_t(spark, sf_dir, "documents"))
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    grams = (
        d.select("doc_id", toks.alias("ts"))
        .where(F.size("ts") >= _NOV_K)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size("ts") - _NOV_K),
                        lambda i: F.array_join(
                            F.slice(F.col("ts"), i + 1, _NOV_K), " "
                        ),
                    )
                )
            ).alias("gram"),
        )
    )
    grams = barrier(grams, eager=True)  # feeds first-occurrence AND per-doc agg
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.floor(F.lit(1000000.0) * F.col("n_novel") / F.col("n_grams") + F.lit(0.5))
            .cast("bigint")
            .alias("novelty_ppm"),
        )
        .orderBy("doc_id")
    )


_ORACLE_NOVELTY = rf"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(ts[(i+1):(i+{_NOV_K})], ' ') AS gram
  FROM toks, range(0, 100000) t(i)
  WHERE len(ts) >= {_NOV_K} AND i <= len(ts) - {_NOV_K}
),
first AS (SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram)
SELECT g.doc_id,
       count(*)::BIGINT AS n_grams,
       sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
       cast(floor(1000000.0 * sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                  / count(*) + 0.5) AS bigint) AS novelty_ppm
FROM grams g JOIN first f USING (gram)
GROUP BY g.doc_id ORDER BY g.doc_id
"""


REGISTRY_EXT36: dict[str, QuerySpec] = {
    "lsh_recall_audit": QuerySpec(
        q_lsh_recall_audit, _oracle_lsh_recall(), "X2 [EXT] dedup recall gate"
    ),
    "jl_random_projection": QuerySpec(
        q_jl_random_projection, _oracle_jl(), "X3 [EXT] JL distortion audit"
    ),
    "quota_sample_per_stratum": QuerySpec(
        q_quota_sample_per_stratum, _ORACLE_QUOTA, "X8 [EXT] exact-quota sampling"
    ),
    "ngram_novelty_rate": QuerySpec(
        q_ngram_novelty_rate, _ORACLE_NOVELTY, "X6 [EXT] corpus novelty curve"
    ),
}
