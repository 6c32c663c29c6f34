"""Deduplication operators ([EXT] X1/X2, SURVEY §2.7) over the ``documents``
table — exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup.

Scale notes (100 TB posture):
- Exact dedup is a hash-aggregate on a fingerprint — one shuffle on a short
  key, map-side partial aggregation, no row text moves after the project.
- MinHash+LSH: signatures are computed scan-side (pure expressions), then
  only (band_hash, doc_id) pairs shuffle — candidate generation never
  shuffles document text. Pair verification joins text back by doc_id.
- SimHash: 60-bit signature per doc; near-dup = signatures matching on
  one of k+1 signature blocks, then a Hamming check. All integer ops,
  JVM-side.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint_md5, shingles_expr, tokens_expr
from ..session import barrier

#: Mersenne prime 2^31-1 — the modulus for both the universal MinHash
#: coefficients and the portable polynomial string hash. Every intermediate
#: product stays under 2^62 (int64-safe with ANSI mode on).
POLY_P = (1 << 31) - 1
POLY_MULT = 131

#: Decimal places of the Jaccard values this module emits/filters on.
#: The Bloom-mask prune's slack is DERIVED from this (ADVICE r13: the
#: two were silently coupled): round(J, d) >= t can admit J as low as
#: t - 0.5*10^-d, so the prune must budget against t - 10^-(d-1) to
#: stay strictly conservative. Changing the precision here keeps prune
#: and filter in lockstep.
JACCARD_ROUND_DECIMALS = 6
_JACCARD_ROUND_SLACK = 10.0 ** -(JACCARD_ROUND_DECIMALS - 1)


def poly_hash_expr(col) -> F.Column:
    """Portable polynomial string hash: fold codepoints with
    ``acc = (acc*131 + code) mod (2^31-1)``.

    Bit-identical in any engine with 64-bit integer arithmetic (the DuckDB
    oracle twins reproduce it with ``list_reduce``), unlike ``xxhash64``
    whose implementation is Spark-specific. Production MinHash/SimHash
    default to ``xxhash64`` (JVM intrinsic, ~3x faster); the oracle-paired
    registry variants use this hash so the full approximate pipeline is
    cross-engine deterministic. Corpus is ASCII; ``ascii()`` returns the
    codepoint of the first character in both engines for non-ASCII too.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.aggregate(
        F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, code: F.pmod(acc * POLY_MULT + code, F.lit(POLY_P)),
    )


def minhash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Fixed-seed universal-hash coefficients (a, b) for h(x)=(a*x+b) mod p.

    Shared between ``minhash_signatures`` and the registry's generated
    DuckDB oracle so both engines evaluate the identical hash family."""
    rnd = random.Random(seed)
    return [(rnd.randrange(1, POLY_P), rnd.randrange(0, POLY_P)) for _ in range(num_hashes)]


def simhash_coeffs(bits: int, seed: int = 1337) -> list[tuple[int, int]]:
    """Fixed-seed per-bit rehash coefficients for portable SimHash."""
    rnd = random.Random(seed)
    return [(rnd.randrange(1, POLY_P), rnd.randrange(0, POLY_P)) for _ in range(bits)]


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to the session's core count when the input arrives
    in fewer partitions (e.g. one small parquet file -> one split). The
    signature/shingle pipelines here are CPU-bound expressions, and a
    single input split would serialize them on one core. No-op at scale,
    where the scan already yields >= defaultParallelism splits — so this
    never adds a shuffle to a big input."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def fingerprint_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact near-canonical dedup: collapse on md5(normalized text)."""
    fp = df.withColumn("fingerprint", fingerprint_md5(text_col))
    return (
        fp.groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
    id_cols: list[str] | None = None,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document, as pure expressions.

    Universal hashing over shingle hashes: h_i(x) = (a_i * x + b_i) mod p.
    Coefficients come from a fixed seeded sequence so signatures are
    deterministic across runs. ``xxhash64`` supplies the base shingle hash
    (JVM intrinsic, no Python). p = 2^31-1 (Mersenne prime) keeps every
    intermediate product under 2^62, inside int64 with ANSI mode on.

    Shape: entirely map-side — shingle-hash array per row, then one
    array_min(transform(...)) per hash function. No explode, no shuffle;
    signatures stream out of the scan stage. (The explode +
    groupBy(doc).agg(min x64) alternative forces a shuffle by doc id and
    measured ~20x slower at sf0.1.)

    ``token_hash``: "xxhash64" (default, JVM intrinsic) or "poly" (portable
    polynomial hash, see ``poly_hash_expr``) for the oracle-paired variant.
    Both feed the same universal-hash family; the plan shape is identical.
    """
    p = POLY_P
    coeffs = minhash_coeffs(num_hashes)

    keep_cols = id_cols if id_cols else df.columns
    base = F.array_distinct(shingles_expr(text_col, shingle_k))
    if token_hash == "poly":
        hashes = F.transform(base, poly_hash_expr)
    else:
        hashes = F.transform(base, lambda s: F.pmod(F.xxhash64(s), F.lit(p)))
    # _hs is referenced by the aggregate below: keep it in its own
    # projection — Catalyst's CollapseProject leaves multi-referenced
    # non-trivial aliases alone, so tokenization/hashing runs once per row
    with_hashes = spread(df).select(*keep_cols, hashes.alias("_hs"))
    # ONE aggregate carrying a num_hashes-wide running-min vector (same
    # trick as simhash_signatures_portable): the per-function shape (num_hashes
    # separate array_min(transform) branches) was value-identical but
    # compiled num_hashes codegen loops — ~2s Janino time billed to the
    # first run. Coefficient arrays are constant-folded literals. A doc
    # with no shingles yields the init vector (all p) rather than NULLs.
    a_arr = "array(" + ",".join(f"{a}L" for a, _ in coeffs) + ")"
    b_arr = "array(" + ",".join(f"{b}L" for _, b in coeffs) + ")"
    sig_sql = f"""
    aggregate(_hs, array_repeat({p}L, {num_hashes}),
      (acc, x) -> zip_with(acc,
        zip_with({a_arr}, {b_arr}, (a, b) -> pmod(x * a + b, {p}L)),
        (m, h) -> least(m, h)))
    """
    return with_hashes.select(*keep_cols, F.expr(sig_sql).alias("minhash"))


def minhash_lsh_candidates(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 500,
    block_cols: list[str] | None = None,
    distinct: bool = True,
    bucket_hash: bool = True,
) -> DataFrame:
    """Band the signatures and self-join on band buckets -> candidate pairs.

    Only (band, bucket_hash, id) tuples shuffle; with b bands of r rows the
    match probability is 1-(1-s^r)^b for Jaccard s — b=16, r=4 targets
    s≈0.5+. Returns distinct (id_a, id_b) with id_a < id_b.

    ``max_bucket_size`` drops mega-buckets before the join — a bucket with
    m members contributes m² candidate pairs, and buckets that big are
    non-discriminative (degenerate signatures / boilerplate text). This is
    the standard LSH skew guard: without it one hot bucket turns the
    candidate join quadratic at scale. True near-dup pairs still meet in
    their other (selective) bands.

    ``bucket_hash=True`` (default) compacts each band slice to an 8-byte
    xxhash64 join key — the production shuffle-size choice. ``False``
    packs each band slice EXACTLY into ceil(r/2) bigints (two mod-p
    signature values per word: v1*2^31 + v2 is injective because every
    value is <= 2^31-1 < 2^31), so key equality <=> slice equality with
    no hash involved at all — the oracle-exact path, at ~1/3 the shuffle
    width of the comma-joined slice string it replaces (and integer
    instead of string compares in the bucket window + self-join).
    """

    n_words = (rows_per_band + 1) // 2
    bucket_cols = (
        ["bucket"] if bucket_hash else [f"bucket_{w}" for w in range(n_words)]
    )

    def _band_key(b: int) -> F.Column:
        if bucket_hash:
            slice_str = F.concat_ws(
                ",",
                *[
                    F.col("minhash")[b * rows_per_band + r].cast("string")
                    for r in range(rows_per_band)
                ],
            )
            return F.struct(F.xxhash64(slice_str).alias("bucket"))
        words = []
        for i in range(0, rows_per_band, 2):
            v = F.col("minhash")[b * rows_per_band + i].cast("bigint")
            if i + 1 < rows_per_band:
                v = v * F.lit(1 << 31) + F.col("minhash")[
                    b * rows_per_band + i + 1
                ].cast("bigint")
            words.append(v.alias(f"bucket_{i // 2}"))
        return F.struct(*words)

    bands = sig_df.select(
        F.col(id_col),
        *(F.col(c) for c in (block_cols or [])),
        F.posexplode(F.array(*[_band_key(b) for b in range(num_bands)])).alias(
            "band", "_bk"
        ),
    ).select(id_col, *(block_cols or []), "band", "_bk.*")
    if max_bucket_size is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy(*(block_cols or []), "band", *bucket_cols)
        bands = (
            bands.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    a = bands.alias("a")
    b = bands.alias("b")
    cond = (F.col("a.band") == F.col("b.band")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    for c in bucket_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    for c in block_cols or []:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    out = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )
    # distinct=False returns the raw multi-band pair stream (a pair
    # colliding in k bands appears k times). When a cheap map-side
    # verification follows, deduplicating *after* verification is far
    # cheaper than a distinct here: verification shrinks the stream to
    # true pairs first, so the shuffle dedups ~1M rows instead of ~19M
    # on a template-heavy corpus.
    return out.distinct() if distinct else out


def minhash_verify_candidates(
    candidates: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    token_repr: str = "xxhash64",
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs — the second half
    of the MinHash dedup pipeline. Joins each candidate pair back to its
    two token sets and keeps pairs with true Jaccard >= threshold.

    At scale this is the whole point of LSH: the exact set intersection
    runs on |candidates| pairs instead of the O(n^2) cross product.

    ``token_repr``: "xxhash64" (default) intersects bigint token hashes
    (~2x faster than string intersect, per-pair collision odds ~1e-13);
    "string" intersects the raw token sets — exact, and what the DuckDB
    oracle twin computes."""
    tok_set = F.array_distinct(tokens_expr(text_col))
    if token_repr == "xxhash64":
        tok_set = F.transform(tok_set, lambda t: F.xxhash64(t))
    toks = spread(df).select(
        F.col(id_col).alias("_vid"),
        tok_set.alias("_vtok"),
    ).withColumn("_vn", F.size("_vtok"))
    ta = toks.select(
        F.col("_vid").alias("id_a"), F.col("_vtok").alias("_tok_a"), F.col("_vn").alias("_na")
    )
    tb = toks.select(
        F.col("_vid").alias("id_b"), F.col("_vtok").alias("_tok_b"), F.col("_vn").alias("_nb")
    )
    t = F.lit(threshold)
    inter = F.size(F.array_intersect(F.col("_tok_a"), F.col("_tok_b")))
    union = F.col("_na") + F.col("_nb") - inter
    jac = F.round(inter.cast("double") / union.cast("double"), JACCARD_ROUND_DECIMALS)
    # token sets are per-document, so this side GROWS with the corpus: the
    # broadcast pin is gated on Catalyst's own size estimate
    # (fastpath.broadcast_if_plan_small) — pinned while the projected doc
    # frame fits an executor (making verification a map-side join over
    # candidates), a plain shuffled equi-join on doc id at 100 TB.
    # The size-ratio filter (J >= t implies min/max set size >= t) runs
    # BEFORE the intersect — neutral on this size-uniform template corpus
    # (measured 4.22s vs 4.34s at sf0.1) but prunes real work on corpora
    # whose LSH candidates cross length strata, which is the 100 TB case.
    # dropDuplicates handles a non-distinct candidate stream (see
    # minhash_lsh_candidates(distinct=False)) after the >= threshold
    # filter has shrunk it.
    from ..fastpath import broadcast_if_plan_small

    return (
        spread(candidates).join(broadcast_if_plan_small(ta), "id_a")
        .join(broadcast_if_plan_small(tb), "id_b")
        .filter(F.least("_na", "_nb") >= t * F.greatest("_na", "_nb"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= t)
        .dropDuplicates(["id_a", "id_b"])
    )


def jaccard_token_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    block_cols: list[str] | None = None,
    length_window: int | None = 16,
    length_col: str = "n_chars",
) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs (the verifiable baseline X2).

    Semantics: pairs with equal ``block_cols`` (e.g. lang), length within
    ``length_window``, and Jaccard >= threshold; (id_a < id_b, jaccard).

    Scale design: the length window is turned into an *equi-join* — side A
    explodes to its length bucket ±1 (bucket width = window), side B keeps
    its own bucket; |Δlen| <= window implies bucket distance <= 1, and each
    qualifying pair meets on exactly one bucket key, so no dedup pass is
    needed. This makes the candidate join a shuffled hash join on
    (block, bucket) instead of a quadratic theta-join. Two more prunes run
    before the set intersection: the exact length window, and the size
    bound |A|,|B| ratio >= t implied by Jaccard >= t.
    """
    bucket_w = length_window if length_window is not None else 1 << 30
    # token sets are xxhash64-hashed: the pairwise intersection only needs
    # set cardinalities, and bigint intersection measured ~2x faster than
    # string intersection (collision probability within a pair ~1e-13)
    base = barrier(
        spread(df)
        .select(
            F.col(id_col),
            *(F.col(c) for c in (block_cols or [])),
            F.col(length_col),
            F.floor(F.col(length_col) / F.lit(bucket_w)).cast("long").alias("_bkt"),
            F.transform(
                F.array_distinct(tokens_expr(text_col)), lambda t: F.xxhash64(t)
            ).alias("tok_set"),
        )
        .withColumn("_ntok", F.size(F.col("tok_set")))
        # 64-bit token Bloom mask (guide §3.2, one hash function): every
        # token folds one bit; a bit set in A but clear in B certifies
        # >= 1 token of A absent from B, so bit_count(sig_a & ~sig_b)
        # LOWER-bounds |A \ B| with zero false negatives. Evaluated as a
        # join-condition filter it discards the overwhelming majority of
        # blocked candidates (measured below-threshold pairs are ~14 bits
        # apart vs an allowed-miss budget of ~3) before the O(|A|+|B|)
        # array_intersect ever runs — the same decision, ~50x cheaper.
        .withColumn(
            "_sig",
            F.expr(
                "aggregate(tok_set, 0L,"
                " (acc, h) -> acc | shiftleft(1L, cast(pmod(h, 64) as int)))"
            ),
        )
    )
    a = base.select(
        "*", F.explode(F.array(F.col("_bkt") - 1, F.col("_bkt"), F.col("_bkt") + 1)).alias("_jbkt")
    ).drop("_bkt").alias("a")
    b = base.withColumnRenamed("_bkt", "_jbkt").alias("b")
    cond = (F.col("a._jbkt") == F.col("b._jbkt")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in block_cols or []:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    if length_window is not None:
        cond = cond & (
            F.abs(F.col(f"a.{length_col}") - F.col(f"b.{length_col}")) <= F.lit(length_window)
        )
    # size-ratio prune: jaccard >= t  =>  min(|A|,|B|)/max(|A|,|B|) >= t
    tl = F.lit(threshold)
    cond = cond & (
        F.least(F.col("a._ntok"), F.col("b._ntok"))
        >= tl * F.greatest(F.col("a._ntok"), F.col("b._ntok"))
    )
    # Bloom-mask prune (sound, conservative): J >= t forces
    # I >= t/(1+t)*(na+nb), i.e. each side may miss at most
    # n_side - I_min tokens of the other. bit_count(sig_x & ~sig_y)
    # lower-bounds the true miss count, so "> budget" certifies J < t.
    # The final filter compares round(J, JACCARD_ROUND_DECIMALS) >= t,
    # so the budget is derived from t - 10^-(d-1) (covers the 0.5*10^-d
    # rounding reach) and padded 1e-6 against double rounding — the
    # prune NEVER drops a qualifying pair, at any shared precision.
    t_eff = max(threshold - _JACCARD_ROUND_SLACK, 0.0)
    i_min = F.lit(t_eff / (1.0 + t_eff)) * (
        F.col("a._ntok") + F.col("b._ntok")
    ).cast("double")
    eps = F.lit(1e-6)
    cond = cond & (
        F.expr("cast(bit_count(a._sig & ~b._sig) as double)")
        <= F.col("a._ntok").cast("double") - i_min + eps
    )
    cond = cond & (
        F.expr("cast(bit_count(b._sig & ~a._sig) as double)")
        <= F.col("b._ntok").cast("double") - i_min + eps
    )
    inter = F.size(F.array_intersect(F.col("a.tok_set"), F.col("b.tok_set")))
    # |A ∪ B| = |A| + |B| - |A ∩ B| — avoids materializing the union array
    union = F.col("a._ntok") + F.col("b._ntok") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(jac, JACCARD_ROUND_DECIMALS).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= tl)
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    driver_edge_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components by iterative min-label propagation — the
    collapse step of near-dup dedup (every doc in a duplicate cluster maps
    to the cluster's min id).

    ``pairs`` has (id_a, id_b) edges; ``nodes`` lists all ids (singletons
    become their own component).

    Scale design: the duplicate-pair edge list is orders of magnitude
    smaller than the corpus (it only contains near-dups), so when it fits
    under ``driver_edge_threshold`` the components are solved with a
    driver-side union-find in one pass and broadcast back — one collect of
    the (already tiny) pairs instead of O(diameter) shuffle rounds. Above
    the threshold, falls back to distributed min-label propagation: each
    iteration joins labels across edges and keeps the min; converges in
    O(cluster diameter) rounds, with labels checkpointed per round via
    localCheckpoint to keep the plan from growing unboundedly (lineage
    blow-up is the classic failure mode of iterative DataFrame algorithms).
    """
    # Arrow collect (toPandas) instead of take(): the row-format collect
    # serialized ~334k edge rows one by one (~0.5s at sf0.1); the Arrow
    # path moves two long columns in a handful of batches. Same rows,
    # same threshold semantics (limit N+1 detects overflow).
    sampled = (
        pairs.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))
        .limit(driver_edge_threshold + 1)
        .toPandas()
    )
    # ADVICE r13: Arrow silently widens a long column containing nulls to
    # float64 (take() surfaced None explicitly) and ids above 2^53 would
    # lose precision in the union-find labels — fail loudly instead
    for c in ("id_a", "id_b"):
        if str(sampled[c].dtype) != "int64":
            raise TypeError(
                f"connected_components: edge column {c} collected as "
                f"{sampled[c].dtype}, expected int64 — null or "
                "non-integral ids in the pair frame"
            )
    if len(sampled) <= driver_edge_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        for ia, ib in zip(
            sampled["id_a"].to_numpy().tolist(), sampled["id_b"].to_numpy().tolist()
        ):
            ra, rb = find(ia), find(ib)
            if ra != rb:
                hi, lo = max(ra, rb), min(ra, rb)
                parent[hi] = lo
        mapping = [(x, find(x)) for x in list(parent)]
        spark = nodes.sparkSession
        base = nodes.select(F.col(id_col).cast("long").alias(id_col))
        if not mapping:
            return base.select(F.col(id_col), F.col(id_col).alias("component"))
        mdf = spark.createDataFrame(mapping, ["node", "component"])
        return (
            base.join(F.broadcast(mdf), base[id_col] == mdf.node, "left")
            .select(
                F.col(id_col),
                F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
            )
        )
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    labels = nodes.select(F.col(id_col).alias("node"), F.col(id_col).alias("component"))
    for _ in range(max_iterations):
        # candidate label for each node: min over neighbors' labels
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
            )
        )
        new_labels = barrier(new_labels, eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node").alias(id_col), "component")


def simhash_signatures_portable(
    df: DataFrame, text_col: str = "text", bits: int = 60, id_cols: list[str] | None = None
) -> DataFrame:
    """Portable SimHash per document, cross-engine deterministic.

    Shape: entirely map-side — token-hash array per row, then ONE
    aggregate() carrying a ``bits``-wide vote vector (+1/-1 per bit),
    folded into a single long. A per-bit shape (one aggregate() loop per
    bit) is bit-identical but ~9x slower: Janino compiles one loop body
    per bit and re-traverses the token array each time. No explode, no
    shuffle; signatures stream out of the scan stage.

    Token hash is the polynomial hash (``poly_hash_expr``, 31 bits), so
    per-signature-bit randomness comes from a fixed-seed rehash family
    instead of the token hash's own bits: bit_i votes +1 iff
    ``(x*a_i + b_i) mod p >= (p-1)/2`` — a balanced pairwise-independent
    bit family over the token hash, which is exactly the property SimHash
    needs. 60 bits (not 64) keeps the folded signature non-negative in
    int64 so ``>>``/``&`` block extraction behaves identically in Spark
    and DuckDB. The generated oracle twin reproduces every step.
    """
    p = POLY_P
    half = (p - 1) // 2
    coeffs = simhash_coeffs(bits)
    a_arr = "array(" + ",".join(f"{a}L" for a, _ in coeffs) + ")"
    b_arr = "array(" + ",".join(f"{b}L" for _, b in coeffs) + ")"
    keep_cols = id_cols if id_cols else df.columns
    hashes = F.transform(tokens_expr(text_col), poly_hash_expr)
    with_hashes = spread(df).select(*keep_cols, hashes.alias("_hs"))
    sig_sql = f"""
    aggregate(
      zip_with(
        aggregate(_hs, array_repeat(0, {bits}),
          (acc, x) -> zip_with(acc,
            zip_with({a_arr}, {b_arr},
              (a, b) -> CASE WHEN pmod(x * a + b, {p}L) >= {half}L THEN 1 ELSE -1 END),
            (v, s) -> v + s)),
        sequence(0, {bits - 1}), (v, i) -> struct(v, i)),
      0L,
      (acc, s) -> acc | CASE WHEN s.v > 0 THEN shiftleft(1L, s.i) ELSE 0L END
    )"""
    return with_hashes.select(*keep_cols, F.expr(sig_sql).alias("simhash"))


def simhash_near_dup_pairs(
    sig_df: DataFrame, id_col: str = "doc_id", max_hamming: int = 3, bits: int = 64
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= k, using the standard
    block-permutation trick: split the ``bits``-wide signature into (k+1)
    blocks; any pair within distance k agrees exactly on >=1 block -> join
    per block on block equality, then verify true Hamming distance with
    bit_count."""
    nblocks = max_hamming + 1
    width = bits // nblocks
    blocks = sig_df.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("blkval"),
                    )
                    for i in range(nblocks)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.blk", "bb.blkval")
    a, b = blocks.alias("a"), blocks.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.blkval") == F.col("b.blkval"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .distinct()
    )
