from etl_poor_main_pipeline_spark.operators.dedup import (
    fingerprint_dedup,
    jaccard_token_sets,
    minhash_lsh_candidates,
    minhash_signatures,
    simhash_near_dup_pairs,
    simhash_signatures_portable,
)


def docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(rows)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )


def test_fingerprint_ignores_case_and_whitespace(spark):
    df = docs(spark, ["Hello   World", "hello world", "different"])
    out = fingerprint_dedup(df).collect()
    counts = sorted(r.dup_count for r in out)
    assert counts == [1, 2]


def test_jaccard_pairs_exact_small(spark):
    rows = [
        "a b c d e f g h",          # 0
        "a b c d e f g x",          # 1: 7/9 with 0  -> 0.7778
        "a b c d e f g h i j",      # 2: 8/10 with 0 -> 0.8
        "completely different words here",  # 3
    ]
    df = docs(spark, rows)
    out = jaccard_token_sets(df, threshold=0.8, block_cols=["lang"], length_window=100)
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert (0, 2) in pairs and abs(pairs[(0, 2)] - 0.8) < 1e-9
    assert (0, 1) not in pairs  # 0.7778 below threshold
    assert (0, 3) not in pairs


def test_jaccard_bucket_join_finds_cross_bucket_pairs(spark):
    # lengths 15 vs 17 straddle a 16-wide bucket boundary; the ±1 bucket
    # explosion must still find the pair exactly once
    df = spark.createDataFrame(
        [(0, "a b c d", "en", "s", 15), (1, "a b c d", "en", "s", 17)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = jaccard_token_sets(df, threshold=0.9, block_cols=["lang"], length_window=16)
    rows = out.collect()
    assert len(rows) == 1 and rows[0].jaccard == 1.0


def test_minhash_identical_docs_always_candidates(spark):
    df = docs(spark, ["the quick brown fox jumps over the lazy dog today",
                      "the quick brown fox jumps over the lazy dog today",
                      "entirely unrelated content about database engines"])
    sigs = minhash_signatures(df)
    cands = {(r.id_a, r.id_b) for r in minhash_lsh_candidates(sigs).collect()}
    assert (0, 1) in cands


def test_minhash_signature_deterministic(spark):
    df = docs(spark, ["the quick brown fox jumps over the lazy dog"])
    s1 = minhash_signatures(df).head().minhash
    s2 = minhash_signatures(df).head().minhash
    assert s1 == s2


def test_simhash_identical_distance_zero(spark):
    df = docs(spark, ["alpha beta gamma delta", "alpha beta gamma delta", "zzz yyy xxx www"])
    sigs = simhash_signatures_portable(df, bits=60)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(sigs, bits=60).collect()
    }
    assert pairs.get((0, 1)) == 0


def test_lsh_recall_against_exact(spark):
    # every exact-Jaccard>=0.8 pair should surface as an LSH candidate on
    # the fixture corpus (b=16, r=4 -> P(candidate | s=0.8) ≈ 0.9996)
    real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r.id_a, r.id_b)
        for r in jaccard_token_sets(
            real, threshold=0.8, block_cols=["lang"], length_window=16
        ).collect()
    }
    # shingle_k=1: estimate token-set Jaccard, the measure the exact op uses
    sigs = minhash_signatures(real, shingle_k=1)
    cands = {(r.id_a, r.id_b) for r in minhash_lsh_candidates(sigs).collect()}
    missed = exact - cands
    assert len(missed) <= max(1, len(exact) // 10), f"LSH missed {len(missed)}/{len(exact)}"
