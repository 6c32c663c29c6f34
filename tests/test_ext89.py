"""Wave 90: JSD source divergence, Kneser-Ney bigram LM, Heaps'-law curve."""

import math

from etl_poor_main_pipeline_spark.plans.explain import (
    assert_no_global_window,
    assert_no_python_udf,
    unbounded_nested_loop_joins,
)
from etl_poor_main_pipeline_spark.registry_ext89 import (
    q_heaps_law_vocab_growth,
    q_jsd_source_divergence,
    q_kneser_ney_bigram,
)

SF = "/root/testdata/sf0.001"


def test_jsd_bounds_and_symmetry_frame(spark):
    rows = q_jsd_source_divergence(spark, SF).collect()
    assert rows
    ln2_micro = int(math.log(2) * 1e6)
    for r in rows:
        assert r.src_a < r.src_b  # each unordered pair exactly once
        assert 0 <= r.jsd_micro <= ln2_micro + 1  # JSD in [0, ln 2] nats
        assert 0 < r.shared_tokens <= r.union_tokens
    # pair frame is complete: C(n_sources, 2) rows
    n_sources = len({r.src_a for r in rows} | {r.src_b for r in rows})
    assert len(rows) == n_sources * (n_sources - 1) // 2


def test_kneser_ney_probabilities(spark):
    rows = q_kneser_ney_bigram(spark, SF).collect()
    assert len(rows) == 30
    probs = [r.p_kn_micro for r in rows]
    assert probs == sorted(probs, reverse=True)
    for r in rows:
        assert 0 < r.p_kn_micro <= 1_000_000  # a probability
        assert r.pair_count >= 1


def test_heaps_curve_monotone_and_plan(spark):
    df = q_heaps_law_vocab_growth(spark, SF)
    rows = df.collect()
    assert [r.decile for r in rows] == list(range(1, 11))
    toks = [r.n_tokens for r in rows]
    vocab = [r.vocab for r in rows]
    assert toks == sorted(toks) and vocab == sorted(vocab)  # cumulative
    betas = {r.heaps_beta_micro for r in rows}
    assert len(betas) == 1  # one fitted exponent, repeated per row
    beta = betas.pop()
    # Heaps exponent is sub-linear; the template-generated sf0.001 corpus
    # saturates its (31-token) vocabulary in the first decile, so beta == 0
    # exactly there — a real corpus lands near 0.5.
    assert 0 <= beta < 1_000_000
    if vocab[-1] > vocab[0]:
        assert beta > 0


def test_jsd_plan_is_blocked(spark):
    df = q_jsd_source_divergence(spark, SF)
    assert_no_global_window(df)
    assert_no_python_udf(df)
    assert not unbounded_nested_loop_joins(df)
