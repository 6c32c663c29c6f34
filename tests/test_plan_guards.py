"""Registry-wide scale guards, one sweep: every batch registry query is
built ONCE at sf0.001 with the broadcast size gate forced shut (the
at-scale posture), and four detectors from ``plans/explain.py`` read that
build's formatted and analyzed plans:

  * ``python_udf_nodes`` — a row-at-a-time Python UDF (BatchEvalPython)
    leaves whole-stage codegen and pickles every row. No query may plan
    one; there is no sanction list.
  * ``global_window_nodes`` — the round-3 defect class: an unpartitioned
    Window ('WindowExec: No Partition Defined') serializes the whole input
    through ONE task — correct at sf0.1, catastrophic at 100 TB.
  * ``unbounded_nested_loop_joins`` — the round-4 defect class: a
    nested-loop pair join (CartesianProduct / BroadcastNestedLoopJoin)
    whose inputs BOTH scale with the corpus does O(N^2) work at 100 TB no
    matter how fast it runs at sf0.1 (VERDICT.md round 4:
    proportional-sample quadratics — blocking recall audit at 24.5s, knn
    vote, kendall tau). Every nested-loop join needs at least one provably
    bounded side — a LIMIT / TakeOrderedAndProject (the hash-rank
    fixed-count sample idiom), a keyless aggregate, a literal table/spine.
  * ``unbounded_broadcast_hints`` — the round-7 defect class: an explicit
    ``F.broadcast`` pinned on a side that GROWS with the corpus (filtered
    orders, customer projections, supplier keysets). Spark honors explicit
    broadcast hints regardless of actual size and AQE cannot demote them,
    so each such pin is a driver/executor OOM at 100 TB (VERDICT r7
    "What's wrong #2").

For each guard the sweep asserts both directions from the same result: no
flagged query is missing from the guard's sanction list, and no
sanctioned query has stopped being flagged (a stale entry must go). The
negative controls at the bottom prove each detector still fires on a
known-bad frame, so a sweep that sees nothing cannot pass vacuously.

Global-window sanctions (each docstring cross-references its scale-safe
variant):
  * window_ntile / window_distribution — the literal SQL semantics being
    demonstrated IS a total-order NTILE/CUME_DIST; the scale-safe
    equivalent is equi_depth_histogram's two-phase rank.
  * training_pack_greedy — global-order spec twin, kept oracle-pinned;
    training_pack_sharded is the scale default.
  * group_sequential_obf — cumulative interim looks over the DAILY
    aggregate frame: the window input is calendar-bounded (one row per
    experiment day, ~365-3650 rows at any corpus size), so the single
    task processes a constant-size frame — the bounded-frame category,
    not a corpus scan. (Catalyst folds the constant partition key, so
    the plan prints as unpartitioned.)
  * propensity_match_att — the nearest-control prefix scans run over the
    LITERAL 1001-row propensity-bucket spine (spark.range(0, 1001)),
    constant at any corpus size; the corpus itself is only aggregated.
  * regression_discontinuity — the rank-exact cutoff CDF runs over the
    per-n_chars bin frame, bounded by the document-length DOMAIN (a few
    thousand rows), not the corpus (same category as pinball_loss_eval's
    per-type value bins, which carry a real partition key).
  * ams_f2_sketch — the median-of-groups window runs over the sketch's
    GROUP SUMS (one row per AMS group, a fixed sketch parameter), after
    the corpus is reduced map-side into the sketch.
  * rank_biased_overlap — row_number runs over the two LIMIT-d ranked
    lists (_RBO_D rows each, a query constant), not the corpus.
  * nelson_aalen_hazard — the cumulative-hazard window runs over the DAY
    spine (one row per calendar day, calendar-bounded at any corpus size).
  * successive_halving_bandit — per-round ranking runs over the surviving
    ARM list (enum-bounded event sources, halved each round).
  * pr_auc_average_precision — the precision-prefix window runs over
    DISTINCT centi-score value cells (≤10k rows by score domain), after a
    groupBy reduces the corpus to per-cell counts.
  * kruskal_wallis_rank_test — midrank assignment runs over DISTINCT
    value cells (score-domain-bounded), post-reduce.
  * periodogram_fixed_periods — the spectral sums run over the HOURLY
    spine and a fixed candidate-period grid (both calendar/constant
    bounded).
  * pettitt_changepoint — the Mann-Whitney U prefix window runs over the
    HOURLY aggregate spine (calendar-bounded).
  * variance_ratio_random_walk — lag/rolling windows run over the HOURLY
    aggregate spine (calendar-bounded).

Nested-loop sanctions (all bounded by DOMAIN, not by plan shape — a
grouping aggregate over a value-bounded key, which no plan inspection can
distinguish from a grouping aggregate over an id):
  * join_cross — SQL-surface CROSS JOIN demo over the two O(25)-row dims.
  * range_join_band — the deliberate non-equi band-join demo; its own
    docstring states banding keys converts it to equi at scale.
  * ks_two_sample_drift — bins x event_type grid, both sides value-domain
    aggregates (value deciles, ~5 event types).
  * fanout_gini — Gini mean-absolute-difference over the order-fanout
    value histogram (fanout values, not orders).
  * contrastive_margin_stats / embedding_silhouette_margin — vectors x
    label-centroids, centroid side bounded by the label domain.
  * retrieval_eval_metrics — triangular rank over the BM25 top-15; the
    LIMIT is hidden behind a lazy localCheckpoint that feeds two sides.
  * uplift_qini_by_score — cumulative sums over score-bucket aggregates
    (bounded bucket domain).
  * kmv_set_ops — event-type pair grid: both sides grouping aggregates
    over the 5-value event_type enum, each further k-bounded (KMV k=64).

The scan_prefix triangular close (`_g_prev < _g`) is exempted inside the
detector itself — its totals frame is group_width (4096x) smaller than the
input by construction, the documented bounded-reduction idiom.

Broadcast policy enforced here (see fastpath.broadcast_if_small and
plans.explain.unbounded_broadcast_hints):
  * the sweep runs with the size gate FORCED SHUT (threshold 0 = any
    corpus is 'too big'), so it audits the AT-SCALE plan: every
    ``broadcast_if_small`` pin disappears and only unconditional pins
    remain;
  * an unconditional pin must be bounded BY CONSTRUCTION — an aggregate
    (bounds to its key domain), a LIMIT, a literal relation, a small
    range, or a join against such a side (the fixed-holdout idiom) must
    cap the hinted subtree before any growing-table scan;
  * whether an aggregate's KEY DOMAIN itself grows with the corpus (user
    keys vs event-type enums) is semantic, adjudicated in query
    docstrings/PLANS.md — out of mechanical reach here;
  * ``localCheckpoint`` truncates the logical plan, so a broadcast of a
    checkpointed frame is unknowable mechanically (LogicalRDD witness).
    Each such query carries a sanction below naming the REDUCED frame
    that was materialized; a sanction never waives a raw growing SCAN —
    Relation witnesses fail even for sanctioned names.

Streaming queries are exercised (and drained) in their own tests; building
them here would re-run whole pipelines, so they are skipped by prefix.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import etl_poor_main_pipeline_spark.fastpath as fastpath
from etl_poor_main_pipeline_spark import registry
from etl_poor_main_pipeline_spark.plans.explain import (
    global_window_nodes,
    plan_texts,
    python_udf_nodes,
    unbounded_broadcast_hints,
    unbounded_nested_loop_joins,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"

STREAM_PREFIXES = ("streaming_", "stream_")

#: Catalyst analysis/optimization runs in the JVM and py4j calls release
#: the GIL while blocked on the gateway socket, so a small thread pool
#: overlaps the per-query plan builds; the builders mutate no session conf
#: (the streaming builders that do are skipped).
SWEEP_THREADS = 8

ALLOWED_GLOBAL = {
    "window_ntile",
    "window_distribution",
    "training_pack_greedy",
    "group_sequential_obf",
    "propensity_match_att",
    "regression_discontinuity",
    # Waves 101-110 bounded-frame adjudications (see module docstring):
    "ams_f2_sketch",
    # greedy_max_coverage was sanctioned here through round 9; its r10
    # rewrite computes the K-step running sum driver-side (each round's
    # 1-row winner is collected under LIMIT 1), so no window remains.
    "rank_biased_overlap",
    "nelson_aalen_hazard",
    "successive_halving_bandit",
    "pr_auc_average_precision",
    "kruskal_wallis_rank_test",
    "periodogram_fixed_periods",
    "pettitt_changepoint",
    "variance_ratio_random_walk",
    # Wave 111: prefix-ECDF walk over centi VALUE CELLS (domain-bounded,
    # same category as pr_auc_average_precision)
    "cramer_von_mises_2samp",
    # Wave 115: cumulative walk over (n_chars) VALUE CELLS (domain-bounded)
    "palma_ratio_lengths",
    # Wave 115: cumulative/lag windows over the calendar-bounded hourly
    # spine (same category as pettitt_changepoint)
    "page_hinkley_drift",
    "dickey_fuller_unit_root",
    # Wave 116: lag window over the hourly spine / prefix walks over
    # centi VALUE CELLS (both domain-bounded, sanctioned categories)
    "granger_causality_hourly",
    "kuiper_two_sample",
    "mood_median_test",
    # Wave 117: variance-weighted prefix walk over centi VALUE CELLS
    "anderson_darling_2samp",
    # Wave 118: risk-set suffix walk over duration-DAY cells (calendar-
    # bounded, same category as pettitt_changepoint) / pairwise-distance
    # prefix walk over centi VALUE CELLS (same category as
    # cramer_von_mises_2samp)
    "log_rank_survival",
    "energy_distance_2samp",
    # Wave 120: midrank/dominance prefix walks over centi VALUE CELLS
    # (same category as cramer_von_mises_2samp)
    "brunner_munzel_test",
    "cliffs_delta_effect",
    # Wave 121: order-statistic CDF / midrank prefix walks over centi
    # VALUE CELLS (same category)
    "pot_mean_excess",
    "cucconi_test",
    # Wave 122: midrank/score prefix walks over centi VALUE CELLS (same
    # category); hodges_lehmann walks the value-domain-bounded DECI
    # difference-cell frame (cells x cells, constant at any corpus size)
    "wilcoxon_signed_rank",
    "ansari_bradley_test",
    "jonckheere_terpstra_trend",
    "hodges_lehmann_shift",
    # Wave 124: lag/prefix/rank windows over the calendar-bounded DAILY
    # spine (same category as pettitt_changepoint/dickey_fuller); bartels
    # additionally walks the value-cell frame (CvM category)
    "kpss_stationarity",
    "engle_granger_coint",
    "permutation_entropy_daily",
    "turning_point_test",
    "cox_stuart_trend",
    "bartels_rank_vonneumann",
    # Wave 126: decile cuts off the score-cell CDF — scores snapped to
    # whole value units, so the walked frame is bounded by the per-user
    # activity envelope (value-cell category), not user cardinality
    "decile_lift_table",
    # Wave 127: the n_t-weighted log-rank's suffix walk over
    # calendar-bounded duration-day cells (same sanctioned cell-walk
    # category as log_rank_survival)
    "gehan_breslow_wilcoxon",
    # Wave 128: Lorenz prefix / top-share suffix walks over DECI-UNIT
    # per-user total cells — bounded by the per-user activity envelope
    # (the decile_lift_table sanction category), not user cardinality
    "lorenz_curve_deciles",
    "top_share_percentiles",
    # Wave 130: risk-set suffix walks + KM ln-prefix walks over the
    # calendar-bounded duration-day spine (the log_rank_survival
    # sanction category); rmst partitions its walks by cohort.
    # cox_ph_newton_1cov shares the same walk but localCheckpoints the
    # ~60-row day-cell frame before its Newton loop, so the returned
    # plan shows LogicalRDD instead of the Window — no sanction entry
    # (the staleness check below would flag one as stale).
    "aalen_johansen_cif",
    "schoenfeld_ph_check",
    # Wave 133: lag/lead windows over the calendar-bounded DAILY spine
    # (same category as pettitt_changepoint/dickey_fuller).
    # sample_entropy_daily shares the category but localCheckpoints its
    # template frame before the pair join, so the returned plan shows
    # LogicalRDD instead of the Window — no sanction entry (the
    # staleness check below would flag one as stale, as it did for
    # cox_ph_newton_1cov).
    "diebold_mariano",
    "theil_u2_forecast",
    # Wave 134: midrank prefix walk over CENTI deviation cells (CvM
    # category) and the decile cut off the MILLI score-cell CDF
    # (decile_lift_table category — score domain <= 1001 cells by
    # construction)
    "conover_squared_ranks",
    "hosmer_lemeshow_gof",
    # Wave 136: median/MAD/quartile CDF walks over CENTI/UNIT value
    # cells and the rank-select walks over pair-difference / kernel
    # cells — all value-domain-bounded (CvM / hodges_lehmann categories).
    # (huber_m_location / tukey_biweight_location left the list in round
    # 14: their walks now run as sorted-array lambdas over the bounded
    # cell frame — no Window in the plan at all.)
    "qn_scale_estimator",
    "medcouple_skewness",
    # Wave 140: HAC lag windows over the calendar-bounded DAILY spine
    # (the pettitt/dickey_fuller category)
    "trend_ols_newey_west",
    # Wave 138: the final rank runs over the <= 5-row event-type ENUM
    # score frame (the successive_halving_bandit category)
    "katz_centrality_types",
    # Wave 139: the hockey-stick rank-sum walk runs over CENTI value
    # cells (CvM category); huber/biweight/expectile/weibull checkpoint
    # their cell frames, so only lmoments keeps a visible Window
    "lmoments_profile",
    # Wave 143: Western Electric lag windows over the checkpointed
    # calendar-bounded DAILY spine (the pettitt/dickey_fuller category)
    "western_electric_rules",
    # Wave 144: risk-set suffix walks / survival ln-prefix walks over
    # calendar-bounded duration-day or week cells (the
    # log_rank_survival sanction category); the walked frames are
    # localCheckpointed but the walks themselves sit above the
    # checkpoint and stay visible
    "tarone_ware_test",
    "peto_peto_test",
    "actuarial_life_table",
    "km_greenwood_ci",
    # Wave 151: AR(2) lag window over the checkpointed calendar-bounded
    # DAILY spine (the pettitt/dickey_fuller category)
    "ar2_yule_walker_forecast",
    # Wave 156: cumulative + row_number walks over the checkpointed
    # calendar-bounded DAILY spine (the pettitt/dickey_fuller category)
    "buishand_range_test",
    "snht_homogeneity",
    # Wave 160: risk-set suffix walk over calendar-bounded duration-day
    # cells (the log_rank_survival sanction category)
    "harrell_c_index",
    # Wave 137's curriculum_pacing_plan cuts deciles off the
    # token-count cell CDF (document-length-DOMAIN bounded) but
    # localCheckpoints the decile frame before the phase cross, so the
    # returned plan shows LogicalRDD instead of the Window — no sanction
    # entry (the staleness check below flags one as stale, as with
    # cox_ph_newton_1cov / sample_entropy_daily).
}


ALLOWED_NESTED_LOOP = {
    "join_cross",
    "range_join_band",
    "ks_two_sample_drift",
    "fanout_gini",
    "contrastive_margin_stats",
    "embedding_silhouette_margin",
    # matryoshka_overlap left the list in round 8: its fixed-count query
    # set now carries an explicit limit() the detector can size.
    "retrieval_eval_metrics",
    "uplift_qini_by_score",
    "kmv_set_ops",
    # Wave 122: grouping aggregates over VALUE-DOMAIN-bounded keys feeding
    # a constant-size cross — deci value cells (<= ~5k rows at any corpus
    # size) for the Hodges-Lehmann pairwise-difference frame, and the 3x7
    # shift-x-weekday enum table crossed with itself for gamma's
    # concordance count.
    "hodges_lehmann_shift",
    "goodman_kruskal_gamma",
    # Wave 126: the 3x3 agreement table's row margins crossed with its
    # column margins (both grouping aggregates over the 3-value activity
    # BAND domain) for weighted kappa's expected-disagreement sum.
    "weighted_kappa_depth",
    # Wave 127: the 7-row weekday-block range frame crossed with itself
    # for Quade's block-weight midranks — 7x7 = 49 pairs, ENUM-bounded
    # at any corpus size.
    "quade_test",
    # Wave 133: the SampEn template frame (one row per day minus 2)
    # self-joined on d < d' — days^2 pairs, calendar-bounded at any
    # corpus size.
    "sample_entropy_daily",
    # Wave 134: joint (deca-value x hour) / unit-value cell frames
    # crossed with themselves for the V-statistic and kernel pair sums —
    # both value-domain-bounded (<= ~1.2k / ~500 cells at any corpus
    # size; the hodges_lehmann category).
    "distance_correlation",
    "mmd_rbf_2samp",
    # Wave 136: UNIT value cells triangularly self-joined for the Qn
    # pairwise-difference frame — value-domain-bounded (<= ~500 cells;
    # the hodges_lehmann category). medcouple_skewness shares the shape
    # but its kernel join carries the broadcast cuts frame, which the
    # detector sizes as a bounded side — no sanction entry needed (the
    # staleness check below flags one as stale).
    "qn_scale_estimator",
    # Wave 152: the (event_type x weekday) z-test family (35 cells,
    # ENUM-bounded at any corpus size) rank-joined on p-value order for
    # Holm's step-down cummax and the BY critical ranks — 35x35 pairs,
    # the fdr_bh/quade_test category; the frames sit behind a
    # localCheckpoint so the detector cannot size them.
    "holm_bonferroni_correction",
    "benjamini_yekutieli_fdr",
    # Wave 158: the observed x-level frame crossed with the observed
    # y-level frame to densify Hoeffding's joint grid — bounded by the
    # two VALUE DOMAINS (activity counts × centi means), CONSTANT in
    # the corpus; the hodges_lehmann/distance_correlation category
    # (the frames sit behind a localCheckpoint so the detector cannot
    # size them).
    "hoeffding_d",
    # (passing_bablok_regression left the list in round 14: its
    # calendar-day slope pair join — still days²/2 and calendar-bounded
    # — now sits UPSTREAM of the round-14 plan-split barriers, so the
    # detector no longer sees a nested-loop join at all and the
    # staleness check below demands the entry go.)
}


#: Queries that broadcast a CHECKPOINTED frame (LogicalRDD hides the
#: producing plan). Each rationale names the reduced structure that was
#: materialized — bounded by a key domain or an explicit cap, never a raw
#: corpus scan. The honesty twin below asserts each still plans a
#: checkpoint-under-hint (drop stale entries); raw Relation witnesses
#: still FAIL for these names.
ALLOWED_CHECKPOINT: dict[str, str] = {
    "dedup_keep_best": (
        "broadcasts the driver-side union-find component map, already "
        "COLLECTED to the driver by construction (operators/dedup.py "
        "connected_components) — its size is the map the driver holds, "
        "capped by the verified candidate-pair population, not the corpus"
    ),
    "dedup_collapse_components": (
        "same collected union-find component map as dedup_keep_best"
    ),
    "text_sentiment_lexicon": (
        "broadcasts a LITERAL driver-built lexicon (createDataFrame "
        "prints as LogicalRDD): constant term/weight table"
    ),
    "null_safe_join": (
        "broadcasts the checkpointed DISTINCT order-priority dim (5 enum "
        "values + NULL); checkpoint exists only to break self-join lineage"
    ),
    "retrieval_eval_metrics": (
        "broadcasts the checkpointed head-K ranked eval lists (LIMIT-ed "
        "upstream; checkpointed because two join sides consume them)"
    ),
    "shapley_attribution": (
        "broadcasts the LITERAL 2^k channel-subset bit table "
        "(createDataFrame, constant for the fixed channel set)"
    ),
    "isotonic_calibration_pava": (
        "broadcasts the checkpointed B-row calibration-bin frame "
        "(B is a query constant; bins are a keyed aggregate upstream)"
    ),
    "levene_brown_forsythe": (
        "broadcasts the per-event-type exact median (row_number-at-rank "
        "cut over checkpointed value cells): one row per type enum"
    ),
}


#: Queries whose broadcast hint covers a JOIN of a bounded keyset against a
#: growing side — bounded only if the growing side is UNIQUE per join key,
#: which the plan cannot prove (explain.py emits a 'join-multiplicity'
#: witness). Each rationale states the uniqueness argument; the honesty
#: twin below asserts each still plans the pattern (drop stale entries).
ALLOWED_JOIN_MULTIPLICITY: dict[str, str] = {
    "knn_label_vote": (
        "broadcasts the LIMIT-ed holdout keyset inner-joined back to "
        "embeddings ON vec_id — the embeddings PRIMARY KEY, so the join "
        "output is exactly the holdout rows (<= _KNN_QN) at any corpus size"
    ),
    "conformal_interval_calibration": (
        "broadcasts the per-event-type interval half-width: the calibration "
        "join is bounded above it by the rk == ceil((n_cal+1)*(1-alpha)) "
        "row_number cut under a type-partitioned window — exactly one row "
        "per event_type enum survives, regardless of corpus size"
    ),
}


#: Witness-class PREFIXES as emitted by unbounded_broadcast_hints (each
#: witness leads with 'broadcast hint over <class> ...'). Matching the
#: leading class marker — not substring containment — keeps the two
#: sanction lists from absorbing each other's witness classes (ADVICE
#: r9: a join-multiplicity witness embeds the grown child's text, which
#: can mention LogicalRDD).
_CKPT_WITNESS = "broadcast hint over checkpoint barrier"
_JM_WITNESS = "broadcast hint over join-multiplicity"


def _guards(df) -> dict[str, list[str]]:
    """All four detectors' witnesses for one built frame."""
    formatted, analyzed = plan_texts(df)
    return {
        "udf": python_udf_nodes(formatted),
        "window": global_window_nodes(formatted),
        "nested_loop": unbounded_nested_loop_joins(formatted),
        "broadcast": unbounded_broadcast_hints(analyzed),
    }


def _batch_queries() -> dict:
    return {
        name: fn
        for name, fn in registry.queries().items()
        if not name.startswith(STREAM_PREFIXES)
    }


@pytest.fixture(scope="module")
def sweep(spark):
    """``(witnesses, build_errors)`` over every batch query, each built
    once with the broadcast gate shut (the 100 TB posture: size-gated pins
    vanish, the plan carries exactly the pins a cluster plan would).
    Build errors are reported, not masked."""

    def one(item):
        name, fn = item
        try:
            return name, _guards(fn(spark, SF)), None
        except Exception as exc:  # noqa: BLE001 - report, don't mask peers
            return name, None, repr(exc)[:200]

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(fastpath, "BROADCAST_GATE_THRESHOLD_BYTES", 0)
        with ThreadPoolExecutor(max_workers=SWEEP_THREADS) as pool:
            results = list(pool.map(one, _batch_queries().items()))
    witnesses = {name: w for name, w, err in results if err is None}
    errors = {name: err for name, _, err in results if err is not None}
    return witnesses, errors


def _flagged(sweep, guard: str) -> dict[str, list[str]]:
    return {name: w[guard] for name, w in sweep[0].items() if w[guard]}


def _report(offenders: dict[str, list[str]]) -> str:
    return "; ".join(f"{n}: {'; '.join(w)[:200]}" for n, w in sorted(offenders.items()))


def test_sweep_builds_every_batch_query(sweep):
    witnesses, errors = sweep
    assert not errors, f"queries failed to build: {errors}"
    assert set(witnesses) == set(_batch_queries())
    assert len(witnesses) > 600


def test_no_python_udf_across_registry(sweep):
    offenders = _flagged(sweep, "udf")
    assert not offenders, "row-at-a-time Python UDF planned by: " + _report(offenders)


def test_no_global_window_across_registry(sweep):
    offenders = {
        n: w for n, w in _flagged(sweep, "window").items() if n not in ALLOWED_GLOBAL
    }
    assert not offenders, "unpartitioned Window planned by: " + _report(offenders)


def test_sanctioned_globals_still_global(sweep):
    """If a sanctioned query stops planning a global window (someone made
    it scale-safe), drop it from ALLOWED_GLOBAL."""
    stale = sorted(ALLOWED_GLOBAL - set(_flagged(sweep, "window")))
    assert not stale, (
        f"no longer plan a global window: {stale}; remove them from ALLOWED_GLOBAL"
    )


def test_no_unbounded_nested_loop_join_across_registry(sweep):
    offenders = {
        n: w
        for n, w in _flagged(sweep, "nested_loop").items()
        if n not in ALLOWED_NESTED_LOOP
    }
    assert not offenders, (
        "nested-loop join with no bounded side (quadratic at scale) in: "
        + _report(offenders)
    )


def test_sanctioned_nested_loops_still_nested(sweep):
    """If a sanctioned query stops planning an unbounded nested-loop join
    (someone bounded or keyed it), drop it from ALLOWED_NESTED_LOOP."""
    stale = sorted(ALLOWED_NESTED_LOOP - set(_flagged(sweep, "nested_loop")))
    assert not stale, (
        f"no longer plan an unbounded nested-loop join: {stale}; remove "
        "them from ALLOWED_NESTED_LOOP"
    )


def _unsanctioned_broadcasts(name: str, ws: list[str]) -> list[str]:
    # Each sanction strips ONLY its own witness CLASS (leading prefix, not
    # substring containment — ADVICE r9: a join-multiplicity witness
    # embeds the grown child's text, so a substring match on 'LogicalRDD'
    # would let the checkpoint sanction absorb an unsanctioned
    # join-multiplicity witness whose growing side is checkpointed). A raw
    # growing scan under a hint fails regardless of either sanction.
    if name in ALLOWED_CHECKPOINT:
        ws = [w for w in ws if not w.startswith(_CKPT_WITNESS)]
    if name in ALLOWED_JOIN_MULTIPLICITY:
        ws = [w for w in ws if not w.startswith(_JM_WITNESS)]
    return ws


def test_no_unbounded_broadcast_across_registry(sweep):
    offenders = {}
    for name, ws in _flagged(sweep, "broadcast").items():
        bad = _unsanctioned_broadcasts(name, ws)
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"{len(offenders)} unbounded broadcast hints: " + _report(offenders)
    )


def _stale_broadcast_sanctions(sweep, allowed, prefix: str) -> list[str]:
    flagged = _flagged(sweep, "broadcast")
    return sorted(
        name
        for name in allowed
        if not any(w.startswith(prefix) for w in flagged.get(name, []))
    )


def test_sanctioned_join_multiplicity_still_flagged(sweep):
    """If a sanctioned query stops planning a bounded-keyset-vs-growing-side
    join under a hint (someone bounded it mechanically), drop the entry."""
    stale = _stale_broadcast_sanctions(sweep, ALLOWED_JOIN_MULTIPLICITY, _JM_WITNESS)
    assert not stale, (
        f"no longer plan a join-multiplicity broadcast: {stale}; remove them "
        "from ALLOWED_JOIN_MULTIPLICITY"
    )


def test_sanctioned_checkpoints_still_flagged(sweep):
    """If a sanctioned query stops planning a checkpoint-under-hint
    (someone un-checkpointed or bounded it mechanically), drop it from
    ALLOWED_CHECKPOINT."""
    stale = _stale_broadcast_sanctions(sweep, ALLOWED_CHECKPOINT, _CKPT_WITNESS)
    assert not stale, (
        f"no longer broadcast a checkpointed frame: {stale}; remove them "
        "from ALLOWED_CHECKPOINT"
    )


# --- negative controls: each detector fires on a known-bad frame ----------


def _global_row_number(spark):
    li = load_table(spark, SF, "lineitem")
    return li.withColumn("rn", F.row_number().over(Window.orderBy("l_orderkey")))


def _corpus_cross_join(spark):
    return load_table(spark, SF, "orders").crossJoin(load_table(spark, SF, "customer"))


def _row_udf(spark):
    upper = F.udf(lambda s: s.upper() if s is not None else None, "string")
    return load_table(spark, SF, "customer").select(upper("c_name").alias("u"))


def _broadcast_raw_table(spark):
    orders = load_table(spark, SF, "orders")
    return orders.join(
        F.broadcast(load_table(spark, SF, "customer")),
        orders.o_custkey == F.col("c_custkey"),
    )


@pytest.mark.parametrize(
    "guard,build",
    [
        ("window", _global_row_number),
        ("nested_loop", _corpus_cross_join),
        ("udf", _row_udf),
        ("broadcast", _broadcast_raw_table),
    ],
)
def test_guard_flags_known_bad_frame(spark, guard, build):
    assert _guards(build(spark))[guard], f"{guard} guard missed {build.__name__}"
