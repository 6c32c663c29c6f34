"""Small-input execution posture + size-gated broadcast hints.

Adaptive query execution earns its keep when shuffles are big enough that
runtime statistics change the plan (skew splitting, partition coalescing,
join-strategy switches). When the ENTIRE scanned corpus is smaller than a
single executor's working memory, every AQE query stage is an extra driver
round-trip (materialize -> re-plan -> submit) on top of a ~0.15 s/job
scheduling floor, and a 32-wide shuffle fan-out is pure task overhead —
measured on the bench corpus (17 MB at sf0.1) the posture cuts the
headline subset ~-35% with identical results.

BUT the posture is not free for EVERY plan. Round 7 shipped it
process-wide with an unsubstantiated "no query regresses" claim; round 8
replaced the claim with measurement: tools/ab_fastpath.py ran the FULL
702-query registry posture-ON vs posture-OFF back-to-back on an idle host
(committed as AB_FASTPATH.json + the "fastpath A/B" table in RATIO.md).
Result: the posture wins or ties on the overwhelming majority — including
the iterative graph/dedup pipelines (pagerank 5.3s -> 3.2s, minhash-LSH
4.9s -> 3.4s) — 2 queries regress >1.5x (bradley_terry_strengths 3.9x,
collocation_llr_bigrams 1.6x) and 10 total show >=1.28x regressions
where repeated tiny-frame joins rely on AQE's partition coalescing and
runtime broadcast demotion; those are :data:`AQE_KEEP_QUERIES`
(raking_ipf joined in round 10 at 1.85x; passing_bablok_regression in
round 13 at 1.61x postured).
The harnesses (tools/harness.py) skip the posture for them and
tests/test_fastpath.py asserts the list stays consistent with the
committed A/B in BOTH directions (every measured regression is listed,
no stale entries).

The posture is derived from INPUT SIZE, so the same code self-selects the
cluster posture at scale: above the threshold it is a no-op — AQE stays on
(skew joins, coalescing, runtime join demotion are load-bearing at 100 TB)
and the session's shuffle fan-out stands.

Usage (tools/harness.timed_count, which bench.py and the tools share):

    with execution_posture(spark, sf_dir, name):
        fn(spark, sf_dir).count()

Given the query ``name``, the measured :data:`AQE_KEEP_QUERIES` opt-outs
keep AQE. The context manager restores the prior confs on exit, so a
caller that mixes scales (tools/scaling.py at x1/x4/x16) re-derives per
corpus.

Size-gated broadcast pins
-------------------------

:func:`broadcast_if_small` is the hint policy for dimension sides that are
small at bench scale but GROW with the corpus (filtered orders, customer
projections, supplier keysets). ``F.broadcast`` is honored by Spark
regardless of actual size and cannot be demoted by AQE, so pinning it on an
unbounded side is a driver/executor OOM at 100 TB. The helper pins the hint
only while the on-disk bytes of the SOURCE TABLES feeding the side (an
upper bound on the derived side) are below the gate; above it the hint
disappears and the static planner / AQE picks the strategy from real
statistics. Truly bounded sides (nation/region enums, keyless aggregates)
keep plain ``F.broadcast`` — tests/test_plan_guards.py sweeps
the registry with the gate forced shut to prove the at-scale plans carry no
unbounded pin.
"""

from __future__ import annotations

import glob
import math
import os
from contextlib import contextmanager
from typing import Iterator

# One comfortable executor working set: below this, runtime re-planning
# cannot change any decision a static plan + broadcast hints gets right.
SMALL_INPUT_THRESHOLD_BYTES = 256 << 20

# Spark's default spark.sql.files.maxPartitionBytes: the medium posture
# derives a smaller scan split for few-file replicated corpora and
# self-disables (returns None -> cluster) once the derived value reaches
# this default.
_DEFAULT_MAX_PARTITION_BYTES = 128 << 20

_MPB_KEY = "spark.sql.files.maxPartitionBytes"
_ADV_KEY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
_AQE_KEY = "spark.sql.adaptive.enabled"
_SP_KEY = "spark.sql.shuffle.partitions"

# Max on-disk bytes (compressed parquet) of the source tables feeding a
# dimension side before broadcast_if_small refuses to pin the hint. 64 MB
# compressed is ~2-4x that expanded — comfortably inside
# spark.sql.autoBroadcastJoinThreshold territory on any real executor.
BROADCAST_GATE_THRESHOLD_BYTES = 64 << 20

# Target bytes of (compressed parquet) input per shuffle task in the small
# posture; mirrors AQE's own advisory-size coalescing, decided statically.
_BYTES_PER_SHUFFLE_TASK = 2 << 20

_MIN_PARTITIONS = 8


def _parquet_files(path: str) -> list[str]:
    """``[path]`` for a file (or a missing path), else every ``*.parquet``
    below the directory, sorted — the one corpus lister behind the byte
    gates and the footer walk."""
    if not os.path.isdir(path):
        return [path]
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _size(files: list[str]) -> int:
    """Summed on-disk bytes of ``files``; unreadable entries count 0."""
    total = 0
    for f in files:
        try:
            total += os.stat(f).st_size
        except OSError:
            pass
    return total


def corpus_bytes(sf_dir: str) -> int:
    """Total on-disk size of the corpus' parquet files (0 if unreadable)."""
    return _size(_parquet_files(sf_dir))


def tables_bytes(sf_dir: str, *tables: str) -> int:
    """On-disk bytes of the named corpus tables (``<sf_dir>/<t>.parquet``
    as a file or a directory of part files); 0 if none found."""
    return sum(
        _size(_parquet_files(os.path.join(sf_dir, f"{t}.parquet"))) for t in tables
    )


def broadcast_if_small(df, sf_dir: str, tables, threshold_bytes: int | None = None):
    """Pin ``F.broadcast`` on ``df`` only while the on-disk bytes of the
    source ``tables`` feeding it (an upper bound on the derived side) are
    below the gate; otherwise return ``df`` unchanged so the static planner
    / AQE picks the join strategy from real statistics at scale.

    This is the ONLY sanctioned way to hint a corpus-derived (growing) side:
    a bare ``F.broadcast`` is reserved for sides bounded by construction
    (enum tables, keyless aggregates) and is enforced by
    tests/test_plan_guards.py.
    """
    from pyspark.sql import functions as F

    limit = (
        BROADCAST_GATE_THRESHOLD_BYTES if threshold_bytes is None else threshold_bytes
    )
    nbytes = tables_bytes(sf_dir, *tables)
    if 0 < nbytes < limit:
        return F.broadcast(df)
    return df


def broadcast_if_plan_small(df, threshold_bytes: int | None = None):
    """Pin ``F.broadcast`` on ``df`` only while Catalyst's OWN size
    estimate for its optimized plan (``stats().sizeInBytes``, derived from
    file sizes through projections/filters) is below the gate. The
    operator-level sibling of :func:`broadcast_if_small` for call sites
    that hold a DataFrame but no corpus dir (e.g. operators/dedup.py's
    token-set verification join). Unknown/huge estimates (joins, default
    maxed stats) refuse the pin — the planner/AQE then chooses from real
    runtime statistics, which is exactly the at-scale behavior."""
    from pyspark.sql import functions as F

    limit = (
        BROADCAST_GATE_THRESHOLD_BYTES if threshold_bytes is None else threshold_bytes
    )
    try:
        est = int(
            df._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .sizeInBytes()
            .toString()
        )
    except Exception:
        return df
    if 0 < est < limit:
        return F.broadcast(df)
    return df


def small_input_shuffle_partitions(nbytes: int) -> int:
    return max(_MIN_PARTITIONS, math.ceil(nbytes / _BYTES_PER_SHUFFLE_TASK))


#: Queries MEASURED to run slower under the small-input posture in the
#: committed full-registry idle A/B (tools/ab_fastpath.py ->
#: AB_FASTPATH.json / RATIO.md "fastpath A/B"). All nine iterate joins
#: or walks over tiny derived frames, where AQE's stage coalescing and
#: runtime broadcast demotion beat any static plan:
#:   bradley_terry_strengths  1.206s -> 4.755s (3.94x) — 3-round MM loop
#:   collocation_llr_bigrams  0.599s -> 0.980s (1.64x) — bigram LLR joins
#:   greedy_max_coverage      1.820s -> 2.719s (1.49x) — K greedy steps
#:   markov_entropy_rate      1.297s -> 1.750s (1.35x) — chain-power joins
#:   hits_event_types         1.376s -> 1.809s (1.31x) — hub/auth rounds
#:   energy_distance_2samp    0.516s -> 0.689s (1.34x) — cell prefix walk
#:   anova_two_way            0.775s -> 0.993s (1.28x) — cell-grid joins
#:   raking_ipf               1.469s -> 2.723s (1.85x) — 3 IPF sweeps
#:   closeness_centrality_types 0.843s -> 1.433s (1.7x) — min-plus rounds
#: Harnesses keep AQE (skip the posture) for these names.
#: tests/test_fastpath.py asserts two-way consistency with the committed
#: A/B: every measured >1.5x regression is listed here, and every listed
#: name shows a real (>1.25x) regression in the A/B — no stale entries,
#: no hand-picked extras. (Residual <=1.3x rows carry <0.25s absolute
#: deltas and stay postured; the table discloses them.) Regenerate with
#: tools/ab_fastpath.py after plan-affecting changes.
AQE_KEEP_QUERIES = frozenset(
    {
        "bradley_terry_strengths",
        "collocation_llr_bigrams",
        "greedy_max_coverage",
        "markov_entropy_rate",
        "hits_event_types",
        "energy_distance_2samp",
        "anova_two_way",
        # wave-135 IPF: 3 unrolled sweeps x 2 margin joins over the
        # checkpointed 35-cell frame — AQE's coalescing halves the
        # per-round shuffle fan-out (A/B: off 1.47s on 2.72s, 1.85x)
        "raking_ipf",
        # wave-138 min-plus closure: 3 relaxation rounds of tiny-frame
        # joins over the 25-cell adjacency (A/B: off 0.84s on 1.43s, 1.7x)
        "closeness_centrality_types",
        # wave-162 Passing-Bablok: the calendar-day dense pair join plus
        # two Blelloch order-statistic passes — AQE's coalescing keeps
        # the tiny-frame fan-outs right-sized (A/B: off 2.18s on 3.51s,
        # 1.61x postured)
        "passing_bablok_regression",
    }
)


def medium_scan_bytes(spark, nbytes: int) -> int | None:
    """Derived scan-split / AQE-advisory size for a MEDIUM corpus (bigger
    than the small-input threshold, but few-file enough that the default
    128 MB split starves the cores): size splits so the corpus fans out to
    ~3 waves across the session's parallelism, floored at 4 MB. Returns
    ``None`` once the derived value reaches Spark's 128 MB default — i.e.
    at real cluster scale the posture self-disables exactly like the
    small-input posture (corpus/(3*cores) >= 128 MB long before 100 TB).

    Why this exists (round-11 VERDICT Next #1): the x64 replicated bench
    corpus is ONE ~900 MB parquet file per table; at the default split
    size lineitem scans as ~7 tasks on a 32-core host and tpch_q3 walls
    26.7s. With the derived ~12 MB split the same plan walls 4.2s
    (measured, this host, min-of-3 interleaved). On a real multi-file
    100 TB table the scan already yields >> cores splits and this posture
    is a no-op by construction.
    """
    cores = max(1, int(spark.sparkContext.defaultParallelism))
    derived = nbytes // (3 * cores)
    if derived >= _DEFAULT_MAX_PARTITION_BYTES:
        return None
    return max(4 << 20, int(derived))


@contextmanager
def execution_posture(spark, sf_dir: str, name: str | None = None) -> Iterator[str]:
    """Size-derived execution-posture dispatch, the only posture entry
    point (tools/harness.py, perfbench/workloads.py). Walks the corpus
    once and yields the label of the posture actually applied:

    - ``'small'`` — corpus under :data:`SMALL_INPUT_THRESHOLD_BYTES`:
      AQE off + shuffle fan-out right-sized to the corpus
      (:func:`small_input_shuffle_partitions`, never above the session's).
      Skipped (-> ``'cluster'``) for the MEASURED opt-outs in
      :data:`AQE_KEEP_QUERIES` when ``name`` is given.
    - ``'medium'`` — corpus at least the small threshold but few-file
      enough that the default 128 MB scan split starves the cores
      (:func:`medium_scan_bytes`): keep AQE, right-size
      ``files.maxPartitionBytes`` + the AQE advisory partition size.
      AQE stays ON here, so the small-posture opt-out list does not
      apply — every query takes the scan fan-out.
    - ``'cluster'`` — no conf touched; the session posture stands.

    Both branches restore prior confs on exit; at 100 TB both derivations
    self-disable and this is always ``'cluster'``.
    """
    nbytes = corpus_bytes(sf_dir)
    if 0 < nbytes < SMALL_INPUT_THRESHOLD_BYTES:
        if name is not None and name in AQE_KEEP_QUERIES:
            yield "cluster"
            return
        label = "small"
        prev_sp = spark.conf.get(_SP_KEY, "200")
        confs = {
            _AQE_KEY: "false",
            _SP_KEY: str(min(int(prev_sp), small_input_shuffle_partitions(nbytes))),
        }
    else:
        mpb = medium_scan_bytes(spark, nbytes) if nbytes > 0 else None
        if mpb is None:
            yield "cluster"
            return
        label = "medium"
        confs = {_MPB_KEY: str(mpb), _ADV_KEY: str(mpb)}
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield label
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def spread_if_cpu_starved(
    df,
    sf_dir: str,
    table: str,
    min_bytes_per_split: int = 16 << 20,
    target_bytes_per_task: int = 2 << 20,
):
    """Repartition a few-split parquet scan across the cores ONLY when the
    parquet footers say the scan stage is CPU-starved: fewer row groups
    than cores AND more than ``min_bytes_per_split`` UNCOMPRESSED bytes
    per achievable split. The gate reads footer metadata only (no data
    pages), so it costs ~ms.

    This is the size-gated sibling of ``operators.dedup.spread`` for
    CHEAP expression pipelines (tokenize/explode/count): at sf0.1 the
    documents table is 1.6 MB uncompressed -> the repartition shuffle
    costs more than the extra cores recover (measured 0.75s vs 1.0s,
    round-2 note in q_tf_idf), so the gate stays shut; at x64 the same
    table is one 116 MB-uncompressed file with THREE row groups -> the
    tokenize serializes on 3 of 32 cores and walls 22s, vs 4.1s spread
    (measured, round 12). At 100 TB any real table has >> cores splits
    and the gate never opens.
    """
    try:
        import pyarrow.parquet as pq
    except Exception:
        return df
    files = _parquet_files(os.path.join(sf_dir, f"{table}.parquet"))
    if not files:
        return df
    cores = max(1, int(df.sparkSession.sparkContext.defaultParallelism))
    groups = 0
    uncompressed = 0
    for f in files:
        if groups >= cores:
            return df  # scan already fans out; footer walk can stop
        try:
            meta = pq.ParquetFile(f).metadata
        except Exception:
            return df
        groups += meta.num_row_groups
        uncompressed += sum(
            meta.row_group(i).total_byte_size for i in range(meta.num_row_groups)
        )
    if groups >= cores or groups == 0:
        return df
    if uncompressed / groups <= min_bytes_per_split:
        return df
    target = min(cores, math.ceil(uncompressed / target_bytes_per_task))
    return df.repartition(target)
