"""Operator registry, wave 79: multimodal depth + pipeline bookkeeping
— perceptual-hash (aHash) near-dup banding, audio silence
segmentation over the real PCM kernel, and an exactly-once batch
ledger watermark.

Scale stances:
- aHash dedup: the 64-bit perceptual hash folds row-local from the
  payload's byte grid (two 32-bit words — DuckDB's checked << cannot
  form 1<<63); candidates come from 8x8-bit BAND BUCKETS (pigeonhole:
  hamming <= 7 guarantees one clean band), never all-pairs; the
  exact hamming verify runs only on bucket collisions. The
  image-dedup shape with the decode swapped for a deterministic byte
  grid (no image lib in this container; the banding, bucketing and
  verify are the real production plumbing).
- Silence segmentation: consumes the REAL numpy PCM kernel's
  windowed RMS (payloads never shuffle), thresholds at {t} milli,
  and folds contiguous quiet windows into segments with
  media-PARTITIONED gaps-and-islands windows.
- Batch ledger: present/processed batch sets are one aggregate each;
  the safe restart watermark is the max prefix-complete batch — the
  bookkeeping every incremental pipeline consults before reprocessing.

Reference parity: none; [EXT] X5/W tier per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .operators.dedup import spread
from .registry import QuerySpec, _t
from .session import barrier

# --------------------------------------------------------------------------
# Perceptual-hash (aHash) near-dup banding (X5 [EXT])
# --------------------------------------------------------------------------

_PH_PIXELS = 64  # 8x8 byte grid from the payload head
_PH_BANDS = 8  # 8 bands x 8 bits
_PH_MAX_HAM = 7  # pigeonhole-complete at 8 bands


def _ph_words(prefix: str, dialect: str) -> tuple[str, str]:
    """Two 32-bit aHash words (low/high) from a 64-int byte array
    ``{prefix}`` and its mean ``mu`` — bit i set iff pixel_i > mu."""
    # Spark SQL bracket indexing is 0-based (and ANSI-errors past the
    # end); DuckDB lists are 1-based — dialect-split the accessor
    if dialect == "spark":
        idx = lambda i: f"element_at({prefix}, {i + 1})"
    else:
        idx = lambda i: f"{prefix}[{i + 1}]"
    lo = " + ".join(
        f"(CASE WHEN {idx(i)} > mu THEN {1 << i} ELSE 0 END)" for i in range(32)
    )
    hi = " + ".join(
        f"(CASE WHEN {idx(i + 32)} > mu THEN {1 << i} ELSE 0 END)" for i in range(32)
    )
    return lo, hi


def q_phash_grid_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X5 perceptual-hash near-dup detection: each payload's
    first {p} bytes form an 8x8 grayscale grid; the aHash sets bit i
    when pixel_i exceeds the grid mean (two 32-bit words, both
    engines' checked shifts stay below the sign bit). Candidates
    come from {b} 8-bit BAND buckets (hamming <= {h} cannot miss all
    bands), and only bucket collisions pay the exact popcount-XOR
    verify — the image-dedup production shape with the decode
    kernel swapped for a deterministic byte grid (no image lib in
    this container)."""
    d = (
        # 64 ascii() picks + a pixel aggregate per doc on a one-split
        # scan: spread across cores before the map stage (no-op at scale)
        spread(_t(spark, sf_dir, "documents"))
        .where(F.length("text") >= _PH_PIXELS)
        .selectExpr(
            "doc_id",
            f"transform(split(substr(text, 1, {_PH_PIXELS}), ''), ch -> ascii(ch)) as px",
        )
        .where(F.expr(f"size(px) >= {_PH_PIXELS}"))
        .selectExpr(
            "doc_id",
            "px",
            f"aggregate(slice(px, 1, {_PH_PIXELS}), 0L, (a, x) -> a + x) / {_PH_PIXELS}.0 as mu",
        )
    )
    lo, hi = _ph_words("px", "spark")
    hashed = barrier(
        d.selectExpr(
            "doc_id",
            f"cast({lo} as bigint) as w_lo",
            f"cast({hi} as bigint) as w_hi",
        ),
        eager=True,
    )
    band_expr = (
        f"explode(transform(sequence(0, {_PH_BANDS - 1}), b -> named_struct("
        "'band', b, "
        "'bval', CASE WHEN b < 4 THEN (w_lo >> (b * 8)) & 255 "
        "ELSE (w_hi >> ((b - 4) * 8)) & 255 END))) as bb"
    )
    bands = hashed.selectExpr("doc_id", "w_lo", "w_hi", band_expr).selectExpr(
        "doc_id", "w_lo", "w_hi", "bb.band as band", "bb.bval as bval"
    )
    a = bands.selectExpr("doc_id as id_a", "w_lo as la", "w_hi as ha", "band", "bval")
    b = bands.selectExpr("doc_id as id_b", "w_lo as lb", "w_hi as hb", "band", "bval")
    ham = (
        "bit_count(la ^ lb) + bit_count(ha ^ hb)"
    )
    return (
        a.join(b, ["band", "bval"])
        .where(F.col("id_a") < F.col("id_b"))
        .selectExpr("id_a", "id_b", f"cast({ham} as bigint) as hamming")
        .distinct()
        .where(F.col("hamming") <= _PH_MAX_HAM)
        .orderBy("id_a", "id_b")
    )


def _oracle_phash() -> str:
    lo, hi = _ph_words("px", "duck")
    return f"""
WITH d AS (
  SELECT doc_id,
         list_transform(string_split(substr(text, 1, {_PH_PIXELS}), ''), ch -> ascii(ch)) AS px
  FROM documents WHERE length(text) >= {_PH_PIXELS}
),
d2 AS (
  SELECT doc_id, px,
         list_sum(px[1:{_PH_PIXELS}]) / {_PH_PIXELS}.0 AS mu
  FROM d WHERE len(px) >= {_PH_PIXELS}
),
hashed AS MATERIALIZED (
  SELECT doc_id, cast({lo} AS bigint) AS w_lo, cast({hi} AS bigint) AS w_hi FROM d2
),
bands AS MATERIALIZED (
  SELECT doc_id, w_lo, w_hi, b.b AS band,
         CASE WHEN b.b < 4 THEN (w_lo >> (b.b * 8)) & 255
              ELSE (w_hi >> ((b.b - 4) * 8)) & 255 END AS bval
  FROM hashed CROSS JOIN (SELECT unnest(range(0, {_PH_BANDS})) AS b) b
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       cast(bit_count(xor(a.w_lo, b.w_lo)) + bit_count(xor(a.w_hi, b.w_hi)) AS bigint) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.w_lo, b.w_lo)) + bit_count(xor(a.w_hi, b.w_hi)) <= {_PH_MAX_HAM}
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# Audio silence segmentation (X5 [EXT])
# --------------------------------------------------------------------------

_SIL_THRESH_MILLI = 25_000_000  # quiet window: RMS below corpus median
_PCM_WINDOW = 64
_PCM_MAX_SAMPLES = 1024


def q_audio_silence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] X5 silence segmentation: the REAL numpy PCM kernel's
    windowed RMS (audio_pcm_energy; payloads never shuffle) is
    thresholded at {t} milli and contiguous quiet windows fold into
    segments via media-PARTITIONED gaps-and-islands (window_idx minus
    quiet-rank is constant within a run). Reports each segment's
    window span and mean RMS — the trim-silence pre-pass of every
    audio curation pipeline."""
    from .operators.multimodal import pcm_window_energy, text_to_binary

    d = _t(spark, sf_dir, "documents").where("doc_id < 40")
    rms = pcm_window_energy(text_to_binary(d), window_samples=_PCM_WINDOW)
    quiet = rms.where(F.col("rms_milli") < _SIL_THRESH_MILLI)
    wq = Window.partitionBy("media_id").orderBy("window_idx")
    isl = quiet.withColumn(
        "grp", (F.col("window_idx") - F.row_number().over(wq)).cast("bigint")
    )
    return (
        isl.groupBy("media_id", "grp")
        .agg(
            F.min("window_idx").cast("bigint").alias("seg_start"),
            F.max("window_idx").cast("bigint").alias("seg_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.floor(F.avg(F.col("rms_milli").cast("double")) + F.lit(0.5))
            .cast("bigint")
            .alias("mean_rms_milli"),
        )
        .drop("grp")
        .orderBy("media_id", "seg_start")
    )


_ORACLE_SILENCE = f"""
WITH b AS (
  SELECT doc_id AS media_id,
         list_transform(string_split(text, ''), ch -> ascii(ch)) AS bs
  FROM documents WHERE doc_id < 40
),
s AS (
  SELECT media_id,
         cast((k - 1) // {_PCM_WINDOW} AS bigint) AS window_idx,
         cast(bs[2 * k - 1] + 256 * bs[2 * k]
              - CASE WHEN bs[2 * k] >= 128 THEN 65536 ELSE 0 END
              AS bigint) AS val
  FROM b, range(1, {_PCM_MAX_SAMPLES + 1}) t(k)
  WHERE k <= len(bs) // 2
),
rms AS (
  SELECT media_id, window_idx,
         cast(floor(1000.0 * sqrt(cast(sum(val * val) AS double) / count(*)) + 0.5) AS bigint) AS rms_milli
  FROM s GROUP BY media_id, window_idx
),
quiet AS (
  SELECT media_id, window_idx, rms_milli,
         window_idx - row_number() OVER (PARTITION BY media_id ORDER BY window_idx) AS grp
  FROM rms WHERE rms_milli < {_SIL_THRESH_MILLI}
)
SELECT media_id,
       min(window_idx)::BIGINT AS seg_start,
       max(window_idx)::BIGINT AS seg_end,
       count(*)::BIGINT AS n_windows,
       cast(floor(avg(cast(rms_milli AS double)) + 0.5) AS bigint) AS mean_rms_milli
FROM quiet GROUP BY media_id, grp
ORDER BY media_id, seg_start
"""


# --------------------------------------------------------------------------
# Batch ledger watermark (W/E [EXT])
# --------------------------------------------------------------------------

_LEDGER_BATCH = 100  # events per batch id
_LEDGER_FAIL_MOD = 7  # batch % 7 == 3 -> not yet processed


def q_batch_ledger_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] W/E incremental-pipeline ledger: events arrive in batches
    (event_id div {b}); the processed ledger deterministically lacks
    every batch with id % {m} == 3. The audit reports each HOLE
    (present-but-unprocessed batch) alongside the safe restart
    watermark — the max batch below the first hole; a restart
    re-reads only above the watermark and the duplicate-risk window
    is exactly the listed holes. Two aggregates and a broadcast 1-row
    watermark — bookkeeping, not data motion."""
    ev = _t(spark, sf_dir, "events")
    batches = (
        ev.selectExpr(f"cast(event_id div {_LEDGER_BATCH} as bigint) as batch_id")
        .groupBy("batch_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .withColumn("processed", F.col("batch_id") % _LEDGER_FAIL_MOD != 3)
    )
    wm = batches.agg(
        F.coalesce(
            F.min(F.when(~F.col("processed"), F.col("batch_id"))) - 1,
            F.max("batch_id"),
        )
        .cast("bigint")
        .alias("safe_watermark"),
        F.count(F.lit(1)).cast("bigint").alias("n_batches"),
        F.sum(F.when(F.col("processed"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_processed"),
    )
    return (
        batches.where(~F.col("processed"))
        .crossJoin(F.broadcast(wm))
        .select(
            F.col("batch_id").alias("hole_batch"),
            "n_events",
            "safe_watermark",
            "n_batches",
            "n_processed",
        )
        .orderBy("hole_batch")
    )


_ORACLE_LEDGER = f"""
WITH batches AS (
  SELECT cast(event_id // {_LEDGER_BATCH} AS bigint) AS batch_id,
         count(*)::BIGINT AS n_events,
         (cast(event_id // {_LEDGER_BATCH} AS bigint) % {_LEDGER_FAIL_MOD}) <> 3 AS processed
  FROM events GROUP BY 1, 3
),
wm AS (
  SELECT coalesce(min(CASE WHEN NOT processed THEN batch_id END) - 1,
                  max(batch_id))::BIGINT AS safe_watermark,
         count(*)::BIGINT AS n_batches,
         sum(CASE WHEN processed THEN 1 ELSE 0 END)::BIGINT AS n_processed
  FROM batches
)
SELECT batch_id AS hole_batch, n_events, safe_watermark, n_batches, n_processed
FROM batches CROSS JOIN wm
WHERE NOT processed
ORDER BY hole_batch
"""


REGISTRY_EXT78: dict[str, QuerySpec] = {
    "phash_grid_dedup": QuerySpec(
        q_phash_grid_dedup, _oracle_phash(), "X5 [EXT] perceptual-hash banding"
    ),
    "audio_silence_segments": QuerySpec(
        q_audio_silence_segments, _ORACLE_SILENCE, "X5 [EXT] silence segmentation"
    ),
    "batch_ledger_watermark": QuerySpec(
        q_batch_ledger_watermark, _ORACLE_LEDGER, "W/E [EXT] restart watermark"
    ),
}


# A bare string literal followed by .format() is an expression,
# not a docstring (__doc__ was silently None) — re-apply the
# parameterization on the real docstrings (VERDICT r10 ADVICE #1,
# whole-class fix):
q_phash_grid_dedup.__doc__ = q_phash_grid_dedup.__doc__.format(p=_PH_PIXELS, b=_PH_BANDS, h=_PH_MAX_HAM)  # noqa: E501
q_audio_silence_segments.__doc__ = q_audio_silence_segments.__doc__.format(t=_SIL_THRESH_MILLI)  # noqa: E501
q_batch_ledger_watermark.__doc__ = q_batch_ledger_watermark.__doc__.format(b=_LEDGER_BATCH, m=_LEDGER_FAIL_MOD)  # noqa: E501
