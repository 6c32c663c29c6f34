"""SparkSession factory (reference analogue: utils/duckdb_utils.py:9-59).

The reference boots an in-memory DuckDB with httpfs + S3 config per job; the
Spark-native equivalent is a session factory that bakes in the engine's
scale posture:

- AQE on (runtime re-planning, skew-join handling, partition coalescing)
- dynamic partition overwrite (the delete-and-insert idempotency pattern,
  ref utils/duckdb_utils.py:61-190 / README.md:17,27, as a single conf)
- Arrow-accelerated pandas interchange (ref con.register, duckdb_utils.py:162)
- UTC session timezone so timestamp semantics are deterministic across
  engines and hosts.

``tune_session`` applies the runtime-settable subset to an externally
created session (the driver hands us one); ``get_spark`` builds a local one.
``barrier`` is the one lineage-truncation primitive every query uses, and
``scratch_dir`` the one home for the files a query or index writes for
itself.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from .config import load_config

# Runtime-settable confs: safe to apply to a session we didn't build.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # coalesce post-shuffle partitions by target size, not cluster
    # parallelism: at bench scale this removes ~30% of per-query task
    # overhead, and at 100 TB size-based partitions are the right target
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # defensive: if a corpus regeneration ever ships TIMESTAMP(NANOS) again
    # (it has, historically), read it as long ns-since-epoch instead of
    # erroring; the current events.ts is TIMESTAMP(MICROS) (asserted in
    # tests/test_read_events.py) so this conf is normally inert
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # corpus timestamps are parquet µs with isAdjustedToUTC=false; read them
    # as TIMESTAMP (interpreted in the UTC session zone — the same wall-clock
    # DuckDB sees) instead of TIMESTAMP_NTZ, which half the timestamp
    # function surface (unix_micros, window(), watermarks) rejects
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # deterministic float formatting when casting double->string
    "spark.sql.legacy.allowNegativeScaleOfDecimal": "false",
}


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime conf posture to an existing session.
    Idempotent and memoized — query helpers call this per table load, and
    re-sending ~10 confs over py4j each time is measurable overhead."""
    if getattr(spark, "_engine_tuned", False):
        return spark
    try:
        spark._engine_tuned = True
    except Exception:
        pass
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # non-settable in this deployment: keep going, features degrade
            # gracefully (e.g. read_events falls back to Arrow).
            pass
    return spark


def get_spark(
    app_name: str = "etl-poor-main-pipeline-spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    cfg = load_config()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cfg.cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("ENGINE_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return tune_session(spark)


def barrier(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate ``df``'s lineage — the engine's only checkpoint call.

    Without a checkpoint directory this is ``df.localCheckpoint(eager)``:
    cheap, but its blocks live on the executors, so losing one forces a
    recompute of the upstream pipeline. When the deployment configures a
    reliable directory (``spark.checkpoint.dir`` or
    ``SparkContext.setCheckpointDir``) every barrier becomes
    ``df.checkpoint()`` to that fault-tolerant storage instead. That path
    is always eager: a lazy reliable checkpoint recomputes its lineage in
    a second job when the first action materializes it."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=eager)
    return df.checkpoint()


#: Scratch roots this interpreter has registered for removal at exit. No
#: lock: two threads racing on a new root at worst register the same
#: idempotent removal twice.
_SCRATCH_ROOTS: set[str] = set()


def scratch_dir(spark: SparkSession, *parts: str) -> str:
    """Path for files a query or index writes for its own use (round-trip
    copies, layouts, IVF indexes), under one root per Spark application:
    ``<tempdir>/spark_graft_<applicationId>/<parts...>``. The root exists
    on return and is removed when the interpreter exits; the path below it
    is left for the writer to create. The applicationId keeps concurrent
    sessions on one host apart."""
    app = spark.sparkContext.applicationId.replace("-", "_")
    root = os.path.join(tempfile.gettempdir(), f"spark_graft_{app}")
    if root not in _SCRATCH_ROOTS:
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SCRATCH_ROOTS.add(root)
    return os.path.join(root, *parts)
