"""Structured Streaming: stream results must equal the batch twin on the
same (bounded) input — the strongest equivalence check for unbounded ops."""

import json

import pytest
from pyspark.sql import functions as F

from etl_poor_main_pipeline_spark.streaming.events import (
    EVENT_SCHEMA,
    enrich_stream,
    sessionize_stream,
    windowed_event_counts,
)


@pytest.fixture()
def event_dir(spark, tmp_path):
    rows = []
    for uid in range(3):
        for i in range(10):
            # two bursts separated by > 30min -> 2 sessions/user
            base = 1704067200 + uid * 1000 + (0 if i < 5 else 3600) + i * 60
            rows.append(
                {
                    "event_id": uid * 100 + i,
                    "ts": base * 1000,  # ms epoch for JSON timestamp parse
                    "user_id": uid,
                    "event_type": "click" if i % 2 == 0 else "view",
                    "value": float(i),
                    "props": json.dumps({"k": i}),
                }
            )
    src = tmp_path / "stream_src"
    src.mkdir()
    # two files = two micro-batches
    for part, chunk in enumerate((rows[:15], rows[15:])):
        with open(src / f"part{part}.json", "w") as f:
            for r in chunk:
                rec = dict(r)
                rec["ts"] = __import__("datetime").datetime.utcfromtimestamp(
                    rec["ts"] / 1000
                ).strftime("%Y-%m-%dT%H:%M:%S.000Z")
                f.write(json.dumps(rec) + "\n")
    return str(src)


def test_windowed_counts_match_batch(spark, event_dir):
    stream = spark.readStream.schema(EVENT_SCHEMA).json(event_dir)
    q = (
        windowed_event_counts(stream, window="1 hour")
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append" if False else "complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start.isoformat(), r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = spark.read.json(event_dir)
    expected = {
        (r.w.isoformat(), r.event_type): r.n
        for r in (
            batch.withColumn("ts", F.to_timestamp("ts"))
            .groupBy(F.date_trunc("hour", F.col("ts")).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        ).collect()
    }
    assert got == expected


def test_stateful_sessionization_matches_batch(spark, event_dir):
    stream = spark.readStream.schema(EVENT_SCHEMA).json(event_dir)
    q = (
        sessionize_stream(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # take the LAST update per user (memory sink keeps every update row)
    rows = spark.sql(
        """SELECT user_id, n_sessions FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
             FROM sessions) WHERE rn = 1"""
    ).collect()
    got = {r.user_id: r.n_sessions for r in rows}
    assert got == {0: 2, 1: 2, 2: 2}  # two bursts per user


def test_stream_static_enrichment(spark, event_dir):
    dim = spark.createDataFrame(
        [(0, "free"), (1, "pro"), (2, "pro")], ["user_id", "tier"]
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).json(event_dir)
    q = (
        enrich_stream(stream, dim)
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT user_id, tier FROM enriched").collect()
    assert len(rows) == 30
    assert all(r.tier == ("free" if r.user_id == 0 else "pro") for r in rows)


def test_drained_stream_equals_batch(spark):
    """Oracle-twin invariant: a finite stream drained with availableNow
    equals the equivalent batch query (registry wave 9 contract)."""
    from etl_poor_main_pipeline_spark.streaming.events import (
        drain_to_table,
        read_event_stream_parquet,
    )

    sf = "/root/testdata/sf0.001"
    ev = read_event_stream_parquet(spark, sf)
    drained = drain_to_table(
        ev.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"]),
        "append",
    )
    got = {(r.user_id, r.event_type) for r in drained.collect()}
    from etl_poor_main_pipeline_spark.sources.read import read_events

    want = {
        (r.user_id, r.event_type)
        for r in read_events(spark, sf).select("user_id", "event_type").distinct().collect()
    }
    assert got == want and len(got) > 0


def test_drain_tolerates_unsettable_shuffle_conf(spark, monkeypatch):
    """Hosting deployments may reject runtime conf changes; drain_to_table's
    state_partitions pin must degrade to the session default instead of
    crashing the stream (the conf-denied posture every other runtime conf
    already tolerates via session.tune_session)."""
    from etl_poor_main_pipeline_spark.streaming.events import (
        drain_to_table,
        read_event_stream_parquet,
    )

    real_set = spark.conf.set

    def deny(k, v):
        raise RuntimeError(f"conf {k} not settable in this deployment")

    monkeypatch.setattr(spark.conf, "set", deny)
    try:
        ev = read_event_stream_parquet(spark, "/root/testdata/sf0.001")
        drained = drain_to_table(
            ev.select("user_id").dropDuplicates(["user_id"]),
            "append",
            state_partitions=4,
        )
        assert drained.count() > 0
    finally:
        monkeypatch.setattr(spark.conf, "set", real_set)


def test_stream_reader_probes_tz_nanos_and_directory_corpora(spark, tmp_path):
    """The footer probe must detect NANOS by unit, not exact type equality:
    timestamp('ns', tz='UTC') is still NANOS on disk, and a directory-shaped
    events.parquet must probe its first part file rather than silently
    falling into the micros branch (ADVICE r2)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_poor_main_pipeline_spark.streaming.events import (
        drain_to_table,
        read_event_stream_parquet,
    )

    sf = str(tmp_path / "sfnanos")
    # directory-shaped events.parquet with a tz-adjusted nanos ts column
    part_dir = f"{sf}/events.parquet"
    import os

    os.makedirs(part_dir)
    ns = [1_700_000_000_000_000_000 + i * 1_000_000_000 for i in range(4)]
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns", tz="UTC")),
            "user_id": pa.array([10, 10, 11, 11], pa.int64()),
            "event_type": pa.array(["a", "a", "b", "b"]),
            "value": pa.array([1.0, 2.0, 3.0, 4.0]),
            "props": pa.array(["{}"] * 4),
        }
    )
    pq.write_table(tbl, f"{part_dir}/part-0.parquet")

    ev = read_event_stream_parquet(spark, sf)
    drained = drain_to_table(ev.select("event_id", "ts"), "append")
    rows = {r.event_id: r.ts for r in drained.collect()}
    assert len(rows) == 4
    # nanos branch engaged: values are true µs-precision timestamps, one
    # second apart (the micros mis-branch would fail the stream read or
    # produce garbage epochs)
    import datetime

    assert rows[2] - rows[1] == datetime.timedelta(seconds=1)
    assert rows[1].year == 2023


def test_watermark_drops_late_rows(spark, tmp_path):
    """Watermark semantics pinned end to end: a row arriving in a later
    micro-batch with an event time older than (max seen ts - watermark)
    must be dropped from a windowed aggregation in append mode, while an
    equally late row WITHIN the allowed lateness is merged. This is the
    bounded-state contract that makes the windowed aggs runnable on an
    unbounded stream."""
    import datetime as dt
    import json as _json

    src = tmp_path / "late_src"
    src.mkdir()

    def write(name, rows):
        with open(src / name, "w") as f:
            for eid, ts_s, et in rows:
                f.write(
                    _json.dumps(
                        {
                            "event_id": eid,
                            "ts": dt.datetime.utcfromtimestamp(ts_s).strftime(
                                "%Y-%m-%dT%H:%M:%S.000Z"
                            ),
                            "user_id": 1,
                            "event_type": et,
                            "value": 1.0,
                            "props": "{}",
                        }
                    )
                    + "\n"
                )

    base = 1704067200  # 2024-01-01 00:00:00
    # batch 1 advances the clock to base+5h
    write("b1.json", [(1, base, "a"), (2, base + 5 * 3600, "a")])
    out_dir = str(tmp_path / "late_out")

    def drain():
        # one drain per arrival wave: the checkpoint carries the watermark
        # across restarts, exactly like a production incremental job (the
        # memory sink can't recover a checkpoint; the file sink can)
        stream = spark.readStream.schema(EVENT_SCHEMA).json(str(src))
        agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)

    drain()  # advances the watermark to base+5h - 2h = base+3h
    write("b2.json", [(3, base + 3600, "late_beyond"), (4, base + 4 * 3600, "late_within")])
    drain()
    types = {r.event_type for r in spark.read.parquet(out_dir).collect()}
    # the base+1h row is older than the checkpointed watermark -> dropped;
    # its window was already finalized without it
    assert "late_beyond" not in types
    assert "a" in types  # finalized on-time windows were emitted


def test_micros_stream_read_leaves_nanos_conf_alone(spark):
    """Only the nanos branch needs ``nanosAsLong``; building a stream query
    on the micros corpus must not flip that session-wide conf."""
    from etl_poor_main_pipeline_spark.registry import queries
    from tests.conftest import SF_DIR

    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        queries()["streaming_tumbling_counts"](spark, SF_DIR)
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, old)
