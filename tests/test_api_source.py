"""S3/S4/S5: API source with canned JSON — no live network (SURVEY §7.5)."""

import json

from etl_poor_main_pipeline_spark.sources.api import (
    fetch_batch,
    flatten_weather_json,
    ingest_batch,
)


def canned_payload(city="Toronto", country="CA", temp=21.5):
    return json.dumps(
        {
            "name": city,
            "sys": {"country": country},
            "main": {"temp": temp, "feels_like": temp - 2, "humidity": 60, "pressure": 1013},
            "weather": [{"description": "clear sky", "id": 800}],
            "wind": {"speed": 3.2},
            "retrieved_at": "2026-01-01T12:00:00",
        }
    )


def fake_fetch(key: str) -> str:
    if key == "FailCity":
        raise RuntimeError("HTTP 500")
    return canned_payload(city=key)


def test_fetch_batch_drops_failures():
    # reference drops failed cities silently (analytics__world_weather.py:73-78)
    out = fetch_batch(["A", "FailCity", "B"], fake_fetch)
    assert len(out) == 2


def test_flatten_extracts_ten_metrics(spark):
    df = spark.createDataFrame([(canned_payload(),)], ["raw"])
    out = flatten_weather_json(df)
    assert out.columns == [
        "city", "country", "temperature", "feels_like", "humidity",
        "pressure", "weather", "weather_code", "wind_speed", "timestamp",
    ]
    row = out.head()
    assert row.city == "Toronto" and row.country == "CA"
    assert row.temperature == 21.5 and row.weather_code == 800
    assert row.weather == "clear sky"


def test_flatten_missing_keys_yield_nulls(spark):
    df = spark.createDataFrame([(json.dumps({"name": "X"}),)], ["raw"])
    row = flatten_weather_json(df).head()
    assert row.city == "X" and row.temperature is None and row.weather is None


def test_ingest_batch_stamps_partition(spark):
    out = ingest_batch(spark, ["A", "B"], fake_fetch, "2026-01-01")
    assert out.count() == 2
    assert {r.date_id for r in out.collect()} == {"2026-01-01"}


def test_ingest_batch_all_failed(spark):
    out = ingest_batch(spark, ["FailCity"], lambda k: fake_fetch("FailCity"), "2026-01-01")
    assert out.count() == 0


def test_custom_datasource_distributed_fetch(spark):
    """The weather_api custom DataSource (Spark 4 Python data source API)
    partitions the key list and fetches executor-side; the raw payloads
    flatten with the same declarative path as every other ingest."""
    from etl_poor_main_pipeline_spark.sources.api import flatten_weather_json
    from etl_poor_main_pipeline_spark.sources.datasource import register_weather_source

    register_weather_source(spark)
    cities = [f"City{i}" for i in range(12)]
    df = (
        spark.read.format("weather_api")
        .option("cities", ",".join(cities))
        .option("citiesPerPartition", "4")
        .load()
    )
    assert df.rdd.getNumPartitions() == 3  # 12 cities / 4 per partition
    rows = df.collect()
    assert {r.city for r in rows} == set(cities)
    flat = flatten_weather_json(df)
    got = {(r.city, r.country) for r in flat.collect()}
    assert got == {(c, "US") for c in cities}  # offline payload semantics


def test_custom_datasource_drops_failed_keys(spark):
    from etl_poor_main_pipeline_spark.sources.datasource import register_weather_source

    register_weather_source(spark)
    df = (
        spark.read.format("weather_api")
        .option("cities", "Toronto,BOOM,Vancouver")
        .option("fetch", "tests.test_api_source:_failing_fetch")
        .load()
    )
    assert {r.city for r in df.collect()} == {"Toronto", "Vancouver"}


def _failing_fetch(city: str) -> str:
    from etl_poor_main_pipeline_spark.sources.api import offline_fetch

    if city == "BOOM":
        raise RuntimeError("fetch failed")
    return offline_fetch(city)


def test_custom_datasource_filter_pushdown(spark):
    """city = 'X' prunes the fetch list inside the source: only the
    matching city's partition survives, so the pruned HTTP calls are
    never issued (visible as a single input partition)."""
    from pyspark.sql import functions as F

    from etl_poor_main_pipeline_spark.sources.datasource import register_weather_source

    register_weather_source(spark)
    df = (
        spark.read.format("weather_api")
        .option("cities", "Alpha,Beta,Gamma")
        .option("citiesPerPartition", "1")
        .load()
        .filter(F.col("city") == "Beta")
    )
    assert df.rdd.getNumPartitions() == 1  # 3 without pushdown
    assert [r.city for r in df.collect()] == ["Beta"]


def test_custom_datasource_streaming_polls(spark):
    """The streaming side polls every city per micro-batch; two batches
    yield two full snapshots."""
    import time

    from etl_poor_main_pipeline_spark.sources.datasource import register_weather_source

    register_weather_source(spark)
    cities = ["Alpha", "Beta", "Gamma"]
    stream = (
        spark.readStream.format("weather_api")
        .option("cities", ",".join(cities))
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("weather_poll")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("weather_poll").count() >= 2 * len(cities):
                break
            time.sleep(0.5)
        rows = spark.table("weather_poll").collect()
    finally:
        q.stop()
    assert len(rows) >= 2 * len(cities)
    assert {r.city for r in rows} == set(cities)


def _drop_orphan_part(out: str) -> None:
    """An orphan part file (a simulated failed or aborted task): a valid
    parquet file in the output directory that no manifest lists."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"id": [999]}), os.path.join(out, "part-orphan.parquet"))


def test_manifest_parquet_arrow_writers(spark, tmp_path):
    """Arrow-batch manifest sink, batch and streaming: parquet parts +
    manifest-scoped visibility (an orphan part file stays invisible),
    exact double round-trip, and the batch writer goes through
    DataSourceArrowWriter (vectorized, no per-row Python)."""
    import glob
    import json
    import os

    from etl_poor_main_pipeline_spark.sources.datasource import (
        read_manifest_parquet,
        register_manifest_parquet_sink,
    )

    register_manifest_parquet_sink(spark)
    # batch path
    out_b = str(tmp_path / "batch_out")
    df = spark.range(1000).selectExpr("id", "cast(id as double) / 7.0 AS v").repartition(4)
    df.write.format("manifest_parquet").mode("append").option("path", out_b).save()
    manifest = json.load(open(os.path.join(out_b, "_MANIFEST.json")))
    assert manifest["n_rows"] == 1000
    assert len(manifest["files"]) == 4
    _drop_orphan_part(out_b)
    back = read_manifest_parquet(spark, out_b)
    assert back.count() == 1000
    # exact double round-trip through Arrow -> parquet
    assert back.filter("v = cast(id as double) / 7.0").count() == 1000

    # streaming path
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        for i in range(50):
            f.write(json.dumps({"id": i}) + "\n")
    out_s = str(tmp_path / "stream_out")
    q = (
        spark.readStream.schema("id long").json(src)
        .writeStream.format("manifest_parquet")
        .option("path", out_s)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    manifests = sorted(glob.glob(os.path.join(out_s, "_MANIFEST-*.json")))
    assert manifests, "stream commit published no batch manifest"
    assert json.load(open(manifests[0]))["n_rows"] == 50
    _drop_orphan_part(out_s)
    sback = read_manifest_parquet(spark, out_s)
    assert sback.count() == 50 and sback.agg({"id": "max"}).head()[0] == 49


def test_manifest_parquet_snapshot_read_as_of_batch(spark, tmp_path):
    """The per-batch manifest log doubles as a snapshot log: reading
    as-of batch N sees exactly the rows committed through batch N —
    time travel from the commit protocol, no extra metadata."""
    import json
    import os

    from etl_poor_main_pipeline_spark.sources.datasource import (
        read_manifest_parquet,
        register_manifest_parquet_sink,
    )

    register_manifest_parquet_sink(spark)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)

    def write_file(n, lo, hi):
        with open(os.path.join(src, f"{n}.json"), "w") as f:
            for i in range(lo, hi):
                f.write(json.dumps({"id": i}) + "\n")

    def drain():
        q = (
            spark.readStream.schema("id long").json(src)
            .writeStream.format("manifest_parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_file("a", 0, 30)
    drain()
    write_file("b", 30, 50)
    drain()  # second drain picks up only the new file -> a later batch

    full = read_manifest_parquet(spark, out)
    assert full.count() == 50
    snap0 = read_manifest_parquet(spark, out, as_of_batch=0)
    assert snap0.count() == 30
    assert snap0.agg({"id": "max"}).head()[0] == 29


def test_python_source_to_python_sink_streaming_roundtrip(spark, tmp_path):
    """Full custom-Python streaming path: weather_api streaming source
    (poll reader) -> projection -> manifest_parquet Arrow sink. Two poll
    batches drain; the committed output contains every configured city
    with the deterministic offline payload each time."""
    import time

    from etl_poor_main_pipeline_spark.sources.datasource import (
        read_manifest_parquet,
        register_manifest_parquet_sink,
        register_weather_source,
    )

    register_weather_source(spark)
    register_manifest_parquet_sink(spark)
    cities = ["Toronto", "London", "Tokyo"]
    out = str(tmp_path / "out")
    stream = (
        spark.readStream.format("weather_api")
        .option("cities", ",".join(cities))
        .load()
    )
    q = (
        stream.writeStream.format("manifest_parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                if read_manifest_parquet(spark, out).count() >= 2 * len(cities):
                    break
            except Exception:
                pass  # no manifest committed yet
            time.sleep(0.5)
    finally:
        q.stop()
    back = read_manifest_parquet(spark, out)
    assert back.count() >= 2 * len(cities)
    assert {r.city for r in back.select("city").distinct().collect()} == set(cities)
