"""REST API source: batch fan-out fetch + nested-JSON flatten (S3/S4/S5).

Reference behavior being recreated (src/bronze/api_data/analytics__world_weather.py):
- S3 ``get_weather_data`` (:46-78): one HTTP GET per city (timeout=10,
  metric units), raise_for_status, stamp ``retrieved_at`` ISO timestamp.
- S4 ``get_batch_weather_data`` (:80-95): sequential loop over a 30-city
  static list, silently dropping failed fetches.
- S5 ``extract_weather_metrics`` (:97-122): flatten 10 scalar metrics out of
  the nested response (main.temp, sys.country, weather[0].description, ...),
  ``{}`` on missing key.

Spark-native design:
- The fetch is injectable (``fetch_fn``) so tests run on canned JSON and no
  live service is ever contacted.
- One fetch loop (``fetch_each``) serves every fan-out. Small key lists
  fetch on the driver (the reference's shape, ``fetch_batch``). At scale
  the ``weather_api`` DataSource (sources/datasource.py) chunks the key
  list into input partitions and runs the same loop inside each executor
  task, so a 1M-key fan-out runs on the executors.
- A live fetch is named by a ``module:attr`` string (``resolve_fetch``);
  without one, the deterministic offline payload is used.
- The flatten is declarative: ``from_json`` with an explicit response
  schema, then nested-field projection — Catalyst-optimizable, no Python in
  the row path.
"""

from __future__ import annotations

import datetime as _dt
import importlib
import json
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Nested response schema for the OpenWeather-shaped payload consumed by the
# reference (analytics__world_weather.py:97-122).
WEATHER_RESPONSE_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("sys", T.StructType([T.StructField("country", T.StringType())])),
        T.StructField(
            "main",
            T.StructType(
                [
                    T.StructField("temp", T.DoubleType()),
                    T.StructField("feels_like", T.DoubleType()),
                    T.StructField("humidity", T.IntegerType()),
                    T.StructField("pressure", T.IntegerType()),
                ]
            ),
        ),
        T.StructField(
            "weather",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("description", T.StringType()),
                        T.StructField("id", T.IntegerType()),
                    ]
                )
            ),
        ),
        T.StructField("wind", T.StructType([T.StructField("speed", T.DoubleType())])),
        T.StructField("retrieved_at", T.StringType()),
    ]
)

FetchFn = Callable[[str], str]


def offline_fetch(city: str) -> str:
    """Deterministic no-network payload (same nested shape as the live
    API: main.temp / sys.country / weather[0] / wind.speed). The default
    fetch everywhere a live service is not configured — tests, the
    pipeline CLI, and the custom data source all share it."""
    h = sum(ord(c) for c in city)
    return json.dumps(
        {
            "name": city,
            "sys": {"country": "CA" if city in ("Toronto", "Vancouver") else "US"},
            "main": {
                "temp": round((h % 350) / 10.0 - 5.0, 1),
                "feels_like": round((h % 350) / 10.0 - 7.0, 1),
                "humidity": h % 100,
                "pressure": 980 + h % 60,
            },
            "weather": [{"description": "clear sky", "id": 800}],
            "wind": {"speed": round((h % 80) / 10.0, 1)},
        }
    )


def resolve_fetch(spec: str | None) -> FetchFn:
    """The fetch callable named by a ``module:attr`` string (the live-HTTP
    hook); :func:`offline_fetch` when ``spec`` is empty. Resolving by name
    rather than pickling a closure lets executor tasks import the fetch
    themselves."""
    if not spec:
        return offline_fetch
    mod, _, attr = spec.partition(":")
    return getattr(importlib.import_module(mod), attr)


def fetch_each(keys: Iterable[str], fetch_fn: FetchFn) -> Iterator[tuple[str, str]]:
    """S4 fan-out loop: ``(key, raw)`` for every key whose fetch neither
    raises nor returns an empty payload. Failed keys are dropped silently,
    as the reference does (:73-78)."""
    for key in keys:
        try:
            raw = fetch_fn(key)
        except Exception:
            continue
        if raw:
            yield key, raw


def fetch_batch(keys: Iterable[str], fetch_fn: FetchFn) -> list[str]:
    """S4 driver-side fan-out: sequential fetch, failed keys dropped."""
    return [raw for _, raw in fetch_each(keys, fetch_fn)]


def stamp_retrieved_at(raw_json: str, now: _dt.datetime | None = None) -> str:
    """Stamp the ISO ``retrieved_at`` field (reference :69,118)."""
    rec = json.loads(raw_json)
    rec["retrieved_at"] = (now or _dt.datetime.now()).isoformat()
    return json.dumps(rec)


def flatten_weather_json(df_raw: DataFrame, json_col: str = "raw") -> DataFrame:
    """S5: nested JSON -> 10 flat scalar columns, declaratively.

    Missing keys yield NULLs (the reference returns ``{}`` per record on a
    missing key and later drops it; NULL columns are the relational
    equivalent and keep the row observable).
    """
    parsed = df_raw.withColumn("_p", F.from_json(F.col(json_col), WEATHER_RESPONSE_SCHEMA))
    return parsed.select(
        F.col("_p.name").alias("city"),
        F.col("_p.sys.country").alias("country"),
        F.col("_p.main.temp").alias("temperature"),
        F.col("_p.main.feels_like").alias("feels_like"),
        F.col("_p.main.humidity").alias("humidity"),
        F.col("_p.main.pressure").alias("pressure"),
        F.col("_p.weather")[0]["description"].alias("weather"),
        F.col("_p.weather")[0]["id"].alias("weather_code"),
        F.col("_p.wind.speed").alias("wind_speed"),
        F.col("_p.retrieved_at").alias("timestamp"),
    )


def _string_frame(spark: SparkSession, name: str, values: list[str]) -> DataFrame:
    """One-string-column frame built from an Arrow table. It plans as a
    ``LocalRelation``: Catalyst folds projections over it on the driver,
    so an ``isEmpty`` probe runs no job and nothing is pickled through
    Python workers (a ``createDataFrame`` of Python tuples re-unpickles
    every row in every job that touches it)."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table({name: pa.array(values, pa.string())}))


def ingest_batch(
    spark: SparkSession,
    keys: Iterable[str],
    fetch_fn: FetchFn,
    date_id: str,
) -> DataFrame:
    """Driver-side S3+S4+S5 composed: fetch -> raw DF -> flatten -> stamp
    partition value. The bronze extract step, reference :125-151."""
    raws = fetch_batch(keys, fetch_fn)
    return flatten_weather_json(_string_frame(spark, "raw", raws)).withColumn(
        "date_id", F.lit(date_id)
    )

