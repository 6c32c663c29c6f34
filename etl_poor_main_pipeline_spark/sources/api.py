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
- Small key lists fetch on the driver (the reference's shape). At scale the
  key list is distributed and fetched inside ``mapInPandas`` so a 1M-key
  fan-out runs on the executors — ``fetch_distributed``.
- The flatten is declarative: ``from_json`` with an explicit response
  schema, then nested-field projection — Catalyst-optimizable, no Python in
  the row path.
"""

from __future__ import annotations

import datetime as _dt
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

# 6 countries x 5 cities, mirroring the reference's WORLD_CITIES list shape
# (analytics__world_weather.py:19-32) without copying its literal data.
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


def fetch_batch(keys: Iterable[str], fetch_fn: FetchFn) -> list[str]:
    """S4 driver-side fan-out: sequential fetch, failed keys dropped
    (reference drops failures silently, :73-78; we do the same)."""
    out: list[str] = []
    for key in keys:
        try:
            raw = fetch_fn(key)
        except Exception:
            continue
        if raw:
            out.append(raw)
    return out


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


def fetch_distributed(
    spark: SparkSession,
    keys: list[str],
    fetch_fn: FetchFn,
    num_partitions: int | None = None,
) -> DataFrame:
    """Executor-side fan-out for large key lists (the 100 TB-posture path).

    Distributes the key list and fetches inside ``mapInPandas`` so the HTTP
    fan-out parallelizes across executors; per-key failures are dropped,
    matching reference semantics. ``fetch_fn`` must be picklable.
    """
    import pandas as pd

    n = num_partitions or max(1, len(keys) // 100)
    keys_df = _string_frame(spark, "key", keys).repartition(n)
    out_schema = T.StructType(
        [T.StructField("key", T.StringType()), T.StructField("raw", T.StringType())]
    )

    def fetch_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for key in pdf["key"]:
                try:
                    rows.append((key, fetch_fn(key)))
                except Exception:
                    continue
            yield pd.DataFrame(rows, columns=["key", "raw"])

    return keys_df.mapInPandas(fetch_part, out_schema)
