"""Seeded benchmark inputs.

- ``make_corpus``: the TPC-H-ish star schema plus ``events``, ``documents``
  and ``embeddings`` that every registry query reads, with the table
  shapes, key domains and categorical vocabularies of the engine's test
  corpora (one parquet file per table).
- ``make_scaled``: the key-offset replica of a corpus, built by
  ``tools/scaling.make_scaled``.
- ``WeatherApi``: a synthetic OpenWeather-shaped API for the medallion
  pipeline, with NULL temperatures and values on the 0/10/20 CASE
  boundaries, and the counts each pipeline layer must produce.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "query row stream the spark line small fast group customer batch sort value "
    "hash filter big data part column order scan a slow agg key window table "
    "merge vector join"
).split()
DIM = 64

_US = 1_000_000
_DAY_US = 86_400 * _US


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * _US
    return pa.array(epoch + micros.astype(np.int64), pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def make_corpus(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten corpus tables at scale factor ``sf`` (sf=0.1 gives
    600k lineitem rows) into ``out_dir``; the same seed writes the same
    bytes."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    order_days = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, order_days + 1, n_ord) * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    ship_days = (dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, ship_days + 1, n_li) * _DAY_US),
    })
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(dt.datetime(2024, 1, 1), ev_ts),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: bag-of-words over a 31-word vocabulary; one in twenty is an
    # earlier document plus " dup" (the near-duplicate mass dedup targets)
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n_words)]))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # embeddings: unit vectors around ten labelled centroids
    centroids = rng.normal(size=(10, DIM))
    label = rng.integers(0, 10, n_emb)
    vec = centroids[label] + rng.normal(scale=1.5, size=(n_emb, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def make_scaled(src_dir: str, factor: int, out_dir: str) -> None:
    """Key-offset replica of ``src_dir`` (``tools/scaling.make_scaled``);
    DuckDB's progress bar is kept off stdout."""
    from tools.scaling import make_scaled as replicate

    os.makedirs(out_dir, exist_ok=True)
    sys.stdout.flush()
    saved = os.dup(1)
    try:
        os.dup2(2, 1)
        replicate(src_dir, factor, out_dir)
    finally:
        os.dup2(saved, 1)
        os.close(saved)


# -- medallion API ---------------------------------------------------------

COUNTRIES = ["US", "CA", "GB", "DE", "FR", "JP"]
CATEGORIES = ["Freezing", "Cold", "Mild", "Warm"]
WEATHER = [("clear sky", 800), ("few clouds", 801), ("light rain", 500), ("snow", 600)]


def category(temp: float | None) -> str:
    """The silver CASE bucket: <0, <10, <20, else (NULL included)."""
    if temp is None:
        return "Warm"
    for upper, label in ((0.0, "Freezing"), (10.0, "Cold"), (20.0, "Mild")):
        if temp < upper:
            return label
    return "Warm"


class WeatherApi:
    """Per-day payloads for ``keys_per_day`` city keys spread over six
    countries. A day's payloads depend only on (seed, day), so a re-run of
    a day fetches the same data."""

    def __init__(self, seed: int, keys_per_day: int):
        self.seed = seed
        self.keys = [f"{COUNTRIES[i % 6]}-{i:06d}" for i in range(keys_per_day)]

    def day(self, date_id: str) -> dict[str, str]:
        rng = np.random.default_rng([self.seed, dt.date.fromisoformat(date_id).toordinal()])
        n = len(self.keys)
        temp = np.round(rng.uniform(-15.0, 35.0, n), 1)
        edge = rng.random(n)
        temp = np.where(edge < 0.06, np.array([0.0, 10.0, 20.0])[rng.integers(0, 3, n)], temp)
        null = edge > 0.95
        weather = rng.integers(0, len(WEATHER), n)
        wind = np.round(rng.uniform(0.0, 12.0, n), 1)
        humidity, pressure = rng.integers(10, 100, n), rng.integers(980, 1040, n)
        out = {}
        for i, key in enumerate(self.keys):
            t = None if null[i] else float(temp[i])
            desc, code = WEATHER[weather[i]]
            out[key] = json.dumps({
                "name": key,
                "sys": {"country": key[:2]},
                "main": {
                    "temp": t,
                    "feels_like": None if t is None else round(t - 2.0, 1),
                    "humidity": int(humidity[i]),
                    "pressure": int(pressure[i]),
                },
                "weather": [{"description": desc, "id": code}],
                "wind": {"speed": float(wind[i])},
                "retrieved_at": f"{date_id}T06:00:00",
            })
        return out

    @staticmethod
    def expected(payloads: dict[str, str]) -> dict:
        """Row counts each layer must land for one day."""
        by_country: Counter = Counter()
        by_category: Counter = Counter()
        for raw in payloads.values():
            rec = json.loads(raw)
            c = rec["sys"]["country"]
            by_country[c] += 1
            if c in ("US", "CA"):
                by_category[(c, category(rec["main"]["temp"]))] += 1
        return {
            "bronze": len(payloads),
            "by_country": dict(by_country),
            "by_category": {f"{c}/{k}": n for (c, k), n in sorted(by_category.items())},
            "gold": by_country["US"] + by_country["CA"],
        }
