"""Seeded inputs for both workloads. The engine only ever sees what these
functions write; the same seed always yields byte-identical inputs.

- ``make_lake``: a small lake with the schema of the engine's test corpus
  (TPC-H-ish star tables plus ``events``/``documents``/``embeddings``), one
  parquet file per table, for ``lake_queries``.
- ``WeatherDays``: per-day OpenWeather-shaped JSON payloads for
  ``medallion_daily`` plus the expected silver/gold contents, computed here
  independently of the engine so the checks compare against the generator.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Lake sizes, chosen from per-query medians measured at four sizes
# (graftbench/README.md, "Sizing the lake"). At this size every query but the
# one-day events scan and the exact dedup takes at least twice a no-op Spark
# job, and most rise with the data. The largest, MinHash-LSH, takes about a
# quarter of a pass, and a pass of the ten queries takes about 10 s on a
# 4-vCPU VM.
LAKE_ROWS = {
    "customer": 9_600,
    "supplier": 640,
    "part": 12_800,
    "orders": 96_000,
    "lineitem": 384_000,
    "events": 64_000,
    "documents": 960,
    "embeddings": 1_600,
}
EMBED_DIM = 64
LAKE_VERSION = "2"

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small order group stream query big "
    "vector filter customer"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _ts(days: np.ndarray, base: str) -> pa.Array:
    base_us = int(dt.datetime.fromisoformat(base).replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return pa.array(base_us + days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _lake_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = LAKE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2),
        }
    )
    npart = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": [f"part {i % 97}" for i in range(npart)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 30, npart)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], npart),
            "p_size": pa.array(rng.integers(1, 50, npart), pa.int32()),
            "p_retailprice": np.round(900 + rng.uniform(0, 1100, npart), 2),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
            "o_orderdate": _ts(rng.integers(0, 7 * 365, no), "1993-01-01"),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900, 100000, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _ts(rng.integers(0, 9 * 365, nl), "1993-01-01"),
        }
    )
    ne = n["events"]
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": pa.array(1_704_067_200_000_000 + ev_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 100, ne), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": np.round(rng.uniform(0, 100, ne), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.15:  # exact duplicates for dedup_exact
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 60)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, nd),
            "source": [f"src{i % 5}" for i in range(nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0, 0.8, (nv, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def make_lake(root: str, seed: int) -> str:
    """Write the seeded lake under ``root`` once; return its directory."""
    lake = os.path.join(root, f"lake_v{LAKE_VERSION}_s{seed}")
    done = os.path.join(lake, "_COMPLETE")
    if os.path.exists(done):
        return lake
    tmp = lake + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in _lake_tables(seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    if os.path.exists(lake):
        import shutil

        shutil.rmtree(lake)
    os.rename(tmp, lake)
    open(done, "w").close()
    return lake


# --------------------------------------------------------------------------
# medallion_daily inputs
# --------------------------------------------------------------------------

# The paper's day: a static list of 30 cities, 6 countries x 5 cities
# (reference analytics__world_weather.py:19-32, SURVEY.md S4). Only the US and
# CA rows reach silver and gold.
_COUNTRIES = ["US", "CA", "GB", "DE", "FR", "JP"]
CITIES_PER_COUNTRY = 5
CITIES_PER_DAY = len(_COUNTRIES) * CITIES_PER_COUNTRY
_SKIES = [("clear sky", 800), ("few clouds", 801), ("light rain", 500), ("snow", 600)]


def temperature_category(temp: float | None) -> str:
    """The silver CASE bucket, written out independently of the engine."""
    if temp is None:
        return "Warm"
    if temp < 0.0:
        return "Freezing"
    if temp < 10.0:
        return "Cold"
    if temp < 20.0:
        return "Mild"
    return "Warm"


class WeatherDays:
    """Seeded per-day payloads: ``CITIES_PER_COUNTRY`` cities in each of the
    countries, fetched in a seeded order; each day's readings depend on
    (seed, day) only, so a re-run of a day fetches exactly the payloads of
    its first run."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = np.random.default_rng([seed, 0])
        homes = [c for c in _COUNTRIES for _ in range(CITIES_PER_COUNTRY)]
        order = rng.permutation(CITIES_PER_DAY)
        self.cities = [f"City{i:04d}" for i in range(CITIES_PER_DAY)]
        self.country = {city: homes[int(j)] for city, j in zip(self.cities, order)}

    def date_id(self, day: int) -> str:
        return (dt.date(2026, 1, 1) + dt.timedelta(days=day)).isoformat()

    def payloads(self, day: int) -> dict[str, str]:
        rng = np.random.default_rng([self.seed, 1, day])
        temps = np.round(rng.uniform(-25, 38, CITIES_PER_DAY), 1)
        feels = np.round(temps - rng.uniform(0, 4, CITIES_PER_DAY), 1)
        hum = rng.integers(10, 100, CITIES_PER_DAY)
        pres = rng.integers(960, 1050, CITIES_PER_DAY)
        sky = rng.integers(0, len(_SKIES), CITIES_PER_DAY)
        wind = np.round(rng.uniform(0, 15, CITIES_PER_DAY), 1)
        stamp = f"{self.date_id(day)}T06:00:00"
        out = {}
        for i, city in enumerate(self.cities):
            desc, code = _SKIES[int(sky[i])]
            out[city] = json.dumps(
                {
                    "name": city,
                    "sys": {"country": str(self.country[city])},
                    "main": {
                        "temp": float(temps[i]),
                        "feels_like": float(feels[i]),
                        "humidity": int(hum[i]),
                        "pressure": int(pres[i]),
                    },
                    "weather": [{"description": desc, "id": code}],
                    "wind": {"speed": float(wind[i])},
                    "retrieved_at": stamp,
                }
            )
        return out

    def expected_silver(self, day: int, country: str) -> list[tuple[str, float, str]]:
        """(city, temperature, temperature_category) rows silver must hold."""
        rows = []
        for city, raw in self.payloads(day).items():
            rec = json.loads(raw)
            if rec["sys"]["country"] == country:
                t = rec["main"]["temp"]
                rows.append((city, t, temperature_category(t)))
        return sorted(rows)
