"""Seeded input generators for the two benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical files. The program under test only ever sees the
files written here.

- weather: raw JSON in the reference's two shapes (Open-Meteo
  struct-of-arrays, Visual Crossing array-of-structs) under
  ``<root>/<island>/<location>/{om,vc}_<tag>.json``.
- llm: ``documents`` and ``embeddings`` at a chosen size, with a seeded
  share of planted near-duplicates.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- weather

ISLANDS = ("Tenerife", "Gran_Canaria", "Lanzarote", "Fuerteventura",
           "La_Palma", "La_Gomera", "El_Hierro")
# the station weather_sql.q3_best_uv_month filters on by default
Q3_STATION = ("Gran_Canaria", "Las_Palmas_de_Gran_Canaria")

OM_DOUBLE_VARS = (
    "temperature_2m_max", "temperature_2m_min", "temperature_2m_mean",
    "apparent_temperature_max", "apparent_temperature_min",
    "apparent_temperature_mean", "daylight_duration", "sunshine_duration",
    "precipitation_sum", "rain_sum", "snowfall_sum", "precipitation_hours",
    "wind_speed_10m_max", "wind_gusts_10m_max", "wind_direction_10m_dominant",
    "shortwave_radiation_sum", "et0_fao_evapotranspiration",
)
VC_DOUBLE_FIELDS = ("cloudcover", "visibility", "solarradiation",
                    "solarenergy", "uvindex", "moonphase")
CONDITIONS = ("Clear", "Partially cloudy", "Overcast", "Rain",
              "Rain, Overcast")


def stations(n: int) -> list[tuple[str, str, float, float, float]]:
    """``n`` stations spread round-robin over the seven islands; the first
    is the station the reference's Q3 asks about."""
    out = [(*Q3_STATION, 28.12, -15.43, 8.0)]
    for i in range(1, n):
        island = ISLANDS[i % len(ISLANDS)]
        out.append((island, f"Station_{i:03d}", 27.6 + 0.01 * i,
                    -18.1 + 0.02 * i, float(10 * i)))
    return out


def day_range(start: dt.date, n: int) -> list[str]:
    return [(start + dt.timedelta(days=i)).isoformat() for i in range(n)]


def weather_values(rng: np.random.Generator, n_days: int) -> dict:
    """Per-day metric columns for one station and one delivery."""
    vals = {v: np.round(rng.uniform(0.0, 40.0, n_days), 2).tolist()
            for v in OM_DOUBLE_VARS}
    vals["sunshine_duration"] = np.round(
        rng.uniform(0.0, 45000.0, n_days), 2).tolist()
    vals["weather_code"] = rng.integers(0, 100, n_days).tolist()
    for f in VC_DOUBLE_FIELDS:
        vals[f] = np.round(rng.uniform(0.0, 100.0, n_days), 2).tolist()
    vals["uvindex"] = np.round(rng.uniform(0.0, 11.0, n_days), 1).tolist()
    vals["conditions"] = [CONDITIONS[k] for k in
                          rng.integers(0, len(CONDITIONS), n_days)]
    return vals


def write_weather_batch(root: str, station_list: list, days: list[str],
                        seed: int, tag: str) -> list[dict]:
    """Write one delivery (both raw shapes) for every station and return
    the rows it carries, as ``{location, date, sunshine_duration, uvindex}``
    dicts, for the correctness checks."""
    rng = np.random.default_rng(seed)
    expected = []
    for island, loc, lat, lon, elev in station_list:
        location = f"{island}/{loc}"
        v = weather_values(rng, len(days))
        daily = {"date": days, "weather_code": v["weather_code"]}
        daily.update({k: v[k] for k in OM_DOUBLE_VARS})
        daily["sunrise"] = [f"{d}T07:10" for d in days]
        daily["sunset"] = [f"{d}T19:40" for d in days]
        om = {"location": location, "latitude": lat, "longitude": lon,
              "elevation": elev, "timezone": "Atlantic/Canary",
              "daily": daily}
        vc_days = []
        for j, d in enumerate(days):
            day = {"datetime": d, "conditions": v["conditions"][j],
                   "description": f"{v['conditions'][j]} throughout the day",
                   "icon": "clear-day"}
            day.update({f: v[f][j] for f in VC_DOUBLE_FIELDS})
            vc_days.append(day)
        vc = {"queryCost": 1.0, "latitude": lat, "longitude": lon,
              "resolvedAddress": f"{lat},{lon}", "address": location,
              "timezone": "Atlantic/Canary", "tzoffset": 0.0,
              "days": vc_days}
        d = os.path.join(root, island, loc)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"om_{tag}.json"), "w") as f:
            json.dump(om, f)
        with open(os.path.join(d, f"vc_{tag}.json"), "w") as f:
            json.dump(vc, f)
        expected.extend(
            {"location": location, "date": day,
             "sunshine_duration": v["sunshine_duration"][j],
             "uvindex": v["uvindex"][j]}
            for j, day in enumerate(days))
    return expected


# -------------------------------------------------------------------- llm

VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
LANGS = ("en", "en", "es", "de", "fr", "zh", "en", "en", "es", "de", "fr",
         "zh", "en")
EMBED_DIM = 64


def _pick(rng, choices: tuple, n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[
        rng.integers(0, len(choices), n)].tolist(), pa.string())


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def write_documents(out_dir: str, seed: int, n_docs: int, n_vecs: int,
                    dup_share: float) -> dict:
    """``documents`` and ``embeddings`` with exactly a ``dup_share`` of planted
    near-duplicates: a copy of an earlier document with one word replaced
    and ``dup`` appended, and an earlier vector plus small noise."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.asarray(VOCAB, dtype=object)
    # a fixed count of near-duplicates and a fixed multiset of document
    # lengths: every seed asks the same work of the operators
    dup_docs = set(rng.choice(np.arange(11, n_docs), round(dup_share * n_docs),
                              replace=False).tolist())
    lengths = rng.permutation(np.linspace(10, 100, n_docs).astype(int))
    texts: list[str] = []
    for i in range(n_docs):
        if i in dup_docs:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = vocab[
                int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                     lengths[i])]))
    rows = {"documents": _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_docs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})}
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_vecs, EMBED_DIM))
    dups = np.sort(rng.choice(np.arange(1, n_vecs), round(dup_share * n_vecs),
                              replace=False))
    src = (rng.random(len(dups)) * dups).astype(np.int64)
    vecs[dups] = vecs[src] + rng.normal(0.0, 0.01, (len(dups), EMBED_DIM))
    labels[dups] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return rows
