"""Seeded input generators: Open-Meteo-shaped payloads and the star-schema tables.

Everything here is a pure function of its ``numpy.random.Generator``; the
program under test only ever sees the generated files and HTTP bodies.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from meteo_etl_spark.schemas import HOURLY_MEASURES

#: nullable share of each hourly measure array (real payloads carry gaps).
NULL_SHARE = 0.01
FORECAST_START = datetime(2025, 6, 1)


def location_grid(n: int, offset: int = 0) -> list[tuple[float, float]]:
    """``n`` distinct (latitude, longitude) pairs on the 0.1-degree grid
    the silver table keys on (normalize rounds to one decimal)."""
    out = []
    for i in range(offset, offset + n):
        lat = round(-60.0 + 0.1 * (i % 1200), 1)
        lon = round(-170.0 + 0.1 * (i // 1200), 1)
        out.append((lat, lon))
    return out


def _measure(rng: np.random.Generator, hours: int, lo: float, hi: float, dp: int) -> list:
    vals = np.round(rng.uniform(lo, hi, hours), dp)
    mask = rng.random(hours) < NULL_SHARE
    return [None if m else float(v) for v, m in zip(vals, mask)]


def meteo_payload(
    rng: np.random.Generator, lat: float, lon: float, hours: int, start: datetime = FORECAST_START
) -> dict:
    """One Open-Meteo ``/v1/forecast`` body: struct-of-arrays hourly block."""
    times = [(start + timedelta(hours=h)).strftime("%Y-%m-%dT%H:%M") for h in range(hours)]
    ranges = {
        "temperature_2m": (-15.0, 38.0, 1),
        "precipitation": (0.0, 12.0, 1),
        "soil_temperature_18cm": (-5.0, 30.0, 1),
        "soil_moisture_9_to_27cm": (0.0, 0.5, 3),
        "wind_speed_10m": (0.0, 60.0, 1),
        "wind_direction_10m": (0.0, 359.0, 0),
        "cloud_cover": (0.0, 100.0, 0),
    }
    hourly: dict = {"time": times}
    for m in HOURLY_MEASURES:
        lo, hi, dp = ranges[m]
        hourly[m] = _measure(rng, hours, lo, hi, dp)
    return {
        "latitude": lat,
        "longitude": lon,
        "generationtime_ms": round(float(rng.uniform(0.01, 0.5)), 4),
        "utc_offset_seconds": 0,
        "timezone": "GMT",
        "timezone_abbreviation": "GMT",
        "elevation": round(float(rng.uniform(0, 3000)), 1),
        "hourly_units": {m: "unit" for m in ("time", *HOURLY_MEASURES)},
        "hourly": hourly,
    }


# ---------------------------------------------------------------------------
# Star-schema tables, in the column layout of the engine's testdata
# (schemas.TESTDATA_TABLES): uniform keys, two-decimal money columns,
# microsecond timestamps.
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "green", "small", "large", "hot", "new", "old"]
PART_NOUN = ["anvil", "widget", "bolt", "ring", "rod", "plate", "gear", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
US_PER_DAY = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(start: datetime, day_offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + day_offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def star_schema(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_events = int(1_500_000 * sf), int(1_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    names = [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": names,
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": price,
        }
    )
    span_days = (datetime(2001, 8, 1) - datetime(1995, 1, 1)).days
    order_day = rng.integers(0, span_days + 1, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(datetime(1995, 1, 1), order_day),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    l_number = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, i64),
            "l_partkey": pa.array(l_part, i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(l_number, i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price[l_part], 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(datetime(1995, 1, 1), order_day[l_order] + rng.integers(1, 122, n_li)),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * US_PER_DAY, n_events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), i64),
            "ts": pa.array(np.datetime64(datetime(2024, 1, 1), "us") + ev_us.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 1500, n_events), i64),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(60.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    return t


def write_star_schema(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
