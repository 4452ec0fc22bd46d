"""Shared fixtures: one session-scoped SparkSession, a synthetic golden
payload (FIXTURES.md §1 shape), and tmp warehouse dirs.

The golden payload mirrors the reference's fixture *shape* (a 7-day
hourly Open-Meteo response — reference `tests/fixtures/meteo-payload.json`)
but is generated here deterministically; expected outputs are computed
from the same constants (reference test strategy, SURVEY.md §5).
"""

from __future__ import annotations

import math

import pytest

from meteo_etl_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

N_HOURS = 7 * 24  # the reference golden payload is 7 days × 24 h = 168 samples
PAYLOAD_LAT = 3.06  # bround(_, 1) -> 3.1 (half-up case)
PAYLOAD_LON = 5.25  # bround(_, 1) -> 5.2 (half-even tie case: 5.25 -> 5.2)


def golden_payload(lat: float = PAYLOAD_LAT, lon: float = PAYLOAD_LON) -> dict:
    """Deterministic struct-of-arrays payload with nulls sprinkled in."""
    times = []
    for i in range(N_HOURS):
        day = 1 + i // 24
        hour = i % 24
        times.append(f"2025-12-{day:02d}T{hour:02d}:00")

    def measure(base: float, period: float, null_every: int) -> list:
        return [
            None if (i % null_every == null_every - 1) else round(base + 10 * math.sin(i / period), 2)
            for i in range(N_HOURS)
        ]

    return {
        "latitude": lat,
        "longitude": lon,
        "generationtime_ms": 0.123,
        "utc_offset_seconds": 0,
        "timezone": "GMT",
        "timezone_abbreviation": "GMT",
        "elevation": 38.0,
        "hourly_units": {"time": "iso8601", "temperature_2m": "°C"},
        "hourly": {
            "time": times,
            "temperature_2m": measure(10.0, 7.0, 13),
            "precipitation": measure(1.0, 5.0, 17),
            "soil_temperature_18cm": measure(8.0, 11.0, 19),
            "soil_moisture_9_to_27cm": measure(0.3, 3.0, 23),
            "wind_speed_10m": measure(20.0, 9.0, 29),
            "wind_direction_10m": measure(180.0, 13.0, 31),
            "cloud_cover": measure(50.0, 17.0, 37),
        },
    }


@pytest.fixture(scope="session")
def spark():
    s = get_spark("meteo-etl-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session", autouse=True)
def oracle_prefetch(request):
    """DuckDB oracle results of the selected tests that ask for
    ``oracle_results`` (tests/test_queries.py), keyed by query name.
    One background thread computes them in test order from the start
    of the session, so DuckDB (which releases the GIL) runs while the
    earlier Spark tests run, and a query test waits only for its own
    result; an oracle error re-raises in that test. Same SQL, and the
    connection is made as for a direct ``execute``. The thread and the
    DuckDB threads it starts run at a lower priority, so they use the
    cores Spark leaves idle; more than one oracle thread was slower."""
    specs = [
        item.callspec.params["spec"]
        for item in request.session.items
        if "oracle_results" in item.fixturenames and hasattr(item, "callspec")
    ]
    if not specs:
        yield {}
        return
    import os
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from tests.oracle import duckdb_connection

    state = {}

    def start():
        if hasattr(os, "setpriority"):
            # per thread on Linux; threads made later inherit it
            os.setpriority(os.PRIO_PROCESS, threading.get_native_id(), 10)
        state["con"] = duckdb_connection(SF_SMALL)

    pool = ThreadPoolExecutor(max_workers=1, thread_name_prefix="oracle", initializer=start)
    futures = {
        s.name: pool.submit(lambda sql=s.oracle: state["con"].execute(sql).df())
        for s in specs
        if s.oracle is not None
    }
    yield futures
    pool.shutdown(wait=True, cancel_futures=True)
    if "con" in state:
        state["con"].close()


@pytest.fixture()
def payload() -> dict:
    return golden_payload()


@pytest.fixture()
def warehouse(tmp_path):
    from meteo_etl_spark.pipeline.warehouse import Warehouse

    return Warehouse(root=str(tmp_path / "warehouse"))
