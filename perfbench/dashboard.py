"""``dashboard``: one op is one refresh of the six analytics calls.

Set-up generates seeded Open-Meteo bodies (``LOCATIONS`` x ``HOURS``
observations), lands them with ONE ``merge_observations`` into an empty
warehouse (a first write: see NOTES.md for why no workload merges into an
existing silver table yet), and seeds the control table through the
lifecycle calls ``fetch_publish`` makes. Expected answers come from the
generator's arrays, never from the silver table.
"""

from __future__ import annotations

import json
import math
import os
import time

import numpy as np

from perfbench import gen

LOCATIONS = 120
HOURS = 720
MEASURES = {"temperature": "temperature_2m", "precipitation": "precipitation", "wind_speed": "wind_speed_10m"}
STATS = ("mean", "std", "min", "p25", "p50", "p75", "max")
REL_TOL = 1e-9
REFRESH = (
    "get_counts",
    "describe_observations",
    "load_observations",
    "load_metadata",
    "last_job_status",
    "mean_tiles",
)


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)


def _files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Dashboard:
    name = "dashboard"
    #: spans this workload adds to the traced run's shares
    extra_spans = (
        *(f"plans.analytics.{f}" for f in REFRESH),
        "pipeline.read_observations",
        "operators.percentile_gate",
    )
    #: data set-ups per run (``setup_s`` takes their median)
    setup_repeats = 1
    #: ops in one pass over the workload's inputs (runs time whole passes)
    pass_len = 1
    #: op time at this commit on 4 cores; sizes a run from ``--seconds``.
    nominal_op_s = 2.5

    def __init__(self, spark, scratch, seed: int, tracer):
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        self.tracer = tracer
        self._setups = 0
        self.setup_detail: dict[str, list[float]] = {}

    def _timed(self, key: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        self.setup_detail.setdefault(key, []).append(time.perf_counter() - t0)
        return out

    def setup(self) -> None:
        from meteo_etl_spark.operators import normalize
        from meteo_etl_spark.pipeline import control, warehouse
        from meteo_etl_spark.schemas import METEO_PAYLOAD_SCHEMA
        from meteo_etl_spark.sources import bronze

        rng = np.random.default_rng(self.seed)
        self._setups += 1
        root = self.scratch.path(f"dash-{self._setups}")
        self.wh = warehouse.Warehouse(root)
        locs = gen.location_grid(LOCATIONS)
        payloads = [gen.meteo_payload(rng, lat, lon, HOURS) for lat, lon in locs]
        self._expect(locs, payloads)

        landed = os.path.join(root, "landing", "payloads.json")
        os.makedirs(os.path.dirname(landed))
        with open(landed, "w") as f:
            for p in payloads:
                f.write(json.dumps(p) + "\n")
        raw = bronze.read_payloads(self.spark, landed, METEO_PAYLOAD_SCHEMA)
        records = self._timed("operators.normalize_s", normalize.normalize_meteo, raw)
        stats = self._timed(
            "operators.merge_s", warehouse.merge_observations, self.spark, self.wh, records, "bulk-load"
        )
        if stats.inserted != LOCATIONS * HOURS:
            raise AssertionError(f"bulk load inserted {stats.inserted}")

        url = "http://127.0.0.1/v1/forecast"
        self.jobs = []
        for status in ("success", "pending"):
            fid = self._timed(
                "pipeline.control_insert_s",
                control.insert_fetch_metadata,
                self.spark,
                self.wh,
                url,
                {"latitude": "0.0", "longitude": "0.0"},
            )
            if status == "success":
                self._timed(
                    "pipeline.control_update_s",
                    control.update_fetch_metadata,
                    self.spark,
                    self.wh,
                    fid,
                    status=status,
                    response_status=200,
                    payload_path=landed,
                )
            self.jobs.append((fid, status))

    def _expect(self, locs, payloads) -> None:
        """Counts, the 8-statistic summary and the time-ordered scan,
        from the generator's own arrays."""
        self.expected = {}
        for col, src in MEASURES.items():
            vals = np.array(
                [v for p in payloads for v in p["hourly"][src] if v is not None], dtype=np.float64
            )
            q = np.percentile(vals, [25, 50, 75], method="linear")
            self.expected[col] = {
                "count": int(vals.size),
                "mean": float(vals.mean()),
                "std": float(vals.std(ddof=1)),
                "min": float(vals.min()),
                "p25": float(q[0]),
                "p50": float(q[1]),
                "p75": float(q[2]),
                "max": float(vals.max()),
            }
        # key -> measures, for the ORDER BY timestamp LIMIT 5000 scan
        self.rows = {}
        for (lat, lon), p in zip(locs, payloads):
            h = p["hourly"]
            for i, t in enumerate(h["time"]):
                self.rows[(lat, lon, np.datetime64(t, "us"))] = tuple(
                    h[src][i] for src in MEASURES.values()
                )
        self.sorted_ts = np.sort(np.array([k[2] for k in self.rows], dtype="datetime64[us]"))

    # ------------------------------------------------------------------

    def next_op(self):
        from meteo_etl_spark.plans import analytics

        spark, wh = self.spark, self.wh

        def refresh():
            out = {}
            for fn_name in REFRESH:
                with self.tracer.span(f"plans.analytics.{fn_name}"):
                    res = getattr(analytics, fn_name)(spark, wh)
                    out[fn_name] = res.toPandas() if hasattr(res, "toPandas") else res
            return out

        return "refresh", refresh, self.check

    def warmup(self) -> list:
        return [self.next_op()]

    # ------------------------------------------------------------------

    def check(self, out: dict, _t0: float, _t1: float) -> None:
        from meteo_etl_spark.plans.analytics import SCAN_LIMIT

        n_obs = LOCATIONS * HOURS
        if tuple(out["get_counts"]) != (n_obs, len(self.jobs), LOCATIONS):
            raise AssertionError(f"get_counts {out['get_counts']}")
        desc = out["describe_observations"]
        if sorted(desc["measure"]) != sorted(MEASURES):
            raise AssertionError(f"describe measures {list(desc['measure'])}")
        for rec in desc.to_dict("records"):
            exp = self.expected[rec["measure"]]
            if int(rec["count"]) != exp["count"]:
                raise AssertionError(f"{rec['measure']} count {rec['count']} != {exp['count']}")
            for s in STATS:
                if not _close(float(rec[s]), exp[s]):
                    raise AssertionError(f"{rec['measure']} {s} {rec[s]!r} != {exp[s]!r}")
        for col, tile in out["mean_tiles"].items():
            if tile is None or abs(tile - self.expected[col]["mean"]) > 0.005 + 1e-9:
                raise AssertionError(f"mean tile {col} {tile}")
        self._check_scan(out["load_observations"], SCAN_LIMIT)
        meta = out["load_metadata"]
        if list(zip(meta["id"], meta["status"])) != self.jobs:
            raise AssertionError(f"load_metadata {list(zip(meta['id'], meta['status']))}")
        if out["last_job_status"] != "🟡 Pending":
            raise AssertionError(f"last_job_status {out['last_job_status']!r}")

    def _check_scan(self, obs, limit: int) -> None:
        """``ORDER BY timestamp LIMIT n`` is ambiguous at the cut-off
        timestamp: require every earlier row, and only cut-off rows after."""
        if len(obs) != limit:
            raise AssertionError(f"scan returned {len(obs)} rows")
        cut = self.sorted_ts[limit - 1]
        ts = obs["timestamp"].to_numpy().astype("datetime64[us]")
        if (ts > cut).any() or (ts < cut).sum() != (self.sorted_ts < cut).sum():
            raise AssertionError("scan is not the earliest rows by timestamp")
        if not (np.diff(ts) >= np.timedelta64(0, "us")).all():
            raise AssertionError("scan is not ordered by timestamp")
        seen = set()
        for lat, lon, t, *vals in zip(
            obs["latitude"], obs["longitude"], ts, *(obs[c] for c in MEASURES)
        ):
            key = (float(lat), float(lon), t)
            want = self.rows.get(key)
            got = tuple(None if v is None or v != v else float(v) for v in vals)
            if want is None or key in seen or got != want:
                raise AssertionError(f"scan row {key}: {got} != {want}")
            seen.add(key)

    # ------------------------------------------------------------------

    def reset_layer_counts(self) -> None:
        pass

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        silver_n, silver_b = _files(self.wh.observations_path)
        control_n, _ = _files(self.wh.control_path)
        return {
            "operators.silver_files": (float(silver_n), "count"),
            "operators.silver_bytes": (float(silver_b), "B"),
            "pipeline.control_files": (float(control_n), "count"),
        }

    def close(self) -> None:
        pass
