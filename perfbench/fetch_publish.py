"""``fetch_publish``: the fetch-and-publish CLI path, one job per op.

One op is ``run_etl(..., fetch_job=extract_and_save_to_disk,
raise_on_error=False)`` followed by ``publish_finished_fetch``. The fetch
goes to a loopback HTTP server in this process that serves seeded
168-hour Open-Meteo bodies; in every block of five jobs one answers 404
(an expected ``error`` row) and one answers a single 503 before the body
(one retry, which urllib3 2.x takes without backoff).
"""

from __future__ import annotations

import dataclasses
import json
import os
import re
import threading
from datetime import datetime, timedelta, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import gen

SOURCE = "meteo_bench"
HOURS = 168
BLOCK = ("notfound", "retry", "ok", "ok", "ok")
MAX_JOBS = 120


class PayloadServer:
    """Serves ``/v1/forecast?latitude=..&longitude=..`` from a fixed plan
    of (body, mode) per location and counts what it answered."""

    def __init__(self, plan: dict[tuple[str, str], tuple[bytes, str]]):
        self.plan = plan
        self.requests = 0
        self.retried = 0
        self._refused: set[tuple[str, str]] = set()
        self._lock = threading.Lock()
        server = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 — http.server naming
                q = parse_qs(urlparse(self.path).query)
                key = (q.get("latitude", [""])[0], q.get("longitude", [""])[0])
                status, body = server.answer(key)
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):
                pass

        self.httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.httpd.daemon_threads = True
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self.httpd.server_address[1]}/v1/forecast"

    def answer(self, key: tuple[str, str]) -> tuple[int, bytes]:
        body, mode = self.plan.get(key, (b"{}", "notfound"))
        with self._lock:
            self.requests += 1
            if key in self._refused:
                self.retried += 1
            if mode == "notfound":
                return 404, b'{"error": true, "reason": "not found"}'
            if mode == "retry" and key not in self._refused:
                self._refused.add(key)
                return 503, b'{"error": true, "reason": "busy"}'
        return 200, body

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join()


@dataclasses.dataclass
class Job:
    lat: float
    lon: float
    mode: str
    body: bytes


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    if os.path.isdir(path):
        for f in os.listdir(path):
            if f.endswith(".parquet"):
                out[f] = os.path.getsize(os.path.join(path, f))
    return out


class FetchPublish:
    name = "fetch_publish"
    #: data set-ups per run (``setup_s`` takes their median)
    setup_repeats = 3
    #: ops in one pass over the workload's inputs (runs time whole passes)
    pass_len = 1
    #: op time at this commit on 4 cores; sizes a run from ``--seconds``.
    nominal_op_s = 3.0

    def __init__(self, spark, scratch, seed: int, tracer):
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        self.tracer = tracer
        self.server: PayloadServer | None = None
        self._setups = 0

    def setup(self) -> None:
        """Seeded jobs, a fresh server, the source and an empty warehouse."""
        from meteo_etl_spark.pipeline.warehouse import Warehouse
        from meteo_etl_spark.sources.registry import METEO_SOURCE, register_source

        if self.server is not None:
            self.server.close()
        rng = np.random.default_rng(self.seed)
        modes = []
        while len(modes) < MAX_JOBS:
            modes.extend(rng.permutation(BLOCK))
        self.jobs = []
        for i, (lat, lon) in enumerate(gen.location_grid(MAX_JOBS)):
            body = json.dumps(gen.meteo_payload(rng, lat, lon, HOURS)).encode()
            self.jobs.append(Job(lat, lon, str(modes[i]), body))
        self.server = PayloadServer({(str(j.lat), str(j.lon)): (j.body, j.mode) for j in self.jobs})
        register_source(dataclasses.replace(METEO_SOURCE, name=SOURCE, url=self.server.url))
        self._setups += 1
        root = self.scratch.path(f"fetch-{self._setups}")
        self.wh = Warehouse(root)
        self.topic = os.path.join(root, "topic")
        self.next_job = 0
        self.files = {}
        self.layer = {"bytes_written": 0, "rows_rewritten": 0, "updates": 0, "ops": 0}

    # ------------------------------------------------------------------

    def next_op(self):
        from meteo_etl_spark.pipeline import batch
        from meteo_etl_spark.streaming import produce

        job = self.jobs[self.next_job]
        self.next_job += 1
        spark, wh, topic = self.spark, self.wh, self.topic

        def op():
            res = batch.run_etl(
                spark,
                wh,
                SOURCE,
                {"latitude": job.lat, "longitude": job.lon},
                fetch_job=batch.extract_and_save_to_disk,
                raise_on_error=False,
            )
            return res, produce.publish_finished_fetch(spark, wh, res.fetch_id, topic)

        return "fetch", op, lambda result, t0, t1: self.check(job, result, t0, t1)

    def warmup(self) -> list:
        # the first job creates the control table; the second runs the steady path
        return [self.next_op(), self.next_op()]

    # ------------------------------------------------------------------

    def check(self, job: Job, result, t0: float, t1: float) -> None:
        res, event_path = result
        fid = res.fetch_id
        control = ds.dataset(self.wh.control_path, format="parquet").to_table().to_pylist()
        rows = [r for r in control if r["id"] == fid]
        if len(rows) != 1:
            raise AssertionError(f"{len(rows)} control rows for {fid}")
        row = rows[0]
        expect_ok = job.mode != "notfound"
        want_status = "success" if expect_ok else "error"
        if res.status != want_status or row["status"] != want_status:
            raise AssertionError(f"status {res.status}/{row['status']} != {want_status}")
        if row["response_status"] != (200 if expect_ok else 404):
            raise AssertionError(f"response_status {row['response_status']}")
        fin = row["finished_at"]
        if fin is None or not (row["created_at"] <= fin):
            raise AssertionError(f"finished_at {fin} vs created_at {row['created_at']}")
        fin_s = fin.replace(tzinfo=timezone.utc).timestamp()
        if not (t0 - 1.0 <= fin_s <= t1 + 1.0):
            raise AssertionError(f"finished_at {fin} outside the op")
        want_params = {"latitude": str(job.lat), "longitude": str(job.lon)}
        params = dict(row["request_params"])
        if any(params.get(k) != v for k, v in want_params.items()):
            raise AssertionError(f"request_params {params}")
        if expect_ok:
            day = datetime.fromtimestamp(fin_s, timezone.utc)
            pat = (
                re.escape(self.wh.bronze_dir)
                + rf"/(\d{{4}})/(\d{{2}})/(\d{{2}})/{SOURCE}_{re.escape(fid)}\.json"
            )
            m = re.fullmatch(pat, row["payload_path"] or "")
            if not m or tuple(map(int, m.groups())) not in _days_around(day):
                raise AssertionError(f"payload_path {row['payload_path']!r}")
            with open(row["payload_path"]) as f:
                if json.load(f) != json.loads(job.body):
                    raise AssertionError("bronze payload differs from the served body")
        else:
            if row["payload_path"] is not None:
                raise AssertionError("error row carries a payload_path")
            if json.loads(row["error_data"]).get("error") != "extract":
                raise AssertionError(f"error_data {row['error_data']}")
        if event_path != os.path.join(self.topic, f"{fid}.json"):
            raise AssertionError(f"event path {event_path}")
        with open(event_path) as f:
            lines = f.read().splitlines()
        ev = json.loads(lines[0])
        if len(lines) != 1 or ev["fetch_id"] != fid or ev.get("path") != row["payload_path"]:
            raise AssertionError(f"event {lines}")
        if ev["status"] != want_status or ev["source"] != self.server.url:
            raise AssertionError(f"event {ev}")
        self._count_layout()

    def _count_layout(self) -> None:
        """Control-table bytes and rows written by the op: files present
        now that were not there after the previous op."""
        now = _dir_files(self.wh.control_path)
        new = [f for f in now if f not in self.files]
        self.layer["bytes_written"] += sum(now[f] for f in new)
        self.layer["rows_rewritten"] += sum(
            pq.ParquetFile(os.path.join(self.wh.control_path, f)).metadata.num_rows for f in new
        )
        self.layer["updates"] += 1
        self.layer["ops"] += 1
        self.files = now

    def reset_layer_counts(self) -> None:
        """Start the per-op counters at the first timed op."""
        self.layer = {k: 0 for k in self.layer}
        self.server.requests = self.server.retried = 0

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        ops = max(self.layer["ops"], 1)
        return {
            "sources.extract_retries": (self.server.retried / max(self.server.requests, 1), "ratio"),
            "pipeline.control_rows_rewritten_per_update": (
                self.layer["rows_rewritten"] / max(self.layer["updates"], 1),
                "rows",
            ),
            "pipeline.control_bytes_written_per_op": (self.layer["bytes_written"] / ops, "B"),
            "pipeline.control_files": (float(len(self.files)), "count"),
        }

    def close(self) -> None:
        if self.server is not None:
            self.server.close()


def _days_around(day: datetime) -> set[tuple[int, int, int]]:
    """The op's UTC date (and the previous one, for a job straddling midnight)."""
    return {(d.year, d.month, d.day) for d in (day, day - timedelta(days=1))}
