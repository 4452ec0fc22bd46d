"""Spans recorded from outside the program.

The traced run wraps public functions of the engine's layers. A function
imported by name (``from ..upsert import merge_parquet``) is looked up in
the importing module, so ``install`` replaces every module-level binding
of the original object under ``meteo_etl_spark``, not only the one in
the defining module. Spans are kept in memory and written out at the end.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager

#: (module, attribute, span name). The span name's first component is the
#: layer; the rest names the call. Calls the benchmark makes itself (the
#: dashboard's analytics functions, each query) are spanned at the call
#: site together with the collect that executes them.
TARGETS = [
    ("meteo_etl_spark.sources.http", "fetch_json", "sources.extract"),
    ("meteo_etl_spark.sources.bronze", "save_payload", "sources.bronze_write"),
    ("meteo_etl_spark.sources.testdata", "load_table", "sources.testdata_load"),
    ("meteo_etl_spark.pipeline.batch", "run_etl", "pipeline.run_etl"),
    ("meteo_etl_spark.pipeline.control", "insert_fetch_metadata", "pipeline.control_insert"),
    ("meteo_etl_spark.pipeline.control", "update_fetch_metadata", "pipeline.control_update"),
    ("meteo_etl_spark.pipeline.control", "read_fetch_metadata", "pipeline.control_read"),
    ("meteo_etl_spark.pipeline.warehouse", "read_observations", "pipeline.read_observations"),
    ("meteo_etl_spark.operators.upsert", "merge_parquet", "operators.merge"),
    ("meteo_etl_spark.operators.quantiles", "buffering_percentile_safe", "operators.percentile_gate"),
    ("meteo_etl_spark.streaming.produce", "publish_finished_fetch", "streaming.publish"),
]

LAYERS = ("sources", "pipeline", "operators", "streaming", "plans")


class Tracer:
    """Span = (name, start, end, parent index, op id); times from
    ``time.perf_counter``. Single-threaded: spans nest on one stack."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if self._op is None:  # outside a traced op (set-up, checks)
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self._op]
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, op_id: int):
        self._op = op_id
        try:
            with self.span("op"):
                yield
        finally:
            self._op = None

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        for mod_name, attr, span_name in TARGETS:
            mod = importlib.import_module(mod_name)
            original = getattr(mod, attr)
            wrapper = self.wrap(original, span_name)
            for name, module in list(sys.modules.items()):
                if not name.startswith("meteo_etl_spark") or module is None:
                    continue
                for key, val in list(vars(module).items()):
                    if val is original:
                        setattr(module, key, wrapper)
                        self._patched.append((module, key, original))

    def uninstall(self) -> None:
        for module, key, original in reversed(self._patched):
            setattr(module, key, original)
        self._patched.clear()

    # ------------------------------------------------------------------
    # Reduction
    # ------------------------------------------------------------------

    def self_times(self) -> list[float]:
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, _op in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        return [(s[2] - s[1]) - c for s, c in zip(self.spans, child)]

    def summary(self) -> dict:
        """Per-op totals: wall, self time by layer, the un-spanned
        remainder (the op span's own self time) and inclusive time by
        span name. Self times plus remainder sum to the op's wall."""
        selfs = self.self_times()
        ops: dict[int, dict] = {}
        for (name, t0, t1, _parent, op), st in zip(self.spans, selfs):
            o = ops.setdefault(op, {"wall": 0.0, "unspanned": 0.0, "layers": {}, "calls": {}})
            if name == "op":
                o["wall"] = t1 - t0
                o["unspanned"] = st
                continue
            layer = name.split(".", 1)[0]
            o["layers"][layer] = o["layers"].get(layer, 0.0) + st
            c = o["calls"].setdefault(name, [0, 0.0])
            c[0] += 1
            c[1] += t1 - t0
        return ops

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"fields": ["name", "start", "end", "parent", "op"], "spans": self.spans}, f
            )
