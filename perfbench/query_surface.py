"""``query_surface``: one op is one collected query from the declared
registry, checked against its DuckDB ``oracle_sql`` with the repository's
comparator (``tests/oracle.py``, bit-exact floats).

The query set is 15 of the registry's 40 read-only oracle-backed
``q<N>_*``/``tpch_*`` entries, taken by a stated rule (``survey_queries.pick``)
from a measured pass over all of them (``survey_queries.py``): the fastest, the
median and the slowest of each operator class. Timing all 40 with their
cold first runs does not fit a run (see NOTES.md). Set-up generates the
star-schema tables from the seed; an untimed pass warms the JVM and the
table readers; a run then times whole passes over the set in a seeded
order.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np

from perfbench import gen

#: scale of the generated tables (lineitem ~ 4e6 x SF rows).
SF = 0.05
#: ``survey_queries.pick`` applied to a ``survey_queries.py`` run (seed 1, 4 cores; the
#: table is in NOTES.md), grouped by class: join, multi-way join,
#: scan/aggregate, semi/anti join, window.
QUERIES = (
    "q8_join_count_per_customer",
    "tpch_q13_order_distribution",
    "q10_broadcast_dim_join",
    "tpch_q5_local_supplier_volume",
    "tpch_q7_nation_volume",
    "tpch_q21_waiting_supplier",
    "q6_filtered_count",
    "tpch_q6_forecast_revenue",
    "q5_summary_stats",
    "q9_anti_join",
    "tpch_q20_excess_supplier",
    "tpch_q8_market_share",
    "tpch_q2_min_price_supplier",
    "tpch_q17_small_quantity_revenue",
    "q15_last_write_wins",
)


class Collected:
    """Hands the comparator an already-collected frame."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):  # noqa: N802 — the comparator's DataFrame interface
        return self.pdf


class QuerySurface:
    name = "query_surface"

    #: data set-ups per run (``setup_s`` takes their median)
    setup_repeats = 3
    #: op time at this commit on 4 cores (0.65 s measured, rounded up so a
    #: 25 s run is two passes); sizes a run from ``--seconds``.
    nominal_op_s = 0.8

    def __init__(self, spark, scratch, seed: int, tracer, *, repeat: int = 1):
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        self.tracer = tracer
        self.repeat = repeat  # the traced run runs each query twice
        self._setups = 0
        self.con = None

    def setup(self) -> None:
        from meteo_etl_spark.plans import queries

        rng = np.random.default_rng(self.seed)
        self._setups += 1
        self.sf_dir = self.scratch.path(f"sf-{self._setups}")
        tables = gen.star_schema(rng, SF)
        gen.write_star_schema(tables, self.sf_dir)
        if self.con is not None:
            self.con.close()
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.sf_dir, t)}.parquet'"
            )
        self.specs = queries.all_queries()
        self.order = [n for n in rng.permutation(QUERIES) for _ in range(self.repeat)]
        self.pos = 0

    def warmup(self) -> list:
        return [self._op(name) for name in self.order[:: self.repeat]]

    def next_op(self):
        name = self.order[self.pos % len(self.order)]
        self.pos += 1
        return self._op(name)

    def _op(self, name: str):
        from tests.oracle import compare

        spec, spark, sf_dir = self.specs[name], self.spark, self.sf_dir

        def op():
            with self.tracer.span(f"plans.queries.{name}"):
                return spec.fn(spark, sf_dir).toPandas()

        def check(pdf, _t0, _t1):
            compare(Collected(pdf), self.con.execute(spec.oracle).df(), name=name)

        return name, op, check

    @property
    def pass_len(self) -> int:
        """Ops in one pass: every query once (twice when traced)."""
        return len(self.order)

    def reset_layer_counts(self) -> None:
        pass

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        return {}

    def close(self) -> None:
        if self.con is not None:
            self.con.close()
