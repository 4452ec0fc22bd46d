"""Every declared query hash-matches the DuckDB oracle (the t2 gate,
run locally at sf0.001 for speed; the driver re-runs at sf0.01)."""

from __future__ import annotations

import pytest

from meteo_etl_spark.plans import queries
from tests.conftest import SF_SMALL
from tests.oracle import compare

SPECS = list(queries.all_queries().values())


@pytest.fixture()
def oracle_results(oracle_prefetch):
    """Oracle results computed ahead on a background thread
    (``conftest.oracle_prefetch``)."""
    return oracle_prefetch


@pytest.mark.parametrize("spec", SPECS, ids=[s.name for s in SPECS])
def test_query_matches_oracle(spark, oracle_results, spec):
    df = spec.fn(spark, SF_SMALL)
    if spec.oracle is None:
        assert df.count() >= 0  # rows-only smoke for non-SQL-expressible ops
        return
    expected = oracle_results.pop(spec.name).result()
    compare(df, expected, name=spec.name)
