"""Batch lifecycle tests (reference `tests/etl/test_app.py`): success
path persists rows + SUCCESS metadata; error paths map to the right
status codes and persist ERROR; bronze strategy records payload_path."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from meteo_etl_spark.errors import ETLError, ExtractError, LoadError
from meteo_etl_spark.pipeline import batch, control
from meteo_etl_spark.pipeline.warehouse import read_observations
from meteo_etl_spark.schemas import FETCH_STATUS_SUCCESS
from tests.conftest import N_HOURS, golden_payload


@pytest.fixture()
def offline_source(monkeypatch):
    """Monkeypatch the extractor (reference `override_meteo_api`,
    `tests/conftest.py:88-93`)."""
    from meteo_etl_spark.sources.registry import Source

    monkeypatch.setattr(Source, "extract", lambda self, **extra: golden_payload())


def test_etl_success(spark, warehouse, offline_source):
    result = batch.run_etl(spark, warehouse, "meteo", {"latitude": 3.06, "longitude": 5.25})
    assert result.status == FETCH_STATUS_SUCCESS
    assert result.data.inserted == N_HOURS

    obs = read_observations(spark, warehouse)
    assert obs.filter(F.col("fetch_id") == result.fetch_id).count() == N_HOURS

    meta = control.read_fetch_metadata(spark, warehouse).collect()
    assert len(meta) == 1
    row = meta[0]
    assert row.status == "success"
    assert row.response_status == 200
    assert row.finished_at is not None
    assert row.request_url.startswith("https://")
    assert row.request_params["latitude"] == "3.06"


def test_etl_is_idempotent(spark, warehouse, offline_source):
    r1 = batch.run_etl(spark, warehouse, "meteo", {"latitude": 3.06, "longitude": 5.25})
    r2 = batch.run_etl(spark, warehouse, "meteo", {"latitude": 3.06, "longitude": 5.25})
    assert r2.data.updated == N_HOURS and r2.data.target_rows == N_HOURS
    obs = read_observations(spark, warehouse)
    # Rows now carry the second fetch's lineage (last-write-wins).
    assert obs.filter(F.col("fetch_id") == r2.fetch_id).count() == N_HOURS
    assert r1.fetch_id != r2.fetch_id


@pytest.mark.parametrize(
    "exc,expected_code,expected_kind",
    [
        (LoadError("boom"), 200, "load"),
        (ExtractError("upstream 503", status=503), 503, "extract"),
        (json.JSONDecodeError("bad", "{", 0), 200, "json"),
        (RuntimeError("surprise"), 500, "unexpected"),
    ],
)
def test_error_taxonomy(spark, warehouse, monkeypatch, exc, expected_code, expected_kind):
    """T8 mapping (reference `etl/app.py:170-200` + `tests/etl/test_app.py:26-96`)."""

    def failing_job(spark_, source, fetch_id, wh):
        raise exc

    with pytest.raises(ETLError) as ei:
        batch.run_etl(
            spark, warehouse, "meteo", {"latitude": 1, "longitude": 2}, fetch_job=failing_job
        )
    fetch_id = ei.value.fetch_id

    row = (
        control.read_fetch_metadata(spark, warehouse)
        .filter(F.col("id") == fetch_id)
        .collect()[0]
    )
    assert row.status == "error"
    assert row.response_status == expected_code
    assert json.loads(row.error_data)["error"] == expected_kind
    assert row.finished_at is not None


def test_bronze_strategy_records_payload_path(spark, warehouse, offline_source):
    result = batch.run_etl(
        spark,
        warehouse,
        "meteo",
        {"latitude": 3.06, "longitude": 5.25},
        fetch_job=batch.extract_and_save_to_disk,
    )
    meta = control.read_fetch_metadata(spark, warehouse).collect()[0]
    assert meta.payload_path == result.data
    assert meta.payload_path.startswith(warehouse.bronze_dir)
    # Path layout: bronze/YYYY/MM/DD/meteo_{fetch_id}.json (T11).
    assert meta.payload_path.endswith(f"meteo_{result.fetch_id}.json")
    with open(meta.payload_path) as f:
        assert json.load(f)["latitude"] == 3.06


def test_missing_required_params():
    from meteo_etl_spark.errors import TransformError
    from meteo_etl_spark.sources.registry import create_source

    with pytest.raises(TransformError):
        create_source("meteo", {"latitude": 1.0})


def test_run_etl_many_single_merge(spark, warehouse, monkeypatch):
    """N locations -> one normalize + one MERGE; per-fetch control rows
    (the batch scale path)."""
    from meteo_etl_spark.sources.registry import Source

    def extract(self, **extra):
        return golden_payload(
            lat=float(self.params["latitude"]), lon=float(self.params["longitude"])
        )

    monkeypatch.setattr(Source, "extract", extract)

    jobs = [("meteo", {"latitude": float(10 * i), "longitude": 5.25}) for i in range(5)]
    results = batch.run_etl_many(spark, warehouse, jobs)

    assert len(results) == 5
    assert all(r.status == "success" for r in results)
    # one merge: every result carries the same MergeStats object
    assert all(r.data is results[0].data for r in results)
    assert results[0].data.inserted == 5 * N_HOURS

    obs = read_observations(spark, warehouse)
    assert obs.count() == 5 * N_HOURS
    assert obs.select("fetch_id").distinct().count() == 5
    meta = control.read_fetch_metadata(spark, warehouse)
    assert meta.filter(F.col("status") == "success").count() == 5


def test_run_etl_many_partial_failure(spark, warehouse, monkeypatch):
    """An extract failure errors its own control row; the rest land."""
    from meteo_etl_spark.errors import ExtractError
    from meteo_etl_spark.sources.registry import Source

    def extract(self, **extra):
        if float(self.params["latitude"]) == 30.0:
            raise ExtractError("upstream 503", status=503)
        return golden_payload(lat=float(self.params["latitude"]), lon=5.25)

    monkeypatch.setattr(Source, "extract", extract)
    jobs = [("meteo", {"latitude": float(10 * i), "longitude": 5.25}) for i in range(1, 4)]
    results = batch.run_etl_many(spark, warehouse, jobs, raise_on_error=False)

    by_status = sorted(r.status for r in results)
    assert by_status == ["error", "success", "success"]
    meta = control.read_fetch_metadata(spark, warehouse)
    assert meta.filter(F.col("status") == "error").count() == 1
    assert read_observations(spark, warehouse).count() == 2 * N_HOURS


def test_etl_pipeline_on_atomic_warehouse(spark, tmp_path, offline_source):
    """The full 3-step ETL (control insert -> extract/normalize -> silver
    merge -> control finalize) on Warehouse(atomic=True): silver lands
    through the manifest layout, the control rows and the silver row
    contents match the plain-layout run, and in both modes a torn
    control write (a leftover temp file) stays invisible to readers."""
    import os

    import pyarrow.dataset as ds

    from meteo_etl_spark.operators.atomic import is_atomic_table
    from meteo_etl_spark.pipeline.control import read_fetch_metadata
    from meteo_etl_spark.pipeline.warehouse import Warehouse

    results, controls = {}, {}
    for mode, flag in (("plain", False), ("atomic", True)):
        wh = Warehouse(str(tmp_path / mode), atomic=flag)
        result = batch.run_etl(spark, wh, "meteo", {"latitude": 3.06, "longitude": 5.25})
        assert result.status == FETCH_STATUS_SUCCESS
        ctrl = read_fetch_metadata(spark, wh).collect()
        assert len(ctrl) == 1 and ctrl[0].status == FETCH_STATUS_SUCCESS
        assert ctrl[0].id == result.fetch_id and ctrl[0].finished_at is not None
        controls[mode] = {
            k: v
            for k, v in ctrl[0].asDict().items()
            if k not in ("id", "created_at", "request_timestamp", "finished_at")
        }
        # crash between temp write and rename: the torn file is skipped
        with open(os.path.join(wh.control_path, f".{result.fetch_id}.0badc0de.tmp"), "wb") as f:
            f.write(b"PAR1")
        assert [r.id for r in read_fetch_metadata(spark, wh).collect()] == [result.fetch_id]
        assert ds.dataset(wh.control_path, format="parquet").count_rows() == 1
        obs = read_observations(spark, wh)
        results[mode] = {
            (r.latitude, r.longitude, r.timestamp, r.temperature)
            for r in obs.collect()
        }
        assert is_atomic_table(wh.observations_path) == flag
    assert controls["plain"] == controls["atomic"]
    assert results["plain"] == results["atomic"]
    assert len(results["atomic"]) == N_HOURS
