"""Lake control table: one parquet file per fetch job, written on the
driver by temp-file + rename (``pipeline/control``)."""

from __future__ import annotations

import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow.dataset as ds
import pytest

from meteo_etl_spark.errors import LoadError
from meteo_etl_spark.pipeline import control

URL = "https://api.example.com/v1/forecast"


def _row(spark, warehouse, fetch_id):
    return control.fetch_metadata_row(spark, warehouse, fetch_id).collect()[0]


# a fixed well-formed id that no insert makes: a uuid4() here gave the
# case a new name on every collection
@pytest.mark.parametrize(
    "fetch_id",
    ["5034a450-97a2-4f4f-86b3-e591f0a8c0eb", "not-a-uuid", "../../etc/passwd"],
)
def test_update_of_unknown_id_raises(spark, warehouse, fetch_id):
    control.insert_fetch_metadata(spark, warehouse, URL)
    with pytest.raises(LoadError, match="no fetch_metadata row"):
        control.update_fetch_metadata(spark, warehouse, fetch_id, status="success")
    assert control.read_fetch_metadata(spark, warehouse).count() == 1


def test_update_before_any_insert_raises(spark, warehouse):
    with pytest.raises(LoadError, match="no fetch_metadata row"):
        control.update_fetch_metadata(spark, warehouse, str(uuid.uuid4()), status="error")
    assert control.read_fetch_metadata(spark, warehouse).count() == 0


def test_finished_at_set_only_by_finishing_statuses(spark, warehouse):
    """Reference `etl/load.py:104`: a pending update leaves finished_at
    alone, a finishing one sets it, and a later pending update keeps it."""
    fid = control.insert_fetch_metadata(spark, warehouse, URL, {"latitude": 1.5})
    control.update_fetch_metadata(spark, warehouse, fid, status="pending", response_status=102)
    row = _row(spark, warehouse, fid)
    assert row.status == "pending" and row.response_status == 102
    assert row.finished_at is None

    control.update_fetch_metadata(
        spark, warehouse, fid, status="success", response_status=200, payload_path="/b/p.json"
    )
    done = _row(spark, warehouse, fid)
    assert done.status == "success" and done.finished_at is not None
    assert done.created_at <= done.finished_at

    control.update_fetch_metadata(spark, warehouse, fid, status="pending")
    again = _row(spark, warehouse, fid)
    assert again.status == "pending" and again.payload_path is None
    assert again.finished_at == done.finished_at
    # untouched columns survive every rewrite
    assert again.created_at == done.created_at == row.created_at
    assert again.request_params == {"latitude": "1.5"}
    assert again.request_url == URL


def test_leftover_temp_file_is_invisible(spark, warehouse):
    """A crash between the temp write and the rename leaves a
    dot-prefixed file, whole or torn: neither Spark nor pyarrow reads it."""
    fid = control.insert_fetch_metadata(spark, warehouse, URL)
    other = control.insert_fetch_metadata(spark, warehouse, URL)
    d = warehouse.control_path
    whole = os.path.join(d, f".{other}.0badc0de.tmp")
    shutil.move(os.path.join(d, f"{other}.parquet"), whole)
    with open(whole, "rb") as f:
        data = f.read()
    with open(os.path.join(d, f".{fid}.deadbeef.tmp"), "wb") as f:
        f.write(data[: len(data) // 2])

    assert [r.id for r in control.read_fetch_metadata(spark, warehouse).collect()] == [fid]
    assert ds.dataset(d, format="parquet").to_table().column("id").to_pylist() == [fid]
    control.update_fetch_metadata(spark, warehouse, fid, status="error")
    assert _row(spark, warehouse, fid).status == "error"
    with pytest.raises(LoadError):
        control.update_fetch_metadata(spark, warehouse, other, status="error")


def test_concurrent_inserts_each_land_one_row(spark, warehouse):
    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = [
            pool.submit(control.insert_fetch_metadata, spark, warehouse, URL, {"i": i})
            for i in range(8)
        ]
        ids = [f.result(timeout=120) for f in futures]
    rows = control.read_fetch_metadata(spark, warehouse).collect()
    assert len(rows) == 8
    assert sorted(r.id for r in rows) == sorted(ids)
    assert sorted(int(r.request_params["i"]) for r in rows) == list(range(8))
    assert sorted(os.listdir(warehouse.control_path)) == sorted(f"{i}.parquet" for i in ids)


def test_insert_and_update_start_no_spark_job(spark, warehouse):
    sc = spark.sparkContext
    group = f"control-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "control statements")
    try:
        fid = control.insert_fetch_metadata(spark, warehouse, URL)
        control.update_fetch_metadata(spark, warehouse, fid, status="success", response_status=200)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert _row(spark, warehouse, fid).status == "success"


def test_fetch_metadata_row_of_unknown_id_is_empty(spark, warehouse):
    control.insert_fetch_metadata(spark, warehouse, URL)
    assert control.fetch_metadata_row(spark, warehouse, str(uuid.uuid4())).count() == 0


def test_fold_keeps_one_row_per_id(spark, warehouse, monkeypatch):
    """Finishing updates fold finished jobs into one file once FOLD_AT
    job files exist; every id still reads back exactly once, through
    Spark and through a plain pyarrow read, and a job file written
    after the fold wins over the folded row."""
    monkeypatch.setattr(control, "FOLD_AT", 4)
    d = warehouse.control_path
    done = []
    for i in range(6):
        fid = control.insert_fetch_metadata(spark, warehouse, URL, {"i": i})
        control.update_fetch_metadata(spark, warehouse, fid, status="success", response_status=200)
        done.append(fid)
    pending = control.insert_fetch_metadata(spark, warehouse, URL)
    assert os.path.exists(os.path.join(d, control.FOLDED_FILE))
    assert len([n for n in os.listdir(d) if not n.startswith(".")]) < 7

    def ids_and_statuses():
        rows = control.read_fetch_metadata(spark, warehouse).collect()
        plain = ds.dataset(d, format="parquet").to_table().column("id").to_pylist()
        assert sorted(plain) == sorted(r.id for r in rows)
        return {r.id: r.status for r in rows}

    assert ids_and_statuses() == {**{f: "success" for f in done}, pending: "pending"}

    folded = done[0]
    assert not os.path.exists(os.path.join(d, f"{folded}.parquet"))
    finished_at = _row(spark, warehouse, folded).finished_at
    control.update_fetch_metadata(spark, warehouse, folded, status="pending")
    row = _row(spark, warehouse, folded)
    assert row.status == "pending" and row.finished_at == finished_at
    assert control.read_fetch_metadata(spark, warehouse).count() == 7
    assert ids_and_statuses()[folded] == "pending"

    # a fold cut short by a crash leaves a job file next to its folded row
    control._replace(d, f"{done[1]}.parquet", control._read_row(d, done[1]))
    assert control.read_fetch_metadata(spark, warehouse).count() == 7
    assert ds.dataset(d, format="parquet").count_rows() == 8

    control.update_fetch_metadata(spark, warehouse, folded, status="error")
    control.update_fetch_metadata(spark, warehouse, pending, status="success")
    last = control.insert_fetch_metadata(spark, warehouse, URL)
    control.update_fetch_metadata(spark, warehouse, last, status="success")
    assert [n for n in os.listdir(d) if not n.startswith(".")] == [control.FOLDED_FILE]
    statuses = ids_and_statuses()
    assert len(statuses) == 8 and statuses[folded] == "error" and statuses[pending] == "success"


@pytest.mark.parametrize("atomic", [False, True])
def test_earlier_layout_is_refused_then_migrated(spark, warehouse, atomic, capsys):
    """A table in the earlier Spark-written layout (plain part files, or
    manifest generations that a plain read would mix) is refused by
    every statement until ``migrate_control_table`` converts it."""
    from datetime import datetime

    from meteo_etl_spark.operators.atomic import AtomicParquetTable
    from meteo_etl_spark.pipeline.control_migrate import migrate_control_table
    from meteo_etl_spark.schemas import FETCH_METADATA_SCHEMA

    a, b = str(uuid.uuid4()), str(uuid.uuid4())
    t = datetime(2026, 1, 1)

    def rows(status_b, finished_b):
        return spark.createDataFrame(
            [
                (a, t, t, {"k": "v"}, URL, "success", 200, None, None, t),
                (b, t, t, {}, URL, status_b, None, None, None, finished_b),
            ],
            schema=FETCH_METADATA_SCHEMA,
        )

    d = warehouse.control_path
    if atomic:
        table = AtomicParquetTable(spark, d)
        table.overwrite(rows("pending", None))
        table.overwrite(rows("error", t))
    else:
        rows("error", t).write.parquet(d)

    for statement in (
        lambda: control.read_fetch_metadata(spark, warehouse),
        lambda: control.insert_fetch_metadata(spark, warehouse, URL),
        lambda: control.update_fetch_metadata(spark, warehouse, b, status="success"),
        lambda: control.fetch_metadata_row(spark, warehouse, a),
    ):
        with pytest.raises(LoadError, match="migrate-control"):
            statement()

    from meteo_etl_spark import cli

    assert cli.main(["--warehouse", warehouse.root, "migrate-control"]) == 0
    assert "migrated_rows=2" in capsys.readouterr().out
    assert os.listdir(d) == [control.FOLDED_FILE]
    got = {r.id: r.status for r in control.read_fetch_metadata(spark, warehouse).collect()}
    assert got == {a: "success", b: "error"}
    assert _row(spark, warehouse, a).request_params == {"k": "v"}
    control.update_fetch_metadata(spark, warehouse, b, status="success")
    assert _row(spark, warehouse, b).status == "success"
    assert migrate_control_table(spark, warehouse) == 0


def test_uri_warehouse_is_refused(spark, tmp_path, monkeypatch):
    """The layout needs a local rename: a URI root raises instead of
    writing rows under a relative local directory."""
    from meteo_etl_spark.pipeline.warehouse import Warehouse

    monkeypatch.chdir(tmp_path)
    wh = Warehouse("hdfs://namenode:8020/wh")
    fid = str(uuid.uuid4())
    for statement in (
        lambda: control.insert_fetch_metadata(spark, wh, URL),
        lambda: control.update_fetch_metadata(spark, wh, fid, status="success"),
        lambda: control.read_fetch_metadata(spark, wh),
        lambda: control.fetch_metadata_row(spark, wh, fid),
    ):
        with pytest.raises(LoadError, match="local-filesystem only"):
            statement()
    assert os.listdir(tmp_path) == []


def test_concurrent_jobs_with_folds_keep_every_row(spark, warehouse, monkeypatch):
    """Folds take the table lock exclusively and updates take it shared,
    so a fold never deletes a file an update is replacing."""
    monkeypatch.setattr(control, "FOLD_AT", 3)

    def job(i):
        fid = control.insert_fetch_metadata(spark, warehouse, URL, {"i": i})
        control.update_fetch_metadata(spark, warehouse, fid, status="pending", response_status=102)
        control.update_fetch_metadata(spark, warehouse, fid, status="success", response_status=200)
        return fid

    with ThreadPoolExecutor(max_workers=8) as pool:
        ids = list(pool.map(job, range(32), timeout=300))
    rows = control.read_fetch_metadata(spark, warehouse).collect()
    assert sorted(r.id for r in rows) == sorted(ids)
    assert {(r.status, r.response_status) for r in rows} == {("success", 200)}
    plain = ds.dataset(warehouse.control_path, format="parquet").to_table()
    assert sorted(plain.column("id").to_pylist()) == sorted(ids)
