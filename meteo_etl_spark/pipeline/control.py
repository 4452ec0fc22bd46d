"""Control table: the ``fetch_metadata`` job lifecycle (S11/S12, P5).

Reference `etl/db.py:49-85` + `etl/load.py:67-117`: a PENDING row is
inserted when a job starts; a keyed update finalizes it, setting
``finished_at`` only when the status is finished ({error, success} —
reference `etl/load.py:104`, `etl/db.py:43-46`).

Lake layout: one single-row parquet file per unfinished or recently
finished job, ``<control_path>/<fetch_id>.parquet``, plus
``folded.parquet`` holding the rows of finished jobs folded out of their
own files. Both statements are driver-side pyarrow writes that start no
Spark job — the one-row statements the reference runs against Postgres.
A write lands in a dot-prefixed temp file (fsynced), ``os.replace``
moves it into place and the directory is fsynced: the rename is atomic,
so a reader sees the old file or the new one, never a partial file, and
a crash leaves at most a temp file that Spark and pyarrow both skip.
Once ``FOLD_AT`` job files have accumulated, a finishing update folds
the finished jobs into ``folded.parquet`` (``_fold``), so readers open a
bounded number of files however many jobs ran; a job file wins over a
folded row of the same id. This holds for plain and atomic warehouses
alike (``Warehouse.atomic`` governs only silver). The layout relies on
POSIX rename and ``flock``, so the lake control table is local
filesystem only: a URI warehouse raises ``LoadError``, as does a table
left in the earlier Spark-written layout (``pipeline/control_migrate``
converts one). The table is read with one ``spark.read.parquet`` of the
directory. Data-quality regexes from the reference CHECK constraints
(`etl/db.py:76-85`) are validated at write time. With
``Warehouse.control_jdbc_url`` every statement goes to the database
instead (``pipeline/control_jdbc``).
"""

from __future__ import annotations

import fcntl
import json
import os
import re
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone
from typing import Any, Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from meteo_etl_spark.errors import LoadError
from meteo_etl_spark.operators import fsio
from meteo_etl_spark.pipeline.warehouse import Warehouse
from meteo_etl_spark.schemas import (
    FETCH_METADATA_SCHEMA,
    FETCH_STATUS_PENDING,
    FETCH_STATUSES,
    FINISHED_STATUSES,
    PAYLOAD_PATH_RE,
    REQUEST_URL_RE,
)

_PAYLOAD_PATH_PAT = re.compile(PAYLOAD_PATH_RE)
_REQUEST_URL_PAT = re.compile(REQUEST_URL_RE)
#: FETCH_METADATA_SCHEMA as Arrow; timestamps are UTC-adjusted micros.
_ARROW_SCHEMA = to_arrow_schema(FETCH_METADATA_SCHEMA)
#: the finished jobs' rows, folded out of their own files (``_fold``).
FOLDED_FILE = "folded.parquet"
#: a finishing update folds once this many job files have accumulated,
#: so a reader opens at most about this many files however many jobs ran.
FOLD_AT = 16


def _utcnow() -> datetime:
    # Naive-UTC: the engine standardizes every control timestamp on UTC
    # (the reference mixes naive-local and UTC — SURVEY.md §7 watch list).
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _is_fetch_id(s: str) -> bool:
    # Ids are canonical uuid4 strings, so any other string names no job
    # (and no path outside the table).
    try:
        return str(uuid.UUID(s)) == s
    except ValueError:
        return False


def _row_path(path: str, fetch_id: str) -> str:
    return os.path.join(path, f"{fetch_id}.parquet")


def _table_dir(warehouse: Warehouse) -> str:
    path = warehouse.control_path
    if fsio.is_uri(path):
        raise LoadError(
            f"the lake control table is local-filesystem only ({path!r}); "
            "use Warehouse.control_jdbc_url for a remote store"
        )
    return path


def _job_ids(path: str) -> list[str]:
    """The ids that have their own file. Raises ``LoadError`` when the
    directory holds anything else: a table in the earlier Spark-written
    layout, which this code would misread."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    ids, other = [], []
    for name in names:
        if name.startswith(".") or name == FOLDED_FILE:
            continue
        stem = name[: -len(".parquet")] if name.endswith(".parquet") else ""
        if _is_fetch_id(stem):
            ids.append(stem)
        else:
            other.append(name)
    if other:
        raise LoadError(
            f"control table {path!r} holds {sorted(other)[0]!r}, from the earlier "
            "Spark-written layout; convert it once with `python -m meteo_etl_spark.cli "
            "--warehouse ROOT migrate-control` (pipeline.control_migrate)"
        )
    return ids


@contextmanager
def _locked(path: str, op: int) -> Iterator[None]:
    """Updates hold the table lock shared, a fold holds it exclusive, so
    a fold never deletes a file an update is replacing."""
    fd = os.open(os.path.join(path, ".lock"), os.O_RDWR | os.O_CREAT, 0o644)
    try:
        fcntl.flock(fd, op)
        yield
    finally:
        os.close(fd)


def _read_row(path: str, fetch_id: str) -> pa.Table | None:
    """The job's one-row table: its own file, else its folded row; None
    for an unknown id. A fold replaces the folded file before it deletes
    the job files, so a concurrent reader finds the row in one or the
    other."""
    if not _is_fetch_id(fetch_id):
        return None
    try:
        return pq.read_table(_row_path(path, fetch_id), schema=_ARROW_SCHEMA)
    except FileNotFoundError:
        pass
    try:
        table = pq.read_table(
            os.path.join(path, FOLDED_FILE),
            schema=_ARROW_SCHEMA,
            filters=[("id", "==", fetch_id)],
        )
    except FileNotFoundError:
        return None
    return table if table.num_rows else None


def _replace(path: str, name: str, table: pa.Table) -> None:
    """Write-temp + fsync + rename + fsync of the directory: readers see
    the old file or the new one, and the rename survives a power loss."""
    tmp = os.path.join(path, f".{name}.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "wb") as f:
        pq.write_table(table, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, name))
    fsio.LocalIO().fsync_dir(path)


def _fold(path: str) -> None:
    """Fold the finished jobs' files into ``folded.parquet``: replace it
    with its rows plus theirs, minus any row whose job has its own file
    (a job updated after its fold), then delete the folded job files. A
    crash in between leaves a row in both places; readers prefer the job
    file and the next fold removes the folded copy."""
    with _locked(path, fcntl.LOCK_EX):
        jobs = ds.dataset(
            [_row_path(path, i) for i in _job_ids(path)], schema=_ARROW_SCHEMA, format="parquet"
        ).to_table()
        finished = jobs.filter(pc.is_in(jobs["status"], value_set=pa.array(FINISHED_STATUSES)))
        rows = finished
        try:
            folded = pq.read_table(os.path.join(path, FOLDED_FILE), schema=_ARROW_SCHEMA)
            kept = folded.filter(pc.invert(pc.is_in(folded["id"], value_set=jobs["id"])))
            if not finished.num_rows and kept.num_rows == folded.num_rows:
                return
            rows = pa.concat_tables([kept, finished])
        except FileNotFoundError:
            if not finished.num_rows:
                return
        _replace(path, FOLDED_FILE, rows.combine_chunks())
        for fetch_id in finished["id"].to_pylist():
            os.unlink(_row_path(path, fetch_id))
        fsio.LocalIO().fsync_dir(path)


def insert_fetch_metadata(
    spark: SparkSession,
    warehouse: Warehouse,
    request_url: str,
    request_params: dict[str, Any] | None = None,
) -> str:
    """Insert one PENDING job row; returns the generated fetch_id (S11,
    reference `etl/load.py:67-85`)."""
    if not _REQUEST_URL_PAT.match(request_url):
        raise LoadError(f"request_url violates CHECK {REQUEST_URL_RE!r}: {request_url!r}")
    if warehouse.control_jdbc_url:
        from meteo_etl_spark.pipeline import control_jdbc

        return control_jdbc.insert_fetch_metadata(
            spark, warehouse.control_jdbc_url, request_url, request_params, _utcnow()
        )
    path = _table_dir(warehouse)
    _job_ids(path)  # refuses a table in the earlier layout
    os.makedirs(path, exist_ok=True)
    fetch_id = str(uuid.uuid4())
    now = _utcnow()
    row = pa.Table.from_pylist(
        [
            {
                "id": fetch_id,
                "created_at": now,
                "request_timestamp": now,
                "request_params": {str(k): str(v) for k, v in (request_params or {}).items()},
                "request_url": request_url,
                "status": FETCH_STATUS_PENDING,
                "response_status": None,
                "error_data": None,
                "payload_path": None,
                "finished_at": None,
            }
        ],
        schema=_ARROW_SCHEMA,
    )
    _replace(path, f"{fetch_id}.parquet", row)
    return fetch_id


def update_fetch_metadata(
    spark: SparkSession,
    warehouse: Warehouse,
    fetch_id: str,
    *,
    status: str,
    response_status: int | None = None,
    error_data: dict | None = None,
    payload_path: str | None = None,
) -> str:
    """Keyed update of one job row (S12, reference `etl/load.py:88-117`).

    ``finished_at`` is set to now() only when ``status`` is finished
    (reference `etl/load.py:104`); otherwise it keeps its value.
    """
    if status not in FETCH_STATUSES:
        raise LoadError(f"invalid status {status!r}; expected one of {FETCH_STATUSES}")
    if payload_path is not None and not _PAYLOAD_PATH_PAT.match(payload_path):
        raise LoadError(f"payload_path violates CHECK {PAYLOAD_PATH_RE!r}: {payload_path!r}")
    error_json = json.dumps(error_data) if error_data is not None else None

    if warehouse.control_jdbc_url:
        from meteo_etl_spark.pipeline import control_jdbc

        return control_jdbc.update_fetch_metadata(
            spark,
            warehouse.control_jdbc_url,
            fetch_id,
            status=status,
            response_status=response_status,
            error_data=error_json,
            payload_path=payload_path,
            now=_utcnow(),
        )

    path = _table_dir(warehouse)
    n_job_files = len(_job_ids(path))
    if not os.path.isdir(path):
        raise LoadError(f"no fetch_metadata row with id={fetch_id!r}")
    with _locked(path, fcntl.LOCK_SH):
        table = _read_row(path, fetch_id)
        if table is None:
            raise LoadError(f"no fetch_metadata row with id={fetch_id!r}")
        was_folded = not os.path.exists(_row_path(path, fetch_id))
        row = table.to_pylist()[0]
        row.update(
            status=status,
            response_status=response_status,
            error_data=error_json,
            payload_path=payload_path,
        )
        if status in FINISHED_STATUSES:
            row["finished_at"] = _utcnow()
        _replace(path, f"{fetch_id}.parquet", pa.Table.from_pylist([row], schema=_ARROW_SCHEMA))
    # a folded job's new file would leave its folded row as a second
    # copy for plain readers: fold at once to drop it
    if was_folded or (status in FINISHED_STATUSES and n_job_files >= FOLD_AT):
        _fold(path)
    return fetch_id


def read_fetch_metadata(spark: SparkSession, warehouse: Warehouse) -> DataFrame:
    if warehouse.control_jdbc_url:
        from meteo_etl_spark.pipeline import control_jdbc

        return control_jdbc.read_fetch_metadata(spark, warehouse.control_jdbc_url)
    path = _table_dir(warehouse)
    ids = _job_ids(path)
    if not os.path.isdir(path):
        return spark.createDataFrame([], schema=FETCH_METADATA_SCHEMA)
    df = spark.read.schema(FETCH_METADATA_SCHEMA).parquet(path)
    if ids and os.path.exists(os.path.join(path, FOLDED_FILE)):
        # a job file wins over a folded row of the same id: the job was
        # updated after its fold, or a fold was cut short by a crash
        folded = F.col("_metadata.file_name") == FOLDED_FILE
        df = df.filter(~(folded & F.col("id").isin(ids)))
    return df


def fetch_metadata_row(spark: SparkSession, warehouse: Warehouse, fetch_id: str) -> DataFrame:
    """One job's control row (empty if the id is unknown). On the lake
    the DataFrame is built from the job's Arrow table on the driver, so
    projecting and collecting it starts no Spark job."""
    if warehouse.control_jdbc_url:
        return read_fetch_metadata(spark, warehouse).filter(F.col("id") == fetch_id)
    path = _table_dir(warehouse)
    _job_ids(path)  # refuses a table in the earlier layout
    table = _read_row(path, fetch_id)
    if table is None:
        return spark.createDataFrame([], schema=FETCH_METADATA_SCHEMA)
    return spark.createDataFrame(table, schema=FETCH_METADATA_SCHEMA)


def is_finished(df: DataFrame) -> DataFrame:
    """P5: status-domain predicate surface (reference `etl/db.py:34-46`)."""
    return df.withColumn("is_finished", F.col("status").isin(*FINISHED_STATUSES))
