"""One-time conversion of a lake control table from the earlier
Spark-written layout (plain ``part-*`` files, or the atomic manifest
layout of ``operators/atomic``) to the per-job layout of
``pipeline/control``.

Run it while no job writes the table. The resolved rows become the
folded file first, then the old files are removed; a crash in between
is finished by running it again (a present folded file means the rows
are already converted).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from meteo_etl_spark.operators import fsio
from meteo_etl_spark.operators.atomic import read_table
from meteo_etl_spark.pipeline import control
from meteo_etl_spark.pipeline.warehouse import Warehouse
from meteo_etl_spark.schemas import FETCH_METADATA_SCHEMA


def migrate_control_table(spark: SparkSession, warehouse: Warehouse) -> int:
    """Convert the table in place; returns the number of rows converted
    (0 when it is already in the per-job layout)."""
    path = control._table_dir(warehouse)
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return 0
    ours = {control.FOLDED_FILE, ".lock"}
    old = [
        n
        for n in names
        if n not in ours
        and not (n.endswith(".parquet") and control._is_fetch_id(n[: -len(".parquet")]))
    ]
    if not any(not n.startswith(".") for n in old):
        return 0
    n_rows = 0
    if control.FOLDED_FILE not in names:
        df = read_table(spark, path).select(*FETCH_METADATA_SCHEMA.names)
        table = df.toArrow().cast(control._ARROW_SCHEMA)
        control._replace(path, control.FOLDED_FILE, table)
        n_rows = table.num_rows
    for name in old:
        full = os.path.join(path, name)
        if os.path.isdir(full):
            shutil.rmtree(full)
        else:
            os.unlink(full)
    fsio.LocalIO().fsync_dir(path)
    return n_rows
