"""Warehouse layout + the silver observations merge (U1 + P1).

Medallion-on-parquet layout (SURVEY.md §7):

- ``{root}/bronze``  — raw payload JSON, date-partitioned (immutable).
- ``{root}/silver/observations`` — merge-maintained on the natural key
  ``(latitude, longitude, timestamp)``, physically partitioned by
  ``obs_date`` (date of the observation timestamp) so merges and
  time-range queries prune to the touched dates.
- ``{root}/control/fetch_metadata`` — job lifecycle table, one parquet
  file per job (``pipeline/control``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meteo_etl_spark.errors import LoadError
from meteo_etl_spark.operators.atomic import is_atomic_table, read_table
from meteo_etl_spark.operators.upsert import MergeStats, merge_parquet, table_exists
from meteo_etl_spark.schemas import DROPPED_AT_LOAD, OBSERVATION_KEY, OBSERVATIONS_SCHEMA


@dataclass(frozen=True)
class Warehouse:
    """``atomic=True`` lands the silver table through the crash-atomic
    manifest layout (operators/atomic) — the deployment choice matching
    the reference's transactional Postgres store; the default plain
    layout stays readable by any parquet tool. Existing plain tables
    are converted on their next merge. The lake control table needs no
    manifest in either mode: every control write replaces one file by
    an atomic rename (``pipeline/control``).

    ``control_jdbc_url`` keeps the fetch_metadata lifecycle in a
    DATABASE instead (the reference's own deployment, `etl/db.py:49-85`)
    — every control insert/update/read routes through
    ``pipeline/control_jdbc``. ``observations_jdbc_url`` does the same
    for the silver store: ``read_observations`` reads the database
    table and the streaming consumer defaults its sink to it — set
    both for the complete keep-Postgres deployment (bronze payloads
    and the event topic stay on the lake)."""

    root: str
    atomic: bool = False
    control_jdbc_url: str | None = None
    observations_jdbc_url: str | None = None
    #: upsert statement shape for the database-backed silver store:
    #: "merge" (ANSI MERGE INTO — Derby, Postgres 15+) or
    #: "on_conflict" (INSERT .. ON CONFLICT — Postgres <15, SQLite;
    #: the reference's own statement, `etl/load.py:35-55`).
    jdbc_dialect: str = "merge"
    #: commit-arbiter selection for atomic tables on stores without
    #: atomic create-if-absent: ``{"single_writer": True}`` or
    #: ``{"lock_io": <LockIO>}`` (operators/atomic docstring). Empty =
    #: filesystem arbiter (local/HDFS — the default deployment).
    atomic_options: dict = field(default_factory=dict)

    @property
    def bronze_dir(self) -> str:
        return os.path.join(self.root, "bronze")

    @property
    def observations_path(self) -> str:
        return os.path.join(self.root, "silver", "observations")

    @property
    def control_path(self) -> str:
        return os.path.join(self.root, "control", "fetch_metadata")


#: silver partition layout: daily partitions on the observation date.
OBS_PARTITION_COL = "obs_date"


def merge_observations(
    spark: SparkSession,
    warehouse: Warehouse,
    records: DataFrame,
    fetch_id: str | None = None,
) -> MergeStats:
    """MERGE normalized weather records into the silver table.

    Reproduces the reference load semantics exactly
    (`etl/load.py:22-64`):

    - P1 projection: record fields absent from the table are dropped
      (`soil_temperature`, `soil_moisture`, `wind_direction`,
      `cloud_cover` — reference `etl/load.py:31-43`);
    - `timezone` is carried as NULL (no writer populates it —
      reference `etl/models.py:38-48` vs `etl/db.py:103`);
    - on conflict on ``(latitude, longitude, timestamp)`` the measures
      and ``fetch_id`` take the new values and ``updated_at`` refreshes,
      while ``id`` / ``created_at`` are preserved
      (`etl/load.py:45-55`);
    - batch-internal duplicates on the key collapse to one row
      (documented deviation: Postgres would error).

    With ``warehouse.observations_jdbc_url`` set, the merge lands in
    the database instead (``merge_observations_jdbc``) — same
    semantics, executed by one database-side MERGE; the insert/update
    split is derived from before/after row counts. That split is NOT
    transactional with the MERGE: a concurrent writer to the same
    table between the two counts skews ``inserted``/``updated``
    (accounting only — the merged data itself is still correct, the
    MERGE is one atomic statement).
    """
    if warehouse.observations_jdbc_url:
        from meteo_etl_spark.sources.jdbc import jdbc_row_count, jdbc_table_exists

        url = warehouse.observations_jdbc_url
        try:
            before = (
                jdbc_row_count(spark, url, "observations")
                if jdbc_table_exists(spark, url, "observations")
                else 0
            )
            touched = merge_observations_jdbc(
                spark, url, records, fetch_id=fetch_id, dialect=warehouse.jdbc_dialect
            )
            after = jdbc_row_count(spark, url, "observations")
        except LoadError:
            raise
        except Exception as exc:
            # the count probes must classify like the merge itself
            # ('load' in the error taxonomy), not as 'unexpected'
            raise LoadError(f"jdbc observations merge failed: {exc}") from exc
        return MergeStats(
            inserted=after - before,
            updated=touched - (after - before),
            target_rows=after,
        )
    try:
        updates = records.drop(*DROPPED_AT_LOAD)
        if "timezone" not in updates.columns:
            updates = updates.withColumn("timezone", F.lit(None).cast("string"))
        if "fetch_id" not in updates.columns:
            updates = updates.withColumn("fetch_id", F.lit(fetch_id).cast("string"))

        now = F.current_timestamp()
        return merge_parquet(
            spark,
            warehouse.observations_path,
            updates,
            key_cols=list(OBSERVATION_KEY),
            update_cols=["timezone", "temperature", "precipitation", "wind_speed", "fetch_id"],
            matched_set={"updated_at": now},
            not_matched_set={
                "id": F.expr("uuid()"),
                "created_at": now,
                "updated_at": now,
            },
            partition_col=OBS_PARTITION_COL,
            partition_expr=F.to_date("timestamp"),
            # cluster files on the natural key: tight row-group stats
            # = the composite-index analogue (reference etl/db.py:119)
            sort_within_partitions=list(OBSERVATION_KEY),
            atomic=warehouse.atomic,
            atomic_options=warehouse.atomic_options,
        )
    except Exception as exc:
        if isinstance(exc, LoadError):
            raise
        raise LoadError(f"observations merge failed: {exc}") from exc


def merge_observations_jdbc(
    spark: SparkSession,
    url: str,
    records: DataFrame,
    *,
    table: str = "observations",
    fetch_id: str | None = None,
    dialect: str = "merge",
    options: dict[str, str] | None = None,
) -> int:
    """MERGE normalized weather records into a DATABASE observations
    table — the deployment where the silver store stays in the
    reference's own Postgres (`etl/load.py:22-64` semantics, executed
    by the database):

    - same P1 projection and column defaults as ``merge_observations``;
    - identity/bookkeeping computed Spark-side into the staging batch
      (``uuid()`` ids, ``current_timestamp()`` stamps) — portable SQL,
      no database-specific DEFAULT functions needed;
    - on conflict the measures, ``fetch_id`` and ``updated_at`` take
      the new values while ``id``/``created_at`` are preserved, via
      ``upsert_jdbc(update_cols=...)`` (one atomic MERGE INTO);
    - batch-internal duplicates on the key collapse to one row first
      (a MERGE cardinality violation otherwise — same documented
      deviation as the parquet merge).

    Returns the number of rows the MERGE touched. String columns are
    deliberately NOT pinned to VARCHAR here: the MERGE keys are
    numeric/timestamp, so the dialect's default text type (CLOB on
    Derby) is never compared — and Derby's dialect binds NULL strings
    with the CLOB type code, which a VARCHAR-pinned column rejects
    (``timezone`` is always NULL by reference contract). Deployments
    that query the table's text columns can pass their own
    ``createTableColumnTypes`` for columns guaranteed non-null."""
    try:
        updates = records.drop(*DROPPED_AT_LOAD)
        if "timezone" not in updates.columns:
            updates = updates.withColumn("timezone", F.lit(None).cast("string"))
        if "fetch_id" not in updates.columns:
            updates = updates.withColumn("fetch_id", F.lit(fetch_id).cast("string"))
        now = F.current_timestamp()
        updates = (
            updates.dropDuplicates(list(OBSERVATION_KEY))
            .withColumn("id", F.expr("uuid()"))
            .withColumn("created_at", now)
            .withColumn("updated_at", now)
        )
        from meteo_etl_spark.sources.jdbc import upsert_jdbc

        opts = dict(options or {})
        return upsert_jdbc(
            updates,
            url,
            table,
            list(OBSERVATION_KEY),
            update_cols=[
                "timezone",
                "temperature",
                "precipitation",
                "wind_speed",
                "fetch_id",
                "updated_at",
            ],
            dialect=dialect,
            options=opts,
        )
    except Exception as exc:
        raise LoadError(f"jdbc observations merge failed: {exc}") from exc


def read_observations(spark: SparkSession, warehouse: Warehouse) -> DataFrame:
    """Silver scan in the declared column order (partition col last).

    Schema-on-read: the declared ``OBSERVATIONS_SCHEMA`` is supplied to
    the scan, so partitions written before a column was added read it
    as NULL — no per-query ``mergeSchema`` footer union (which at
    100 TB is a full file-listing pass). Evolution policy:
    ``schemas.validate_evolution``.

    Path-based parquet DataFrames snapshot the file listing at read
    time — call this again after a merge rather than reusing an older
    DataFrame (a table format with a transaction log lifts this at
    scale; SURVEY.md §4).
    """
    if warehouse.observations_jdbc_url:
        from meteo_etl_spark.sources.jdbc import jdbc_table_exists, read_jdbc

        if not jdbc_table_exists(
            spark, warehouse.observations_jdbc_url, "observations"
        ):
            return spark.createDataFrame([], schema=OBSERVATIONS_SCHEMA)
        df = read_jdbc(spark, warehouse.observations_jdbc_url, "observations")
        df = df.toDF(*[c.lower() for c in df.columns])
        return df.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in OBSERVATIONS_SCHEMA.fields
            ]
        )
    if not table_exists(spark, warehouse.observations_path):
        return spark.createDataFrame([], schema=OBSERVATIONS_SCHEMA)
    if is_atomic_table(warehouse.observations_path):
        # Manifest-resolved read; align to the declared schema (missing
        # columns -> NULL, declared order) for schema-on-read parity.
        df = read_table(spark, warehouse.observations_path)
        cols = [
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in OBSERVATIONS_SCHEMA.fields
        ]
        return df.select(*cols)
    df = spark.read.schema(OBSERVATIONS_SCHEMA).parquet(warehouse.observations_path)
    return df.select(*[f.name for f in OBSERVATIONS_SCHEMA.fields])
