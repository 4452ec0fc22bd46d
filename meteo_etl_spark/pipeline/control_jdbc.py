"""Database-backed control table — the reference's own deployment.

The reference keeps ``fetch_metadata`` in Postgres (`etl/db.py:49-85`:
uuid PK, status CHECK, regex CHECKs; `etl/load.py:67-117`: INSERT
then keyed UPDATE with conditional ``finished_at``). The parquet
control table (pipeline/control.py) re-expresses that lifecycle on the
lake; this module keeps it in the database for deployments that retain
Postgres as the system of record (set ``Warehouse(control_jdbc_url=...)``
and every pipeline entry point routes here automatically).

Control traffic is one row per fetch job — driver-side prepared
statements are the right shape (a Spark job per single-row insert
would be pure overhead; the reference uses a SQLAlchemy session the
same way). The BULK paths stay cluster-parallel: observations land via
``upsert_jdbc`` (staged MERGE) and reads come back through Spark's
JDBC relation.

Schema parity with `etl/db.py:49-85`: primary key on ``id``, NOT NULL
on the always-present columns, an in-database CHECK on the status
domain, and LIKE CHECKs approximating the reference's regex CHECKs
(the exact regexes are enforced Python-side in pipeline/control.py
before any statement runs — same belt-and-braces as the reference,
which validates in pydantic AND the database). ``request_params`` is
stored as a JSON string and parsed back to ``map<string,string>`` on
read, so the read surface is schema-identical to the parquet store.
"""

from __future__ import annotations

import json
import uuid
from datetime import datetime
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meteo_etl_spark.errors import LoadError
from meteo_etl_spark.schemas import (
    FETCH_METADATA_SCHEMA,
    FETCH_STATUSES,
    FINISHED_STATUSES,
)
from meteo_etl_spark.sources.jdbc import (
    driver_connection,
    jdbc_table_columns,
    jdbc_table_exists,
    read_jdbc,
)

CONTROL_TABLE = "fetch_metadata"

_COLUMNS = [f.name for f in FETCH_METADATA_SCHEMA.fields]

#: per-column SQL types — the single source for CREATE and for the
#: additive ALTER path (evolution columns are added in nullable form;
#: existing rows read them back as NULL).
_COLUMN_TYPES = {
    "id": "VARCHAR(36)",
    "created_at": "TIMESTAMP",
    "request_timestamp": "TIMESTAMP",
    "request_params": "VARCHAR(4000)",
    "request_url": "VARCHAR(2048)",
    "status": "VARCHAR(16)",
    "response_status": "INTEGER",
    "error_data": "VARCHAR(4000)",
    "payload_path": "VARCHAR(1024)",
    "finished_at": "TIMESTAMP",
}

# adding a field to FETCH_METADATA_SCHEMA requires its SQL type here
# (both the CREATE and the additive ALTER path depend on it)
assert set(_COLUMN_TYPES) == set(_COLUMNS), (
    sorted(set(_COLUMNS) ^ set(_COLUMN_TYPES))
)


def _ddl() -> str:
    statuses = ", ".join(f"'{s}'" for s in FETCH_STATUSES)
    return (
        f"CREATE TABLE {CONTROL_TABLE} ("
        '"id" VARCHAR(36) NOT NULL PRIMARY KEY, '
        '"created_at" TIMESTAMP NOT NULL, '
        '"request_timestamp" TIMESTAMP NOT NULL, '
        '"request_params" VARCHAR(4000), '
        '"request_url" VARCHAR(2048) NOT NULL, '
        f'"status" VARCHAR(16) NOT NULL CHECK ("status" IN ({statuses})), '
        '"response_status" INTEGER, '
        '"error_data" VARCHAR(4000), '
        '"payload_path" VARCHAR(1024), '
        '"finished_at" TIMESTAMP, '
        # LIKE approximations of the reference's regex CHECKs
        # (etl/db.py:76-85); exact regexes run Python-side first.
        "CHECK (\"request_url\" LIKE 'http%://%')"
        ")"
    )


def _execute_prepared(
    spark: SparkSession, url: str, sql: str, binds: list[tuple[str, Any]]
) -> int:
    """Run one prepared statement with typed binds; returns the
    affected-row count. ``binds``: (kind, value) with kind in
    str|int|ts and None meaning SQL NULL of that kind."""
    jvm = spark.sparkContext._jvm
    types = jvm.java.sql.Types
    sql_type = {"str": types.VARCHAR, "int": types.INTEGER, "ts": types.TIMESTAMP}
    with driver_connection(spark, url) as conn:
        ps = conn.prepareStatement(sql)
        try:
            for i, (kind, v) in enumerate(binds, start=1):
                if v is None:
                    ps.setNull(i, sql_type[kind])
                elif kind == "str":
                    ps.setString(i, v)
                elif kind == "int":
                    ps.setInt(i, int(v))
                elif kind == "ts":
                    ps.setTimestamp(
                        i,
                        jvm.java.sql.Timestamp.valueOf(
                            v.strftime("%Y-%m-%d %H:%M:%S.%f")
                        ),
                    )
                else:
                    raise ValueError(f"unknown bind kind {kind!r}")
            return ps.executeUpdate()
        finally:
            ps.close()


def _query_strings(spark: SparkSession, url: str, sql: str) -> list[str]:
    """Driver-side single-column string query (ledger reads are one
    tiny metadata row set — a Spark JDBC relation per probe would be
    pure overhead, same reasoning as the prepared-statement writes)."""
    with driver_connection(spark, url) as conn:
        st = conn.createStatement()
        try:
            rs = st.executeQuery(sql)
            out = []
            while rs.next():
                out.append(rs.getString(1))
            return out
        finally:
            st.close()


def _column_meta(
    spark: SparkSession, url: str, table: str
) -> dict[str, tuple[str, int]]:
    """``{lowercase column: (TYPE_NAME, COLUMN_SIZE)}`` from JDBC
    metadata — the shape probe the retype migration uses to decide
    whether a legacy column actually needs work."""
    with driver_connection(spark, url) as conn:
        md = conn.getMetaData()
        out: dict[str, tuple[str, int]] = {}
        for name in (table, table.upper(), table.lower()):
            rs = md.getColumns(None, None, name, None)
            while rs.next():
                out[rs.getString("COLUMN_NAME").lower()] = (
                    (rs.getString("TYPE_NAME") or "").upper(),
                    int(rs.getInt("COLUMN_SIZE")),
                )
            if out:
                break
        return out


def _try_statements(
    spark: SparkSession, url: str, candidates: list[str]
) -> None:
    """Run the first candidate statement the engine accepts — the
    dialect shim for DDL with no portable spelling (Derby renames with
    ``RENAME COLUMN t.c TO x``, the SQL standard and Postgres/DuckDB
    with ``ALTER TABLE t RENAME COLUMN c TO x``)."""
    last: Exception | None = None
    for sql in candidates:
        try:
            _execute_prepared(spark, url, sql, [])
            return
        except Exception as exc:  # try the next dialect spelling
            last = exc
    assert last is not None
    raise last


def _rename_column(
    spark: SparkSession, url: str, table: str, old: str, new: str
) -> None:
    _try_statements(
        spark,
        url,
        [
            f'RENAME COLUMN {table}."{old}" TO "{new}"',
            f'ALTER TABLE {table} RENAME COLUMN "{old}" TO "{new}"',
        ],
    )


def _retype_column_with_cast(
    spark: SparkSession, url: str, table: str, col: str, new_type: str
) -> None:
    """Change a column's declared type IN PLACE, preserving data:
    first the engine's native widen (``SET DATA TYPE`` — Derby only
    widens VARCHAR lengths; Postgres ``TYPE``), else the portable
    four-step dance: add a temp column of the target type, ``UPDATE
    .. SET tmp = CAST(col ..)``, drop the old column, rename the temp
    into its name. The dance does not re-declare NOT NULL (the
    engine's NOT NULLs are enforced at CREATE; migrated legacy
    columns stay nullable — same posture as the additive widening
    path, where evolution columns are nullable by design)."""
    try:
        _try_statements(
            spark,
            url,
            [
                f'ALTER TABLE {table} ALTER COLUMN "{col}" '
                f"SET DATA TYPE {new_type}",
                f'ALTER TABLE {table} ALTER COLUMN "{col}" TYPE {new_type}',
            ],
        )
        return
    except Exception:
        pass  # native widen refused (e.g. type family change) — dance
    tmp = f"{col}__mig"
    _execute_prepared(
        spark, url, f'ALTER TABLE {table} ADD COLUMN "{tmp}" {new_type}', []
    )
    _execute_prepared(
        spark,
        url,
        f'UPDATE {table} SET "{tmp}" = CAST("{col}" AS {new_type})',
        [],
    )
    _execute_prepared(
        spark, url, f'ALTER TABLE {table} DROP COLUMN "{col}"', []
    )
    _rename_column(spark, url, table, tmp, col)


#: ledger of applied non-additive migrations — the engine's mirror of
#: the reference's alembic version table: one row per applied revision,
#: so each migration runs exactly once per database even across
#: process restarts and mixed-version rollouts.
_MIGRATION_LEDGER = "meteo_schema_migrations"


def _ensure_ledger(spark: SparkSession, url: str) -> None:
    if jdbc_table_exists(spark, url, _MIGRATION_LEDGER):
        return
    try:
        _execute_prepared(
            spark,
            url,
            f"CREATE TABLE {_MIGRATION_LEDGER} ("
            '"revision" VARCHAR(64) NOT NULL PRIMARY KEY, '
            '"applied_at" TIMESTAMP NOT NULL)',
            [],
        )
    except Exception:
        # lost a concurrent-create race — fine as long as it exists
        if not jdbc_table_exists(spark, url, _MIGRATION_LEDGER):
            raise


def _applied_revisions(spark: SparkSession, url: str) -> set[str]:
    _ensure_ledger(spark, url)
    return set(
        _query_strings(
            spark, url, f'SELECT "revision" FROM {_MIGRATION_LEDGER}'
        )
    )


def _stamp_revision(spark: SparkSession, url: str, revision: str) -> None:
    _ensure_ledger(spark, url)
    try:
        _execute_prepared(
            spark,
            url,
            f"INSERT INTO {_MIGRATION_LEDGER} "
            '("revision", "applied_at") VALUES (?, ?)',
            [("str", revision), ("ts", datetime.now())],
        )
    except Exception:
        # a concurrent migrator stamped it first — the revision is
        # applied either way (every step below is precondition-guarded
        # and value-idempotent, so a double run is harmless)
        if revision not in _applied_revisions(spark, url):
            raise


def _mig_status_domain(spark: SparkSession, url: str) -> None:
    """Mirror of reference revision a1cbf11c1945 (status → enum): fold
    legacy free-text status values into the declared domain — the
    reference's own data migration remaps ``finished`` → ``success``
    and case-folds before attaching the enum
    (`alembic/versions/a1cbf11c1945_change_fetch_status_to_enum.py:24-28`)
    — then enforce the domain in-database with a named CHECK (the
    engine's portable stand-in for the Postgres enum).

    The migration's DATA contract is verified by a count query and
    fails loudly on unmappable values. The constraint ATTACH is
    best-effort by dialect: some engines cannot add a CHECK to an
    existing table (DuckDB's ALTER TABLE has no ADD CONSTRAINT) — the
    domain is then still verified clean here and enforced Python-side
    before every write (pipeline/control.py, the same belt-and-braces
    split as the reference's pydantic + DB CHECK layering)."""
    _execute_prepared(
        spark,
        url,
        f'UPDATE {CONTROL_TABLE} SET "status" = LOWER("status")',
        [],
    )
    _execute_prepared(
        spark,
        url,
        f"UPDATE {CONTROL_TABLE} SET \"status\" = 'success' "
        "WHERE \"status\" = 'finished'",
        [],
    )
    statuses = ", ".join(f"'{s}'" for s in FETCH_STATUSES)
    bad = int(
        _query_strings(
            spark,
            url,
            f"SELECT COUNT(*) FROM {CONTROL_TABLE} "
            f'WHERE "status" NOT IN ({statuses})',
        )[0]
    )
    if bad:
        raise LoadError(
            f"status-domain migration: {bad} row(s) hold values outside "
            f"{FETCH_STATUSES} that the declared remap cannot fold"
        )
    try:
        _execute_prepared(
            spark,
            url,
            f"ALTER TABLE {CONTROL_TABLE} ADD CONSTRAINT "
            f'"fetch_status_domain_ck" CHECK ("status" IN ({statuses}))',
            [],
        )
    except Exception:
        # dialect without ADD CONSTRAINT support (or a rival migrator
        # attached it first): the data is verified in-domain above and
        # Python-side validation guards every future write
        pass


def _mig_error_data_rename(spark: SparkSession, url: str) -> None:
    """Mirror of reference revision 4bcfdcf6e86a (response_data →
    error_data, request_url retype): a legacy raw-response column is
    RENAMED into ``error_data`` — data preserved, unlike the
    reference's add+drop which discards it; the engine can afford the
    stronger form because the column family is storage-compatible —
    and ``request_url`` is widened in place to the declared
    VARCHAR(2048) when the legacy declaration is narrower or a
    different type family (``_retype_column_with_cast``)."""
    cols = {c.lower() for c in jdbc_table_columns(spark, url, CONTROL_TABLE)}
    if "error_data" not in cols:
        for legacy in ("response_data", "raw_response_data"):
            if legacy in cols:
                _rename_column(spark, url, CONTROL_TABLE, legacy, "error_data")
                break
    meta = _column_meta(spark, url, CONTROL_TABLE)
    if "request_url" in meta:
        type_name, size = meta["request_url"]
        # size <= 0 (or huge) = the engine's VARCHAR is unbounded
        # (e.g. DuckDB) — nothing to widen
        if type_name != "VARCHAR" or 0 < size < 2048:
            _retype_column_with_cast(
                spark, url, CONTROL_TABLE, "request_url", "VARCHAR(2048)"
            )


#: the declared non-additive migration chain, applied IN ORDER before
#: the additive widening pass — the engine's re-expression of the
#: reference's alembic history for ``fetch_metadata`` (additive steps
#: need no entry here; `ensure_control_table`'s widening pass already
#: subsumes them, cf. 3967a578f902/4bcfdcf6e86a's add_column calls).
_MIGRATIONS: tuple[tuple[str, Any], ...] = (
    ("a1cbf11c1945_status_domain", _mig_status_domain),
    ("4bcfdcf6e86a_error_data_rename", _mig_error_data_rename),
)


def _run_migrations(spark: SparkSession, url: str) -> None:
    applied = _applied_revisions(spark, url)
    for revision, fn in _MIGRATIONS:
        if revision in applied:
            continue
        fn(spark, url)
        _stamp_revision(spark, url, revision)


def _stamp_all(spark: SparkSession, url: str) -> None:
    """A freshly created table is already the post-migration shape —
    record every revision as applied without running it (alembic's
    ``stamp head``)."""
    for revision, _ in _MIGRATIONS:
        _stamp_revision(spark, url, revision)


#: URLs whose control table this process has already created/migrated —
#: ensure_control_table is called once per fetch registration (the
#: per-job hot path), and the schema cannot regress mid-process, so the
#: metadata probes are paid once per database, not per job.
_ENSURED_URLS: set[str] = set()


def ensure_control_table(spark: SparkSession, url: str) -> None:
    """Create the control table, or — when an older-shape table already
    exists — migrate it IN PLACE: first the declared non-additive
    chain (``_MIGRATIONS``: column rename, value remap + CHECK,
    retype-with-cast — each applied once per database, recorded in the
    ``meteo_schema_migrations`` ledger exactly as the reference's
    alembic version table records its revisions), then the additive
    widening pass (``ALTER TABLE .. ADD COLUMN`` per declared column
    it lacks, in nullable form so existing rows read back with NULLs
    — the database mirror of the parquet store's additive-only policy,
    `schemas.validate_evolution`). Non-additive steps run FIRST so a
    legacy ``response_data`` is renamed into ``error_data`` before the
    widening pass could add a fresh empty ``error_data`` beside it.

    Idempotent and memoized per URL within the process."""
    if url in _ENSURED_URLS:
        return
    if not jdbc_table_exists(spark, url, CONTROL_TABLE):
        try:
            _execute_prepared(spark, url, _ddl(), [])
            _stamp_all(spark, url)  # created at the post-migration shape
            _ENSURED_URLS.add(url)
            return  # freshly created — already the declared shape
        except Exception:
            # Lost a concurrent-create race: fine as long as it exists
            # now — but the winner may run OLDER code (mixed-version
            # rollout) and have created the pre-evolution shape, so
            # fall through to the migration pass instead of memoizing.
            if not jdbc_table_exists(spark, url, CONTROL_TABLE):
                raise
    _run_migrations(spark, url)
    existing = {c.lower() for c in jdbc_table_columns(spark, url, CONTROL_TABLE)}
    for c in _COLUMNS:
        if c.lower() in existing:
            continue
        try:
            _execute_prepared(
                spark,
                url,
                f'ALTER TABLE {CONTROL_TABLE} ADD COLUMN "{c}" {_COLUMN_TYPES[c]}',
                [],
            )
        except Exception:
            # concurrent migrator may have added it first
            now = {x.lower() for x in jdbc_table_columns(spark, url, CONTROL_TABLE)}
            if c.lower() not in now:
                raise
    _ENSURED_URLS.add(url)


def insert_fetch_metadata(
    spark: SparkSession,
    url: str,
    request_url: str,
    request_params: dict[str, Any] | None,
    now: datetime,
) -> str:
    """S11: append one PENDING row, return the generated id (the
    reference's INSERT .. RETURNING id, `etl/load.py:67-85`)."""
    ensure_control_table(spark, url)
    fetch_id = str(uuid.uuid4())
    params_json = json.dumps(
        {str(k): str(v) for k, v in (request_params or {}).items()}
    )
    cols = ", ".join(f'"{c}"' for c in _COLUMNS)
    marks = ", ".join("?" for _ in _COLUMNS)
    n = _execute_prepared(
        spark,
        url,
        f"INSERT INTO {CONTROL_TABLE} ({cols}) VALUES ({marks})",
        [
            ("str", fetch_id),
            ("ts", now),
            ("ts", now),
            ("str", params_json),
            ("str", request_url),
            ("str", "pending"),
            ("int", None),
            ("str", None),
            ("str", None),
            ("ts", None),
        ],
    )
    if n != 1:
        raise LoadError(f"control insert affected {n} rows")
    return fetch_id


def update_fetch_metadata(
    spark: SparkSession,
    url: str,
    fetch_id: str,
    *,
    status: str,
    response_status: int | None,
    error_data: str | None,
    payload_path: str | None,
    now: datetime,
) -> str:
    """S12: keyed single-row update; ``finished_at`` set only when the
    status is finished, otherwise the existing value is preserved
    (reference `etl/load.py:88-117`)."""
    finished_at = now if status in FINISHED_STATUSES else None
    n = _execute_prepared(
        spark,
        url,
        f"UPDATE {CONTROL_TABLE} SET "
        '"status" = ?, "response_status" = ?, "error_data" = ?, '
        '"payload_path" = ?, '
        '"finished_at" = COALESCE(CAST(? AS TIMESTAMP), "finished_at") '
        'WHERE "id" = ?',
        [
            ("str", status),
            ("int", response_status),
            ("str", error_data),
            ("str", payload_path),
            ("ts", finished_at),
            ("str", fetch_id),
        ],
    )
    if n == 0:
        raise LoadError(f"no fetch_metadata row with id={fetch_id!r}")
    if n != 1:
        raise LoadError(f"control update affected {n} rows")
    return fetch_id


def read_fetch_metadata(spark: SparkSession, url: str) -> DataFrame:
    """The control table as a DataFrame, schema-identical to the
    parquet store (request_params JSON parsed back to a map)."""
    if not jdbc_table_exists(spark, url, CONTROL_TABLE):
        return spark.createDataFrame([], schema=FETCH_METADATA_SCHEMA)
    df = read_jdbc(spark, url, CONTROL_TABLE)
    df = df.toDF(*[c.lower() for c in df.columns])
    df = df.withColumn(
        "request_params",
        F.from_json("request_params", "map<string,string>"),
    )
    return df.select(*_COLUMNS)
