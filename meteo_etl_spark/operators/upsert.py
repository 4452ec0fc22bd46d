"""U1: keyed upsert (merge), last-write-wins — on plain parquet.

Reference semantics (`etl/load.py:35-57`, constraint `etl/db.py:118`):
multi-row ``INSERT ... ON CONFLICT ON CONSTRAINT u_loc_time DO UPDATE``
— on conflict the measure columns and ``fetch_id`` come from the new
row, ``updated_at`` is refreshed, while ``id`` and ``created_at`` are
preserved.

Spark stance: vanilla Spark has no MERGE on parquet (Delta/Iceberg jars
are not in this image — SURVEY.md §4), so the engine implements the
documented union+full-outer rewrite with **partition-pruned rewrites**:

1. the target is laid out ``partitionBy(partition_col)`` (for
   observations: the observation date — the natural pruning key for
   time-series);
2. a merge only reads+rewrites the partitions the update batch touches
   (``left_semi`` against the distinct partition values, which Catalyst
   turns into partition pruning on the parquet scan);
3. the rewrite is written to a staging directory beside the table
   (Spark refuses to overwrite a path it is simultaneously reading),
   then each staged partition directory replaces the table's one by
   two renames, so the files land exactly as written
   (``_rewrite_partitions``).

At 100 TB this is the same I/O shape a Delta MERGE performs (read
matched files, rewrite them); the win is that a day's upsert touches a
day's partitions, not the table. On a real deployment you'd swap this
module for Delta/Iceberg MERGE without touching callers — the public
function signature is format-agnostic.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from meteo_etl_spark.operators.atomic import AtomicParquetTable, is_atomic_table, read_table


@dataclass
class MergeStats:
    """Row accounting for a merge (insert/update/delete split)."""

    inserted: int
    updated: int
    target_rows: int
    deleted: int = 0


def table_exists(spark: SparkSession, path: str) -> bool:
    """True if a parquet table has been written at ``path`` (plain
    layout or atomic manifest layout)."""
    if not os.path.isdir(path):
        return False
    if is_atomic_table(path):
        return True
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def dedup_last_write_wins(
    df: DataFrame, key_cols: list[str], order_cols: list[Column] | None
) -> DataFrame:
    """Resolve batch-internal duplicates on the merge key.

    Postgres would reject a multi-row upsert touching the same key twice
    (SURVEY.md §7 watch list); the engine keeps the last write per key.
    With no ordering given, an arbitrary-but-single row survives
    (``dropDuplicates``).
    """
    if order_cols is None:
        return df.dropDuplicates(key_cols)
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    *,
    update_cols: list[str] | None = None,
    matched_set: dict[str, Column] | None = None,
    not_matched_set: dict[str, Column] | None = None,
    dedup_order: list[Column] | None = None,
    partition_col: str | None = None,
    partition_expr: Column | None = None,
    sort_within_partitions: list[str] | None = None,
    atomic: bool = False,
    atomic_options: dict | None = None,
    delete_keys: DataFrame | None = None,
) -> MergeStats:
    """MERGE ``updates`` into the parquet table at ``path``.

    - ``update_cols``: columns copied from the update row when matched
      (default: every update column except the key).
    - ``matched_set`` / ``not_matched_set``: extra column assignments for
      the matched / not-matched branch (e.g. ``updated_at``, generated
      ``id``). A value may be a plain Column or a callable
      ``(t, u) -> Column`` receiving the aliased target/update sides
      (for conditional rules like "preserve unless the update finishes
      the row"). Target columns missing from the update side stay NULL
      on insert and keep their value on match unless listed in
      ``update_cols``.
    - ``partition_col`` (+ optional ``partition_expr`` deriving it from
      update rows): physical layout and merge pruning key.
    - ``sort_within_partitions``: cluster rewritten files on these
      columns (Z-order-lite): parquet row-group min/max stats become
      tight on the key, so point/range probes skip row groups — the
      index analogue of the reference's composite (lat,long,ts) index
      (`etl/db.py:119`).
    - ``atomic``: land the rewrite through ``operators/atomic``
      (versioned generation dirs + manifest pointer flip) so a killed
      job can never leave a half-rewritten partition — the parquet
      analogue of the reference's transactional ON CONFLICT upsert
      (`etl/load.py:35-57`). Plain layout (default) stays readable by
      any parquet tool; atomic layout requires ``read_table``. A table
      stays on the layout it was created with.
    - ``atomic_options``: extra ``AtomicParquetTable`` constructor
      kwargs — the object-store commit-arbiter selection
      (``{"single_writer": True}`` or ``{"lock_io": <LockIO>}``) —
      so pipeline callers can deploy atomic tables on plain object
      stores without dropping to the table API.
    - ``delete_keys``: keys to REMOVE from the target in the same
      rewrite (the CDC tombstone verb — ``operators/cdc`` resolves a
      changelog into this plus ``updates``). Must carry ``key_cols``;
      when ``partition_col`` is set it must carry that too, so the
      delete's partitions join the pruning set (derive it upstream
      with the same ``partition_expr`` as the data). A key present in
      BOTH ``delete_keys`` and ``updates`` nets to the update (the
      target row is dropped first, the update then inserts) — callers
      wanting last-verb-wins resolve the changelog first
      (``cdc.apply_changelog_parquet`` does). NULL-safe key equality,
      matching the merge join.
    """
    updates = dedup_last_write_wins(updates, key_cols, dedup_order)
    if partition_col and partition_col not in updates.columns:
        if partition_expr is None:
            raise ValueError(f"updates lack partition col {partition_col!r} and no partition_expr given")
        updates = updates.withColumn(partition_col, partition_expr)
    if delete_keys is not None:
        missing = [c for c in key_cols if c not in delete_keys.columns]
        if missing:
            raise ValueError(f"delete_keys lack key columns {missing}")
        if partition_col and partition_col not in delete_keys.columns:
            raise ValueError(
                f"delete_keys lack partition col {partition_col!r} — derive it "
                "upstream with the same partition_expr as the data so the "
                "delete pass stays partition-pruned"
            )
        delete_keys = delete_keys.dropDuplicates(key_cols)

    update_cols = update_cols or [c for c in updates.columns if c not in key_cols]
    matched_set = matched_set or {}
    not_matched_set = not_matched_set or {}

    if not table_exists(spark, path):
        inserts = updates
        if sort_within_partitions:
            inserts = inserts.sortWithinPartitions(*sort_within_partitions)
        for col, expr in not_matched_set.items():
            if callable(expr):
                raise ValueError(
                    f"not_matched_set[{col!r}] is conditional but the target table "
                    "does not exist yet — create it with plain Column defaults first"
                )
            inserts = inserts.withColumn(col, expr)
        if atomic:
            AtomicParquetTable(
                spark, path, partition_col, **(atomic_options or {})
            ).overwrite(inserts)
            n = read_table(spark, path).count()
            return MergeStats(inserted=n, updated=0, target_rows=n)
        n = _write(inserts, path, partition_col)
        return MergeStats(inserted=n, updated=0, target_rows=n)

    # mergeSchema: the target may span schema versions (old partitions
    # lack recently added columns — schemas.validate_evolution policy);
    # the unioned footer schema reads them as NULL. read_table resolves
    # either layout (plain dir scan or atomic manifest).
    target = read_table(spark, path)

    # Landing layout: a table stays on the layout it was created with;
    # atomic=True on an existing plain table is a one-time conversion,
    # which must rewrite the WHOLE table (the manifest can only point at
    # generation dirs, so untouched plain partitions must be restaged).
    land_atomic = atomic or is_atomic_table(path)
    converting = atomic and not is_atomic_table(path)

    if partition_col and not converting:
        # Prune: only partitions the batch touches are read & rewritten.
        affected = updates.select(partition_col).distinct()
        if delete_keys is not None:
            affected = affected.union(
                delete_keys.select(partition_col).distinct()
            ).distinct()
        target_subset = target.join(F.broadcast(affected), partition_col, "left_semi")
    else:
        target_subset = target

    n_deleted = 0
    if delete_keys is not None:
        dk = delete_keys.select(*key_cols).alias("d")
        del_cond = None
        for k in key_cols:
            c = F.col(f"t.{k}").eqNullSafe(F.col(f"d.{k}"))
            del_cond = c if del_cond is None else del_cond & c
        n_deleted = (
            target_subset.alias("t").join(dk, del_cond, "left_semi").count()
        )
        target_subset = target_subset.alias("t").join(dk, del_cond, "left_anti")

    # Alias-qualified references (F.col("t.x") / F.col("u.x")) — the
    # pruning semi-join gives target_subset and updates shared lineage,
    # so unqualified Column extraction would be ambiguous.
    class _Side:
        def __init__(self, prefix: str):
            self._p = prefix

        def __getitem__(self, c: str) -> Column:
            return F.col(f"{self._p}.{c}")

    t, u = _Side("t"), _Side("u")
    # Constant presence markers, not isNotNull on a key column: the join
    # is eqNullSafe, so NULL merge keys are legal — a row with a NULL
    # first key must still read as "present" on its side.
    joined = (
        target_subset.withColumn("__t_present", F.lit(True))
        .alias("t")
        .join(
            updates.withColumn("__u_present", F.lit(True)).alias("u"),
            [t[k].eqNullSafe(u[k]) for k in key_cols],
            "full_outer",
        )
    )

    u_present = u["__u_present"].isNotNull()
    t_present = t["__t_present"].isNotNull()

    out_cols: list[Column] = []
    target_cols = target.columns
    for c in target_cols:
        if c in key_cols:
            expr = F.coalesce(u[c], t[c])
        elif c in matched_set or c in not_matched_set:
            on_match = matched_set.get(c, u[c] if c in updates.columns else t[c])
            on_insert = not_matched_set.get(c, u[c] if c in updates.columns else F.lit(None))
            if callable(on_match):
                on_match = on_match(t, u)
            if callable(on_insert):
                on_insert = on_insert(t, u)
            expr = (
                F.when(u_present & t_present, on_match)
                .when(u_present, on_insert)
                .otherwise(t[c])
            )
        elif c in update_cols and c in updates.columns:
            expr = F.when(u_present, u[c]).otherwise(t[c])
        else:
            expr = t[c]
        out_cols.append(expr.alias(c))

    # Schema evolution (add-nullable): update columns the target has
    # never seen are unioned into the rewritten partitions; rows coming
    # from the target side read NULL. Untouched partitions are not
    # rewritten — their files stay byte-identical and the declared-
    # schema (or mergeSchema) read fills the column with NULL.
    for c in updates.columns:
        if c not in target_cols:
            out_cols.append(F.when(u_present, u[c]).alias(c))

    merged = joined.select(*out_cols)

    # Stats before the rewrite (counts force one extra pass; cheap
    # relative to the write and required for lineage reporting).
    n_updates = updates.count()
    n_matched = target_subset.alias("t").join(
        updates.alias("u"), [t[k].eqNullSafe(u[k]) for k in key_cols], "left_semi"
    ).count()
    n_inserted = n_updates - n_matched

    if sort_within_partitions:
        merged = merged.sortWithinPartitions(*sort_within_partitions)

    # Partitions a delete EMPTIED need explicit removal: both landing
    # paths replace only partitions PRESENT in the written data, so an
    # all-rows-deleted partition would otherwise keep its stale files
    # (the deletes would silently resurface). The affected-value set is
    # metadata-sized (it pruned the rewrite); partitions still holding
    # rows are read from the staged write, and the difference — compared
    # on Spark's own escaped ``col=value`` dir naming — is dropped in
    # the same commit (atomic) or removed after the landing (plain).
    affected_dirs: set[str] = set()
    if delete_keys is not None and partition_col and not converting:
        # Materialize the affected VALUES through Spark's own partition
        # dir naming (escaping included) via a tiny partitioned write —
        # metadata-sized, and immune to value-formatting drift.
        probe_dir = f"{path.rstrip('/')}__partprobe_{uuid.uuid4().hex[:8]}"
        try:
            affected.withColumn("__x", F.lit(1)).write.mode(
                "overwrite"
            ).partitionBy(partition_col).parquet(probe_dir)
            affected_dirs = {
                d
                for d in os.listdir(probe_dir)
                if d.startswith(f"{partition_col}=")
            }
        finally:
            shutil.rmtree(probe_dir, ignore_errors=True)

    if land_atomic:
        table = AtomicParquetTable(
            spark, path, partition_col, **(atomic_options or {})
        )
        if partition_col and not converting:
            # Only the pruned+merged partitions are in `merged`; the
            # commit repoints exactly those — and drops any affected
            # partition the staged data did NOT re-create (emptied by
            # deletes) — atomically.
            table.overwrite_partitions(merged, drop=sorted(affected_dirs))
        else:
            table.overwrite(merged)
        if converting:
            _remove_plain_layout(path)
    else:
        landed = _rewrite_partitions(spark, merged, path, partition_col)
        if partition_col:
            for pkey in sorted(affected_dirs - set(landed)):
                shutil.rmtree(os.path.join(path, pkey), ignore_errors=True)
            if affected_dirs - set(landed):
                spark.catalog.refreshByPath(path)
    # A tombstone batch can empty the TABLE: no parquet files (plain)
    # or a zero-partition manifest (atomic) — a read would fail on
    # schema inference, so report 0 directly.
    if land_atomic:
        from meteo_etl_spark.operators.atomic import load_manifest

        m_after = load_manifest(path)
        emptied_out = (
            m_after.get("partition_col") is not None
            and not m_after.get("partitions")
        )
    else:
        emptied_out = not table_exists(spark, path)
    total = 0 if emptied_out else read_table(spark, path).count()
    return MergeStats(
        inserted=n_inserted,
        updated=n_matched,
        target_rows=total,
        deleted=n_deleted,
    )


def _remove_plain_layout(path: str) -> None:
    """After converting a plain table to atomic layout, drop the old
    plain data files/dirs (everything that is not a generation dir or
    the manifest). Runs AFTER the manifest flip, so a crash here leaves
    only invisible-to-read_table leftovers; re-running any later
    conversion or a manual cleanup is safe."""
    for d in os.listdir(path):
        if d.startswith("gen-") or d.startswith("_MANIFEST"):
            continue
        full = os.path.join(path, d)
        if os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        else:
            os.unlink(full)


def _write(df: DataFrame, path: str, partition_col: str | None) -> int:
    writer = df.write.mode("append")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.parquet(path)
    return df.sparkSession.read.parquet(path).count()


def _rename_all(moves: list[tuple[str, str]]) -> None:
    """Apply the renames in order. On a failure, undo the ones already
    done (newest first) and re-raise, so a failed landing leaves the
    table as it was instead of losing the data moved aside."""
    done: list[tuple[str, str]] = []
    try:
        for src, dst in moves:
            os.replace(src, dst)
            done.append((src, dst))
    except OSError:
        for src, dst in reversed(done):
            os.replace(dst, src)
        raise


def _rewrite_partitions(
    spark: SparkSession, merged: DataFrame, path: str, partition_col: str | None
) -> list[str]:
    """Stage the merged rows beside the table, then land the staged
    files as written, by renames. Returns the staged partition dir
    names (``col=value``); an all-rows-empty merge stages nothing and
    lands nothing (the caller removes partitions a delete emptied —
    only partitions present in the staged data are replaced).

    Partitioned: each staged ``col=value`` dir replaces the table's dir
    of that name by two renames (the old dir moves aside into the
    staging dir, the staged one moves in); partitions the batch did not
    touch keep their files. Unpartitioned: every entry of the table
    moves aside, then the staged files move in. Moving the files,
    rather than reading the staging dir back and writing it again
    (which packs small files into scan splits), keeps the file count
    and row-to-file layout the caller built: compaction's file sizing
    and Z-order clustering, ``sort_within_partitions``. The replaced
    data sits in the staging dir, outside the table, until the staging
    dir is removed; a failed rename undoes the landing (``_rename_all``).
    Each partition swap is its own commit: a reader
    listing the table mid-landing can see some partitions old and some
    new, or miss the one being swapped; ``atomic=True`` is the
    multi-partition commit."""
    staging = f"{path.rstrip('/')}__staging_{uuid.uuid4().hex[:8]}"
    try:
        w = merged.write.mode("overwrite")
        if partition_col:
            w = w.partitionBy(partition_col)
        w.parquet(staging)

        staged_parts = (
            [
                d
                for d in os.listdir(staging)
                if d.startswith(f"{partition_col}=")
            ]
            if partition_col
            else []
        )
        has_files = any(
            f.endswith(".parquet")
            for _r, _d, files in os.walk(staging)
            for f in files
        )
        if not has_files:
            return staged_parts

        aside = os.path.join(staging, "_replaced")
        moves: list[tuple[str, str]] = []
        if partition_col:
            for d in staged_parts:
                target = os.path.join(path, d)
                if os.path.exists(target):
                    moves.append((target, os.path.join(aside, d)))
                moves.append((os.path.join(staging, d), target))
        else:
            moves = [
                (os.path.join(path, e), os.path.join(aside, e))
                for e in os.listdir(path)
            ] + [
                (os.path.join(staging, e), os.path.join(path, e))
                for e in os.listdir(staging)
            ]
        os.mkdir(aside)
        _rename_all(moves)
        # Spark's shared file-status cache may still list the replaced
        # files; invalidate so subsequent scans see the rewrite.
        spark.catalog.refreshByPath(path)
        return staged_parts
    finally:
        shutil.rmtree(staging, ignore_errors=True)
