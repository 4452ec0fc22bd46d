"""Small-file compaction for partitioned parquet tables.

Streaming triggers and per-fetch batch merges leave many small files
per partition (the classic streaming-lake pathology: at 100 TB, file
listing and task scheduling start to dominate scan time). Compaction
rewrites each touched partition into ~``target_file_bytes`` files,
preserving rows exactly — the maintenance job a table format (Delta
OPTIMIZE / Iceberg rewrite_data_files) runs; here it is explicit and
lands through the same commit paths as the merge (operators/upsert.py).
On a plain table the rewrite is staged beside the table and each
partition dir is swapped in by two renames, so the staged files land
as written, but a reader listing the table mid-landing can see some
partitions compacted and others not; only an ``atomic=True`` table
commits several partitions at once (one manifest flip).

Partition selection: by default only partitions whose file count
exceeds ``min_files_to_compact`` are rewritten — an incremental
OPTIMIZE, not a full-table rewrite.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from meteo_etl_spark.errors import LoadError
from meteo_etl_spark.operators.atomic import (
    AtomicParquetTable,
    is_atomic_table,
    load_manifest,
)
from meteo_etl_spark.operators.upsert import _rewrite_partitions, table_exists


@dataclass
class CompactStats:
    partitions_compacted: int
    files_before: int
    files_after: int


#: default expected distinct values per bloom-filtered column chunk —
#: sized for ~1M-row row groups of a unique key; parquet sizes the
#: bitset from this (1M NDV @ 1% fpp ≈ 1.2 MB per chunk).
BLOOM_NDV = 1_000_000


@contextmanager
def _bloom_write_conf(spark: SparkSession, cols: list[str], ndv: int):
    """Scope parquet bloom-filter writer properties to one rewrite.

    The engine's commit paths (plain staging dirs, atomic
    generations) write through the hadoop job conf, not a per-writer
    option chain — so the properties are set on the session's hadoop
    conf and unset afterward (single-driver engine; writes inside the
    scope are the compaction's own)."""
    conf = spark._jsc.hadoopConfiguration()
    try:
        for c in cols:
            conf.set(f"parquet.bloom.filter.enabled#{c}", "true")
            conf.set(f"parquet.bloom.filter.expected.ndv#{c}", str(ndv))
        yield
    finally:
        for c in cols:
            conf.unset(f"parquet.bloom.filter.enabled#{c}")
            conf.unset(f"parquet.bloom.filter.expected.ndv#{c}")


def bloom_filter_offset(spark: SparkSession, parquet_file: str, column: str) -> int:
    """Footer probe: the bloom-filter offset of ``column``'s first
    column chunk in ``parquet_file`` (-1 = no filter written). Reads
    the footer through parquet-java (what Spark ships), the same
    metadata the scan's row-group skipping consults."""
    jvm = spark._jvm
    hp = jvm.org.apache.hadoop.fs.Path(parquet_file)
    inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        hp, spark._jsc.hadoopConfiguration()
    )
    rd = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
    try:
        for rg in rd.getRowGroups():
            for col in rg.getColumns():
                if col.getPath().toDotString() == column:
                    return col.getBloomFilterOffset()
        raise ValueError(f"column {column!r} not found in {parquet_file}")
    finally:
        rd.close()


def _partition_files(path: str, partition_col: str | None) -> dict[str, list[str]]:
    """partition-dir (or '' for unpartitioned) -> parquet file paths.

    For an atomic-manifest table, only files the manifest references
    count (orphaned generations awaiting vacuum are not fragmentation).
    """
    if is_atomic_table(path):
        m = load_manifest(path)
        out: dict[str, list[str]] = {}
        dirs = (
            {p: os.path.join(path, gen, p) for p, gen in m["partitions"].items()}
            if m["partition_col"]
            else {"": os.path.join(path, m["data"])}
        )
        for key, d in dirs.items():
            out[key] = [
                os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
            ]
        return out
    out: dict[str, list[str]] = {}
    for root, _dirs, files in os.walk(path):
        parquet = [f for f in files if f.endswith(".parquet")]
        if not parquet:
            continue
        rel = os.path.relpath(root, path)
        key = "" if rel == "." else rel
        out.setdefault(key, []).extend(os.path.join(root, f) for f in parquet)
    return out


def _zorder_layout(subset, cols, n_files, partition_col):
    """Range layout along (partition, Morton value): each output file
    is a contiguous curve segment, so every z column's per-file
    min-max is tight (the pruning contract zorder.py tests)."""
    from meteo_etl_spark.operators.zorder import Z_COL, zorder_values

    z = zorder_values(subset, list(cols))
    keys = ([partition_col] if partition_col else []) + [Z_COL]
    return (
        z.repartitionByRange(n_files, *keys)
        .sortWithinPartitions(*keys)
        .drop(Z_COL)
    )


#: z-grid subdivisions per hive partition for the byte-sized z layout;
#: per-partition file-count granularity is bounded by this (a partition
#: gets at most this many files per layout call).
ZORDER_PART_GRID = 128


def _zorder_layout_partitioned(subset, cols, per_part_files, partition_col):
    """Per-partition-value z layout honoring each partition's OWN byte-
    derived file count. A single global ``repartitionByRange(total,
    partition, z)`` allocates range buckets in proportion to SAMPLED
    ROW density, which drifts from ``target_file_bytes`` when row sizes
    differ across partitions or the sampler under-sees a skewed one.
    Here each partition value gets exactly ``per_part_files[value]``
    files (capped by the grid granularity):

    1. one sketch pass computes per-partition z-quantiles at a fixed
       grid (``percentile_approx`` — map-side-combining, one scan; the
       broadcastable result is n_partitions × grid doubles, metadata
       not data);
    2. every row maps to ``file_idx = offset(partition) +
       floor(grid_cell · n_p / G)`` — a codegen'd expression over the
       broadcast boundaries;
    3. one range exchange on (file_idx, z) lands each file as a
       contiguous curve segment of its own partition.
    """
    from meteo_etl_spark.operators.zorder import Z_COL, zorder_values

    grid = max(ZORDER_PART_GRID, min(4096, 2 * max(per_part_files.values())))
    z = zorder_values(subset, list(cols))
    pcol = F.col(partition_col).cast("string")
    fracs = [i / grid for i in range(1, grid)]
    bnds = z.groupBy(pcol.alias("__p")).agg(
        F.percentile_approx(Z_COL, fracs, 10000).alias("__b")
    )
    values = sorted(per_part_files)
    offsets, acc = {}, 0
    for v in values:
        offsets[v] = acc
        acc += min(per_part_files[v], grid)
    off_expr, np_expr = None, None
    for v in values:
        cond = pcol == v
        n_p = min(per_part_files[v], grid)
        off_expr = (
            F.when(cond, offsets[v])
            if off_expr is None
            else off_expr.when(cond, offsets[v])
        )
        np_expr = (
            F.when(cond, n_p) if np_expr is None else np_expr.when(cond, n_p)
        )
    cell = F.size(F.filter(F.col("__b"), lambda b: b <= F.col(Z_COL)))
    fidx = (
        off_expr.otherwise(F.lit(0))
        + F.floor(cell * np_expr.otherwise(F.lit(1)) / F.lit(grid))
    ).cast("long")
    return (
        z.join(F.broadcast(bnds), pcol == F.col("__p"))
        .withColumn("__fidx", fidx)
        .repartitionByRange(max(1, acc), "__fidx", Z_COL)
        .sortWithinPartitions("__fidx", Z_COL)
        .drop(Z_COL, "__p", "__b", "__fidx")
    )


def compact_table(
    spark: SparkSession,
    path: str,
    *,
    partition_col: str | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
    vacuum: bool = False,
    atomic_options: dict | None = None,
    zorder_cols: list[str] | None = None,
    bloom_filter_cols: list[str] | None = None,
    bloom_filter_ndv: int = BLOOM_NDV,
) -> CompactStats:
    """Rewrite fragmented partitions into ~target-sized files.

    ``zorder_cols`` (2-8 numeric columns) additionally CLUSTERS the
    rewrite along the Morton curve (operators/zorder.py): instead of a
    hash spread, rows range-partition on (partition, z-value) and sort
    within files, so every listed column gets tight per-file min-max
    stats and predicates on any of them prune after the OPTIMIZE —
    Delta's ``OPTIMIZE ZORDER BY`` composed with this command's
    atomic-commit semantics. Same file-count sizing; the clustering
    replaces only the row-to-file assignment.

    ``bloom_filter_cols`` writes a parquet BLOOM FILTER for each listed
    column on the rewritten files (sized by ``bloom_filter_ndv``): the
    data-skipping structure for POINT lookups on high-cardinality keys
    (doc_id, event_id), where min-max stats — even z-ordered — cannot
    prune because every file spans the full key range. An equality
    probe then skips row groups whose filter rules the key out, at
    ~1.2 MB footer cost per chunk. Complements zorder_cols (range
    predicates) — list the same key in both for range+point pruning.

    Rows are preserved exactly (count-verified); only partitions with
    more than ``min_files_to_compact`` files are touched. Supports a
    single partition column (the engine's layouts — obs_date — are
    single-level; multi-level layouts would need hierarchical
    partition-value parsing here).

    On an atomic table, compaction is only a commit: superseded
    generations stay on disk (snapshot isolation for in-flight readers,
    time travel intact) until an explicit vacuum. ``vacuum=True`` runs
    ``table.vacuum()`` after the commit for single-writer maintenance
    jobs that want immediate reclamation — it truncates time-travel
    history to the new version and requires the vacuum reader contract
    (no reader older than the last commit still running).
    """
    if not table_exists(spark, path):
        return CompactStats(0, 0, 0)

    by_part = _partition_files(path, partition_col)
    fragmented = {
        p: files for p, files in by_part.items() if len(files) > min_files_to_compact
    }
    files_before = sum(len(f) for f in by_part.values())
    if not fragmented:
        return CompactStats(0, files_before, files_before)

    atomic = is_atomic_table(path)
    table = (
        AtomicParquetTable(spark, path, partition_col, **(atomic_options or {}))
        if atomic
        else None
    )
    df = table.read() if atomic else spark.read.parquet(path)
    if partition_col:
        # Prune the rewrite to the fragmented partitions only.
        values = [p.split("=", 1)[1] for p in fragmented if "=" in p]
        subset = df.filter(F.col(partition_col).cast("string").isin(values))
    else:
        subset = df
    n_before = subset.count()

    if partition_col:
        # Size file counts PER partition, and spread each partition's
        # rows over that many salt values: repartitioning on the
        # partition column alone would hash every row of one partition
        # into a single task/file, ignoring target_file_bytes for a
        # large fragmented partition.
        per_part_files = {
            p.split("=", 1)[1]: max(
                1,
                round(sum(os.path.getsize(f) for f in files) / target_file_bytes),
            )
            for p, files in fragmented.items()
            if "=" in p
        }
        if not per_part_files:
            # No 'key=value' dirs parsed (layout isn't hive-style for
            # this column) — fall back to a plain size-based rewrite
            # rather than building an empty CASE expression. A
            # requested z-order still applies: dropping it silently
            # would leave the caller believing the table is clustered.
            bytes_total = sum(
                os.path.getsize(f) for files in fragmented.values() for f in files
            )
            n_fb = max(1, round(bytes_total / target_file_bytes))
            if zorder_cols:
                compacted = _zorder_layout(subset, zorder_cols, n_fb, None)
            else:
                compacted = subset.repartition(n_fb)
        else:
            n_expr = None
            for v, n in per_part_files.items():
                cond = F.col(partition_col).cast("string") == v
                n_expr = F.when(cond, n) if n_expr is None else n_expr.when(cond, n)
            # Salt only on hashable column types: xxhash64 raises on
            # MapType, and duplicate-heavy partitions would collapse to
            # one salt anyway if rows are identical. If nothing usable
            # remains, a uniform random salt still spreads the rows.
            hashable = [
                f.name
                for f in subset.schema.fields
                if f.dataType.typeName() not in ("map",)
            ]
            row_hash = (
                F.xxhash64(*[F.col(c) for c in hashable], F.rand(seed=7) * 1e9)
                if hashable
                else (F.rand(seed=7) * 1e9).cast("long")
            )
            salt = F.pmod(row_hash, n_expr.otherwise(F.lit(1)))
            total_files = sum(per_part_files.values())
            if zorder_cols:
                compacted = _zorder_layout_partitioned(
                    subset, zorder_cols, per_part_files, partition_col
                )
            else:
                compacted = (
                    subset.withColumn("__csalt", salt)
                    .repartition(max(1, total_files), partition_col, "__csalt")
                    .drop("__csalt")
                )
    else:
        bytes_total = sum(
            os.path.getsize(f) for files in fragmented.values() for f in files
        )
        n_files = max(1, round(bytes_total / target_file_bytes))
        if zorder_cols:
            compacted = _zorder_layout(subset, zorder_cols, n_files, None)
        else:
            compacted = subset.repartition(n_files)

    with _bloom_write_conf(spark, bloom_filter_cols or [], bloom_filter_ndv):
        if atomic:
            # Same commit path as the merge: stage a fresh generation for
            # exactly the fragmented partitions and flip the manifest.
            # Readers never see a partial rewrite — OPTIMIZE with snapshot
            # isolation. Superseded generations are NOT collected here by
            # default: an in-flight reader of the previous version must
            # keep its snapshot, and OPTIMIZE must not silently wipe
            # time-travel history (collection is vacuum's job).
            if partition_col:
                table.overwrite_partitions(compacted)
            else:
                table.overwrite(compacted)
            if vacuum:
                table.vacuum()
        else:
            _rewrite_partitions(spark, compacted, path, partition_col)

    reread = table.read() if atomic else spark.read.parquet(path)
    n_after = (
        reread.filter(F.col(partition_col).cast("string").isin(values)).count()
        if partition_col
        else reread.count()
    )
    if n_after != n_before:
        raise LoadError(f"compaction changed row count: {n_before} -> {n_after}")

    files_after = sum(len(f) for f in _partition_files(path, partition_col).values())
    return CompactStats(
        partitions_compacted=len(fragmented),
        files_before=files_before,
        files_after=files_after,
    )
