"""Compaction: fragmented partitions collapse to few files, rows and
values preserved exactly, untouched partitions left alone."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from meteo_etl_spark.operators.compact import compact_table


def _parquet_files(path):
    return [
        os.path.join(r, f)
        for r, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]


def test_compact_partitioned(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(0, 1000).withColumn("p", (F.col("id") % 3).cast("string"))
    # fragment: 10 appends -> ~30 files across 3 partitions
    for i in range(10):
        df.filter((F.col("id") >= i * 100) & (F.col("id") < (i + 1) * 100)).write.mode(
            "append"
        ).partitionBy("p").parquet(path)
    before = spark.read.parquet(path)
    rows_before = sorted(r.id for r in before.collect())
    n_files_before = len(_parquet_files(path))
    assert n_files_before >= 30

    stats = compact_table(spark, path, partition_col="p")

    assert stats.partitions_compacted == 3
    assert stats.files_after < stats.files_before == n_files_before
    after = spark.read.parquet(path)
    assert sorted(r.id for r in after.collect()) == rows_before
    assert len(_parquet_files(path)) == stats.files_after <= 6


def test_compact_skips_healthy_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(0, 100).repartition(2).withColumn("p", F.lit("a")).write.partitionBy(
        "p"
    ).parquet(path)
    stats = compact_table(spark, path, partition_col="p", min_files_to_compact=4)
    assert stats.partitions_compacted == 0
    assert stats.files_before == stats.files_after


def test_compact_unpartitioned(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(5):
        spark.range(i * 10, (i + 1) * 10).write.mode("append").parquet(path)
    stats = compact_table(spark, path)
    assert stats.partitions_compacted == 1
    after = spark.read.parquet(path)
    assert after.count() == 50
    assert stats.files_after < stats.files_before


def test_compact_honors_target_bytes_for_one_big_partition(spark, tmp_path):
    """A single fragmented partition must split across multiple files
    sized by target_file_bytes — not collapse into one giant file
    (the partition-column-only repartition pathology)."""
    path = str(tmp_path / "t")
    df = spark.range(0, 20000).withColumn("p", F.lit("hot")).withColumn(
        "pad", F.repeat(F.lit("x"), 100)
    )
    for i in range(8):
        df.filter((F.col("id") % 8) == i).write.mode("append").partitionBy(
            "p"
        ).parquet(path)
    n_before = len(_parquet_files(path))
    assert n_before >= 8
    bytes_total = sum(os.path.getsize(f) for f in _parquet_files(path))
    # Target ~quarter of the partition's bytes -> expect ~4 output files.
    stats = compact_table(
        spark, path, partition_col="p", target_file_bytes=bytes_total // 4
    )
    assert stats.partitions_compacted == 1
    n_after = len(_parquet_files(path))
    assert 2 <= n_after < n_before
    assert spark.read.parquet(path).count() == 20000


def test_compact_unpartitioned_honors_target_bytes(spark, tmp_path):
    """An unpartitioned rewrite lands the file count it computed,
    round(bytes / target_file_bytes) — the staged files are moved into
    the table, not read back and rewritten one file per scan split."""
    path = str(tmp_path / "t")
    df = spark.range(0, 20000).withColumn("pad", F.repeat(F.lit("x"), 100))
    for i in range(8):
        df.filter((F.col("id") % 8) == i).write.mode("append").parquet(path)
    n_before = len(_parquet_files(path))
    bytes_total = sum(os.path.getsize(f) for f in _parquet_files(path))
    target = bytes_total // 10

    stats = compact_table(spark, path, target_file_bytes=target)

    assert stats.files_before == n_before
    assert stats.files_after == round(bytes_total / target)
    assert len(_parquet_files(path)) == stats.files_after
    assert spark.read.parquet(path).count() == 20000


def _table_entries_are_layout(path, partition_col=None):
    """Every entry of a plain table dir is a data file, a partition dir
    or Spark's own bookkeeping (_SUCCESS marker, .crc checksums)."""
    for e in os.listdir(path):
        full = os.path.join(path, e)
        if os.path.isdir(full):
            assert partition_col and e.startswith(f"{partition_col}="), e
        else:
            assert e.endswith((".parquet", ".crc")) or e == "_SUCCESS", e


def test_plain_landing_leaves_nothing_behind(spark, tmp_path):
    """A plain merge and a plain compaction leave no staging dir beside
    the table, no stray entry in it, and the files of a partition the
    batch did not touch unchanged."""
    from meteo_etl_spark.operators.upsert import merge_parquet

    part = str(tmp_path / "part")
    base = spark.createDataFrame(
        [(k, float(k), "abc"[k % 3]) for k in range(30)], "k int, v double, p string"
    )
    base.write.partitionBy("p").parquet(part)
    untouched = sorted(os.listdir(os.path.join(part, "p=b")))
    upd = spark.createDataFrame(
        [(0, -1.0, "a"), (3, -3.0, "a"), (99, 9.0, "a")], "k int, v double, p string"
    )
    stats = merge_parquet(spark, part, upd, ["k"], partition_col="p")
    assert (stats.inserted, stats.updated, stats.target_rows) == (1, 2, 31)
    assert sorted(os.listdir(os.path.join(part, "p=b"))) == untouched
    _table_entries_are_layout(part, "p")

    flat = str(tmp_path / "flat")
    for i in range(5):
        spark.range(i * 10, (i + 1) * 10).write.mode("append").parquet(flat)
    compact_table(spark, flat)
    assert spark.read.parquet(flat).count() == 50
    _table_entries_are_layout(flat)

    assert sorted(os.listdir(tmp_path)) == ["flat", "part"]


def test_failed_plain_landing_restores_the_table(spark, tmp_path, monkeypatch):
    """A rename that fails after the table's files moved aside undoes
    the landing: the table keeps its old files and rows, and the
    staging dir (which held them) is gone."""
    path = str(tmp_path / "t")
    for i in range(5):
        spark.range(i * 10, (i + 1) * 10).write.mode("append").parquet(path)
    before = sorted(os.listdir(path))
    real_replace = os.replace
    failed = []

    def replace_failing_first_move_in(src, dst):
        if "__staging_" in src and not failed:
            failed.append(src)
            raise OSError("injected rename failure")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace_failing_first_move_in)
    with pytest.raises(OSError, match="injected"):
        compact_table(spark, path)
    monkeypatch.undo()

    assert failed
    assert sorted(os.listdir(path)) == before
    assert spark.read.parquet(path).count() == 50
    assert os.listdir(tmp_path) == ["t"]


def test_compact_atomic_table_consolidates_generations(spark, tmp_path):
    """Fragmented generations of an atomic table: compaction rewrites
    the fragmented partitions as ONE fresh generation via the same
    atomic flip, then vacuums the superseded ones. Rows and snapshot
    isolation are preserved."""
    from meteo_etl_spark.operators.atomic import (
        AtomicParquetTable,
        is_atomic_table,
        read_table,
    )

    path = str(tmp_path / "t")
    t = AtomicParquetTable(spark, path, partition_col="p")
    base = spark.createDataFrame(
        [(j, f"v{j}", "hot" if j % 2 == 0 else "cold") for j in range(60)],
        ["k", "v", "p"],
    )
    # 6 files per partition in gen 1; hot repointed to a 4-file gen 2
    t.overwrite(base.repartition(6))
    t.overwrite_partitions(
        base.filter(F.col("p") == "hot").withColumn("v", F.upper("v")).repartition(4)
    )
    before = {(r.k, r.v, r.p) for r in read_table(spark, path).collect()}
    assert len(before) == 60
    gens_before = len([d for d in os.listdir(path) if d.startswith("gen-")])
    assert gens_before == 2

    stats = compact_table(
        spark, path, partition_col="p", min_files_to_compact=1, vacuum=True
    )
    assert stats.partitions_compacted == 2
    assert stats.files_after < stats.files_before
    # still an atomic table, same rows, superseded generations collected
    # (vacuum=True: explicit single-writer maintenance-job reclamation)
    assert is_atomic_table(path)
    assert {(r.k, r.v, r.p) for r in read_table(spark, path).collect()} == before
    gens_after = len([d for d in os.listdir(path) if d.startswith("gen-")])
    assert gens_after == 1


def test_compact_atomic_default_preserves_reader_snapshots_and_history(
    spark, tmp_path
):
    """Default compaction (no vacuum) is ONLY a commit: an in-flight
    reader resolved before OPTIMIZE still collects its snapshot, and
    time travel to the pre-compaction version still works — the exact
    scenario auto-vacuum used to break."""
    from meteo_etl_spark.operators.atomic import AtomicParquetTable, read_table

    path = str(tmp_path / "t")
    t = AtomicParquetTable(spark, path, partition_col="p")
    base = spark.createDataFrame(
        [(j, f"v{j}", "a" if j % 2 == 0 else "b") for j in range(40)],
        ["k", "v", "p"],
    )
    t.overwrite(base.repartition(5))                      # v1, fragmented
    rows = {(r.k, r.v, r.p) for r in read_table(spark, path).collect()}
    inflight = t.read()                                   # resolves v1 files

    stats = compact_table(spark, path, partition_col="p", min_files_to_compact=1)
    assert stats.partitions_compacted == 2

    # in-flight reader still completes against the superseded generation
    assert {(r.k, r.v, r.p) for r in inflight.collect()} == rows
    # history intact: both versions readable, new snapshot identical
    assert t.versions() == [1, 2]
    assert {(r.k, r.v, r.p) for r in t.read(version=1).collect()} == rows
    assert {(r.k, r.v, r.p) for r in read_table(spark, path).collect()} == rows


def test_zorder_partitioned_honors_per_partition_file_counts(spark, tmp_path):
    """The hive-partitioned z-order path sizes files from EACH
    partition's own bytes (per-partition quantile grid), not a global
    range sample: a partition 8x larger than its sibling must get
    proportionally more files, and rows must never cross partition
    values."""
    path = str(tmp_path / "tz")
    big = (
        spark.range(0, 8000)
        .withColumn("p", F.lit("big"))
        .withColumn("x", (F.col("id") * 37 % 1000).cast("long"))
        .withColumn("y", (F.col("id") * 91 % 1000).cast("long"))
    )
    small = (
        spark.range(8000, 9000)
        .withColumn("p", F.lit("small"))
        .withColumn("x", (F.col("id") * 37 % 1000).cast("long"))
        .withColumn("y", (F.col("id") * 91 % 1000).cast("long"))
    )
    for chunk in range(4):  # fragment both partitions
        big.filter(F.col("id") % 4 == chunk).unionByName(
            small.filter(F.col("id") % 4 == chunk)
        ).write.mode("append").partitionBy("p").parquet(path)
    rows_before = sorted(
        (r.id, r.p) for r in spark.read.parquet(path).select("id", "p").collect()
    )
    # target sized so big wants ~4 files and small ~1
    big_bytes = sum(
        os.path.getsize(f) for f in _parquet_files(path) if "p=big" in f
    )
    stats = compact_table(
        spark,
        path,
        partition_col="p",
        target_file_bytes=max(1, big_bytes // 4),
        zorder_cols=["x", "y"],
    )
    assert stats.partitions_compacted == 2
    after_big = [f for f in _parquet_files(path) if "p=big" in f]
    after_small = [f for f in _parquet_files(path) if "p=small" in f]
    assert len(after_big) >= 2 * len(after_small), (after_big, after_small)
    after = spark.read.parquet(path)
    assert sorted((r.id, r.p) for r in after.select("id", "p").collect()) == rows_before
    # z-clustering held per file: x min-max spans are narrower than global
    import pyarrow.parquet as pq

    spans = []
    for f in after_big:
        md = pq.ParquetFile(f).metadata
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.row_group(0).num_columns)
        }
        st = md.row_group(0).column(cols["x"]).statistics
        spans.append(st.max - st.min)
    assert min(spans) < 1000, spans  # at least one tight file


def test_compact_writes_bloom_filters_when_asked(spark, tmp_path):
    """bloom_filter_cols: every rewritten file carries a bloom filter
    on the listed column (footer-verified via parquet-java — the same
    metadata the scan's row-group skip consults); without the option
    no filter is written, and the session conf is left clean."""
    from meteo_etl_spark.operators.compact import bloom_filter_offset

    path = str(tmp_path / "t")
    df = spark.range(0, 3000).withColumn("p", (F.col("id") % 2).cast("string"))
    for i in range(3):
        df.filter(F.col("id") % 3 == i).write.mode("append").partitionBy(
            "p"
        ).parquet(path)

    compact_table(spark, path, partition_col="p", bloom_filter_cols=["id"])
    files = _parquet_files(path)
    assert files
    assert all(bloom_filter_offset(spark, f, "id") >= 0 for f in files)

    # conf restored: a plain write after compaction carries no filter
    plain = str(tmp_path / "plain")
    spark.range(100).write.parquet(plain)
    assert all(
        bloom_filter_offset(spark, f, "id") == -1 for f in _parquet_files(plain)
    )


def test_compact_without_bloom_leaves_no_filters(spark, tmp_path):
    from meteo_etl_spark.operators.compact import bloom_filter_offset

    path = str(tmp_path / "t")
    df = spark.range(0, 1000)
    for i in range(3):
        df.filter(F.col("id") % 3 == i).write.mode("append").parquet(path)
    compact_table(spark, path)
    assert all(
        bloom_filter_offset(spark, f, "id") == -1 for f in _parquet_files(path)
    )
