"""CLI surface (reference `etl/cli.py` + `streaming/cli.py`).

argparse-based (typer/rich are not in this image) with the same
command set and semantics:

- ``fetch``             — extract + transform, print records (S9 sink:
  pretty ``show()`` or JSON lines — reference `etl/cli.py:51-56`).
- ``fetch-and-store``   — the batch ETL lifecycle (reference
  `etl/cli.py:60-80`).
- ``fetch-and-publish`` — bronze strategy + event publish (reference
  `streaming/cli.py:28-61`).
- ``consume-fetch-events`` — bounded/continuous consumer (reference
  `streaming/cli.py:64-77`).
- ``dashboard``         — the analytics tiles (reference
  `dashboard/streamlit_app.py:53-87`) printed to stdout.
- ``migrate-control``   — convert a lake control table from the earlier
  Spark-written layout (``pipeline/control_migrate``).

T10: repeatable ``-p key=value`` params parsed with the reference's
partition-split validation (`etl/cli.py:21-28`).
"""

from __future__ import annotations

import argparse
import sys
from typing import Sequence

from meteo_etl_spark.errors import TransformError


def parse_cli_params(params: Sequence[str]) -> dict[str, str]:
    """T10: `"k=v"` strings → dict; malformed input raises (reference
    `etl/cli.py:21-28` — typer.BadParameter → TransformError here)."""
    out: dict[str, str] = {}
    for p in params:
        key, sep, value = p.partition("=")
        if not key or sep == "":
            raise TransformError(f"Invalid parameter {p!r}, expected <key>=<value>")
        out[key] = value
    return out


def _build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="meteo-etl-spark",
        description="PySpark-native weather ETL (reference-parity CLI)",
    )
    ap.add_argument("--warehouse", default="./warehouse", help="warehouse root dir")
    ap.add_argument(
        "--atomic", action="store_true",
        help="land the silver table through the crash-atomic manifest layout",
    )
    ap.add_argument(
        "--atomic-single-writer", action="store_true",
        help="with --atomic on a plain object store (s3a://...): skip the "
        "filesystem commit arbiter — the scheduler guarantees one writer "
        "per table (see operators/atomic; full racing-writer safety needs "
        "a LockIO commit store instead)",
    )
    ap.add_argument(
        "--control-jdbc-url", default=None,
        help="keep the fetch_metadata lifecycle in this database "
        "(the reference's Postgres deployment), e.g. jdbc:postgresql://... "
        "or jdbc:derby:/tmp/ctl;create=true",
    )
    ap.add_argument(
        "--observations-jdbc-url", default=None,
        help="keep the silver observations table in this database: "
        "merges run as database-side MERGE INTO and reads (incl. the "
        "dashboard) come back through the JDBC relation",
    )
    ap.add_argument(
        "--jdbc-dialect", default="merge", choices=("merge", "on_conflict"),
        help="upsert statement shape for database sinks: 'merge' "
        "(ANSI MERGE INTO — Derby, Postgres 15+) or 'on_conflict' "
        "(INSERT .. ON CONFLICT — Postgres <15, SQLite; the "
        "reference's own statement)",
    )
    sub = ap.add_subparsers(dest="command", required=True)

    def add_fetch_args(p: argparse.ArgumentParser) -> None:
        p.add_argument("--long", type=float, required=True, help="longitude")
        p.add_argument("--lat", type=float, required=True, help="latitude")
        p.add_argument("--source", default="meteo")
        p.add_argument(
            "-p", "--param", action="append", default=[], help="<key>=<value>"
        )

    f = sub.add_parser("fetch", help="extract + transform, print records")
    add_fetch_args(f)
    f.add_argument("--no-pretty", action="store_true", help="JSON lines instead of table")

    add_fetch_args(sub.add_parser("fetch-and-store", help="full batch ETL"))

    fp = sub.add_parser("fetch-and-publish", help="bronze + event publish")
    add_fetch_args(fp)
    fp.add_argument("--topic-dir", required=True)

    c = sub.add_parser("consume-fetch-events", help="run the consumer")
    c.add_argument("--topic-dir", required=True)
    c.add_argument("--checkpoint", required=True)
    c.add_argument("--dead-letter")
    c.add_argument(
        "--continuous", action="store_true",
        help="processing-time trigger instead of a bounded availableNow drain",
    )
    c.add_argument(
        "--jdbc-sink-url", default=None,
        help="merge observations into this database instead of the "
        "parquet warehouse (staged MERGE INTO per micro-batch)",
    )
    c.add_argument("--jdbc-sink-table", default="observations")

    sub.add_parser("dashboard", help="print the analytics tiles")
    sub.add_parser(
        "migrate-control",
        help="convert a lake control table from the earlier Spark-written "
        "layout to one file per job (run while no job writes it)",
    )

    o = sub.add_parser(
        "optimize", help="compact fragmented partitions (atomic-safe OPTIMIZE)"
    )
    o.add_argument("--path", required=True, help="table path (plain or atomic)")
    o.add_argument("--partition-col")
    o.add_argument("--target-file-mb", type=int, default=128)
    o.add_argument("--min-files", type=int, default=2)
    o.add_argument(
        "--vacuum", action="store_true",
        help="also collect superseded generations (truncates time travel; "
        "requires no in-flight readers older than the last commit)",
    )
    o.add_argument(
        "--zorder-by", default=None, metavar="COL,COL[,..]",
        help="cluster the rewrite along the Morton curve of these 2-8 "
        "numeric columns so predicates on any of them prune "
        "(OPTIMIZE ZORDER BY)",
    )
    o.add_argument(
        "--bloom-filter-by", default=None, metavar="COL[,COL..]",
        help="write parquet bloom filters for these columns on the "
        "rewritten files (point-lookup row-group skipping on "
        "high-cardinality keys)",
    )

    v = sub.add_parser(
        "vacuum", help="collect unreferenced generations of an atomic table"
    )
    v.add_argument("--path", required=True)
    v.add_argument("--retain-versions", type=int, default=1)
    v.add_argument(
        "--min-orphan-age-seconds", type=float, default=3600.0,
        help="never-referenced generations younger than this are kept "
        "(possible concurrent-writer staging); 0 asserts writer quiescence",
    )

    tg = sub.add_parser(
        "tag",
        help="named version refs on an atomic table: pin the live (or a "
        "given) version under a stable name; tagged versions survive "
        "vacuum — the dataset-release mechanism",
    )
    tg.add_argument("--path", required=True, help="atomic table path")
    tg.add_argument("--name", help="tag name (omit with --list)")
    tg.add_argument("--version", type=int, default=None, help="pin this version (default: live)")
    tg.add_argument("--replace", action="store_true", help="move an existing tag")
    tg.add_argument("--delete", action="store_true", help="delete the tag")
    tg.add_argument("--list", action="store_true", help="list tags")

    a = sub.add_parser(
        "analyze",
        help="one-pass table stats (rows, decoded widths, nulls, optional "
        "NDV) persisted as _table_stats.json — feeds the broadcast advisor",
    )
    a.add_argument("--path", required=True, help="table path (plain or atomic)")
    a.add_argument(
        "--ndv-by", default=None, metavar="COL[,COL..]",
        help="also estimate distinct counts (HLL++) for these columns",
    )

    tt = sub.add_parser(
        "tokenizer-train",
        help="train BPE merges over a parquet text column (one corpus "
        "scan; iterations run on the word histogram) and write the "
        "ranked merge table as JSON lines",
    )
    tt.add_argument("--path", required=True, help="parquet table with the text column")
    tt.add_argument("--text-col", default="text")
    tt.add_argument("--merges", type=int, default=256)
    tt.add_argument("--min-pair-count", type=int, default=2)
    tt.add_argument("--out", required=True, help="output path for merges.jsonl")

    ut = sub.add_parser(
        "unigram-train",
        help="train a unigram-LM (SentencePiece-style) tokenizer over a "
        "parquet text column (hard-EM on the word histogram, integer "
        "micro-nat costs) and write the model as JSON lines",
    )
    ut.add_argument("--path", required=True, help="parquet table with the text column")
    ut.add_argument("--text-col", default="text")
    ut.add_argument("--vocab-size", type=int, default=None)
    ut.add_argument("--out", required=True, help="output path for vocab.jsonl")

    cv = sub.add_parser(
        "convert",
        help="convert a table between file formats through the "
        "round-trip-safe seam (sources/formats.py); json/csv reads "
        "take their schema from --schema-like",
    )
    cv.add_argument("--src", required=True, help="input table path")
    cv.add_argument("--src-format", default="parquet")
    cv.add_argument("--dest", required=True, help="output table path")
    cv.add_argument("--dest-format", required=True)
    cv.add_argument(
        "--schema-like",
        default=None,
        help="parquet table whose schema governs a json/csv read",
    )
    cv.add_argument(
        "--partition-by", default=None, metavar="COL[,COL..]",
    )

    ac = sub.add_parser(
        "ann-compact",
        help="fold a streaming-ingested ANN index's batch=<id> "
        "generations into one consolidated generation (run at a "
        "stream-quiescent point; crash-safe plan sidecar + idempotent "
        "recovery; the newest real batch is never folded)",
    )
    ac.add_argument("--path", required=True, help="persisted ANN index path")

    ad = sub.add_parser(
        "ann-delete",
        help="tombstone-delete vector ids from a persisted ANN index "
        "(O(deletes) append; suppressed from serving at the next "
        "query, physically removed at the next ann-compact fold)",
    )
    ad.add_argument("--path", required=True, help="persisted ANN index path")
    ad.add_argument(
        "--ids", required=True, help="comma-separated vector ids"
    )
    return ap


def main(argv: Sequence[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    from meteo_etl_spark.pipeline.warehouse import Warehouse
    from meteo_etl_spark.session import get_spark

    spark = get_spark("meteo-etl-spark-cli")
    wh = Warehouse(
        root=args.warehouse,
        atomic=args.atomic,
        control_jdbc_url=args.control_jdbc_url,
        observations_jdbc_url=args.observations_jdbc_url,
        jdbc_dialect=args.jdbc_dialect,
        atomic_options={"single_writer": True} if args.atomic_single_writer else {},
    )

    if args.command == "fetch":
        from meteo_etl_spark.sources.registry import create_source

        source = create_source(
            args.source,
            {"latitude": args.lat, "longitude": args.long, **parse_cli_params(args.param)},
        )
        records = source.extract_and_transform(spark)
        if args.no_pretty:
            for line in records.toJSON().collect():  # S9 JSON-lines sink
                print(line)
        else:
            records.show(truncate=False)  # S9 pretty sink
        return 0

    if args.command in ("fetch-and-store", "fetch-and-publish"):
        from meteo_etl_spark.pipeline import batch

        job = (
            batch.extract_and_save_to_disk
            if args.command == "fetch-and-publish"
            else batch.extract_and_load
        )
        result = batch.run_etl(
            spark,
            wh,
            args.source,
            {"latitude": args.lat, "longitude": args.long, **parse_cli_params(args.param)},
            fetch_job=job,
        )
        print(f"fetch_id={result.fetch_id} status={result.status}")
        if args.command == "fetch-and-publish":
            from meteo_etl_spark.streaming.produce import publish_finished_fetch

            path = publish_finished_fetch(spark, wh, result.fetch_id, args.topic_dir)
            print(f"published={path}")
        return 0

    if args.command == "consume-fetch-events":
        from meteo_etl_spark.streaming import consume

        stats = consume.ConsumeStats()
        sink = (
            consume.JdbcSink(
                args.jdbc_sink_url,
                table=args.jdbc_sink_table,
                dialect=args.jdbc_dialect,
            )
            if args.jdbc_sink_url
            else None
        )
        q = consume.consume_fetch_events(
            spark,
            wh,
            args.topic_dir,
            args.checkpoint,
            dead_letter_dir=args.dead_letter,
            available_now=not args.continuous,
            stats=stats,
            jdbc_sink=sink,
        )
        q.awaitTermination()
        print(
            f"batches={stats.batches} events={stats.events} "
            f"poison={stats.poison} merged_rows={stats.merged_rows}"
        )
        return 0

    if args.command == "optimize":
        from meteo_etl_spark.operators.compact import compact_table

        stats = compact_table(
            spark,
            args.path,
            partition_col=args.partition_col,
            target_file_bytes=args.target_file_mb * 1024 * 1024,
            min_files_to_compact=args.min_files,
            vacuum=args.vacuum,
            atomic_options=wh.atomic_options,
            zorder_cols=(
                [c.strip() for c in args.zorder_by.split(",") if c.strip()]
                if args.zorder_by
                else None
            ),
            bloom_filter_cols=(
                [c.strip() for c in args.bloom_filter_by.split(",") if c.strip()]
                if args.bloom_filter_by
                else None
            ),
        )
        print(
            f"partitions_compacted={stats.partitions_compacted} "
            f"files_before={stats.files_before} files_after={stats.files_after}"
        )
        return 0

    if args.command == "vacuum":
        from meteo_etl_spark.operators.atomic import AtomicParquetTable, is_atomic_table

        if not is_atomic_table(args.path, spark):
            print(f"not an atomic table: {args.path}")
            return 1
        removed = AtomicParquetTable(spark, args.path, **wh.atomic_options).vacuum(
            retain_versions=args.retain_versions,
            min_orphan_age_seconds=args.min_orphan_age_seconds,
        )
        print(f"removed={len(removed)}")
        return 0

    if args.command == "tag":
        from meteo_etl_spark.operators.atomic import (
            AtomicParquetTable,
            is_atomic_table,
        )

        if not is_atomic_table(args.path, spark):
            print(f"not an atomic table: {args.path}")
            return 1
        t = AtomicParquetTable(spark, args.path, **wh.atomic_options)
        if args.list:
            for name, version in sorted(t.tags().items()):
                print(f"{name}\tv{version}")
            return 0
        if not args.name:
            print("tag: --name is required unless --list")
            return 1
        if args.delete:
            t.delete_tag(args.name)
            print(f"deleted {args.name}")
            return 0
        v = t.tag(args.name, args.version, replace=args.replace)
        print(f"{args.name}\tv{v}")
        return 0

    if args.command == "analyze":
        from meteo_etl_spark.operators.stats import analyze_table

        ndv = (
            [c.strip() for c in args.ndv_by.split(",") if c.strip()]
            if args.ndv_by
            else None
        )
        stats = analyze_table(spark, args.path, ndv_columns=ndv)
        print(f"rows={stats.rows} decoded_bytes={stats.decoded_bytes}")
        for name, col in sorted(stats.columns.items()):
            ndv_part = f" ndv~{col['ndv']}" if "ndv" in col else ""
            print(
                f"column {name}: avg_width={col['width']:.1f} "
                f"nulls={col['nulls']}{ndv_part}"
            )
        return 0

    if args.command == "tokenizer-train":
        import json as _json

        from meteo_etl_spark.functions.bpe import bpe_train

        df = spark.read.parquet(args.path)
        merges = bpe_train(
            df,
            args.merges,
            text_col=args.text_col,
            min_pair_count=args.min_pair_count,
        ).collect()
        with open(args.out, "w", encoding="utf-8") as fh:
            for r in merges:
                fh.write(
                    _json.dumps(
                        {
                            "rank": r["rank"],
                            "a": r["a"],
                            "b": r["b"],
                            "merged": r["merged"],
                            "pair_count": r["pair_count"],
                        },
                        ensure_ascii=False,
                    )
                    + "\n"
                )
        print(f"merges={len(merges)} out={args.out}")
        return 0

    if args.command == "unigram-train":
        import json as _json

        from meteo_etl_spark.functions.unigram import VOCAB_SIZE, train_unigram_lm

        df = spark.read.parquet(args.path)
        kw = {"text_col": args.text_col}
        if args.vocab_size is not None:
            kw["vocab_size"] = args.vocab_size
        model = train_unigram_lm(df, **kw).collect()
        with open(args.out, "w", encoding="utf-8") as fh:
            for r in model:
                fh.write(
                    _json.dumps(
                        {
                            "piece": r["piece"],
                            "freq": r["freq"],
                            "cost_u": r["cost_u"],
                        },
                        ensure_ascii=False,
                    )
                    + "\n"
                )
        print(f"pieces={len(model)} out={args.out}")
        return 0

    if args.command == "convert":
        from meteo_etl_spark.sources.formats import read_table_as, write_table_as

        like = (
            spark.read.parquet(args.schema_like)
            if args.schema_like is not None
            else None
        )
        df = read_table_as(spark, args.src, args.src_format, like=like)
        write_table_as(
            df,
            args.dest,
            args.dest_format,
            partition_by=(
                args.partition_by.split(",") if args.partition_by else None
            ),
        )
        n = read_table_as(spark, args.dest, args.dest_format, like=df).count()
        print(f"rows={n} dest={args.dest} format={args.dest_format}")
        return 0

    if args.command == "ann-compact":
        import json as _json

        from meteo_etl_spark.functions.similarity import compact_ann_index

        print(_json.dumps(compact_ann_index(spark, args.path)))
        return 0

    if args.command == "ann-delete":
        from meteo_etl_spark.functions.similarity import delete_from_ann_index

        ids = [int(x) for x in args.ids.split(",") if x.strip()]
        n = delete_from_ann_index(spark, args.path, ids)
        print(f"tombstoned={n}")
        return 0

    if args.command == "dashboard":
        from meteo_etl_spark.plans import analytics

        obs_n, meta_n, loc_n = analytics.get_counts(spark, wh)
        print(f"Locations recorded: {loc_n}")
        print(f"Observations recorded: {obs_n}")
        print(f"Jobs recorded: {meta_n}")
        for measure, mean in analytics.mean_tiles(spark, wh).items():
            print(f"Global mean {measure}: {mean}")
        print(f"Last status recorded: {analytics.last_job_status(spark, wh)}")
        return 0

    if args.command == "migrate-control":
        from meteo_etl_spark.pipeline.control_migrate import migrate_control_table

        print(f"migrated_rows={migrate_control_table(spark, wh)}")
        return 0

    return 2  # unreachable — argparse enforces the command set


if __name__ == "__main__":
    sys.exit(main())
