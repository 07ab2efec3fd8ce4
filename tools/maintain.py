#!/usr/bin/env python
"""Storage-lifecycle maintenance CLI — the scheduled jobs a deployment
runs against the flow fact table (SURVEY.md §4.1: compaction is the
SummingMergeTree background-merge analogue, retention the TTL analogue).

Usage:
  python tools/maintain.py compact  <table_path> [--date YYYY-MM-DD]
  python tools/maintain.py retention <table_path> --keep-days N
  python tools/maintain.py refresh-rollup <fact_path> <rollup_path> \\
      [--keys date,direction,localPod]   # incremental MV refresh
  python tools/maintain.py zorder <in_path> <out_path> --cols a,b \\
      [--files N]   # rewrite clustered on a Morton curve
  python tools/maintain.py projection <base_path> <proj_path> \\
      --sort-cols remoteApp,remotePod [--date YYYY-MM-DD]
  python tools/maintain.py rollup-ttl <table_path> --age-days N \\
      [--granularity 86400]   # age old partitions into coarser buckets
  python tools/maintain.py deduplicate <table_path> [--by col1,col2]
  python tools/maintain.py backfill <obs_path> <table_path> \\
      --dates 2024-01-03,2024-01-04 --pods p.parquet --nodes n.parquet \\
      --prefixes cp.parquet   # late-data / fixed-labeler replay
  python tools/maintain.py backup <table_path> <backup_dir> [--base DIR]
  python tools/maintain.py restore <backup_dir> <dest_path>
  python tools/maintain.py detach|attach <table_path> <YYYY-MM-DD>
  python tools/maintain.py move-partition <src> <dst> <YYYY-MM-DD>
  python tools/maintain.py replace-partition <dst> <src> <YYYY-MM-DD>
  python tools/maintain.py estimate <table_path> [--min-date D] [--max-date D]
  python tools/maintain.py drop-stages <root> --checkpoints C1,C2 \\
      # drop stages that no live stream's checkpoint owns
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("compact", help="re-sum partitions (background-merge analogue)")
    c.add_argument("table_path")
    c.add_argument("--date", default=None, help="only this date partition")
    r = sub.add_parser("retention", help="drop date partitions past the TTL")
    r.add_argument("table_path")
    r.add_argument("--keep-days", type=int, default=90)
    m = sub.add_parser(
        "refresh-rollup",
        help="incrementally refresh a bytes/packets rollup of the fact table",
    )
    m.add_argument("fact_path")
    m.add_argument("rollup_path")
    m.add_argument(
        "--keys",
        default="date,direction,localPod,remotePod,connectionClass",
        help="comma-separated rollup key (must include date)",
    )
    z = sub.add_parser(
        "zorder",
        help="rewrite a table clustered on the Morton curve of 2-4 columns",
    )
    z.add_argument("in_path")
    z.add_argument("out_path")
    z.add_argument("--cols", required=True, help="comma-separated numeric columns")
    z.add_argument("--files", type=int, default=32)
    p = sub.add_parser(
        "projection",
        help="maintain an alternate-sort copy (ClickHouse PROJECTION analogue)",
    )
    p.add_argument("base_path")
    p.add_argument("proj_path")
    p.add_argument("--sort-cols", required=True, help="comma-separated sort key")
    p.add_argument("--date", default=None, help="only this date partition")
    rt = sub.add_parser(
        "rollup-ttl",
        help="re-aggregate partitions older than the cutoff at coarser "
        "time granularity (ClickHouse TTL ... GROUP BY analogue)",
    )
    rt.add_argument("table_path")
    rt.add_argument("--age-days", type=int, required=True)
    rt.add_argument("--granularity", type=int, default=86400)
    dd = sub.add_parser(
        "deduplicate",
        help="drop duplicate rows at rest (OPTIMIZE ... DEDUPLICATE)",
    )
    dd.add_argument("table_path")
    dd.add_argument("--by", default=None, help="comma-separated key (default: full row)")
    bf = sub.add_parser(
        "backfill",
        help="re-derive flow-table date partitions from raw observations "
        "(late-data / fixed-labeler replay)",
    )
    bf.add_argument("obs_path", help="raw observations parquet")
    bf.add_argument("table_path")
    bf.add_argument("--dates", required=True, help="comma-separated YYYY-MM-DD")
    bf.add_argument("--pods", required=True, help="pods dim parquet snapshot")
    bf.add_argument("--nodes", required=True, help="nodes dim parquet snapshot")
    bf.add_argument("--prefixes", required=True, help="cloud-prefix dim parquet")
    bk = sub.add_parser(
        "backup", help="BACKUP TABLE ... TO (manifest-checksummed copy)"
    )
    bk.add_argument("table_path")
    bk.add_argument("backup_dir")
    bk.add_argument(
        "--base", default=None, help="base backup dir for an incremental"
    )
    rs = sub.add_parser(
        "restore", help="RESTORE TABLE ... FROM (md5-verified)"
    )
    rs.add_argument("backup_dir")
    rs.add_argument("dest_path")
    for name, helptext in (
        ("detach", "DETACH PARTITION into scan-invisible _detached/"),
        ("attach", "ATTACH a detached partition back"),
    ):
        sp = sub.add_parser(name, help=helptext)
        sp.add_argument("table_path")
        sp.add_argument("partition", help="YYYY-MM-DD")
    mv = sub.add_parser("move-partition", help="MOVE PARTITION TO TABLE")
    mv.add_argument("src_path")
    mv.add_argument("dst_path")
    mv.add_argument("partition")
    rp = sub.add_parser(
        "replace-partition", help="REPLACE PARTITION FROM (atomic copy-swap)"
    )
    rp.add_argument("dst_path")
    rp.add_argument("src_path")
    rp.add_argument("partition")
    es = sub.add_parser(
        "estimate", help="pre-flight scan estimate from parquet footers"
    )
    es.add_argument("table_path")
    es.add_argument("--min-date", default=None)
    es.add_argument("--max-date", default=None)
    ds = sub.add_parser(
        "drop-stages",
        help="delete the _staging/<stream> dirs of a flow table or "
        "dead-letter root whose stream no listed checkpoint owns",
    )
    ds.add_argument("root")
    ds.add_argument(
        "--checkpoints",
        required=True,
        help="comma-separated checkpoints of EVERY live stream writing root",
    )
    args = ap.parse_args()

    from kubenetmon_spark.session import get_spark
    from kubenetmon_spark.sink import apply_retention, compact

    if args.cmd == "retention":
        dropped = apply_retention(args.table_path, keep_days=args.keep_days)
        print(f"dropped {len(dropped)} partitions: {dropped}")
        return 0
    if args.cmd == "backup":
        from kubenetmon_spark.sink import backup_table

        man = backup_table(
            args.table_path, args.backup_dir, base_backup=args.base
        )
        copied = sum(1 for e in man["files"] if not e.get("in_base"))
        print(f"backed up {copied}/{man['n_files']} files to {args.backup_dir}")
        return 0
    if args.cmd == "restore":
        from kubenetmon_spark.sink import restore_table

        n = restore_table(args.backup_dir, args.dest_path)
        print(f"restored {n} files to {args.dest_path}")
        return 0
    if args.cmd in ("detach", "attach"):
        from kubenetmon_spark.sink import attach_partition, detach_partition

        fn = detach_partition if args.cmd == "detach" else attach_partition
        print(fn(args.table_path, args.partition))
        return 0
    if args.cmd == "move-partition":
        from kubenetmon_spark.sink import move_partition

        move_partition(args.src_path, args.dst_path, args.partition)
        print(f"moved date={args.partition}: {args.src_path} -> {args.dst_path}")
        return 0
    if args.cmd == "replace-partition":
        from kubenetmon_spark.sink import replace_partition

        replace_partition(args.dst_path, args.src_path, args.partition)
        print(f"replaced date={args.partition} in {args.dst_path}")
        return 0
    if args.cmd == "drop-stages":
        from kubenetmon_spark.sink import drop_orphan_stages

        dropped = drop_orphan_stages(args.root, args.checkpoints.split(","))
        print(f"dropped {len(dropped)} orphaned stages: {dropped}")
        return 0
    if args.cmd == "estimate":
        from kubenetmon_spark.guards import estimate_scan

        est = estimate_scan(
            args.table_path, min_value=args.min_date, max_value=args.max_date
        )
        print(
            f"{est.rows} rows, {est.bytes_on_disk} bytes in {est.n_files} "
            f"files ({est.n_partitions_scanned}/{est.n_partitions_total} "
            "partitions)"
        )
        return 0

    spark = get_spark("maintain")
    spark.sparkContext.setLogLevel("ERROR")
    if args.cmd == "refresh-rollup":
        from pyspark.sql import functions as F

        from kubenetmon_spark.operators.mv import refresh_rollup

        changed = refresh_rollup(
            spark,
            args.fact_path,
            args.rollup_path,
            args.keys.split(","),
            {"bytes": F.col("bytes"), "packets": F.col("packets"), "n": F.lit(1)},
        )
        print(f"refreshed {len(changed)} partitions: {changed}")
    elif args.cmd == "projection":
        from kubenetmon_spark.sink import write_projection

        write_projection(
            spark,
            args.base_path,
            args.proj_path,
            args.sort_cols.split(","),
            target_date=args.date,
        )
        print(f"projected {args.base_path} -> {args.proj_path} on {args.sort_cols}")
    elif args.cmd == "zorder":
        from kubenetmon_spark.operators.zorder import zorder_write

        df = spark.read.parquet(args.in_path)
        zorder_write(df, args.out_path, args.cols.split(","), n_files=args.files)
        print(f"z-ordered {args.in_path} -> {args.out_path} on {args.cols}")
    elif args.cmd == "rollup-ttl":
        from kubenetmon_spark.sink import apply_rollup_ttl

        touched = apply_rollup_ttl(
            spark,
            args.table_path,
            age_days=args.age_days,
            granularity_seconds=args.granularity,
        )
        print(f"rolled up {len(touched)} partitions: {touched}")
    elif args.cmd == "deduplicate":
        from kubenetmon_spark.sink import deduplicate

        touched = deduplicate(
            spark,
            args.table_path,
            by=args.by.split(",") if args.by else None,
        )
        print(f"deduplicated {len(touched)} partitions: {touched}")
    elif args.cmd == "backfill":
        from kubenetmon_spark.backfill import backfill_dates
        from kubenetmon_spark.config import RuntimeConfig
        from kubenetmon_spark.schema import OBSERVATION_SCHEMA

        obs = spark.read.schema(OBSERVATION_SCHEMA).parquet(args.obs_path)
        n = backfill_dates(
            spark,
            obs,
            args.table_path,
            args.dates.split(","),
            spark.read.parquet(args.pods),
            spark.read.parquet(args.nodes),
            spark.read.parquet(args.prefixes),
            RuntimeConfig(),
        )
        print(f"backfilled {args.dates}: {n} rows")
    else:
        compact(spark, args.table_path, target_date=args.date)
        print(
            f"compacted {args.table_path}"
            + (f" date={args.date}" if args.date else " (all partitions)")
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
