"""Command-line entry point for the deletion job.

Mirrors the reference CLI surface (the 11 commons-cli flags at
``/root/reference/src/main/java/com/bigdata/hive/deletion/HiveTableDeletionJob.java:165-261``
and the configuration precedence of ``loadConfiguration`` at 266-328:
defaults < ``--config`` properties file < explicit flags). Exit code 0 on
success, 1 on failure (HiveTableDeletionJob.java:63-74).

Usage::

    python -m bd_delete_records_from_external_hive_table_spark \
        -d mydb -t mytable -w "status = 'INACTIVE'" \
        -s "2026-01-01 00:00:00" -e "2026-02-01 00:00:00" --dry-run
"""

from __future__ import annotations

import argparse
import logging
import sys
from datetime import datetime

from .config import (
    DeletionCriteria,
    EngineConfig,
    config_kwargs_from_properties,
)

__all__ = ["main", "build_parser", "config_from_args"]

log = logging.getLogger(__name__)

_TS_FORMAT = "%Y-%m-%d %H:%M:%S"


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="bd-delete",
        description="Safely delete records from external partitioned Hive "
                    "tables via partition-granularity copy-on-write.")
    p.add_argument("-d", "--database", required=True, help="Database name")
    p.add_argument("-t", "--table", required=True, help="Table name")
    p.add_argument("-w", "--where", help="WHERE clause for deletion criteria")
    p.add_argument("-s", "--start-time",
                   help="Start time (inclusive), yyyy-MM-dd HH:mm:ss")
    p.add_argument("-e", "--end-time",
                   help="End time (exclusive), yyyy-MM-dd HH:mm:ss")
    p.add_argument("--time-column", default="row_create_ts",
                   help="Time column name (default: row_create_ts)")
    p.add_argument("--partition-column", default="partition_id",
                   help="Partition column name (default: partition_id)")
    p.add_argument("--backup-strategy", choices=("hive_table", "path", "hdfs"),
                   help="Backup strategy (hdfs is an alias for path)")
    p.add_argument("--backup-location",
                   help="Backup location (for the path strategy)")
    p.add_argument("--dry-run", action="store_true",
                   help="Report would-delete counts without deleting")
    p.add_argument("--partition-start",
                   help="Engine extension: only consider partitions whose "
                        "ID date is >= this date (yyyy-MM-dd)")
    p.add_argument("--partition-end",
                   help="Engine extension: only consider partitions whose "
                        "ID date is < this date (yyyy-MM-dd)")
    p.add_argument("--strategy",
                   choices=("cow", "mor", "mor-compact", "restore"),
                   default="cow",
                   help="Deletion strategy: cow = copy-on-write partition "
                        "rewrite (reference behaviour, default); mor = "
                        "merge-on-read (append tombstones only, O(deleted "
                        "rows) cost); mor-compact = physically apply "
                        "accumulated tombstones and clear the store; "
                        "restore = manual restore of the most recent "
                        "backup (dynamic-partition overwrite + table "
                        "refresh)")
    p.add_argument("--dv-path",
                   help="Tombstone store path (required for mor strategies)")
    p.add_argument("--key-columns",
                   help="Comma-separated row-key columns (required for mor "
                        "strategies); must uniquely identify rows")
    p.add_argument("-c", "--config", help="Path to a .properties config file")
    p.add_argument("--master", default=None,
                   help="Spark master override (default: whatever "
                        "spark-submit / the environment provides)")
    return p


def config_from_args(args: argparse.Namespace) -> EngineConfig:
    """defaults < properties file < flags (HiveTableDeletionJob.java:266-328)."""
    kwargs: dict = {}
    if args.config:
        kwargs.update(config_kwargs_from_properties(args.config))

    criteria = DeletionCriteria(
        where_clause=args.where,
        start_time=(datetime.strptime(args.start_time, _TS_FORMAT)
                    if args.start_time else None),
        end_time=(datetime.strptime(args.end_time, _TS_FORMAT)
                  if args.end_time else None),
        time_column=args.time_column,
    )

    if args.backup_strategy:
        kwargs["backup_strategy"] = ("path" if args.backup_strategy == "hdfs"
                                     else args.backup_strategy)
    if args.backup_location:
        kwargs["backup_location"] = args.backup_location
    if args.dry_run:
        kwargs["dry_run"] = True
    if args.partition_start:
        kwargs["partition_start"] = datetime.strptime(
            args.partition_start, "%Y-%m-%d").date()
    if args.partition_end:
        kwargs["partition_end"] = datetime.strptime(
            args.partition_end, "%Y-%m-%d").date()

    return EngineConfig(
        database=args.database,
        table=args.table,
        criteria=criteria,
        partition_column=args.partition_column,
        **kwargs,
    )


def main(argv: list[str] | None = None) -> int:
    logging.basicConfig(
        level=logging.INFO,
        format="%(asctime)s %(levelname)s %(name)s - %(message)s")
    parser = build_parser()
    args = parser.parse_args(argv)
    if args.strategy in ("mor", "mor-compact") and not (
            args.dv_path and args.key_columns):
        parser.print_usage(sys.stderr)
        print("bd-delete: error: --strategy mor/mor-compact requires "
              "--dv-path and --key-columns", file=sys.stderr)
        return 1
    if args.strategy == "restore" and (args.where or args.start_time
                                       or args.end_time):
        # restore replays the whole latest backup; accepting criteria
        # here would let an operator believe a selective restore happened
        parser.print_usage(sys.stderr)
        print("bd-delete: error: --strategy restore ignores deletion "
              "criteria; drop -w/-s/-e (restore replays the entire "
              "latest backup)", file=sys.stderr)
        return 1
    if args.strategy in ("mor-compact", "restore") and not (
            args.where or args.start_time or args.end_time):
        # these apply already-recorded state (tombstones / a backup); no
        # criteria needed — satisfy config validation with a never-used
        # placeholder predicate
        args.where = "true"
    try:
        config = config_from_args(args)
    except (ValueError, OSError) as exc:
        # clean operator-facing message + usage, not a traceback —
        # covers CriteriaValidationError (a ValueError), malformed
        # dates from strptime, and an unreadable --config file
        parser.print_usage(sys.stderr)
        print(f"bd-delete: error: {exc}", file=sys.stderr)
        return 1

    from .job import DeletionJob
    from .session import SessionFactory

    spark = SessionFactory.create(
        app_name="bd-delete",
        master=args.master,
        hive=True,
        extra_confs=config.extra or None,
    )
    try:
        if args.strategy == "restore":
            return _run_restore(spark, config, args)
        if args.strategy in ("mor", "mor-compact"):
            return _run_mor(spark, config, args)
        outcome = DeletionJob(spark, config).run()
        print(outcome.metrics.report())
        return 0 if outcome.success else 1
    finally:
        spark.stop()


def _run_restore(spark, config: EngineConfig, args) -> int:
    """Manual restore of the most recent backup for the table."""
    from .operators.backup import BackupManager
    from .operators.recovery import RecoveryManager

    if config.backup_strategy == "path" and not config.backup_location:
        # config validation only enforces this when backup_enabled; a
        # restore needs it regardless — fail cleanly, not with a py4j
        # traceback from listing a None path
        print("restore: the path backup strategy requires "
              "--backup-location (or backup.location in --config)",
              file=sys.stderr)
        return 1
    backups = BackupManager(spark, config)
    ref = backups.latest_backup()
    if ref is None:
        print(f"restore: no backup found for {config.qualified_table} "
              f"(strategy {config.backup_strategy})", file=sys.stderr)
        return 1
    if config.dry_run:
        print(f"dry run: would restore {ref.ref} "
              f"(created {ref.created_at}, "
              f"partitions {list(ref.partitions)})")
        return 0
    rows = backups.restore(ref)
    RecoveryManager(spark, config, backups).repair_metadata()
    print(f"restored {rows} rows from {ref.ref} into "
          f"{config.qualified_table}")
    return 0


def _run_mor(spark, config: EngineConfig, args) -> int:
    """Merge-on-read strategies: tombstone append / compaction."""
    from .operators.deletion import DeletionExecutor
    from .operators.deletion_vectors import MergeOnReadDeleter

    mor = MergeOnReadDeleter(spark, config, args.dv_path,
                             [c.strip() for c in args.key_columns.split(",")
                              if c.strip()])
    if args.strategy == "mor-compact":
        if config.dry_run:
            # read-only: report what compaction would apply, write nothing
            print(f"dry run: would compact {mor.pending()} pending "
                  f"tombstones from {args.dv_path}")
            return 0
        result = mor.compact()
        print(f"compacted {result.tombstones_applied} tombstones: "
              f"rewrote {result.partitions_rewritten}, "
              f"dropped {result.partitions_dropped}")
        return 0
    if config.dry_run:
        # same read-only analysis as the copy-on-write dry run — reports
        # what a mor delete would tombstone, writes nothing
        outcome = DeletionExecutor(spark, config).dry_run()
        print(f"dry run: would tombstone {outcome.deleted} rows")
        return 0
    result = mor.delete()
    print(f"tombstoned {result.keys_written} rows (batch {result.batch_id})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
