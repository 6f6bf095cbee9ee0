"""Backup & restore strategies.

Re-expression of ``/root/reference/.../backup/`` (BackupManager.java,
BackupStrategy.java, HiveTableBackupStrategy.java, HDFSBackupStrategy.java).

:class:`BackupManager` owns everything the two strategies share: the one
partition-scoped source scan a backup copies, its count validation, and
the restore — a dynamic-partition overwrite of the source from the backup
(HiveTableBackupStrategy.java:60-75, HDFSBackupStrategy.java:56-73) whose
row count is ``observe()``d during the write, where the reference re-counts
with a second backup scan (HiveTableBackupStrategy.java:81,
HDFSBackupStrategy.java:83). A strategy keeps only what differs: where
``create`` writes the copy, how ``read`` loads it, ``cleanup_old`` and
``latest``.

- **HiveTableBackupStrategy** — a partitioned ORC clone named
  ``<table>_backup_<yyyyMMdd_HHmmss>`` tagged with TBLPROPERTIES
  (HiveTableBackupStrategy.java:25-57), made by one DDL and one insert:
  ``CREATE TABLE ... LIKE <source> USING orc TBLPROPERTIES (...)``, then
  ``insertInto``. The reference's ``saveAsTable`` is a CTAS that Spark
  follows with a partition-repair listing, and its tagging a separate
  ``ALTER TABLE ... SET TBLPROPERTIES``; this path runs neither. If the
  insert fails, the table this call created is dropped. Retention drops
  backup tables older than N days (98-138). The DDL, the candidate
  listing with its properties and the DROP are ``catalog.py``'s; none
  runs a Spark job.
- **PathBackupStrategy** — partitioned ORC written to a filesystem path plus
  a ``_manifest.txt`` manifest (HDFSBackupStrategy.java:28-53,151-175 —
  the reference names it ``_metadata.txt``, but Spark's file index treats
  names starting with ``_metadata`` as parquet summary files and would
  feed it to the ORC reader; ``_manifest`` stays properly hidden);
  retention deletes old dirs by modification time (100-129). The copy is
  read back with the source table's schema: inference would read a
  partition ``0213`` as the number 213 and restore it into partition 213.

Backup names have one-second resolution, so a second backup in the same
second raises :class:`BackupError` before anything is written (the DDL
fails on the existing table; the path write uses
``mode("errorifexists")``), instead of silently replacing the earlier
backup's pre-image (the reference overwrites). Both strategies record the
partition list as JSON, so a value holding a comma stays one partition;
``latest`` still reads the comma-joined lists of older backups.
Timestamps for backup naming are injected (``now``) rather than read from a
global clock so tests are deterministic.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from datetime import datetime, timedelta

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..config import EngineConfig
from ..metrics import audit
from ..partitions import in_list_predicate
from ..sources.fs import HadoopFS

__all__ = ["BackupManager", "BackupRef", "HiveTableBackupStrategy",
           "PathBackupStrategy", "BackupError"]

_TS_FMT = "%Y%m%d_%H%M%S"


class BackupError(RuntimeError):
    pass


@dataclass(frozen=True)
class BackupRef:
    """Handle to a created backup (table name or path)."""

    strategy: str
    ref: str
    source_table: str
    partitions: tuple[str, ...]
    created_at: datetime


class HiveTableBackupStrategy:
    """Backup into a Hive table (HiveTableBackupStrategy.java)."""

    name = "hive_table"

    def __init__(self, spark: SparkSession, config: EngineConfig):
        self.spark = spark
        self.config = config

    def create(self, source: DataFrame, partitions: list[str],
               now: datetime) -> BackupRef:
        cfg = self.config
        name = f"{cfg.qualified_table}_backup_{now.strftime(_TS_FMT)}"
        catalog.create_table_like(self.spark, name, cfg.qualified_table, {
            "backup_source": cfg.qualified_table,
            "backup_timestamp": now.strftime(_TS_FMT),
            "backup_partitions": json.dumps(partitions)})
        try:
            source.write.insertInto(name)
        except Exception as exc:
            # the DDL above succeeded, so this call owns the table
            catalog.drop_table(self.spark, name)
            raise BackupError(f"backup not written: {exc}") from exc
        return BackupRef(self.name, name, cfg.qualified_table,
                         tuple(partitions), now)

    def read(self, ref: BackupRef) -> DataFrame:
        return self.spark.table(ref.ref)

    def cleanup_old(self, retention_days: int, now: datetime) -> list[str]:
        """Drop backup tables older than the retention window
        (HiveTableBackupStrategy.java:98-138)."""
        cfg = self.config
        cutoff = now - timedelta(days=retention_days)
        dropped = []
        for name, props in catalog.tables_with_properties(
                self.spark, cfg.database, f"{cfg.table}_backup_*"):
            ts = _backup_ts(props, name, cfg.table)
            if ts is not None and ts < cutoff:
                catalog.drop_table(self.spark, f"{cfg.database}.{name}")
                dropped.append(name)
        return dropped

    def latest(self) -> BackupRef | None:
        """Most recent backup table *of this source*, or None. The
        TBLPROPERTIES provide timestamp, partitions, and — critically —
        the ``backup_source`` check: a backup whose recorded source is a
        different table is never eligible (restoring it would overwrite
        this table with another table's rows)."""
        cfg = self.config
        found = []
        for name, props in catalog.tables_with_properties(
                self.spark, cfg.database, f"{cfg.table}_backup_*"):
            ts = _backup_ts(props, name, cfg.table)
            if ts is not None and props.get("backup_source") in (
                    None, cfg.qualified_table):
                found.append((ts, name, props.get("backup_partitions", "")))
        if not found:
            return None
        ts, name, parts = max(found, key=lambda f: f[0])
        return BackupRef(self.name, f"{cfg.database}.{name}",
                         cfg.qualified_table, _partition_list(parts), ts)


def _partition_list(text: str) -> tuple[str, ...]:
    """A recorded partition list: JSON, or comma-joined as backups made
    before the JSON format recorded it."""
    try:
        parts = json.loads(text)
    except ValueError:
        parts = None
    if isinstance(parts, list) and all(isinstance(p, str) for p in parts):
        return tuple(parts)
    return tuple(p for p in text.split(",") if p)


def _backup_ts(props: dict[str, str], name: str,
               table: str) -> datetime | None:
    """Prefer the ``backup_timestamp`` TBLPROPERTY
    (HiveTableBackupStrategy.java:117-121); fall back to the name suffix."""
    for text in (props.get("backup_timestamp", ""),
                 name[len(f"{table}_backup_"):]):
        try:
            return datetime.strptime(text, _TS_FMT)
        except ValueError:
            continue
    return None


class PathBackupStrategy:
    """Backup to a filesystem path as partitioned ORC + manifest
    (HDFSBackupStrategy.java)."""

    name = "path"

    def __init__(self, spark: SparkSession, config: EngineConfig):
        self.spark = spark
        self.config = config
        self.fs = HadoopFS(spark)

    def create(self, source: DataFrame, partitions: list[str],
               now: datetime) -> BackupRef:
        cfg = self.config
        path = (f"{cfg.backup_location.rstrip('/')}/"
                f"{cfg.table}_backup_{now.strftime(_TS_FMT)}")
        (source.write.mode("errorifexists").format("orc")
           .partitionBy(cfg.partition_column).save(path))
        self.fs.write_text(f"{path}/_manifest.txt",
                           f"source_table={cfg.qualified_table}\n"
                           f"backup_timestamp={now.strftime(_TS_FMT)}\n"
                           f"partitions={json.dumps(partitions)}")
        return BackupRef(self.name, path, cfg.qualified_table,
                         tuple(partitions), now)

    def read(self, ref: BackupRef) -> DataFrame:
        schema = self.spark.table(ref.source_table).schema
        return self.spark.read.format("orc").schema(schema).load(ref.ref)

    def cleanup_old(self, retention_days: int, now: datetime) -> list[str]:
        """Delete backup dirs whose modification time predates the cutoff
        (HDFSBackupStrategy.java:100-129)."""
        base = self.config.backup_location
        cutoff_ms = (now - timedelta(days=retention_days)).timestamp() * 1000
        deleted = []
        for path, mod_ms in self.fs.list_dirs(base):
            if f"/{self.config.table}_backup_" in path and mod_ms < cutoff_ms:
                self.fs.delete(path, recursive=True)
                deleted.append(path)
        return deleted

    def latest(self) -> BackupRef | None:
        """Most recent backup dir *of this source* (timestamp from the
        directory-name suffix; source + partitions from ``_manifest.txt``).
        Candidates are checked newest-first and a manifest recording a
        different ``source_table`` is skipped — a shared backup_location
        can hold same-named tables from several databases."""
        cfg = self.config
        candidates = []
        for path, _ in self.fs.list_dirs(cfg.backup_location):
            name = path.rsplit("/", 1)[-1]
            ts = _backup_ts({}, name, cfg.table)
            if name.startswith(f"{cfg.table}_backup_") and ts is not None:
                candidates.append((ts, path))
        for ts, path in sorted(candidates, reverse=True):
            try:
                manifest = dict(line.partition("=")[::2] for line in
                                self.fs.read_text(f"{path}/_manifest.txt")
                                .splitlines())
            except Exception:  # pragma: no cover - manifest best-effort
                manifest = {}
            if manifest.get("source_table") in (None, cfg.qualified_table):
                parts = _partition_list(manifest.get("partitions", ""))
                return BackupRef(self.name, path, cfg.qualified_table,
                                 parts, ts)
        return None


class BackupManager:
    """Orchestrates create → validate → tag (BackupManager.java:40-75)."""

    def __init__(self, spark: SparkSession, config: EngineConfig):
        self.spark = spark
        self.config = config
        self.strategy = (HiveTableBackupStrategy
                         if config.backup_strategy == "hive_table"
                         else PathBackupStrategy)(spark, config)

    def create_backup(self, partitions: list[str],
                      now: datetime | None = None,
                      expected_count: int | None = None) -> BackupRef:
        """``expected_count`` lets the caller pass a source-row count it
        already holds (the deletion job's single-scan partition analysis);
        omitting it costs one extra scan of the source partitions."""
        if not partitions:
            raise BackupError("no partitions to back up")
        now = now or datetime.now()
        cfg = self.config
        source = (self.spark.table(cfg.qualified_table)
                  .where(in_list_predicate(cfg.partition_column, partitions)))
        source_count = (expected_count if expected_count is not None
                        else source.count())
        try:
            ref = self.strategy.create(source, partitions, now)
        except AnalysisException as exc:
            # a backup taken in the same second already holds this name
            # (the DDL or the errorifexists write failed); nothing was
            # written
            raise BackupError(f"backup not created: {exc}") from exc
        backup_count = self.backup_count(ref)
        if backup_count != source_count:
            raise BackupError(
                f"backup validation failed: source={source_count} "
                f"backup={backup_count} ({ref.ref})")
        audit("backup_created", ref=ref.ref, strategy=ref.strategy,
              partitions=list(partitions), rows=backup_count)
        return ref

    def restore(self, ref: BackupRef) -> int:
        """Dynamic-partition overwrite of the source from the backup; the
        restored-row count is observe()d during the write."""
        cols = self.spark.table(ref.source_table).columns
        obs = Observation()
        (self.strategy.read(ref).select(*cols)
         .observe(obs, F.count(F.lit(1)).alias("rows"))
         .write.mode("overwrite").insertInto(ref.source_table))
        restored = int(obs.get["rows"])
        audit("backup_restored", ref=ref.ref, rows=restored)
        return restored

    def backup_count(self, ref: BackupRef) -> int:
        return self.strategy.read(ref).count()

    def latest_backup(self) -> BackupRef | None:
        """Most recent backup for the configured table under the
        configured strategy (manual-restore entry point)."""
        return self.strategy.latest()

    def cleanup_old_backups(self, now: datetime | None = None) -> list[str]:
        now = now or datetime.now()
        removed = self.strategy.cleanup_old(self.config.backup_retention_days, now)
        if removed:
            audit("backups_cleaned", removed=removed)
        return removed
