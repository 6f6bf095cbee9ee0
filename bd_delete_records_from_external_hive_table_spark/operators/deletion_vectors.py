"""Merge-on-read DELETE (deletion vectors) for external Hive tables.

The reference implements DELETE as partition-granularity copy-on-write
(DeletionExecutor.java:139-230): even a one-row delete rewrites every file
of its partition. At 100 TB with daily partitions that is a multi-TB write
to remove kilobytes. This module adds the complementary *merge-on-read*
strategy — the design Delta Lake / Iceberg call deletion vectors:

1. ``delete()`` — evaluate the deletion criteria once (partition-pruned,
   predicate pushed down) and append only the *keys* of matching rows to a
   tombstone store (a small parquet dataset next to the table). Cost is
   proportional to the deleted rows, not the partitions they live in.
2. ``read()`` — the logical table is ``base LEFT ANTI JOIN tombstones`` on
   the key columns. Tombstone sets are tiny relative to the table, so AQE
   plans a broadcast anti join: one pruned scan, zero fact-side shuffle.
3. ``compact()`` — amortize: physically apply accumulated tombstones with
   the reference's copy-on-write machinery (backup when enabled, ONE
   anti-join and ONE dynamic partition overwrite over all affected
   partitions — no batches of ``partition.parallelism`` as in
   DeletionExecutor.java:235-244 — and one metadata-only DROP + HDFS
   delete for the fully-emptied ones via
   :meth:`deletion.DeletionExecutor.drop_partitions`), then clear exactly
   the tombstone files it applied.

Write-amplification trade: copy-on-write pays at delete time (full
partition rewrite, reads stay pristine); merge-on-read pays at read time
(one extra anti join) and defers the rewrite until compaction batches many
deletes into one pass. For high-frequency small deletes against 100 TB —
GDPR erasure, bad-record quarantine — merge-on-read is the only strategy
whose delete cost is O(deleted rows).

Correctness contract:
- Key columns must uniquely identify rows; tombstones with NULL keys can
  never anti-join-match, so ``delete()`` refuses rows whose key is NULL.
- Tombstones are key-valued: a row re-inserted with a tombstoned key stays
  hidden until compaction. Run ``compact()`` before upserting reused keys.
- ``read()`` after ``compact()`` equals ``read()`` before it.
- Compaction snapshots the store's file list up front and clears **only
  that snapshot**: a ``delete()`` landing mid-compaction keeps its
  tombstones pending and stays hidden from ``read()``.
- When ``config.backup_enabled`` the affected partitions are backed up
  (count-validated, :class:`..operators.backup.BackupManager`) before any
  rewrite; on mid-compaction failure the store is left intact, so
  ``read()`` remains correct and the backup covers physical restore.
(All of the above are asserted in tests/test_deletion_vectors.py.)
"""

from __future__ import annotations

import logging
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..metrics import audit
from ..partitions import in_list_predicate
from ..sources.fs import HadoopFS
from .deletion import DeletionExecutor, PartitionHandler

__all__ = ["MergeOnReadDeleter", "MorDeleteResult", "CompactionResult"]

log = logging.getLogger(__name__)


@dataclass
class MorDeleteResult:
    batch_id: str | None
    keys_written: int


@dataclass
class CompactionResult:
    partitions_rewritten: list[str] = field(default_factory=list)
    partitions_dropped: list[str] = field(default_factory=list)
    tombstones_applied: int = 0


class MergeOnReadDeleter:
    """Deletion-vector DELETE/READ/COMPACT over a partitioned Hive table.

    ``dv_path`` is the tombstone store (any Hadoop-visible directory).
    ``key_columns`` must uniquely identify rows in the target table.
    """

    def __init__(self, spark: SparkSession, config: EngineConfig,
                 dv_path: str, key_columns: list[str]):
        if not key_columns:
            raise ValueError("key_columns must be non-empty")
        self.spark = spark
        self.config = config
        self.dv_path = dv_path.rstrip("/")
        self.key_columns = list(dict.fromkeys(key_columns))
        self.fs = HadoopFS(spark)

    # -- delete: append tombstones ------------------------------------------

    def delete(self) -> MorDeleteResult:
        """Evaluate the criteria and append matching rows' keys to the
        tombstone store. One pruned, pushed-down scan; write cost is
        O(matching rows) — the store is never read."""
        cfg = self.config
        candidates = PartitionHandler(self.spark, cfg).candidate_partitions()
        if not candidates:
            # same semantics as the copy-on-write path: no candidate
            # partitions (table empty, or the partition window excludes
            # everything) means nothing to delete — NOT "scan everything"
            audit("mor_delete", table=cfg.qualified_table, batch=None,
                  keys=0, criteria=cfg.criteria.describe())
            return MorDeleteResult(batch_id=None, keys_written=0)
        scan = (self.spark.table(cfg.qualified_table)
                .where(in_list_predicate(cfg.partition_column, candidates)))
        matches = scan.where(
            cfg.criteria.deletion_column(cfg.null_safe_retention))

        null_key = F.lit(False)
        for k in self.key_columns:
            null_key = null_key | F.col(k).isNull()
        if matches.where(null_key).limit(1).count() > 0:
            raise ValueError(
                f"rows matching the criteria have NULL in key columns "
                f"{self.key_columns}; NULL keys can never anti-join-match, "
                f"so such tombstones would silently fail to delete")

        batch_id = uuid.uuid4().hex
        extra = ([] if cfg.partition_column in self.key_columns
                 else [cfg.partition_column])
        keys = (matches
                .select(*self.key_columns, *extra)
                .withColumn("_dv_batch", F.lit(batch_id))
                .withColumn("_dv_ts",
                            F.lit(datetime.now(timezone.utc).isoformat())))
        # count before writing: one extra action over the same pruned
        # scan, instead of re-reading an ever-growing store afterwards
        n = keys.count()
        if n:
            keys.write.mode("append").parquet(self.dv_path)
        audit("mor_delete", table=cfg.qualified_table, batch=batch_id,
              keys=n, criteria=cfg.criteria.describe())
        return MorDeleteResult(batch_id=batch_id, keys_written=n)

    # -- read: anti-join the tombstones -------------------------------------

    def _store_files(self) -> list[str]:
        return self.fs.list_files(self.dv_path)

    def tombstones(self) -> DataFrame | None:
        """Distinct tombstoned keys, or None when the store is empty."""
        files = self._store_files()
        return (self.spark.read.parquet(*files).select(*self.key_columns)
                .distinct() if files else None)

    def read(self) -> DataFrame:
        """The logical (post-delete) table: base ANTI JOIN tombstones.
        The tombstone side is small → AQE broadcast anti join; the base
        scan keeps its pruning/pushdown because the join adds no predicate
        on it."""
        base = self.spark.table(self.config.qualified_table)
        keys = self.tombstones()
        if keys is None:
            return base
        # UsingJoin reorders multi-column join keys to the front even for
        # left_anti — re-project so the logical table keeps the physical
        # table's column order (callers may insertInto positionally)
        return (base.join(keys, on=self.key_columns, how="left_anti")
                .select(*base.columns))

    def pending(self) -> int:
        keys = self.tombstones()
        return 0 if keys is None else keys.count()

    # -- compact: apply tombstones physically, clear the store ---------------

    def compact(self, _files: list[str] | None = None) -> CompactionResult:
        """Apply accumulated tombstones with the copy-on-write machinery,
        then remove exactly the tombstone files that were applied. One
        pass over all affected partitions: one anti-join, one overwrite
        job (a single commit), one DROP of the emptied partitions.

        ``_files`` injects a store snapshot (testing the concurrent-append
        contract); production callers let compact() take its own.
        """
        cfg = self.config
        result = CompactionResult()
        files = self._store_files() if _files is None else list(_files)
        if not files:
            return result
        snapshot = self.spark.read.parquet(*files)
        keys = snapshot.select(*self.key_columns).distinct()
        result.tombstones_applied = keys.count()

        # affected partitions from the store itself (recorded at delete
        # time) — no table scan needed to find them
        if cfg.partition_column not in snapshot.columns:  # pragma: no cover
            raise ValueError("tombstone store lacks the partition column")
        affected = sorted(r[0] for r in snapshot.select(
            cfg.partition_column).distinct().collect())
        if not affected:
            self._clear(files)
            return result

        if cfg.backup_enabled:
            from .backup import BackupManager
            BackupManager(self.spark, cfg).create_backup(affected)

        base = self.spark.table(cfg.qualified_table)
        # re-project: UsingJoin fronts multi-column keys, and insertInto
        # below maps columns positionally
        retained = (base.where(in_list_predicate(cfg.partition_column,
                                                 affected))
                    .join(keys, on=self.key_columns, how="left_anti")
                    .select(*base.columns))
        # one dynamic-partition overwrite; it touches only partitions
        # present in `retained`, which it observes: the rest are emptied
        obs = Observation()
        (retained.observe(obs, F.collect_set(cfg.partition_column)
                          .alias("kept"))
         .write.mode("overwrite").insertInto(cfg.qualified_table))
        result.partitions_rewritten = kept = sorted(obs.get["kept"])
        result.partitions_dropped = DeletionExecutor(
            self.spark, cfg).drop_partitions(
                [p for p in affected if p not in kept])

        self._clear(files)
        audit("mor_compact", table=cfg.qualified_table,
              rewritten=result.partitions_rewritten,
              dropped=result.partitions_dropped,
              tombstones=result.tombstones_applied)
        return result

    def _clear(self, files: list[str]) -> None:
        """Remove exactly the applied snapshot; concurrently appended
        tombstone files survive and stay pending."""
        for f in files:
            try:
                self.fs.delete(f, recursive=False)
            except Exception as exc:  # pragma: no cover - best effort
                log.warning("could not delete tombstone file %s: %s", f, exc)
