"""Failure recovery: restore-from-backup with exponential backoff.

Re-expression of ``/root/reference/.../recovery/RecoveryManager.java``:
retry the backup restore up to ``max_retries`` times with ``2^attempt``
seconds of backoff (RecoveryManager.java:49-77), or emit the
manual-recovery SQL runbook (RecoveryManager.java:136-153).

Deviations, so a recovered table is exactly the backup's pre-image: no
``MSCK REPAIR TABLE`` (RecoveryManager.java:113-131), which re-registers
any partition directory left on disk and so brings deleted rows back —
the restore's dynamic-partition overwrite registers what it writes; and
each backup partition's (row count, row fingerprint) must equal the
backup's, where a whole-table count accepted a missed partition.
"""

from __future__ import annotations

import logging
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..metrics import audit
from ..partitions import in_list_predicate
from .backup import BackupManager, BackupRef

__all__ = ["RecoveryManager"]

log = logging.getLogger(__name__)


class RecoveryManager:
    def __init__(self, spark: SparkSession, config: EngineConfig,
                 backup_manager: BackupManager | None = None,
                 sleep=time.sleep):
        self.spark = spark
        self.config = config
        self.backups = backup_manager or BackupManager(spark, config)
        self._sleep = sleep  # injectable for tests

    def recover(self, ref: BackupRef | None) -> bool:
        """Attempt auto-recovery; returns True when the table was restored
        and verified (RecoveryManager.java:33-108)."""
        cfg = self.config
        if not cfg.auto_recovery or ref is None:
            log.error("auto-recovery unavailable; manual runbook:\n%s",
                      self.manual_runbook(ref))
            return False
        for attempt in range(cfg.max_retries):
            try:
                self.backups.restore(ref)
                self.repair_metadata()
                self._verify(ref)
                audit("recovery_succeeded", ref=ref.ref, attempt=attempt)
                return True
            except Exception as exc:
                wait = 2 ** attempt
                log.warning("recovery attempt %d failed (%s); backing off %ds",
                            attempt + 1, exc, wait)
                self._sleep(wait)
        audit("recovery_failed", ref=ref.ref, attempts=cfg.max_retries)
        log.error("manual recovery required:\n%s", self.manual_runbook(ref))
        return False

    def repair_metadata(self) -> None:
        """Drop Spark's cached file listing of the table after a write."""
        self.spark.catalog.refreshTable(self.config.qualified_table)

    def _verify(self, ref: BackupRef) -> None:
        """Raise unless each backup partition holds the backup's rows."""
        pcol = self.config.partition_column
        source = self.spark.table(ref.source_table)
        restored = _fingerprints(source.where(in_list_predicate(
            pcol, list(ref.partitions))), source.columns, pcol)
        backup = _fingerprints(
            self.backups.strategy.read(ref), source.columns, pcol)
        bad = [p for p in ref.partitions if restored.get(p) != backup.get(p)]
        if bad:
            raise RuntimeError(
                f"restore verification failed: partitions {bad} differ "
                f"from the backup")

    def manual_runbook(self, ref: BackupRef | None) -> str:
        """The manual-recovery SQL the reference prints
        (RecoveryManager.java:136-153), without its MSCK line."""
        t = self.config.qualified_table
        if ref is None:
            return (f"-- No backup available for {t}.\n"
                    f"-- Restore from your own snapshot, then:\n"
                    f"REFRESH TABLE {t};")
        src = (f"SELECT * FROM {ref.ref}" if ref.strategy == "hive_table"
               else f"SELECT * FROM orc.`{ref.ref}`")
        return ("-- Manual recovery runbook\n"
                f"INSERT OVERWRITE TABLE {t} {src};\n"
                f"REFRESH TABLE {t};")


def _fingerprints(rows: DataFrame, columns: list[str],
                  pcol: str) -> dict[str, tuple[int, int]]:
    """``{partition: (rows, sum of row hashes)}`` in one aggregation.
    32-bit hashes summed as bigint cannot overflow under ANSI mode."""
    out = (rows.groupBy(pcol)
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.hash(*columns).cast("long")).alias("h"))
           .collect())
    return {r[pcol]: (r["n"], r["h"]) for r in out}
