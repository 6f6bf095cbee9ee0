"""Failure recovery: restore-from-backup with exponential backoff.

Re-expression of ``/root/reference/.../recovery/RecoveryManager.java``:
when a deletion workflow fails and auto-recovery is enabled, retry the
backup restore up to ``max_retries`` times with ``2^attempt`` seconds of
backoff (RecoveryManager.java:49-77), verify via DESCRIBE, and repair
metastore metadata (REFRESH + MSCK REPAIR, RecoveryManager.java:113-131).
When recovery is impossible, emit the manual-recovery SQL runbook
(RecoveryManager.java:136-153).
"""

from __future__ import annotations

import logging
import time

from pyspark.sql import SparkSession

from ..config import EngineConfig
from ..metrics import audit
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
        """REFRESH + MSCK REPAIR after a failed write
        (RecoveryManager.java:113-131)."""
        t = self.config.qualified_table
        self.spark.sql(f"REFRESH TABLE {t}")
        try:
            self.spark.sql(f"MSCK REPAIR TABLE {t}")
        except Exception as exc:
            log.warning("MSCK REPAIR failed (non-fatal): %s", exc)

    def _verify(self, ref: BackupRef) -> None:
        self.spark.sql(f"DESCRIBE TABLE {self.config.qualified_table}").collect()
        restored = self.spark.table(self.config.qualified_table).count()
        expected = self.backups.backup_count(ref)
        if restored < expected:
            raise RuntimeError(
                f"restore verification failed: table has {restored} rows, "
                f"backup has {expected}")

    def manual_runbook(self, ref: BackupRef | None) -> str:
        """The manual-recovery SQL the reference prints
        (RecoveryManager.java:136-153)."""
        t = self.config.qualified_table
        if ref is None:
            return (f"-- No backup available for {t}.\n"
                    f"-- Restore from your own snapshot, then:\n"
                    f"REFRESH TABLE {t};\nMSCK REPAIR TABLE {t};")
        if ref.strategy == "hive_table":
            src = f"SELECT * FROM {ref.ref}"
        else:
            src = f"SELECT * FROM orc.`{ref.ref}`"
        return ("-- Manual recovery runbook\n"
                f"INSERT OVERWRITE TABLE {t} {src};\n"
                f"REFRESH TABLE {t};\nMSCK REPAIR TABLE {t};")
