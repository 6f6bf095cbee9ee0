"""End-to-end deletion workflow (the reference's 7-step orchestration).

Re-expression of ``/root/reference/.../HiveTableDeletionJob.java:87-160``
(``executeDeletionWorkflow``): identify partitions → pre-validate → backup →
counts → delete (dry-run early-exit) → post-validate → retention cleanup;
on any exception, auto-recovery from the backup (RecoveryManager).

The engine folds the reference's three separate pre-counts (before /
to-delete / expected-retained, HiveTableDeletionJob.java:117-123 — three
full scans) into the single partition-analysis aggregation already computed
for partition planning: zero extra Spark jobs.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark.sql import SparkSession

from .config import EngineConfig
from .metrics import MetricsCollector, audit
from .operators.backup import BackupManager, BackupRef
from .operators.deletion import DeletionExecutor, DeletionResult, PartitionHandler
from .operators.recovery import RecoveryManager
from .operators.validation import ValidationManager, ValidationReport

__all__ = ["DeletionJob", "JobOutcome"]

log = logging.getLogger(__name__)


@dataclass
class JobOutcome:
    success: bool
    result: DeletionResult | None
    validation: ValidationReport | None
    backup: BackupRef | None
    metrics: MetricsCollector
    recovered: bool = False
    error: str | None = None


class DeletionJob:
    """Safe-deletion workflow over a partitioned external Hive table."""

    def __init__(self, spark: SparkSession, config: EngineConfig):
        self.spark = spark
        self.config = config
        self.metrics = MetricsCollector()
        self.handler = PartitionHandler(spark, config)
        self.executor = DeletionExecutor(spark, config, self.metrics)
        self.validator = ValidationManager(spark, config)
        self.backups = BackupManager(spark, config) if config.backup_enabled else None
        self.recovery = RecoveryManager(spark, config, self.backups)

    def run(self) -> JobOutcome:
        cfg = self.config
        backup_ref: BackupRef | None = None
        audit("job_started", table=cfg.qualified_table,
              criteria=cfg.criteria.describe(), dry_run=cfg.dry_run)
        try:
            # 1. identify affected partitions (single-scan analysis)
            plan = self.handler.analyze()
            if not plan.affected and not plan.probe_failed:
                log.info("no partitions affected; nothing to delete")
                result = self.executor.execute(plan)
                self.metrics.finish(True)
                return JobOutcome(True, result, None, None, self.metrics)

            # 2. pre-validation
            pre = self.validator.validate_pre_deletion()
            if not pre.passed:
                raise RuntimeError(f"pre-validation failed: {pre.details}")

            # 3. backup the partitions the executor may touch: EVERY
            # candidate when the probe failed (sentinel counts, no
            # expected row count). Otherwise the plan's totals spare the
            # backup validation its own source scan.
            if cfg.backup_enabled and not cfg.dry_run:
                backup_set = (plan.candidates if plan.probe_failed
                              else plan.affected)
                expected = None if plan.probe_failed else sum(
                    plan.counts[p][0] for p in backup_set)
                backup_ref = self.backups.create_backup(
                    backup_set, expected_count=expected)
                self.metrics.backup_created = True
                self.metrics.backup_ref = backup_ref.ref

            # 5. delete (dry-run early-exits inside). On the probe-failed
            # path the executor repairs plan.counts (in place) with a real
            # scan before mutating anything.
            result = self.executor.execute(plan)
            if result.dry_run:
                self.metrics.finish(True)
                return JobOutcome(True, result, None, backup_ref, self.metrics)

            # 4./6. counts: affected-partition totals come free from the
            # plan — no extra whole-table scan (HiveTableDeletionJob.java:
            # 117-123 runs three full counts here; the plan aggregation
            # subsumes them). Computed after execute() so the repaired
            # counts are used when the original probe failed.
            before_affected = sum(t for t, _ in plan.counts.values())
            expected_retained_affected = before_affected - plan.would_delete

            # 6. post-validation — plan.affected is re-read here because
            # execute() repairs sentinel counts in place on the
            # probe-failed path (the pre-execute `affected` would be
            # stale/empty and silently skip the structure check)
            validation = None
            if cfg.validation_enabled:
                surviving = [p for p in plan.affected
                             if p not in result.partitions_dropped]
                # Scope every check to the partitions the deletion covered:
                # rows outside the partition window may still match the
                # criteria by design, and whole-table scans don't survive
                # the 100 TB design point.
                validation = self.validator.validate_post_deletion(
                    expected_retained_affected, surviving,
                    scope_partitions=plan.candidates)
                self.metrics.validation_passed = validation.passed
                if not validation.passed:
                    raise RuntimeError(
                        f"post-validation failed: {validation.details}")

            # 7. backup retention cleanup — best-effort: the deletion has
            # already committed and validated, so a cleanup failure must
            # NOT reach the recovery handler (restoring the backup would
            # resurrect the just-deleted rows)
            if self.backups is not None:
                try:
                    self.backups.cleanup_old_backups()
                except Exception as exc:
                    log.warning("backup retention cleanup failed "
                                "(non-fatal): %s", exc)

            self.metrics.finish(True)
            audit("job_succeeded", table=cfg.qualified_table,
                  deleted=result.deleted,
                  expected_retained_in_affected=expected_retained_affected)
            return JobOutcome(True, result, validation, backup_ref, self.metrics)

        except Exception as exc:
            log.exception("deletion workflow failed")
            self.metrics.finish(False, str(exc))
            recovered = self.recovery.recover(backup_ref) \
                if not cfg.dry_run else False
            audit("job_failed", table=cfg.qualified_table, error=str(exc),
                  recovered=recovered)
            return JobOutcome(False, None, None, backup_ref, self.metrics,
                              recovered=recovered, error=str(exc))
