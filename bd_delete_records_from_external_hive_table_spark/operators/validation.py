"""Pre/post-deletion validation.

Re-expression of ``/root/reference/.../validation/ValidationManager.java``
and ``DataIntegrityValidator.java``. Post-deletion validation is one
conditional-aggregate scan for (a)+(d) and one listing for (c) (C7):

(a) retained count within ``expected ± tolerance%`` (ValidationManager.java:142-163)
(c) partition structure intact for partitions expected to survive —
    one metastore listing (``catalog.partitions``) and a set-membership
    test, where the reference probes ``SHOW PARTITIONS ... PARTITION(spec)``
    once per partition (DataIntegrityValidator.java:123-145)
(d) zero rows still match the criteria (ValidationManager.java:181-194)

The reference's sampled check (b), no sampled row still matches
(DataIntegrityValidator.java:33-118), is not run: (d) counts every match
over the same rows, so (b) could never fail where (d) passed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .. import catalog
from ..config import EngineConfig
from ..metrics import audit
from ..partitions import in_list_predicate

__all__ = ["ValidationManager", "ValidationReport"]


@dataclass
class ValidationReport:
    passed: bool = True
    checks: dict[str, bool] = field(default_factory=dict)
    details: dict[str, str] = field(default_factory=dict)

    def record(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks[name] = ok
        if detail:
            self.details[name] = detail
        self.passed = self.passed and ok


class ValidationManager:
    def __init__(self, spark: SparkSession, config: EngineConfig):
        self.spark = spark
        self.config = config

    # -- pre-deletion -------------------------------------------------------

    def validate_pre_deletion(self) -> ValidationReport:
        """Table exists (ValidationManager.java:110-117): one catalog
        lookup, no SQL statement."""
        report = ValidationReport()
        table = self.config.qualified_table
        exists = self.spark.catalog.tableExists(table)
        report.record("table_exists", exists,
                      "" if exists else f"table {table} not found")
        return report

    # -- post-deletion ------------------------------------------------------

    def validate_post_deletion(self, expected_retained: int | None,
                               surviving_partitions: list[str] | None = None,
                               scope_partitions: list[str] | None = None) -> ValidationReport:
        """``scope_partitions`` restricts every check to the partitions the
        deletion actually covered (the candidate set after partition-window
        pruning). Rows outside that scope may legitimately still match the
        criteria, and at scale a whole-table validation scan is wasteful —
        the IN-list predicate partition-prunes each check down to the
        touched partitions. ``None`` keeps whole-table semantics
        (ValidationManager.java:142-194 validates globally because the
        reference has no independent partition window)."""
        cfg = self.config
        report = ValidationReport()
        table = self.spark.table(cfg.qualified_table)
        if scope_partitions is not None:
            table = table.where(
                in_list_predicate(cfg.partition_column, scope_partitions))
        # "zero matching remain" means zero rows the deletion would drop —
        # under null-safe retention, surviving NULL-of-P rows are intended
        pred = cfg.criteria.deletion_column(cfg.null_safe_retention)

        # (a) + (d): ONE conditional-aggregate scan; the reference runs two
        from pyspark.sql import functions as F
        row = table.agg(
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(pred, 1)).alias("remaining")).first()
        actual, remaining = row["total"], row["remaining"]
        if expected_retained is not None:
            tol = expected_retained * cfg.validation_tolerance_pct / 100.0
            ok = abs(actual - expected_retained) <= tol
            report.record("count_reconciliation", ok,
                          f"expected={expected_retained} actual={actual} "
                          f"tol={tol}")
        report.record("zero_matching_remain", remaining == 0,
                      f"remaining_matches={remaining}")

        # (c) partition structure intact: one listing for all partitions
        if surviving_partitions:
            listed = set(catalog.partitions(self.spark, cfg.qualified_table))
            missing = [p for p in surviving_partitions if p not in listed]
            report.record("partition_structure", not missing,
                          f"missing={missing}")

        audit("post_validation", table=cfg.qualified_table,
              passed=report.passed, checks=report.checks)
        return report
