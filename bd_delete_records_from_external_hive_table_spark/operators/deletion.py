"""Partition-granularity copy-on-write DELETE for external Hive tables.

Re-expresses the reference's core (``/root/reference/.../deletion/
PartitionHandler.java`` + ``DeletionExecutor.java``) Spark-first:

**Reference algorithm** (C1-C4 in SURVEY §2n): SHOW PARTITIONS → driver
date-range prune → *one COUNT(*) Spark job per candidate partition*
(PartitionHandler.java:102-123) → per batch, a retention scan
``SELECT * WHERE pcol IN (...) AND NOT(criteria)`` overwritten back via
dynamic-partition overwrite (DeletionExecutor.java:139-230).

**This engine** keeps the semantics but replaces the per-partition probe
loop with a single partition-pruned aggregation::

    scan.where(pcol IN candidates).groupBy(pcol)
        .agg(count(*) AS total, count_if(P) AS matches)

One job, one shuffle (map-side partial agg), and it returns *everything*
the planner needs: affected partitions (matches > 0), fully-emptied
partitions (matches == total → metadata-only DROP, no rewrite), and exact
per-partition delete counts for metrics. At 10k partitions this is ~10k×
fewer Spark jobs than the reference's loop; at 100 TB the scan is pruned to
candidate partitions and the criteria predicate is pushed down to the
ORC/parquet reader (filterPushdown conf in session.py). The same
aggregation (:meth:`PartitionHandler.partition_counts`) repairs a plan
whose probe failed, for both the real run and the dry run.

The rewrite is ONE dynamic-partition overwrite of every partially
matching partition; the reference runs sequential batches of
``partition.parallelism`` (DeletionExecutor.java:235-244), a key the
engine accepts and ignores. Spark sorts by the partition column before a
dynamic-partition write, so a task keeps one open writer however many
partitions the job covers, and the one job commits once: there is no
batch k failing after batches 1..k-1 committed.

Metastore calls are set-at-a-time too (``catalog.py``, where the reference
runs a DESCRIBE and a DROP per partition, DeletionExecutor.java:164-214):
one partition listing, one location listing, ONE DROP of all emptied ones.

Deliberate deviations from reference quirks (SURVEY §2n "noted quirks"):
the empty-retention fast path is decided **per partition** (the reference
drops every partition in a batch when the *batch-wide* retained count is 0,
DeletionExecutor.java:166-171), and per-partition metrics are exact.
Conservative inclusion on probe failure is preserved
(PartitionHandler.java:118-122).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..config import EngineConfig
from ..metrics import MetricsCollector, audit
from ..partitions import (filter_by_date_range, in_list_predicate,
                          sort_chronologically)
from ..sources.fs import HadoopFS

__all__ = ["PartitionHandler", "DeletionExecutor", "PartitionPlan", "DeletionResult"]

log = logging.getLogger(__name__)


@dataclass
class PartitionPlan:
    """Outcome of the single-scan affected-partition analysis."""

    candidates: list[str]
    #: partition -> (total rows, rows matching the deletion predicate)
    counts: dict[str, tuple[int, int]] = field(default_factory=dict)

    @property
    def affected(self) -> list[str]:
        return sort_chronologically(
            [p for p, (_, m) in self.counts.items() if m > 0])

    @property
    def to_drop(self) -> list[str]:
        """Fully-emptied partitions → metadata-only DROP fast path."""
        return sort_chronologically(
            [p for p, (t, m) in self.counts.items() if m > 0 and m == t])

    @property
    def to_rewrite(self) -> list[str]:
        return sort_chronologically(
            [p for p, (t, m) in self.counts.items() if 0 < m < t])

    @property
    def would_delete(self) -> int:
        return sum(m for _, m in self.counts.values())

    @property
    def probe_failed(self) -> bool:
        """The counts are the conservative ``(-1, -1)`` sentinel."""
        return any(t < 0 for t, _ in self.counts.values())


@dataclass
class DeletionResult:
    deleted: int
    retained: int
    partitions_rewritten: list[str]
    partitions_dropped: list[str]
    dry_run: bool
    metrics: MetricsCollector


class PartitionHandler:
    """Partition discovery + affected-partition analysis (reference C1)."""

    def __init__(self, spark: SparkSession, config: EngineConfig):
        self.spark = spark
        self.config = config

    def candidate_partitions(self) -> list[str]:
        """All partitions (PartitionHandler.java:63-74), driver-side
        date-range pruned when the config carries a partition window
        (PartitionHandler.java:84-97). Partitions with unparseable IDs are
        only skipped when a window is set; with no window every partition
        is a candidate."""
        parts = catalog.partitions(self.spark, self.config.qualified_table)
        if self.config.partition_start or self.config.partition_end:
            parts = filter_by_date_range(
                parts, self.config.partition_start, self.config.partition_end)
        return sort_chronologically(parts)

    def partition_counts(self, partitions: list[str]) -> dict[str, tuple[int, int]]:
        """``{partition: (total rows, rows the rewrite drops)}`` from one
        partition-pruned aggregation; partitions without rows are absent.
        Raises on failure. The delete-set is counted with
        ``deletion_column`` (NULL-of-P rows are dropped by the default
        retention scan, so P alone would under-count and break
        reconciliation)."""
        cfg = self.config
        pcol = cfg.partition_column
        pred = cfg.criteria.deletion_column(cfg.null_safe_retention)
        rows = (self.spark.table(cfg.qualified_table)
                .where(in_list_predicate(pcol, partitions))
                .groupBy(pcol)
                .agg(F.count(F.lit(1)).alias("total"),
                     F.count(F.when(pred, 1)).alias("matches"))
                .collect())
        return {r[pcol]: (r["total"], r["matches"]) for r in rows}

    def analyze(self) -> PartitionPlan:
        """Single-scan replacement for the reference's per-partition COUNT
        loop (PartitionHandler.java:102-123). On failure, conservatively
        treats every candidate as affected (PartitionHandler.java:118-122)."""
        candidates = self.candidate_partitions()
        plan = PartitionPlan(candidates=candidates)
        if not candidates:
            return plan
        try:
            plan.counts = self.partition_counts(candidates)
        except Exception as exc:  # conservative inclusion
            log.warning("partition probe failed (%s); conservatively "
                        "including all %d candidates", exc, len(candidates))
            plan.counts = {p: (-1, -1) for p in candidates}
        return plan


class DeletionExecutor:
    """Copy-on-write deletion over the plan (reference C2-C4)."""

    def __init__(self, spark: SparkSession, config: EngineConfig,
                 metrics: MetricsCollector | None = None):
        self.spark = spark
        self.config = config
        self.metrics = metrics or MetricsCollector()
        self.handler = PartitionHandler(spark, config)

    # -- public API ---------------------------------------------------------

    def dry_run(self, plan: PartitionPlan | None = None) -> DeletionResult:
        """Report would-delete counts without writing (C4,
        DeletionExecutor.java:77-107)."""
        plan = self._repair(plan or self.handler.analyze())
        self.metrics.dry_run = True
        deleted = plan.would_delete
        retained = sum(t for t, _ in plan.counts.values()) - deleted
        audit("dry_run", table=self.config.qualified_table,
              would_delete=deleted, affected=plan.affected)
        return DeletionResult(deleted=deleted, retained=retained,
                              partitions_rewritten=[], partitions_dropped=[],
                              dry_run=True, metrics=self.metrics)

    def execute(self, plan: PartitionPlan | None = None) -> DeletionResult:
        """Run the deletion: DROP fully-emptied partitions, then rewrite the
        partially matching ones in one dynamic-overwrite pass (C2/C3)."""
        cfg = self.config
        plan = plan or self.handler.analyze()
        if cfg.dry_run:
            return self.dry_run(plan)
        self._repair(plan)
        dropped = self.drop_partitions(plan.to_drop)
        rewritten = plan.to_rewrite
        if rewritten:
            self._rewrite(rewritten, plan)

        for pid in dropped:
            self.metrics.record_dropped_partition(pid, plan.counts[pid][1])
        self.metrics.partitions_dropped = len(dropped)

        deleted = self.metrics.records_deleted
        retained = self.metrics.records_retained
        audit("deletion_executed", table=cfg.qualified_table, deleted=deleted,
              retained=retained, dropped=dropped, rewritten=rewritten)
        return DeletionResult(deleted=deleted, retained=retained,
                              partitions_rewritten=rewritten,
                              partitions_dropped=dropped,
                              dry_run=False, metrics=self.metrics)

    # -- internals ----------------------------------------------------------

    def _repair(self, plan: PartitionPlan) -> PartitionPlan:
        """Replace probe-failed sentinel counts, in place, with real ones.
        Rewrite-only would be WRONG for a partition whose rows ALL match:
        its retention scan is empty, and dynamic-partition overwrite writes
        nothing for a partition absent from the data — the matching rows
        would silently survive. If this scan fails too, the exception
        aborts the job BEFORE any mutation."""
        if plan.probe_failed:
            plan.counts = self.handler.partition_counts(plan.candidates)
        return plan

    def retention_scan(self, partitions: list[str]) -> DataFrame:
        """``SELECT * WHERE pcol IN (...) AND NOT(criteria)`` — the
        copy-on-write read (DeletionExecutor.java:153-157). Declarative, so
        Catalyst prunes to the listed partitions and pushes the retention
        predicate into the columnar reader."""
        cfg = self.config
        return (self.spark.table(cfg.qualified_table)
                .where(in_list_predicate(cfg.partition_column, partitions))
                .where(cfg.criteria.retention_column(cfg.null_safe_retention)))

    def _rewrite(self, partitions: list[str], plan: PartitionPlan) -> None:
        """One dynamic-partition overwrite of every listed partition
        (DeletionExecutor.java:215-222, without the reference's batching
        at 235-244). NO ``partitionBy`` on insertInto — the table's
        partition spec governs (reference constraint, TEST_FIX.md:16-41).

        The retained row count is collected with ``observe()`` DURING the
        write pass — a free accumulator-backed metric, no extra scan (the
        reference re-counts with a second job, DeletionExecutor.java:158).
        It is also the write-TIME truth: ``plan.counts`` was measured at
        analyze time, so a divergence means a partition changed in
        between (concurrent writer) and reconciliation must use the
        observed value, not the stale plan."""
        cfg = self.config
        # insertInto is positional: align to the table's column order.
        cols = self.spark.table(cfg.qualified_table).columns
        obs = Observation()
        (self.retention_scan(partitions).select(*cols)
         .observe(obs, F.count(F.lit(1)).alias("retained"))
         .write.mode("overwrite")
         .insertInto(cfg.qualified_table))
        observed_retained = int(obs.get["retained"])
        before = sum(plan.counts[p][0] for p in partitions)
        per_part = {p: plan.counts[p][1] for p in partitions}
        planned_retained = before - sum(per_part.values())
        if observed_retained != planned_retained:
            log.warning(
                "partitions %s: retained rows at write time (%d) != "
                "analyze-time plan (%d) — table modified between analyze and "
                "rewrite; metrics use the observed count", partitions,
                observed_retained, planned_retained)
            audit("concurrent_modification_detected", partitions=partitions,
                  planned_retained=planned_retained,
                  observed_retained=observed_retained)
            # Reconcile: retained is the write-time truth; deleted falls
            # back to the analyze-time match counts, the only non-negative
            # estimate without a second scan (the retention scan never
            # reads matching rows). Rebuilding `before` from both keeps
            # deleted = before - retained from going negative when a
            # concurrent writer ADDED rows. The reference's counts race
            # identically with no detection (DeletionExecutor.java:143-158).
            before = observed_retained + sum(per_part.values())
        self.metrics.record_batch(partitions, before, observed_retained,
                                  per_part)

    def drop_partitions(self, partitions: list[str]) -> list[str]:
        """Empty-partition fast path: metadata DROP + external-dir delete.
        External tables keep their directory after DROP PARTITION, so the
        files are removed explicitly (DeletionExecutor.java:251-269).

        Every location is read first, then one DROP removes all the
        partitions, then each directory is deleted; a failure before the
        directories raises with none of them touched. A directory that
        survives its delete raises too (the reference only logs): after
        the DROP, so the job's recovery restores the backup."""
        if not partitions:
            return []
        table = self.config.qualified_table
        locations = catalog.locations(self.spark, table, partitions)
        catalog.drop_partitions(self.spark, table,
                                self.config.partition_column, partitions)
        fs = HadoopFS(self.spark)
        for pid in partitions:
            location = locations.get(pid)
            if (location and not fs.delete(location, recursive=True)
                    and fs.exists(location)):
                raise RuntimeError(
                    f"partition {pid}: directory {location} survived its "
                    f"delete")
            audit("partition_dropped", table=table, partition=pid,
                  location=location)
        return list(partitions)
