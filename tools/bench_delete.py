"""End-to-end DELETE workflow benchmark at sf1 (1M-row partitioned table).

The engine's reason to exist — the reference's C1→C3 copy-on-write delete
over a partitioned Hive table (DeletionExecutor.java:139-230,
PartitionHandler.java:34-126) — is exercised by functional tests only at
toy scale; this tool gives the headline capability a real perf row.

Protocol: build ONE partitioned ORC Hive table from the sf1 events
derivation (tools/make_sf1.py → 1,000,000 rows across 30 daily
partitions, ~33k rows each), then run the FULL DeletionJob pipeline
(identify → backup → dynamic-overwrite rewrite → post-validate) for
scenarios chosen to hit each execution path once, each scoped to its
OWN disjoint partition window so no scenario sees another's mutations:

- ``delete_1pct``     7-partition window, criteria matches ~1% of rows
                      (the routine GDPR-style delete: rewrite dominated
                      by the retained 99%).
- ``delete_50pct``    7-partition window, ~50% match (rewrite cost at
                      its worst useful point: backup + half the data
                      rewritten).
- ``empty_partition`` time-window criteria covering one whole day →
                      matches == total → the metadata-only DROP fast
                      path (no rewrite batch, no read-back).
- ``no_match``        7-partition window, criteria matches nothing →
                      pure identify + validation cost (the floor every
                      run pays).
- ``dry_run``         7-partition window, ~1% match, dry_run=True →
                      the planning/reporting path (identify + counts,
                      zero writes).

Round-6 additions (the paths the round-5 verdict found un-benched):

- ``delete_skewed``     a SEPARATE table where one partition holds ~50%
                        of all rows (multi-file, like a real hot
                        partition) and the criteria match only inside
                        it — the hot-partition rewrite the uniform
                        scenarios never exercise.
- ``concurrent_writer`` rows INSERTED into a candidate partition
                        between analyze() and execute(): the
                        write-time ``observe()`` count diverges from
                        the plan, the ``concurrent_modification_
                        detected`` audit fires, and metrics reconcile
                        to the observed truth (deletion.py:279-301 —
                        previously unit-tested only).
- ``restore_bench``     C6/C8 timed: hive-table restore of the
                        delete_1pct backup, path-strategy backup +
                        restore, and a simulated transient-failure
                        recovery (first restore attempt raises →
                        1 s backoff → retry succeeds) — runs AFTER the
                        integrity check because restore resurrects
                        deleted rows by design.

Partition-pruning evidence (the 100 TB argument): for each scenario the
tool re-derives the handler's own analysis scan and records (a) the
driver-side prune ratio candidates/total_partitions and (b) whether the
executed scan carries the partition IN-list in ``PartitionFilters`` —
i.e. the probe reads ONLY the windowed partitions, so cost scales with
the window, not the table.

A ``many_partition_probe`` section additionally builds an
HOURLY-partitioned copy (~720 partitions) and counts the Spark jobs
``analyze()`` launches — the single-scan-analysis claim (reference:
one COUNT job per partition) measured, and the test that caught the
metastore IN-list overflow (see session.py's
``metastorePartitionPruningInSetThreshold``).

Results merge into BENCH_DETAIL.json under ``delete_bench`` (bench.py
preserves foreign keys on refresh; ``SPARK_GRAFT_DELETE_SF=10`` with
``SPARK_GRAFT_SF1_DIR=/tmp/sf10`` writes ``delete_bench_sf10``). Run
SOLO, like every bench.

Usage: python tools/make_sf1.py && python tools/bench_delete.py
"""

from __future__ import annotations

import contextlib
import io
import json
import logging
import os
import sys
import tempfile
import time
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bd_delete_records_from_external_hive_table_spark import catalog  # noqa: E402
from bd_delete_records_from_external_hive_table_spark.config import (  # noqa: E402
    DeletionCriteria, EngineConfig)
from bd_delete_records_from_external_hive_table_spark.job import DeletionJob  # noqa: E402
from bd_delete_records_from_external_hive_table_spark.operators.deletion import (  # noqa: E402
    PartitionHandler)
from bd_delete_records_from_external_hive_table_spark.partitions import (  # noqa: E402
    in_list_predicate)
from bd_delete_records_from_external_hive_table_spark.session import SessionFactory  # noqa: E402
from bd_delete_records_from_external_hive_table_spark.sources.tables import load_table  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
#: label for the BENCH_DETAIL section: "1" → delete_bench (the default
#: sf1 run), anything else → delete_bench_sf<label> (e.g. a 10M-row
#: sf10 run with SPARK_GRAFT_SF1_DIR=/tmp/sf10 SPARK_GRAFT_DELETE_SF=10)
SF_LABEL = os.environ.get("SPARK_GRAFT_DELETE_SF", "1")
DB = "delete_bench"
TABLE = "events_sf1"


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def build_table(spark) -> tuple[float, int, int]:
    """Partitioned ORC Hive table from sf1 events: partition_id =
    yyyyMMdd(ts) — the reference's exact layout (daily STRING
    partitions, ORC storage, HiveTableDeletionJobIntegrationTest.java
    fixture shape)."""
    t0 = time.time()
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    spark.sql(f"DROP TABLE IF EXISTS {DB}.{TABLE}")
    spark.sql(f"""
        CREATE TABLE {DB}.{TABLE} (
          event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
          event_type STRING, value DOUBLE, props STRING
        ) PARTITIONED BY (partition_id STRING) STORED AS ORC
    """)
    ev = load_table(spark, SF1, "events")
    (ev.select("event_id", "ts", "user_id", "event_type", "value", "props",
               F.date_format("ts", "yyyyMMdd").alias("partition_id"))
       .repartition("partition_id")   # one writer wave, one file/partition
       .write.insertInto(f"{DB}.{TABLE}"))
    n_rows = spark.table(f"{DB}.{TABLE}").count()
    n_parts = spark.sql(f"SHOW PARTITIONS {DB}.{TABLE}").count()
    return round(time.time() - t0, 3), n_rows, n_parts


def prune_evidence(spark, cfg: EngineConfig) -> dict:
    """Replicates PartitionHandler.analyze()'s scan and inspects its
    plan: at 100 TB the probe must read the windowed partitions only."""
    total = len(catalog.partitions(spark, cfg.qualified_table))
    cands = PartitionHandler(spark, cfg).candidate_partitions()
    pred = cfg.criteria.deletion_column(cfg.null_safe_retention)
    probe = (spark.table(cfg.qualified_table)
             .where(in_list_predicate(cfg.partition_column, cands))
             .groupBy(cfg.partition_column)
             .agg(F.count(F.lit(1)).alias("total"),
                  F.count(F.when(pred, 1)).alias("matches")))
    plan = _explain(probe)
    pf = [ln.strip() for ln in plan.splitlines()
          if "PartitionFilters" in ln]
    return {
        "total_partitions": total,
        "candidate_partitions": len(cands),
        # a single-candidate IN-list folds to an equality filter — both
        # shapes prove the probe reads only the windowed partitions
        "partition_filters_in_scan": bool(
            pf and cfg.partition_column in pf[0]
            and (" IN " in pf[0] or " = " in pf[0])),
        "partition_filters": pf[0][:200] if pf else None,
    }


def run_scenario(spark, name: str, cfg: EngineConfig,
                 backup_refs: dict | None = None) -> dict:
    evidence = prune_evidence(spark, cfg)
    t0 = time.time()
    outcome = DeletionJob(spark, cfg).run()
    wall = round(time.time() - t0, 3)
    if not outcome.success:
        raise RuntimeError(f"{name} failed: {outcome.error}")
    if backup_refs is not None and outcome.backup is not None:
        backup_refs[name] = outcome.backup
    r, m = outcome.result, outcome.metrics
    row = {
        "wall_s": wall,
        "deleted": r.deleted,
        "retained_in_rewrites": r.retained,
        "partitions_rewritten": len(r.partitions_rewritten),
        "partitions_dropped": len(r.partitions_dropped),
        "dry_run": r.dry_run,
        "backup_created": m.backup_created,
        "validation_passed": m.validation_passed,
        **evidence,
    }
    print(json.dumps({name: row}), flush=True)
    return row


class _AuditCapture(logging.Handler):
    """Collects bd_engine.audit records so scenarios can assert which
    audit events actually fired (the log IS the contract: the reference
    wires the same events through log4j)."""

    def __init__(self):
        super().__init__()
        self.events: list[str] = []

    def emit(self, record):
        self.events.append(record.getMessage())

    def named(self, event: str) -> list[dict]:
        out = []
        for msg in self.events:
            name, _, payload = msg.partition(" ")
            if name == event:
                try:
                    out.append(json.loads(payload))
                except ValueError:
                    out.append({})
        return out


def skewed_scenario(spark) -> dict:
    """Hot-partition delete: one partition holds ~50% of ALL rows (every
    even user_id lands in 20240101), written WITHOUT per-partition
    repartitioning so the hot partition is multi-file — exactly how a
    real hot partition accumulates. Criteria (user_id % 20 = 0) match
    ~10% of rows, ALL inside the hot partition, so the rewrite is one
    huge retention scan + dynamic overwrite. The scale argument this
    measures: rewrite parallelism follows input splits (many files /
    ORC stripes), not partition count, so a 50%-of-table partition
    cannot serialize onto one task or OOM one executor."""
    t0 = time.time()
    spark.sql(f"DROP TABLE IF EXISTS {DB}.events_skewed")
    spark.sql(f"""
        CREATE TABLE {DB}.events_skewed (
          event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
          event_type STRING, value DOUBLE, props STRING
        ) PARTITIONED BY (partition_id STRING) STORED AS ORC
    """)
    ev = load_table(spark, SF1, "events")
    (ev.select("event_id", "ts", "user_id", "event_type", "value", "props",
               F.when(F.col("user_id") % 2 == 0, F.lit("20240101"))
                .otherwise(F.date_format("ts", "yyyyMMdd"))
                .alias("partition_id"))
       .write.insertInto(f"{DB}.events_skewed"))
    build_s = round(time.time() - t0, 3)
    hot_rows = spark.table(f"{DB}.events_skewed").where(
        "partition_id = '20240101'").count()
    total_rows = spark.table(f"{DB}.events_skewed").count()
    cfg = EngineConfig(
        database=DB, table="events_skewed",
        criteria=DeletionCriteria(time_column="ts",
                                  where_clause="user_id % 20 = 0"),
        partition_start=datetime(2024, 1, 1),
        partition_end=datetime(2024, 1, 8))
    row = run_scenario(spark, "delete_skewed", cfg)
    after_hot = spark.table(f"{DB}.events_skewed").where(
        "partition_id = '20240101'").count()
    row.update({
        "build_wall_s": build_s,
        "total_rows": total_rows,
        "hot_partition_rows": hot_rows,
        "hot_partition_share": round(hot_rows / total_rows, 3),
        "hot_rows_after": after_hot,
        # every deleted row lived in the hot partition by construction
        "hot_delete_consistent": after_hot == hot_rows - row["deleted"],
    })
    return row


def concurrent_writer_scenario(spark) -> dict:
    """A writer INSERTS 1000 non-matching rows into a candidate
    partition between analyze() and execute(): the write-time
    ``observe()`` retained count diverges from the analyze-time plan,
    the executor must fire ``concurrent_modification_detected`` and
    reconcile metrics to the observed truth (deletion.py:279-301 — the
    race the reference's three separate count jobs hit with NO
    detection, DeletionExecutor.java:143-158)."""
    from bd_delete_records_from_external_hive_table_spark.metrics import MetricsCollector
    from bd_delete_records_from_external_hive_table_spark.operators.deletion import (
        DeletionExecutor)

    cfg = EngineConfig(
        database=DB, table=TABLE,
        criteria=DeletionCriteria(time_column="ts",
                                  where_clause="user_id % 100 = 7"),
        backup_enabled=False,
        partition_start=datetime(2024, 1, 16),
        partition_end=datetime(2024, 1, 23))
    evidence = prune_evidence(spark, cfg)
    before = (spark.table(f"{DB}.{TABLE}")
              .where("partition_id >= '20240116' AND "
                     "partition_id < '20240123'").count())
    plan = PartitionHandler(spark, cfg).analyze()

    # the concurrent writer: 1000 rows into candidate partition 20240117,
    # user_id=13 (13 % 100 != 7) so none match the running delete
    inserted = 1000
    (spark.range(inserted)
     .select((F.col("id") + 90_000_000).alias("event_id"),
             F.lit(datetime(2024, 1, 17, 12)).cast("timestamp").alias("ts"),
             F.lit(13).cast("bigint").alias("user_id"),
             F.lit("click").alias("event_type"),
             F.lit(1.0).alias("value"),
             F.lit("{}").alias("props"),
             F.lit("20240117").alias("partition_id"))
     .write.mode("append").insertInto(f"{DB}.{TABLE}"))

    cap = _AuditCapture()
    audit_log = logging.getLogger("bd_engine.audit")
    audit_log.addHandler(cap)
    audit_log.setLevel(logging.INFO)
    try:
        metrics = MetricsCollector()
        t0 = time.time()
        result = DeletionExecutor(spark, cfg, metrics).execute(plan)
        wall = round(time.time() - t0, 3)
    finally:
        audit_log.removeHandler(cap)
    detections = cap.named("concurrent_modification_detected")
    after = (spark.table(f"{DB}.{TABLE}")
             .where("partition_id >= '20240116' AND "
                    "partition_id < '20240123'").count())
    row = {
        "wall_s": wall,
        "deleted": result.deleted,
        "retained_in_rewrites": result.retained,
        "partitions_rewritten": len(result.partitions_rewritten),
        "partitions_dropped": len(result.partitions_dropped),
        "dry_run": False,
        "rows_inserted": inserted,
        "divergence_detected": bool(detections),
        "planned_retained": (detections[0].get("planned_retained")
                             if detections else None),
        "observed_retained": (detections[0].get("observed_retained")
                              if detections else None),
        # write-time truth: window = before + inserted - deleted
        "counts_consistent": after == before + inserted - result.deleted,
        # the observed-vs-plan gap must be EXACTLY the concurrent insert
        "divergence_equals_insert": bool(
            detections
            and sum(d["observed_retained"] - d["planned_retained"]
                    for d in detections) == inserted),
        **evidence,
    }
    print(json.dumps({"concurrent_writer": row}), flush=True)
    return row


class _FlakyBackups:
    """BackupManager wrapper whose restore fails the first N times —
    the transient-failure shape RecoveryManager's backoff loop exists
    for (RecoveryManager.java:49-77)."""

    def __init__(self, inner, fail_times: int = 1):
        self._inner = inner
        self._fails = fail_times

    def restore(self, ref):
        if self._fails > 0:
            self._fails -= 1
            raise RuntimeError("injected transient restore failure")
        return self._inner.restore(ref)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def restore_recovery_bench(spark, base: str, backup_refs: dict) -> dict:
    """C6 (restoreFromBackup, both strategies) and C8 (auto-recovery
    with retries) timed at sf-scale — functionally tested since round 1
    but never benched. Runs AFTER the integrity check: restoring the
    delete_1pct backup resurrects its deleted rows by design."""
    from bd_delete_records_from_external_hive_table_spark.operators.backup import (
        BackupManager)
    from bd_delete_records_from_external_hive_table_spark.operators.recovery import (
        RecoveryManager)

    out: dict = {}
    # --- hive_table strategy restore of the delete_1pct backup
    cfg = EngineConfig(
        database=DB, table=TABLE,
        criteria=DeletionCriteria(time_column="ts",
                                  where_clause="user_id % 100 = 0"),
        partition_start=datetime(2024, 1, 1),
        partition_end=datetime(2024, 1, 8))
    mgr = BackupManager(spark, cfg)
    ref = backup_refs.get("delete_1pct") or mgr.latest_backup()
    t0 = time.time()
    restored = mgr.restore(ref)
    hive_restore_s = round(time.time() - t0, 3)
    window_rows = (spark.table(f"{DB}.{TABLE}")
                   .where("partition_id >= '20240101' AND "
                          "partition_id < '20240108'").count())
    out["hive_restore"] = {
        "wall_s": hive_restore_s, "rows_restored": restored,
        "partitions": len(ref.partitions),
        "window_matches_backup": window_rows == restored,
    }

    # --- path strategy: backup + restore round trip on the next window
    pcfg = EngineConfig(
        database=DB, table=TABLE,
        criteria=DeletionCriteria(time_column="ts",
                                  where_clause="user_id % 2 = 0"),
        backup_strategy="path",
        backup_location=os.path.join(base, "path_backups"),
        partition_start=datetime(2024, 1, 8),
        partition_end=datetime(2024, 1, 15))
    pmgr = BackupManager(spark, pcfg)
    parts = PartitionHandler(spark, pcfg).candidate_partitions()
    t0 = time.time()
    pref = pmgr.create_backup(parts)
    path_create_s = round(time.time() - t0, 3)
    t0 = time.time()
    prestored = pmgr.restore(pref)
    path_restore_s = round(time.time() - t0, 3)
    out["path_backup_restore"] = {
        "create_wall_s": path_create_s, "restore_wall_s": path_restore_s,
        "rows": prestored, "partitions": len(parts),
    }

    # --- auto-recovery with a transient failure: attempt 0 raises,
    # 2^0 = 1 s backoff, attempt 1 succeeds (real sleep, honest wall)
    cap = _AuditCapture()
    audit_log = logging.getLogger("bd_engine.audit")
    audit_log.addHandler(cap)
    audit_log.setLevel(logging.INFO)
    try:
        rec = RecoveryManager(spark, cfg, _FlakyBackups(mgr, fail_times=1))
        t0 = time.time()
        ok = rec.recover(ref)
        recover_s = round(time.time() - t0, 3)
    finally:
        audit_log.removeHandler(cap)
    succ = cap.named("recovery_succeeded")
    out["auto_recovery"] = {
        "wall_s": recover_s, "recovered": ok,
        "attempts": (succ[0].get("attempt", 0) + 1) if succ else None,
        "includes_backoff_s": 1.0,
    }
    print(json.dumps({"restore_bench": out}), flush=True)
    return out


def many_partition_probe(spark) -> dict:
    """The single-scan-analysis claim, measured: the reference probes
    each candidate partition with its own COUNT(*) Spark job
    (PartitionHandler.java:102-123 — N partitions ⇒ N jobs); this
    engine's ``analyze()`` is ONE partition-pruned groupBy however many
    partitions exist. Build an HOURLY-partitioned copy (~720 partitions
    at sf1) and count the Spark jobs analyze() actually launches via a
    job group."""
    t0 = time.time()
    spark.sql(f"DROP TABLE IF EXISTS {DB}.events_hourly")
    spark.sql(f"""
        CREATE TABLE {DB}.events_hourly (
          event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
          event_type STRING, value DOUBLE, props STRING
        ) PARTITIONED BY (partition_id STRING) STORED AS ORC
    """)
    ev = load_table(spark, SF1, "events")
    (ev.select("event_id", "ts", "user_id", "event_type", "value", "props",
               F.date_format("ts", "yyyyMMddHH").alias("partition_id"))
       .repartition("partition_id")
       .write.insertInto(f"{DB}.events_hourly"))
    build_s = round(time.time() - t0, 3)
    cfg = EngineConfig(
        database=DB, table="events_hourly",
        criteria=DeletionCriteria(time_column="ts",
                                  where_clause="user_id % 1000 = 0"),
        backup_enabled=False, validation_enabled=True)
    sc = spark.sparkContext
    sc.setJobGroup("analyze-many", "single-scan partition analysis")
    t0 = time.time()
    plan = PartitionHandler(spark, cfg).analyze()
    analyze_s = round(time.time() - t0, 3)
    jobs = sc.statusTracker().getJobIdsForGroup("analyze-many")
    sc.setJobGroup("", "")
    # ...and the full delete over the same table: ~122 affected
    # partitions rewritten in ONE dynamic-overwrite pass (the reference
    # batches them, DeletionExecutor.java:235-244) — a partition count the
    # 30-partition scenarios (≤7 affected) never exercise.
    t0 = time.time()
    outcome = DeletionJob(spark, cfg).run()
    delete_s = round(time.time() - t0, 3)
    if not outcome.success:
        raise RuntimeError(f"many-partition delete failed: {outcome.error}")
    r, m = outcome.result, outcome.metrics
    row = {
        "build_wall_s": build_s,
        "partitions": len(plan.candidates),
        "affected": len(plan.affected),
        "analyze_wall_s": analyze_s,
        "analyze_spark_jobs": len(jobs),
        "reference_equivalent_jobs": len(plan.candidates),
        "delete_wall_s": delete_s,
        "deleted": r.deleted,
        "partitions_rewritten": len(r.partitions_rewritten),
        # rewrite jobs: 1 whenever any partition is partially rewritten
        "rewrite_batches": m.batches_processed,
        "validation_passed": m.validation_passed,
    }
    print(json.dumps({"many_partition_probe": row}), flush=True)
    return row


def main() -> None:
    if not os.path.exists(os.path.join(SF1, "events.parquet")):
        sys.exit(f"{SF1}/events.parquet missing — run tools/make_sf1.py first")
    load0 = os.getloadavg()[0]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    base = tempfile.mkdtemp(prefix="delete_bench_")
    spark = SessionFactory.create(
        app_name="delete-bench", master=f"local[{cpus}]", hive=True,
        warehouse_dir=os.path.join(base, "warehouse"),
        metastore_dir=os.path.join(base, "metastore_db"),
        shuffle_partitions=int(cpus) if cpus.isdigit() else 32)

    build_s, n_rows, n_parts = build_table(spark)
    print(json.dumps({"build": {"wall_s": build_s, "rows": n_rows,
                                "partitions": n_parts}}), flush=True)

    def window(d0: int, d1: int) -> dict:
        return {"partition_start": datetime(2024, 1, d0),
                "partition_end": datetime(2024, 1, d1)}

    crit = lambda **kw: DeletionCriteria(time_column="ts", **kw)
    scenarios = {
        # ~1% of rows in a 7-day window; full pipeline incl. backup
        "delete_1pct": EngineConfig(
            database=DB, table=TABLE,
            criteria=crit(where_clause="user_id % 100 = 0"),
            **window(1, 8)),
        # ~50% of rows in the next 7-day window
        "delete_50pct": EngineConfig(
            database=DB, table=TABLE,
            criteria=crit(where_clause="user_id % 2 = 0"),
            **window(8, 15)),
        # whole-day time window empties partition 20240115 → DROP path
        "empty_partition": EngineConfig(
            database=DB, table=TABLE,
            criteria=crit(start_time=datetime(2024, 1, 15),
                          end_time=datetime(2024, 1, 16)),
            **window(15, 16)),
        # nothing matches → identify-only floor
        "no_match": EngineConfig(
            database=DB, table=TABLE,
            criteria=crit(where_clause="user_id < 0"),
            **window(16, 23)),
        # planning/reporting path, zero writes
        "dry_run": EngineConfig(
            database=DB, table=TABLE,
            criteria=crit(where_clause="user_id % 100 = 0"),
            dry_run=True, **window(23, 31)),
    }

    results = {}
    backup_refs: dict = {}
    for name, cfg in scenarios.items():
        results[name] = run_scenario(spark, name, cfg, backup_refs)

    # concurrent-writer race on the main table (adds 1000 rows to the
    # 20240117 partition — accounted for in the integrity check below)
    results["concurrent_writer"] = concurrent_writer_scenario(spark)

    # hot-partition rewrite on its OWN table (kept out of `results` so
    # the main-table integrity arithmetic stays clean)
    skewed = skewed_scenario(spark)

    # --- merge-on-read counterpart (deletion vectors): same ~1% delete
    # shape as delete_1pct but via tombstones — the write-amplification
    # comparison: delete cost O(matching rows) vs CoW's partition
    # rewrite; read pays one broadcast anti join; compact() amortizes
    # the physical rewrite (reference CoW machinery underneath).
    from bd_delete_records_from_external_hive_table_spark.operators.deletion_vectors import (
        MergeOnReadDeleter)
    mor_cfg = EngineConfig(
        database=DB, table=TABLE,
        criteria=crit(where_clause="user_id % 100 = 50"),
        backup_enabled=False, **window(23, 31))
    mor = MergeOnReadDeleter(spark, mor_cfg,
                             dv_path=os.path.join(base, "dv_store"),
                             key_columns=["event_id"])
    t0 = time.time()
    dres = mor.delete()
    mor_delete_s = round(time.time() - t0, 3)
    t0 = time.time()
    visible = mor.read().count()
    mor_read_s = round(time.time() - t0, 3)
    t0 = time.time()
    cres = mor.compact()
    mor_compact_s = round(time.time() - t0, 3)
    results["mor_delete_1pct"] = {
        "wall_s": mor_delete_s, "deleted": dres.keys_written,
        "read_after_delete_s": mor_read_s, "visible_rows": visible,
        "compact_s": mor_compact_s,
        "compact_partitions_rewritten": len(cres.partitions_rewritten),
        "dry_run": False,
        "cow_equivalent_wall_s": results["delete_1pct"]["wall_s"],
    }
    print(json.dumps({"mor_delete_1pct": results["mor_delete_1pct"]}),
          flush=True)

    many = many_partition_probe(spark)

    # integrity: the table must account for every row (1% of ~233k +
    # 50% of ~233k + one full day + the concurrent scenario's
    # insert-minus-delete) with untouched windows intact
    final_rows = spark.table(f"{DB}.{TABLE}").count()
    expected = (n_rows
                - sum(r["deleted"] for r in results.values()
                      if not r["dry_run"])
                + sum(r.get("rows_inserted", 0) for r in results.values()))

    # C6/C8 timed AFTER the integrity check: restore resurrects rows
    restore_bench = restore_recovery_bench(spark, base, backup_refs)

    section = {
        "sf": SF_LABEL,
        "rows": n_rows,
        "partitions": n_parts,
        "build_wall_s": build_s,
        "final_rows_match": final_rows == expected,
        "loadavg_start": round(load0, 2),
        "loadavg_end": round(os.getloadavg()[0], 2),
        "scenarios": results,
        "skewed": skewed,
        "restore_bench": restore_bench,
        "many_partition_probe": many,
    }
    key = ("delete_bench" if SF_LABEL == "1"
           else f"delete_bench_sf{SF_LABEL}")
    path = os.path.join(REPO, "BENCH_DETAIL.json")
    with open(path) as f:
        detail = json.load(f)
    detail[key] = section
    with open(path, "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps({key: {
        k: round(v["wall_s"], 2) for k, v in results.items()}
        | {"final_rows_match": section["final_rows_match"]}}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
