"""End-to-end deletion-engine tests.

Ports the reference's 4 golden integration scenarios
(/root/reference/src/test/java/com/bigdata/hive/deletion/
HiveTableDeletionJobIntegrationTest.java:109-303, TESTING.md:7-12) and adds
the invariants the reference documents but never tests (SURVEY §5):
untouched-partition preservation, the empty-partition drop path, and the
backup/restore round trip.
"""

from __future__ import annotations

import itertools
import json
import logging
from datetime import datetime

import pytest

from bd_delete_records_from_external_hive_table_spark.config import DeletionCriteria, EngineConfig
from bd_delete_records_from_external_hive_table_spark.job import DeletionJob
from bd_delete_records_from_external_hive_table_spark.operators.backup import (
    BackupError,
    BackupManager,
)
from bd_delete_records_from_external_hive_table_spark.operators.deletion import (
    DeletionExecutor,
    PartitionPlan,
)
from bd_delete_records_from_external_hive_table_spark.operators.validation import ValidationManager

_seq = itertools.count()

DB = "test_db"


@pytest.fixture(scope="module", autouse=True)
def _db(spark):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    yield


@pytest.fixture
def table(spark):
    """Fresh reference fixture table per test (test:68-89)."""
    name = f"test_deletion_table_{next(_seq)}"
    spark.sql(f"""
        CREATE TABLE {DB}.{name} (
          id BIGINT, name STRING, status STRING, row_create_ts TIMESTAMP
        ) PARTITIONED BY (partition_id STRING) STORED AS ORC
    """)
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {DB}.{name}")
    # drop any backup tables this test created (test:91-107)
    for t in spark.catalog.listTables(DB):
        if t.name.startswith(f"{name}_backup_"):
            spark.sql(f"DROP TABLE IF EXISTS {DB}.{t.name}")


def seed(spark, table: str, partition: str = "20260213",
         hourly: bool = False, ids=range(1, 11)) -> None:
    """10 rows; every 3rd (i%3==2 → ids 2,5,8) INACTIVE; fixed 09:00 or
    hourly 09:00..18:00 timestamps (test:308-350)."""
    day = f"{partition[0:4]}-{partition[4:6]}-{partition[6:8]}"
    rows = []
    for i in ids:
        status = "INACTIVE" if i % 3 == 2 else "ACTIVE"
        hour = 9 + (i - min(ids)) if hourly else 9
        rows.append(f"({i}, 'User{i}', '{status}', "
                    f"TIMESTAMP '{day} {hour:02d}:00:00')")
    spark.sql(f"INSERT INTO {DB}.{table} PARTITION (partition_id='{partition}') "
              f"VALUES {', '.join(rows)}")


def _cfg(table: str, criteria: DeletionCriteria, **kw) -> EngineConfig:
    kw.setdefault("backup_enabled", False)
    kw.setdefault("validation_enabled", True)
    return EngineConfig(database=DB, table=table, criteria=criteria, **kw)


def remaining_ids(spark, table: str) -> list[int]:
    return [r.id for r in
            spark.table(f"{DB}.{table}").orderBy("id").select("id").collect()]


# -- golden scenario 1: delete one record from ten (test:109-180) -----------

def test_delete_one_record_from_ten(spark, table):
    seed(spark, table)
    cfg = _cfg(table, DeletionCriteria(
        where_clause="id = 5",
        start_time=datetime(2026, 2, 13, 0, 0, 0),
        end_time=datetime(2026, 2, 13, 23, 59, 59)))
    outcome = DeletionJob(spark, cfg).run()
    assert outcome.success, outcome.error
    assert outcome.result.deleted == 1
    assert remaining_ids(spark, table) == [1, 2, 3, 4, 6, 7, 8, 9, 10]
    assert outcome.validation is not None and outcome.validation.passed


# -- golden scenario 2: pure time window, start incl / end excl (test:182-219)

def test_delete_with_time_window(spark, table):
    seed(spark, table, hourly=True)  # id i has ts 2026-02-13 (8+i):00
    cfg = _cfg(table, DeletionCriteria(
        start_time=datetime(2026, 2, 13, 11, 0, 0),
        end_time=datetime(2026, 2, 13, 13, 0, 0)))
    outcome = DeletionJob(spark, cfg).run()
    assert outcome.success, outcome.error
    # ids 3 (11:00, inclusive) and 4 (12:00); id 5 at 13:00 excluded
    assert outcome.result.deleted == 2
    assert remaining_ids(spark, table) == [1, 2, 5, 6, 7, 8, 9, 10]


# -- golden scenario 3: delete by status (test:221-264) ----------------------

def test_delete_by_status(spark, table):
    seed(spark, table)
    cfg = _cfg(table, DeletionCriteria(where_clause="status = 'INACTIVE'"))
    outcome = DeletionJob(spark, cfg).run()
    assert outcome.success, outcome.error
    assert outcome.result.deleted == 3
    assert remaining_ids(spark, table) == [1, 3, 4, 6, 7, 9, 10]
    inactive = spark.table(f"{DB}.{table}").where("status='INACTIVE'").count()
    assert inactive == 0


# -- golden scenario 4: dry run (test:266-303) -------------------------------

def test_dry_run_reports_but_does_not_delete(spark, table):
    seed(spark, table)
    cfg = _cfg(table, DeletionCriteria(
        where_clause="id = 5",
        start_time=datetime(2026, 2, 13, 0, 0, 0),
        end_time=datetime(2026, 2, 13, 23, 59, 59)), dry_run=True)
    outcome = DeletionJob(spark, cfg).run()
    assert outcome.success, outcome.error
    assert outcome.result.dry_run
    assert outcome.result.deleted == 1  # would-delete
    assert spark.table(f"{DB}.{table}").count() == 10


# -- documented-but-untested invariants --------------------------------------

def test_untouched_partition_preserved_and_empty_partition_dropped(spark, table):
    """Dynamic-partition-overwrite invariant (DYNAMIC_PARTITION_VERIFICATION
    .md:93-121) + empty-partition fast path (DeletionExecutor.java:164-214)."""
    seed(spark, table, partition="20260213", ids=range(1, 11))
    seed(spark, table, partition="20260214", ids=range(11, 21))
    before_untouched = spark.table(f"{DB}.{table}") \
        .where("partition_id='20260214'").collect()

    # criteria matches every row of partition 20260213 and none of 20260214
    cfg = _cfg(table, DeletionCriteria(
        start_time=datetime(2026, 2, 13, 0, 0, 0),
        end_time=datetime(2026, 2, 14, 0, 0, 0),
        time_column="row_create_ts"))
    outcome = DeletionJob(spark, cfg).run()
    assert outcome.success, outcome.error
    assert outcome.result.deleted == 10
    assert outcome.result.partitions_dropped == ["20260213"]
    assert outcome.result.partitions_rewritten == []

    # untouched partition byte-identical row set
    after_untouched = spark.table(f"{DB}.{table}") \
        .where("partition_id='20260214'").collect()
    assert sorted(before_untouched) == sorted(after_untouched)

    # emptied partition gone from metadata
    parts = [r[0] for r in
             spark.sql(f"SHOW PARTITIONS {DB}.{table}").collect()]
    assert parts == ["partition_id=20260214"]


def test_partial_rewrite_keeps_partition(spark, table):
    seed(spark, table, partition="20260213")
    seed(spark, table, partition="20260214", ids=range(11, 21))
    cfg = _cfg(table, DeletionCriteria(where_clause="id IN (2, 15)"))
    outcome = DeletionJob(spark, cfg).run()
    assert outcome.success, outcome.error
    assert outcome.result.deleted == 2
    assert sorted(outcome.result.partitions_rewritten) == ["20260213", "20260214"]
    assert remaining_ids(spark, table) == \
        [1, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 18, 19, 20]
    parts = [r[0] for r in spark.sql(f"SHOW PARTITIONS {DB}.{table}").collect()]
    assert parts == ["partition_id=20260213", "partition_id=20260214"]


def test_partition_window_scopes_deletion_and_validation(spark, table):
    """A partition window restricts both the delete AND post-validation:
    rows outside the window that match the criteria must survive without
    failing the zero-matching-remain check (validation is scoped to the
    candidate partitions, not the whole table)."""
    from datetime import date
    seed(spark, table, partition="20260210")
    seed(spark, table, partition="20260211", ids=range(11, 21))
    cfg = _cfg(table, DeletionCriteria(where_clause="id >= 1"),
               partition_start=date(2026, 2, 11),
               partition_end=date(2026, 2, 12))
    outcome = DeletionJob(spark, cfg).run()
    assert outcome.success, outcome.error
    assert outcome.result.deleted == 10
    assert outcome.result.partitions_dropped == ["20260211"]
    assert outcome.validation is not None and outcome.validation.passed
    # out-of-window partition untouched even though every row matches
    assert remaining_ids(spark, table) == list(range(1, 11))
    parts = [r[0] for r in spark.sql(f"SHOW PARTITIONS {DB}.{table}").collect()]
    assert parts == ["partition_id=20260210"]


def test_probe_failure_conservative_path_still_deletes_and_backs_up(
        spark, table):
    """When partition analysis fails (sentinel counts), the job must
    still: back up every candidate, DROP a fully-matching partition
    (rewrite-only would leave its rows untouched under dynamic
    overwrite), rewrite partials, and validate."""
    from bd_delete_records_from_external_hive_table_spark.operators.deletion import PartitionPlan
    seed(spark, table, partition="20260213")              # partial match
    seed(spark, table, partition="20260214", ids=range(11, 21))  # all match
    crit = DeletionCriteria(where_clause="status = 'INACTIVE' OR id >= 11")
    cfg = _cfg(table, crit, backup_enabled=True)
    job = DeletionJob(spark, cfg)
    sentinel = PartitionPlan(candidates=["20260213", "20260214"],
                             counts={"20260213": (-1, -1),
                                     "20260214": (-1, -1)})
    job.handler.analyze = lambda: sentinel
    outcome = job.run()
    assert outcome.success, outcome.error
    assert outcome.backup is not None  # all candidates backed up
    assert spark.table(outcome.backup.ref).count() == 20
    assert outcome.result.partitions_dropped == ["20260214"]
    assert outcome.result.partitions_rewritten == ["20260213"]
    assert outcome.result.deleted == 13  # ids 2,5,8 + 11..20
    assert remaining_ids(spark, table) == [1, 3, 4, 6, 7, 9, 10]
    assert outcome.validation is not None and outcome.validation.passed
    parts = [r[0] for r in spark.sql(f"SHOW PARTITIONS {DB}.{table}").collect()]
    assert parts == ["partition_id=20260213"]


def test_rewrite_metrics_use_write_time_observed_counts(spark, table):
    """The retained count is observe()d during the write pass. If the
    table changes between analyze and execute (concurrent writer), the
    metrics must reflect the write-time truth, not the stale plan."""
    from bd_delete_records_from_external_hive_table_spark.operators.deletion import (
        PartitionHandler,
    )
    seed(spark, table)  # ids 1..10, id=5 matches the criteria below
    crit = DeletionCriteria(where_clause="id = 5",
                            start_time=datetime(2026, 2, 13),
                            end_time=datetime(2026, 2, 14))
    cfg = _cfg(table, crit, validation_enabled=False)
    plan = PartitionHandler(spark, cfg).analyze()
    assert plan.would_delete == 1
    # concurrent writer adds 5 non-matching rows AFTER the analysis
    seed(spark, table, ids=range(21, 26))
    result = DeletionExecutor(spark, cfg).execute(plan)
    # write-time scan retained 9 original + 5 new = 14 rows, not the
    # planned 9 — metrics must carry the observed number
    assert result.retained == 14
    assert remaining_ids(spark, table) == [1, 2, 3, 4, 6, 7, 8, 9, 10,
                                           21, 22, 23, 24, 25]


def test_null_predicate_rows_counted_and_validated(spark, table):
    """Rows where the predicate is NULL are dropped by the default
    retention scan (3-valued logic) — they must be COUNTED as deleted so
    reconciliation holds, and validation must pass."""
    seed(spark, table)
    spark.sql(f"INSERT INTO {DB}.{table} PARTITION (partition_id='20260213') "
              f"VALUES (100, 'NullStatus', NULL, "
              f"TIMESTAMP '2026-02-13 09:00:00')")
    cfg = _cfg(table, DeletionCriteria(where_clause="status = 'INACTIVE'"))
    outcome = DeletionJob(spark, cfg).run()
    assert outcome.success, outcome.error
    # 3 INACTIVE + 1 NULL-status row are physically dropped, all counted
    assert outcome.result.deleted == 4
    assert remaining_ids(spark, table) == [1, 3, 4, 6, 7, 9, 10]
    assert outcome.validation is not None and outcome.validation.passed


def test_null_safe_retention_keeps_null_rows(spark, table):
    """null_safe_retention=True: NULL-of-P rows survive ('delete only
    what provably matches') and are not counted as deleted."""
    seed(spark, table)
    spark.sql(f"INSERT INTO {DB}.{table} PARTITION (partition_id='20260213') "
              f"VALUES (100, 'NullStatus', NULL, "
              f"TIMESTAMP '2026-02-13 09:00:00')")
    cfg = _cfg(table, DeletionCriteria(where_clause="status = 'INACTIVE'"),
               null_safe_retention=True)
    outcome = DeletionJob(spark, cfg).run()
    assert outcome.success, outcome.error
    assert outcome.result.deleted == 3
    assert remaining_ids(spark, table) == [1, 3, 4, 6, 7, 9, 10, 100]
    assert outcome.validation is not None and outcome.validation.passed


def test_external_table_drop_removes_files_on_disk(spark, tmp_path, caplog):
    """The reference's core case: EXTERNAL tables keep their files after
    DROP PARTITION, so the engine must delete the directory itself
    (DeletionExecutor.java:164-214,251-269). Three partitions empty in one
    job, one at a custom location outside the table root and one whose
    directory name is path-escaped: one multi-spec DROP removes all three,
    each directory is found through the catalog and deleted, and the
    untouched partition's files survive."""
    import logging
    import os
    loc = str(tmp_path / "ext_table")
    elsewhere = str(tmp_path / "elsewhere" / "p12")
    name = f"test_ext_{next(_seq)}"
    spark.sql(f"""
        CREATE EXTERNAL TABLE {DB}.{name} (
          id BIGINT, name STRING, status STRING, row_create_ts TIMESTAMP
        ) PARTITIONED BY (partition_id STRING) STORED AS ORC
        LOCATION '{loc}'
    """)
    try:
        spark.sql(f"ALTER TABLE {DB}.{name} ADD PARTITION "
                  f"(partition_id='20260212') LOCATION '{elsewhere}'")
        seed(spark, name, partition="20260212", ids=range(21, 31))
        seed(spark, name, partition="20260213")
        seed(spark, name, partition="20260214", ids=range(11, 21))
        spark.sql(f"INSERT INTO {DB}.{name} PARTITION "
                  f"(partition_id='history_20260212:a') VALUES "
                  f"(31, 'User31', 'ACTIVE', TIMESTAMP '2026-02-12 09:00:00')")
        d13 = os.path.join(loc, "partition_id=20260213")
        d14 = os.path.join(loc, "partition_id=20260214")
        escaped = os.path.join(loc, "partition_id=history_20260212%3Aa")
        assert os.path.isdir(d13) and os.path.isdir(d14)
        assert os.path.isdir(escaped)
        assert os.listdir(elsewhere), "custom-location partition holds data"

        cfg = _cfg(name, DeletionCriteria(
            start_time=datetime(2026, 2, 12, 0, 0, 0),
            end_time=datetime(2026, 2, 14, 0, 0, 0)))
        with caplog.at_level(logging.INFO, logger="bd_engine.audit"):
            outcome = DeletionJob(spark, cfg).run()
        assert outcome.success, outcome.error
        assert outcome.result.partitions_dropped == [
            "20260212", "20260213", "history_20260212:a"]

        assert not os.path.exists(d13), "external partition dir must be deleted"
        assert not os.path.exists(escaped), \
            "path-escaped partition dir must be deleted"
        assert not os.path.exists(elsewhere), \
            "custom-location partition dir must be deleted"
        assert os.path.isdir(d14) and os.listdir(d14), \
            "untouched partition files must survive"
        assert spark.table(f"{DB}.{name}").count() == 10
        drops = [m for m in caplog.messages
                 if m.startswith("partition_dropped ")]
        assert len(drops) == 3
        assert any('"20260212"' in m and elsewhere in m for m in drops)
        assert any('"20260213"' in m for m in drops)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {DB}.{name}")


def seed_escaped(spark, table: str) -> None:
    """Partition ``history_20260101:a`` (ids 1, 2), whose value Hive
    path-escapes in SHOW PARTITIONS, and ``20260102`` (ids 3, 4)."""
    for pid, ids in (("history_20260101:a", (1, 2)), ("20260102", (3, 4))):
        rows = ", ".join(f"({i}, 'User{i}', 'ACTIVE', "
                         f"TIMESTAMP '2026-01-01 09:00:00')" for i in ids)
        spark.sql(f"INSERT INTO {DB}.{table} PARTITION (partition_id='{pid}') "
                  f"VALUES {rows}")


def test_delete_reaches_partition_with_escaped_value(spark, table):
    """SHOW PARTITIONS prints ``history_20260101%3Aa``; the listing must
    unescape it or that partition never enters the IN-list and its
    matching row silently survives a successful run."""
    seed_escaped(spark, table)
    cfg = _cfg(table, DeletionCriteria(where_clause="id IN (1, 3)"))
    outcome = DeletionJob(spark, cfg).run()
    assert outcome.success, outcome.error
    assert outcome.result.deleted == 2
    assert remaining_ids(spark, table) == [2, 4]
    assert outcome.validation.checks["partition_structure"]


def test_post_validation_structure_check_fails_closed(spark, table):
    """Check (c) reads one partition listing: a surviving partition the
    metastore does not list fails the check and is named; one whose
    value is path-escaped in the listing passes."""
    seed_escaped(spark, table)
    validator = ValidationManager(spark, _cfg(
        table, DeletionCriteria(where_clause="id = 99")))
    ok = validator.validate_post_deletion(
        None, ["history_20260101:a", "20260102"])
    assert ok.checks["partition_structure"], ok.details
    bad = validator.validate_post_deletion(
        None, ["history_20260101:a", "20991231"])
    assert bad.checks["partition_structure"] is False
    assert not bad.passed
    assert bad.details["partition_structure"] == "missing=['20991231']"


def test_count_reconciliation_invariant(spark, table):
    """before == deleted + after (C7a, ValidationManager.java:142-163)."""
    seed(spark, table, hourly=True)
    before = spark.table(f"{DB}.{table}").count()
    cfg = _cfg(table, DeletionCriteria(where_clause="status = 'ACTIVE'"))
    outcome = DeletionJob(spark, cfg).run()
    assert outcome.success, outcome.error
    after = spark.table(f"{DB}.{table}").count()
    assert before == outcome.result.deleted + after


def test_backup_restore_round_trip(spark, table):
    seed(spark, table)
    crit = DeletionCriteria(where_clause="id = 5")
    cfg = _cfg(table, crit, backup_enabled=True)
    mgr = BackupManager(spark, cfg)
    ref = mgr.create_backup(["20260213"], now=datetime(2026, 2, 13, 12, 0, 0))
    assert mgr.backup_count(ref) == 10

    # delete everything, then restore
    DeletionExecutor(spark, _cfg(table, DeletionCriteria(
        where_clause="id >= 1"))).execute()
    assert spark.table(f"{DB}.{table}").count() == 0
    restored = mgr.restore(ref)
    assert restored == 10
    assert remaining_ids(spark, table) == list(range(1, 11))


def test_path_backup_round_trip_with_manifest_and_retention(spark, table,
                                                            tmp_path):
    """Path strategy (the reference's HDFSBackupStrategy analog,
    HDFSBackupStrategy.java:28-73,100-129): partitioned-ORC copy +
    manifest file, restore via dynamic-partition overwrite, retention
    sweep by directory age."""
    seed(spark, table)
    loc = str(tmp_path / "backups")
    crit = DeletionCriteria(where_clause="id = 5")
    cfg = _cfg(table, crit, backup_enabled=True,
               backup_strategy="path", backup_location=loc)
    mgr = BackupManager(spark, cfg)
    t_old = datetime(2026, 2, 1, 0, 0, 0)
    t_new = datetime(2026, 2, 13, 12, 0, 0)
    ref_old = mgr.create_backup(["20260213"], now=t_old)
    ref = mgr.create_backup(["20260213"], now=t_new)
    assert mgr.backup_count(ref) == 10

    import os
    assert os.path.exists(ref.ref.replace("file:", "") + "/_manifest.txt")
    manifest = open(ref.ref.replace("file:", "") + "/_manifest.txt").read()
    assert f"source_table={DB}.{table}" in manifest
    assert "partitions=20260213" in manifest

    # wipe the partition, restore from the path backup
    DeletionExecutor(spark, _cfg(table, DeletionCriteria(
        where_clause="id >= 1"))).execute()
    assert spark.table(f"{DB}.{table}").count() == 0
    assert mgr.restore(ref) == 10
    assert remaining_ids(spark, table) == list(range(1, 11))

    # retention sweeps by directory mtime (HDFSBackupStrategy.java:111):
    # age the old dir on disk, then clean with a 7-day window
    old_dir = ref_old.ref.replace("file:", "")
    os.utime(old_dir, (t_old.timestamp(), t_old.timestamp()))
    removed = mgr.cleanup_old_backups(now=t_new)
    assert len(removed) == 1 and "backup_20260201" in removed[0]
    assert not os.path.exists(old_dir)
    assert mgr.backup_count(ref) == 10  # fresh backup intact


def test_path_backup_restores_a_leading_zero_partition_into_itself(
        spark, table, tmp_path):
    """A path backup is read back with the table's schema: partition
    ``0213`` is not inferred as the number 213 and restored into a new
    partition ``213``."""
    spark.sql(f"INSERT INTO {DB}.{table} PARTITION (partition_id='0213') "
              f"VALUES (1, 'User1', 'ACTIVE', TIMESTAMP '2026-02-13 09:00:00'),"
              f" (2, 'User2', 'ACTIVE', TIMESTAMP '2026-02-13 10:00:00')")
    mgr = BackupManager(spark, _cfg(
        table, DeletionCriteria(where_clause="id = 1"), backup_enabled=True,
        backup_strategy="path", backup_location=str(tmp_path / "backups")))
    ref = mgr.create_backup(["0213"], now=datetime(2026, 2, 13, 12, 0, 0))
    DeletionExecutor(spark, _cfg(table, DeletionCriteria(
        where_clause="id >= 1"))).execute()
    assert spark.table(f"{DB}.{table}").count() == 0
    assert mgr.restore(ref) == 2
    assert [r[0] for r in spark.sql(
        f"SHOW PARTITIONS {DB}.{table}").collect()] == ["partition_id=0213"]
    assert sorted((r.id, r.partition_id) for r in spark.table(
        f"{DB}.{table}").collect()) == [(1, "0213"), (2, "0213")]


def test_hive_backup_records_its_partition_list_exactly(spark, table):
    """The backup's TBLPROPERTIES keep values with a quote or a backslash
    intact, so ``latest_backup()`` names partitions that exist."""
    parts = ["o'brien", "a\\b", "20260101"]
    spark.createDataFrame(
        [(i, f"User{i}", "ACTIVE", datetime(2026, 1, 1, 9), p)
         for i, p in enumerate(parts)],
        "id BIGINT, name STRING, status STRING, row_create_ts TIMESTAMP, "
        "partition_id STRING").write.insertInto(f"{DB}.{table}")
    mgr = BackupManager(spark, _cfg(
        table, DeletionCriteria(where_clause="id = 1"), backup_enabled=True))
    mgr.create_backup(parts, now=datetime(2026, 2, 13, 12, 0, 0))
    assert mgr.latest_backup().partitions == tuple(parts)


def test_hive_backup_retention_drops_only_old_own_backups(spark):
    """Hive-table retention (HiveTableBackupStrategy.java:98-138): with a
    mixed-case configured table name, a backup older than
    ``backup_retention_days`` is dropped, while a newer backup and
    another table's backup are kept (Hive lowercases the stored names,
    so the listing must match case-insensitively)."""
    name = f"Test_Retention_{next(_seq)}"
    other = f"{name}x_backup_20260101_000000"
    spark.sql(f"CREATE TABLE {DB}.{name} (id BIGINT) "
              f"PARTITIONED BY (partition_id STRING) STORED AS ORC")
    spark.sql(f"CREATE TABLE {DB}.{other} (id BIGINT) STORED AS ORC")
    try:
        spark.sql(f"INSERT INTO {DB}.{name} PARTITION "
                  f"(partition_id='20260213') VALUES (1), (2)")
        mgr = BackupManager(spark, _cfg(
            name, DeletionCriteria(where_clause="id = 1"),
            backup_enabled=True, backup_retention_days=7))
        old = mgr.create_backup(["20260213"], now=datetime(2026, 2, 1))
        new = mgr.create_backup(["20260213"], now=datetime(2026, 2, 12))
        removed = mgr.cleanup_old_backups(now=datetime(2026, 2, 13))
        assert removed == [old.ref.split(".", 1)[1].lower()]
        assert not spark.catalog.tableExists(old.ref)
        assert spark.catalog.tableExists(new.ref)
        assert spark.catalog.tableExists(f"{DB}.{other}")
    finally:
        for t in spark.catalog.listTables(DB):
            if t.name.startswith(name.lower()):
                spark.sql(f"DROP TABLE IF EXISTS {DB}.{t.name}")


def test_job_with_backup_and_cleanup(spark, table):
    seed(spark, table)
    cfg = _cfg(table, DeletionCriteria(where_clause="id = 7"),
               backup_enabled=True, backup_retention_days=7)
    outcome = DeletionJob(spark, cfg).run()
    assert outcome.success, outcome.error
    assert outcome.backup is not None
    assert outcome.metrics.backup_created
    assert spark.table(outcome.backup.ref).count() == 10  # pre-delete snapshot
    assert remaining_ids(spark, table) == [1, 2, 3, 4, 5, 6, 8, 9, 10]


def test_latest_backup_hive_strategy_picks_newest(spark, table):
    seed(spark, table)
    cfg = _cfg(table, DeletionCriteria(where_clause="id = 5"),
               backup_enabled=True)
    mgr = BackupManager(spark, cfg)
    mgr.create_backup(["20260213"], now=datetime(2026, 2, 13, 10, 0, 0))
    newest = mgr.create_backup(["20260213"],
                               now=datetime(2026, 2, 13, 12, 0, 0))
    found = mgr.latest_backup()
    assert found is not None
    assert found.ref == newest.ref
    assert found.partitions == ("20260213",)
    # restore-from-latest round trip after wiping the table
    DeletionExecutor(spark, _cfg(table, DeletionCriteria(
        where_clause="id >= 1"))).execute()
    assert spark.table(f"{DB}.{table}").count() == 0
    assert mgr.restore(found) == 10
    assert remaining_ids(spark, table) == list(range(1, 11))


def test_latest_backup_path_strategy_picks_newest(spark, table, tmp_path):
    seed(spark, table)
    cfg = _cfg(table, DeletionCriteria(where_clause="id = 5"),
               backup_enabled=True, backup_strategy="path",
               backup_location=str(tmp_path / "backups"))
    mgr = BackupManager(spark, cfg)
    mgr.create_backup(["20260213"], now=datetime(2026, 2, 13, 10, 0, 0))
    newest = mgr.create_backup(["20260213"],
                               now=datetime(2026, 2, 13, 12, 0, 0))
    found = mgr.latest_backup()
    assert found is not None
    # listing returns a file: URI; created refs carry the raw path —
    # both address the same backup dir
    assert found.ref.removeprefix("file:") == newest.ref
    assert found.partitions == ("20260213",)  # parsed from _manifest.txt
    # the discovered ref is restorable as-is
    assert mgr.backup_count(found) == 10


def test_latest_backup_none_when_no_backups(spark, table):
    cfg = _cfg(table, DeletionCriteria(where_clause="id = 5"),
               backup_enabled=True)
    assert BackupManager(spark, cfg).latest_backup() is None


def test_latest_backup_hive_skips_other_sources(spark, table):
    """A backup table whose recorded backup_source is a different table
    must never be selected, even when its timestamp is newer — restoring
    it would overwrite this table with another table's rows."""
    seed(spark, table)
    cfg = _cfg(table, DeletionCriteria(where_clause="id = 5"),
               backup_enabled=True)
    mgr = BackupManager(spark, cfg)
    genuine = mgr.create_backup(["20260213"],
                                now=datetime(2026, 2, 13, 10, 0, 0))
    # forge a newer backup-named table recorded against another source
    forged = f"{DB}.{table}_backup_20260213_120000"
    spark.sql(f"CREATE TABLE {forged} (id BIGINT) STORED AS ORC "
              f"TBLPROPERTIES ('backup_source'='{DB}.someone_else', "
              f"'backup_timestamp'='20260213_120000')")
    try:
        found = mgr.latest_backup()
        assert found is not None
        assert found.ref == genuine.ref
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {forged}")


def test_latest_backup_path_skips_other_sources(spark, table, tmp_path):
    """Path strategy: a shared backup_location can hold same-named
    tables from several databases; a newer dir whose manifest records a
    different source_table is skipped in favor of the genuine one."""
    seed(spark, table)
    loc = tmp_path / "backups"
    cfg = _cfg(table, DeletionCriteria(where_clause="id = 5"),
               backup_enabled=True, backup_strategy="path",
               backup_location=str(loc))
    mgr = BackupManager(spark, cfg)
    genuine = mgr.create_backup(["20260213"],
                                now=datetime(2026, 2, 13, 10, 0, 0))
    forged = loc / f"{table}_backup_20260213_120000"
    forged.mkdir(parents=True)
    (forged / "_manifest.txt").write_text(
        f"source_table=other_db.{table}\npartitions=20260213\n")
    found = mgr.latest_backup()
    assert found is not None
    assert found.ref.removeprefix("file:") == genuine.ref


def test_concurrent_writer_divergence_uses_observed_count(spark, table):
    """A writer that modifies a partition BETWEEN analyze() and
    execute() must not corrupt the metrics: the rewrite observes the
    retained count during its own write pass (observe() accumulator —
    write-time truth), detects the divergence from the stale plan,
    emits the concurrent_modification_detected audit event, and
    reconciles metrics from the observed value — retained = observed,
    deleted = the analyze-time match count, never the negative number
    the stale plan arithmetic would produce. (The reference has no
    detection at all: its analyze-time counts race identically,
    DeletionExecutor.java:143-158.)"""
    import logging

    seed(spark, table)  # ids 1..10, one partition
    cfg = _cfg(table, DeletionCriteria(
        where_clause="id = 5",
        start_time=datetime(2026, 2, 13, 0, 0, 0),
        end_time=datetime(2026, 2, 13, 23, 59, 59)))
    ex = DeletionExecutor(spark, cfg)
    plan = ex.handler.analyze()
    assert plan.counts["20260213"] == (10, 1)

    # concurrent writer lands 5 more (non-matching) rows post-analyze
    seed(spark, table, ids=range(21, 26))

    audit_log = logging.getLogger("bd_engine.audit")
    events: list[str] = []

    class _Capture(logging.Handler):
        def emit(self, record):
            events.append(record.getMessage())

    h = _Capture()
    old_level = audit_log.level
    audit_log.addHandler(h)
    audit_log.setLevel(logging.INFO)
    try:
        result = ex.execute(plan)
    finally:
        audit_log.removeHandler(h)
        audit_log.setLevel(old_level)

    # write-time truth: 15 rows present, 1 matched -> 14 retained
    assert result.retained == 14
    assert result.deleted == 1  # analyze-time match count, not 10-14
    assert result.partitions_rewritten == ["20260213"]
    assert remaining_ids(spark, table) == \
        [1, 2, 3, 4, 6, 7, 8, 9, 10, 21, 22, 23, 24, 25]
    assert any("concurrent_modification_detected" in m for m in events), \
        events


def test_metastore_safe_partition_in_threshold(spark):
    """The single-scan analysis probes EVERY candidate partition in one
    query; above the threshold Spark must send the metastore a min/max
    range instead of an N-way OR chain (a 720-partition IN drove the
    embedded Derby metastore into StackOverflowError — caught by
    tools/bench_delete.py's many-partition probe)."""
    assert spark.conf.get(
        "spark.sql.hive.metastorePartitionPruningInSetThreshold") == "100"
    assert spark.conf.get(
        "spark.sql.hive.metastorePartitionPruningFallbackOnException") \
        == "true"


def test_dry_run_on_failed_probe_audits_real_affected_partitions(
        spark, table, caplog):
    """A dry run over a probe-failed (sentinel) plan measures the real
    counts and audits the partitions that would actually change."""
    seed(spark, table)                                   # id 5 matches
    seed(spark, table, partition="20260214", ids=range(11, 21))
    job = DeletionJob(spark, _cfg(table, DeletionCriteria(
        where_clause="id = 5"), dry_run=True))
    job.handler.analyze = lambda: PartitionPlan(
        candidates=["20260213", "20260214"],
        counts={"20260213": (-1, -1), "20260214": (-1, -1)})
    with caplog.at_level(logging.INFO, logger="bd_engine.audit"):
        outcome = job.run()
    assert outcome.success, outcome.error
    assert (outcome.result.deleted, outcome.result.retained) == (1, 19)
    [event] = [json.loads(m.split(" ", 1)[1]) for m in caplog.messages
               if m.startswith("dry_run ")]
    assert event["affected"] == ["20260213"]
    assert event["would_delete"] == 1


@pytest.mark.parametrize("strategy", ["hive_table", "path"])
def test_backup_in_the_same_second_never_replaces_the_earlier_one(
        spark, table, tmp_path, monkeypatch, strategy):
    """Backup names have one-second resolution. A second backup in the
    same second must raise before writing anything: the first backup
    keeps its pre-image, and a job that collides fails with the table
    unchanged."""
    from bd_delete_records_from_external_hive_table_spark.operators import backup
    seed(spark, table)
    kw = ({"backup_strategy": "path",
           "backup_location": str(tmp_path / "backups")}
          if strategy == "path" else {})
    cfg = _cfg(table, DeletionCriteria(where_clause="id = 5"),
               backup_enabled=True, **kw)
    mgr = BackupManager(spark, cfg)
    t = datetime(2026, 2, 13, 12, 0, 0)
    first = mgr.create_backup(["20260213"], now=t)
    seed(spark, table, ids=[11])
    with pytest.raises(BackupError):
        mgr.create_backup(["20260213"], now=t)
    assert mgr.backup_count(first) == 10

    class _SameSecond(datetime):
        @classmethod
        def now(cls, tz=None):
            return t

    monkeypatch.setattr(backup, "datetime", _SameSecond)
    outcome = DeletionJob(spark, cfg).run()
    assert not outcome.success and outcome.backup is None
    assert "backup not created" in outcome.error
    assert remaining_ids(spark, table) == list(range(1, 12))
    assert mgr.backup_count(first) == 10


def _seed_days(spark, table: str, days, status=None) -> None:
    """Ten rows in each partition ``202601dd``: ids dd*10+1 .. dd*10+10,
    every id with i % 3 == 2 INACTIVE unless ``status`` is given."""
    rows = [(i, f"User{i}", status or ("INACTIVE" if i % 3 == 2 else "ACTIVE"),
             datetime(2026, 1, d, 9), f"202601{d:02d}")
            for d in days for i in range(d * 10 + 1, d * 10 + 11)]
    spark.createDataFrame(
        rows, "id BIGINT, name STRING, status STRING, "
              "row_create_ts TIMESTAMP, partition_id STRING",
    ).write.insertInto(f"{DB}.{table}")


def test_one_rewrite_pass_covers_more_partitions_than_a_batch(spark, table):
    """Twelve partially matching partitions (more than the reference's
    default batch of ten) are rewritten by one overwrite job."""
    days = range(1, 13)
    _seed_days(spark, table, days)
    outcome = DeletionJob(spark, _cfg(table, DeletionCriteria(
        where_clause="status = 'INACTIVE'"))).run()
    assert outcome.success, outcome.error
    parts = [f"202601{d:02d}" for d in days]
    assert outcome.metrics.batches_processed == 1
    assert outcome.result.partitions_rewritten == parts
    assert outcome.metrics.per_partition_deleted == {
        f"202601{d:02d}": sum(1 for i in range(d * 10 + 1, d * 10 + 11)
                              if i % 3 == 2) for d in days}
    assert remaining_ids(spark, table) == [
        i for d in days for i in range(d * 10 + 1, d * 10 + 11) if i % 3 != 2]


def test_failure_inside_the_rewrite_restores_the_exact_pre_image(
        spark, table):
    """A task failure inside the single rewrite job, after an emptied
    partition was already dropped, is recovered from the backup: the
    table ends exactly as it was before the job."""
    from pyspark.sql import functions as F
    _seed_days(spark, table, range(1, 13))
    _seed_days(spark, table, [13], status="GONE")       # dropped, not rewritten

    def rows():
        return sorted(tuple(r) for r in spark.table(f"{DB}.{table}").collect())

    before = rows()
    job = DeletionJob(spark, _cfg(table, DeletionCriteria(
        where_clause="status IN ('INACTIVE', 'GONE')"), backup_enabled=True))
    scan = job.executor.retention_scan
    job.executor.retention_scan = lambda parts: scan(parts).withColumn(
        "name", F.when(F.col("partition_id") == "20260107",
                       F.raise_error(F.lit("injected rewrite failure")))
        .otherwise(F.col("name")))
    job.recovery._sleep = lambda s: None
    outcome = job.run()
    assert not outcome.success
    assert "injected rewrite failure" in outcome.error
    assert outcome.recovered
    assert rows() == before


@pytest.fixture
def external_table(spark, tmp_path):
    """An EXTERNAL table: DROP PARTITION keeps its files on disk."""
    name = f"test_ext_{next(_seq)}"
    loc = str(tmp_path / name)
    spark.sql(f"""
        CREATE EXTERNAL TABLE {DB}.{name} (
          id BIGINT, name STRING, status STRING, row_create_ts TIMESTAMP
        ) PARTITIONED BY (partition_id STRING) STORED AS ORC
        LOCATION '{loc}'
    """)
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {DB}.{name}")
    for t in spark.catalog.listTables(DB):
        if t.name.startswith(f"{name}_backup_"):
            spark.sql(f"DROP TABLE IF EXISTS {DB}.{t.name}")


def _rows(spark, table: str) -> list[tuple]:
    return sorted(tuple(r) for r in spark.table(f"{DB}.{table}").collect())


@pytest.mark.parametrize("strategy", ["hive_table", "path"])
def test_failed_partition_dir_delete_fails_the_job_and_recovers(
        spark, external_table, tmp_path, monkeypatch, strategy):
    """An emptied partition's directory that survives its delete must not
    be reported as dropped: the job fails after the DROP and recovery
    restores the exact pre-image, under either backup strategy."""
    from bd_delete_records_from_external_hive_table_spark.sources.fs import HadoopFS
    name = external_table
    kw = ({"backup_strategy": "path",
           "backup_location": str(tmp_path / "backups")}
          if strategy == "path" else {})
    seed(spark, name, partition="20260213")
    seed(spark, name, partition="20260214", ids=range(11, 21))
    before = _rows(spark, name)
    monkeypatch.setattr(HadoopFS, "delete",
                        lambda self, path, recursive=True: False)
    job = DeletionJob(spark, _cfg(name, DeletionCriteria(
        start_time=datetime(2026, 2, 13), end_time=datetime(2026, 2, 14)),
        backup_enabled=True, **kw))
    job.recovery._sleep = lambda s: None
    outcome = job.run()
    assert not outcome.success
    assert "survived its delete" in outcome.error
    assert outcome.recovered
    assert _rows(spark, name) == before


def test_recovery_never_resurrects_a_hand_dropped_partition(
        spark, external_table):
    """A partition dropped by hand from an EXTERNAL table keeps its files.
    A later job that fails mid-rewrite is recovered from its backup, and
    the hand-dropped partition stays unlisted with its rows absent."""
    from pyspark.sql import functions as F
    name = external_table
    seed(spark, name, partition="20260212", ids=range(21, 31))
    seed(spark, name, partition="20260213")
    spark.sql(f"ALTER TABLE {DB}.{name} "
              f"DROP PARTITION (partition_id='20260212')")
    before = _rows(spark, name)
    job = DeletionJob(spark, _cfg(name, DeletionCriteria(
        where_clause="id = 5"), backup_enabled=True))
    scan = job.executor.retention_scan
    job.executor.retention_scan = lambda parts: scan(parts).withColumn(
        "name", F.raise_error(F.lit("injected rewrite failure")))
    job.recovery._sleep = lambda s: None
    outcome = job.run()
    assert not outcome.success
    assert "injected rewrite failure" in outcome.error
    assert outcome.recovered
    assert [r[0] for r in spark.sql(
        f"SHOW PARTITIONS {DB}.{name}").collect()] == ["partition_id=20260213"]
    assert _rows(spark, name) == before
