"""Auto-recovery (C8): restore-with-backoff semantics against a real
backup, with injected sleep and induced restore failures."""

from __future__ import annotations

from datetime import datetime

from bd_delete_records_from_external_hive_table_spark.config import DeletionCriteria, EngineConfig
from bd_delete_records_from_external_hive_table_spark.operators.backup import BackupManager
from bd_delete_records_from_external_hive_table_spark.operators.deletion import DeletionExecutor
from bd_delete_records_from_external_hive_table_spark.operators.recovery import RecoveryManager

import itertools

import pytest

from .test_deletion_engine import DB, _cfg, remaining_ids, seed

_seq = itertools.count(1000)


@pytest.fixture
def table(spark):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    name = f"test_recovery_table_{next(_seq)}"
    spark.sql(f"""
        CREATE TABLE {DB}.{name} (
          id BIGINT, name STRING, status STRING, row_create_ts TIMESTAMP
        ) PARTITIONED BY (partition_id STRING) STORED AS ORC
    """)
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {DB}.{name}")
    for t in spark.catalog.listTables(DB):
        if t.name.startswith(f"{name}_backup_"):
            spark.sql(f"DROP TABLE IF EXISTS {DB}.{t.name}")


def _flaky(real_restore, fail_times: int, calls: list):
    def restore(ref):
        calls.append(1)
        if len(calls) <= fail_times:
            raise RuntimeError("simulated restore failure")
        return real_restore(ref)
    return restore


def test_recovery_retries_with_backoff_then_succeeds(spark, table):
    seed(spark, table)
    cfg = _cfg(table, DeletionCriteria(where_clause="id >= 1"),
               backup_enabled=True)
    mgr = BackupManager(spark, cfg)
    ref = mgr.create_backup(["20260213"], now=datetime(2026, 2, 13, 12, 0))

    # wipe the table (the failure recovery will undo)
    DeletionExecutor(spark, cfg).execute()
    assert spark.table(f"{DB}.{table}").count() == 0

    sleeps: list[int] = []
    calls: list[int] = []
    mgr.restore = _flaky(mgr.restore, fail_times=2, calls=calls)
    rec = RecoveryManager(spark, cfg, mgr, sleep=sleeps.append)
    assert rec.recover(ref) is True
    assert calls == [1, 1, 1]          # failed, failed, succeeded
    assert sleeps == [1, 2]            # 2^0, 2^1 backoff
    assert remaining_ids(spark, table) == list(range(1, 11))


def test_recovery_exhausts_retries_and_emits_runbook(spark, table):
    seed(spark, table)
    cfg = _cfg(table, DeletionCriteria(where_clause="id >= 1"),
               backup_enabled=True, max_retries=3)
    mgr = BackupManager(spark, cfg)
    ref = mgr.create_backup(["20260213"], now=datetime(2026, 2, 13, 12, 0))

    sleeps: list[int] = []
    calls: list[int] = []
    mgr.restore = _flaky(mgr.restore, fail_times=99, calls=calls)
    rec = RecoveryManager(spark, cfg, mgr, sleep=sleeps.append)
    assert rec.recover(ref) is False
    assert calls == [1, 1, 1]
    assert sleeps == [1, 2, 4]
    runbook = rec.manual_runbook(ref)
    assert "INSERT OVERWRITE TABLE" in runbook
    assert ref.ref in runbook


def test_recovery_disabled_returns_false_without_touching_table(spark, table):
    seed(spark, table)
    cfg = _cfg(table, DeletionCriteria(where_clause="id >= 1"),
               backup_enabled=True, auto_recovery=False)
    mgr = BackupManager(spark, cfg)
    ref = mgr.create_backup(["20260213"], now=datetime(2026, 2, 13, 12, 0))
    rec = RecoveryManager(spark, cfg, mgr, sleep=lambda s: None)
    assert rec.recover(ref) is False
    assert spark.table(f"{DB}.{table}").count() == 10  # untouched


def test_recovery_rejects_a_restore_missing_a_backup_partition(spark, table):
    """The restore check is exact per backup partition: a restore that
    writes only one of the two backed-up partitions fails recovery even
    though a larger partition outside the backup keeps the whole table
    above the backup's row count."""
    seed(spark, table, partition="20260213")
    seed(spark, table, partition="20260214", ids=range(11, 21))
    seed(spark, table, partition="20260215", ids=range(100, 130))
    cfg = _cfg(table, DeletionCriteria(where_clause="id < 100"),
               backup_enabled=True, max_retries=1)
    mgr = BackupManager(spark, cfg)
    ref = mgr.create_backup(["20260213", "20260214"],
                            now=datetime(2026, 2, 13, 12, 0))
    DeletionExecutor(spark, cfg).execute()
    assert spark.table(f"{DB}.{table}").count() == 30

    def restore_one_partition(ref):
        cols = spark.table(f"{DB}.{table}").columns
        rows = (mgr.strategy.read(ref)
                .where("partition_id = '20260213'").select(*cols))
        rows.write.mode("overwrite").insertInto(f"{DB}.{table}")
        return 10

    mgr.restore = restore_one_partition
    rec = RecoveryManager(spark, cfg, mgr, sleep=lambda s: None)
    assert rec.recover(ref) is False
    assert spark.table(f"{DB}.{table}").count() == 40
