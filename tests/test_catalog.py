"""The metastore module's contract.

``catalog.partitions``, ``catalog.locations`` and
``catalog.tables_with_properties`` call Spark's private ``SessionCatalog``
through py4j. These tests pin each call against the installed PySpark:
if the API drifts, they fail here instead of in a DELETE. The structure
guard keeps every metastore statement in ``catalog.py``.
"""

from __future__ import annotations

import ast
import os
from datetime import datetime
from pathlib import Path

import pytest

from bd_delete_records_from_external_hive_table_spark import catalog
from bd_delete_records_from_external_hive_table_spark.partitions import in_list_predicate

from .test_deletion_engine import DB, external_table, seed, seed_escaped, table  # noqa: F401

_PKG = Path(catalog.__file__).parent


@pytest.fixture(scope="module", autouse=True)
def _db(spark):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")


def test_partitions_returns_raw_values(spark, table):
    seed_escaped(spark, table)
    assert sorted(catalog.partitions(spark, f"{DB}.{table}")) == [
        "20260102", "history_20260101:a"]


def test_locations_are_the_directories_on_disk(spark, external_table,
                                               tmp_path):
    """An escaped value's directory holds ``%3A``, not the URI's
    double-escaped ``%253A``; a custom location comes back as given; a
    value with no partition is absent."""
    name = external_table
    seed_escaped(spark, name)
    elsewhere = str(tmp_path / "elsewhere" / "p12")
    spark.sql(f"ALTER TABLE {DB}.{name} ADD PARTITION "
              f"(partition_id='20260212') LOCATION '{elsewhere}'")
    seed(spark, name, partition="20260212")
    got = catalog.locations(spark, f"{DB}.{name}",
                            ["history_20260101:a", "20260212", "20991231"])
    escaped = str(tmp_path / name / "partition_id=history_20260101%3Aa")
    assert {v: d.removeprefix("file:") for v, d in got.items()} == {
        "history_20260101:a": escaped, "20260212": elsewhere}
    assert os.listdir(escaped) and os.listdir(elsewhere)


def _count_round_trips(spark, monkeypatch) -> list[int]:
    """Counts the py4j commands Python sends the JVM from here on."""
    client = spark.sparkContext._gateway._gateway_client
    count, send = [0], client.send_command

    def counting(*args, **kwargs):
        count[0] += 1
        return send(*args, **kwargs)
    monkeypatch.setattr(client, "send_command", counting)
    return count


def test_in_list_predicate_is_one_jvm_call_and_prunes_exactly(
        spark, table, monkeypatch):
    """``Column.isin`` ships every value through py4j (~4 round trips
    each); the SQL text is one call. ``'``, ``\\`` and ``,`` select exactly
    their partitions, not the look-alikes, no values select nothing, and a
    3-of-10 window fetches 3 partitions from the metastore."""
    tricky = ["o'brien", "a\\b", "x,y"]
    values = tricky + ["o", "brien", "ab", "a\\\\b", "x", "y", "20260101"]
    spark.createDataFrame(
        [(i, "u", "ACTIVE", datetime(2026, 1, 1), p)
         for i, p in enumerate(values)],
        "id BIGINT, name STRING, status STRING, row_create_ts TIMESTAMP, "
        "partition_id STRING").write.insertInto(f"{DB}.{table}")
    count = _count_round_trips(spark, monkeypatch)
    in_list_predicate("partition_id", [f"v{i}" for i in range(200)])
    assert count[0] <= 5
    monkeypatch.undo()

    def selected(wanted):
        return sorted(r.partition_id for r in spark.table(f"{DB}.{table}")
                      .where(in_list_predicate("partition_id", wanted))
                      .collect())
    for value in tricky:
        assert selected([value]) == [value]
    assert selected([]) == []
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source \
        .HiveCatalogMetrics
    metrics.reset()
    assert selected(tricky) == sorted(tricky)
    assert metrics.METRIC_PARTITIONS_FETCHED().getCount() == 3


def test_locations_fetch_only_the_wanted_partitions(spark, external_table,
                                                    monkeypatch):
    """Two locations cost a fixed number of round trips, not ~5 for every
    partition of the table."""
    spark.createDataFrame(
        [(i, "u", "ACTIVE", datetime(2026, 1, 1), f"202601{i:02d}")
         for i in range(1, 41)],
        "id BIGINT, name STRING, status STRING, row_create_ts TIMESTAMP, "
        "partition_id STRING").write.insertInto(f"{DB}.{external_table}")
    count = _count_round_trips(spark, monkeypatch)
    got = catalog.locations(spark, f"{DB}.{external_table}",
                            ["20260103", "20260140"])
    assert count[0] <= 50
    assert sorted(got) == ["20260103", "20260140"]
    assert all(d.endswith(f"/partition_id={v}") for v, d in got.items())


def test_drop_partitions_matches_quoted_and_backslashed_values(spark, table):
    """Spark reads ``\\`` in a SQL literal as an escape: unescaped, the
    DROP IF EXISTS of ``a\\b`` would match nothing and raise nothing."""
    spark.createDataFrame(
        [(i, "u", "ACTIVE", datetime(2026, 1, 1), p)
         for i, p in enumerate(["o'brien", "a\\b", "20260101"])],
        "id BIGINT, name STRING, status STRING, row_create_ts TIMESTAMP, "
        "partition_id STRING").write.insertInto(f"{DB}.{table}")
    catalog.drop_partitions(spark, f"{DB}.{table}", "partition_id",
                            ["o'brien", "a\\b"])
    assert catalog.partitions(spark, f"{DB}.{table}") == ["20260101"]


def test_tables_with_properties_lists_tables_not_temporary_views(spark):
    """``listTables`` matches a mixed-case pattern against the lowercased
    stored names and skips a temporary view named like a backup;
    ``getTablesByName`` returns each table's own properties."""
    name = "Catalog_Props_Src"
    tagged = f"{name}_backup_20260102_000000"
    spark.sql(f"CREATE TABLE {DB}.{name}_backup_20260101_000000 (id BIGINT) "
              f"STORED AS ORC")
    catalog.create_table_like(spark, f"{DB}.{tagged}",
                              f"{DB}.{name}_backup_20260101_000000",
                              {"backup_source": "o'brien", "k": "a\\b"})
    spark.sql(f"CREATE TEMPORARY VIEW {name}_backup_20260103_000000 "
              f"AS SELECT 1 AS id")
    try:
        got = dict(catalog.tables_with_properties(spark, DB,
                                                  f"{name}_backup_*"))
        assert sorted(got) == [f"{name}_backup_20260101_000000".lower(),
                               tagged.lower()]
        assert got[tagged.lower()] == {"backup_source": "o'brien",
                                       "k": "a\\b"}
        assert "backup_source" not in got[
            f"{name}_backup_20260101_000000".lower()]
    finally:
        spark.sql(f"DROP VIEW IF EXISTS {name}_backup_20260103_000000")
        for t in (f"{name}_backup_20260101_000000", tagged):
            spark.sql(f"DROP TABLE IF EXISTS {DB}.{t}")


@pytest.mark.parametrize("module", [
    "job.py", "operators/deletion.py", "operators/deletion_vectors.py",
    "operators/backup.py", "operators/validation.py",
    "operators/recovery.py"])
def test_no_metastore_statement_outside_the_catalog_module(module):
    tree = ast.parse((_PKG / module).read_text())
    found = [f"line {n.lineno}: {ast.unparse(n)[:60]}" for n in ast.walk(tree)
             if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                 and n.func.attr == "sql")
             or (isinstance(n, ast.Attribute) and n.attr == "_jsparkSession")]
    assert found == []
