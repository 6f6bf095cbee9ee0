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
