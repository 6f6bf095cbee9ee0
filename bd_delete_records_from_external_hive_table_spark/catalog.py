"""The engine's one module that reads or writes the Hive metastore.

Partitions and locations come from Spark's ``SessionCatalog`` via py4j
(``tests/test_catalog.py`` pins each call): ``SHOW PARTITIONS`` calls the
same ``listPartitionNames``, and ONE ``listPartitions`` replaces a
``DESCRIBE FORMATTED ... PARTITION`` per partition (DeletionExecutor.java:
173-187). The DROP stays SQL: Spark's command also refreshes the cached
listing and clears stale statistics."""

from __future__ import annotations

from urllib.parse import unquote

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

__all__ = ["partitions", "locations", "drop_partitions", "partition_spec",
           "parse_partition_value", "tables_with_properties",
           "set_properties", "drop_table"]


def _literal(value: str) -> str:
    """SQL string literal: Spark reads ``''`` as a quote and ``\\`` as an
    escape, so a raw backslash would change the value."""
    return "'" + value.replace("\\", "\\\\").replace("'", "''") + "'"


def _list(spark: SparkSession, method: str, table: str):
    state = spark._jsparkSession.sessionState()
    ident = state.sqlParser().parseTableIdentifier(table)
    return getattr(state.catalog(), method)(
        ident, spark.sparkContext._jvm.scala.Option.empty())


def partition_spec(partition_column: str, value: str) -> str:
    """Single-partition DDL spec ``col='value'`` (PartitionUtils.java:159-161)."""
    return f"{partition_column}={_literal(value)}"


def parse_partition_value(name: str) -> str:
    """``col=value`` → value (PartitionHandler.java:71), unescaped: a name
    lists ``history_20260101:a`` as ``history_20260101%3Aa``, which matches
    no row. Hive escapes ``%`` itself, so unquoting is exact."""
    return unquote(name.split("=", 1)[1] if "=" in name else name)


def partitions(spark: SparkSession, table: str) -> list[str]:
    """Every partition value, from one call returning one string: escaped
    names hold no newline, and one py4j round trip beats one per name."""
    names = _list(spark, "listPartitionNames", table).mkString("\n")
    return [parse_partition_value(n) for n in names.split("\n") if n]


def locations(spark: SparkSession, table: str,
              values: list[str]) -> dict[str, str]:
    """``{value: directory}`` of the listed values that exist. The catalog's
    location, not one derived from the layout: a partition may live
    anywhere. Its ``java.net.URI`` escapes twice (``%253A``); Hadoop's
    ``Path`` gives the real directory (``%3A``)."""
    wanted, out = set(values), {}
    path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    listed = _list(spark, "listPartitions", table).iterator()
    while listed.hasNext():
        part = listed.next()
        value = part.spec().values().head()
        if value in wanted:
            out[value] = path(part.location()).toString()
    return out


def drop_partitions(spark: SparkSession, table: str, partition_column: str,
                    values: list[str]) -> None:
    """ONE multi-spec DROP where the reference runs one per partition
    (DeletionExecutor.java:164-214); Hive drops them one by one either way."""
    spark.sql(f"ALTER TABLE {table} DROP IF EXISTS " + ", ".join(
        f"PARTITION ({partition_spec(partition_column, v)})" for v in values))


def tables_with_properties(spark: SparkSession, database: str,
                           pattern: str) -> list[tuple[str, dict[str, str]]]:
    """(name, TBLPROPERTIES) of the tables named like ``pattern``, matched
    case-insensitively as Hive lowercases names. Rows are collected raw: a
    DataFrame filter on them would launch a Spark job per table."""
    out = []
    for row in spark.sql(f"SHOW TABLES IN {database} "
                         f"LIKE {_literal(pattern)}").collect():
        if row.isTemporary:
            continue
        try:
            props = dict(spark.sql(
                f"SHOW TBLPROPERTIES {database}.{row.tableName}").collect())
        except AnalysisException:  # pragma: no cover - dropped since listed
            props = {}
        out.append((row.tableName, props))
    return out


def set_properties(spark: SparkSession, table: str,
                   properties: dict[str, str]) -> None:
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES (" + ", ".join(
        f"{_literal(k)}={_literal(v)}" for k, v in properties.items()) + ")")


def drop_table(spark: SparkSession, table: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {table}")
