"""The engine's one module that reads or writes the Hive metastore.

Partitions and locations come from Spark's ``SessionCatalog`` via py4j
(``tests/test_catalog.py`` pins each call): ``SHOW PARTITIONS`` calls the
same ``listPartitionNames``, and ONE ``listPartitions`` replaces a
``DESCRIBE FORMATTED ... PARTITION`` per partition (DeletionExecutor.java:
173-187). Backup retention reads every backup table's properties with
``listTables`` (no temporary views) plus ONE ``getTablesByName``, where
``SHOW TABLES`` plus a ``SHOW TBLPROPERTIES`` per backup grew with the
backups kept. The DROP stays SQL: Spark's command also refreshes the
cached listing and clears stale statistics. A backup table is created by
one ``CREATE TABLE ... LIKE`` that carries its properties."""

from __future__ import annotations

from urllib.parse import unquote

from pyspark.sql import SparkSession

__all__ = ["partitions", "locations", "drop_partitions", "partition_spec",
           "parse_partition_value", "tables_with_properties",
           "create_table_like", "drop_table"]


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
    case-insensitively as Hive lowercases names; temporary views are
    skipped. One listing and one ``getTablesByName``: the metastore
    returns every table with its properties in one call, and a table
    dropped since the listing is left out."""
    session_catalog = spark._jsparkSession.sessionState().catalog()
    out = []
    tables = session_catalog.getTablesByName(
        session_catalog.listTables(database, pattern, False)).iterator()
    while tables.hasNext():
        table = tables.next()
        props, entries = {}, table.properties().iterator()
        while entries.hasNext():
            entry = entries.next()
            props[entry._1()] = entry._2()
        out.append((table.identifier().table(), props))
    return out


def create_table_like(spark: SparkSession, name: str, source: str,
                      properties: dict[str, str]) -> None:
    """An empty managed ORC table with ``source``'s columns and partition
    columns, tagged with ``properties`` and nothing else. Raises
    ``AnalysisException`` if ``name`` exists."""
    spark.sql(f"CREATE TABLE {name} LIKE {source} USING orc TBLPROPERTIES ("
              + ", ".join(f"{_literal(k)}={_literal(v)}"
                          for k, v in properties.items()) + ")")


def drop_table(spark: SparkSession, table: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {table}")
