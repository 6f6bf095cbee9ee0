"""DuckDB replay oracle for the ``cow_*`` workloads.

DuckDB holds the same rows and partition IDs as the Hive table. Each
delete's predicate is written in SQL both engines accept and is applied
here only to the rows of the delete's partition window; each restore puts
back the exact pre-image snapshot taken when its backup was made. The
fingerprint of a partition is ``(count, sum(event_id), sum(mix(event_id)))``
with an integer mix both engines compute identically.
"""

from __future__ import annotations

from pathlib import Path

import duckdb

#: ``(event_id * A) % P`` — fits in BIGINT for event_id < 2**31
MIX_A = 2654435761
MIX_P = 4294967311

FINGERPRINT_SQL = (
    "COUNT(*)::BIGINT AS n, SUM(event_id)::BIGINT AS s1, "
    f"SUM((event_id * {MIX_A}) % {MIX_P})::BIGINT AS s2")


def partition_id_sql(hourly: bool) -> str:
    """``yyyyMMdd`` or ``yyyyMMdd-H`` of ``ts``, in DuckDB syntax."""
    day = "strftime(ts, '%Y%m%d')"
    return f"{day} || '-' || hour(ts)::VARCHAR" if hourly else day


def _in_list(values) -> str:
    return ", ".join("'" + v.replace("'", "''") + "'" for v in values)


class ReplayOracle:
    def __init__(self, events_parquet: Path, hourly: bool):
        self.con = duckdb.connect()
        self.con.sql("SET threads = 1")
        self.con.sql(
            f"CREATE TABLE ev AS SELECT *, {partition_id_sql(hourly)} "
            f"AS partition_id FROM read_parquet('{events_parquet}')")
        self._snapshots = 0

    # -- queries ------------------------------------------------------------

    def partitions(self) -> dict[str, int]:
        """partition id -> live rows."""
        return dict(self.con.sql(
            "SELECT partition_id, COUNT(*) FROM ev GROUP BY 1").fetchall())

    def count(self, partitions, predicate: str | None = None) -> int:
        if not partitions:
            return 0
        where = f"partition_id IN ({_in_list(partitions)})"
        if predicate:
            where += f" AND ({predicate})"
        return self.con.sql(
            f"SELECT COUNT(*) FROM ev WHERE {where}").fetchone()[0]

    def live_rows(self) -> int:
        return self.con.sql("SELECT COUNT(*) FROM ev").fetchone()[0]

    def fingerprints(self, table: str = "ev") -> dict[str, tuple]:
        rows = self.con.sql(
            f"SELECT partition_id, {FINGERPRINT_SQL} FROM {table} "
            "GROUP BY 1").fetchall()
        return {r[0]: tuple(r[1:]) for r in rows}

    # -- mutations ----------------------------------------------------------

    def delete(self, partitions, predicate: str) -> int:
        n = self.count(partitions, predicate)
        if n:
            self.con.sql(
                f"DELETE FROM ev WHERE partition_id IN "
                f"({_in_list(partitions)}) AND ({predicate})")
        return n

    def snapshot(self, partitions) -> str:
        """Copy the current rows of ``partitions``; returns its name."""
        self._snapshots += 1
        name = f"snap_{self._snapshots}"
        self.con.sql(
            f"CREATE TABLE {name} AS SELECT * FROM ev WHERE partition_id "
            f"IN ({_in_list(partitions)})")
        return name

    def restore(self, snapshot: str, partitions) -> int:
        """Replace ``partitions`` by the snapshot (dynamic overwrite)."""
        self.con.sql(f"DELETE FROM ev WHERE partition_id IN "
                     f"({_in_list(partitions)})")
        self.con.sql(f"INSERT INTO ev SELECT * FROM {snapshot}")
        return self.con.sql(
            f"SELECT COUNT(*) FROM {snapshot}").fetchone()[0]

    def close(self) -> None:
        self.con.close()
