"""Partition-ID domain logic: pure functions of partition values.

Re-expresses ``/root/reference/.../util/PartitionUtils.java`` — the richest
driver-side component of the reference. Partition IDs are strings in three
shapes (PartitionUtils.java:21-27):

- ``yyyyMMdd``            → CURRENT
- ``yyyyMMdd-n``          → PREVIOUS
- ``history_yyyyMMdd[-n]``→ HISTORY

This is *static partition pruning the optimizer cannot do*: Catalyst has no
idea the string ``history_20260101-2`` encodes a date, so the date-range
pre-filter runs on the driver before any Spark query is planned (SURVEY §4).
At 100 TB / tens of thousands of partitions this list is still tiny driver
metadata — keeping it in Python costs nothing and saves full-table probes.
"""

from __future__ import annotations

import logging
import re
from datetime import date, datetime
from enum import Enum

from pyspark.sql import Column
from pyspark.sql import functions as F

from .catalog import in_list_sql

__all__ = [
    "PartitionType", "classify_partition", "parse_partition_date",
    "is_valid_partition", "filter_by_date_range", "sort_chronologically",
    "in_list_predicate",
]

log = logging.getLogger(__name__)

# Patterns ported from PartitionUtils.java:21-27.
_CURRENT_RE = re.compile(r"^(\d{8})$")
_PREVIOUS_RE = re.compile(r"^(\d{8})-(\d+)$")
_HISTORY_RE = re.compile(r"^history_(\d{8})(?:-(\d+))?$")


class PartitionType(Enum):
    """Partition classification (PartitionUtils.java:189-194)."""

    CURRENT = "current"
    PREVIOUS = "previous"
    HISTORY = "history"
    INVALID = "invalid"


def classify_partition(partition_id: str) -> PartitionType:
    """Classify a partition-ID string (PartitionUtils.java:65-74)."""
    if _CURRENT_RE.match(partition_id):
        return PartitionType.CURRENT
    if _PREVIOUS_RE.match(partition_id):
        return PartitionType.PREVIOUS
    if _HISTORY_RE.match(partition_id):
        return PartitionType.HISTORY
    return PartitionType.INVALID


def parse_partition_date(partition_id: str) -> date | None:
    """Extract the embedded ``yyyyMMdd`` date (PartitionUtils.java:36-57).

    Returns None for invalid IDs or impossible dates (e.g. 20261301).
    """
    for pattern in (_CURRENT_RE, _PREVIOUS_RE, _HISTORY_RE):
        m = pattern.match(partition_id)
        if m:
            try:
                return datetime.strptime(m.group(1), "%Y%m%d").date()
            except ValueError:
                return None
    return None


def is_valid_partition(partition_id: str) -> bool:
    """Validity = classifiable AND parseable (PartitionUtils.java:142-150)."""
    return (classify_partition(partition_id) is not PartitionType.INVALID
            and parse_partition_date(partition_id) is not None)


def filter_by_date_range(partition_ids: list[str],
                         start: date | datetime | None,
                         end: date | datetime | None) -> list[str]:
    """Keep IDs whose embedded date is in [start, end) — start inclusive,
    end exclusive (PartitionUtils.java:110-134). Invalid IDs are skipped
    with a warning (PartitionUtils.java:128-131). ``None`` bound = open.
    """
    start_d = start.date() if isinstance(start, datetime) else start
    end_d = end.date() if isinstance(end, datetime) else end
    out: list[str] = []
    for pid in partition_ids:
        d = parse_partition_date(pid)
        if d is None:
            log.warning("skipping invalid partition id %r", pid)
            continue
        if start_d is not None and d < start_d:
            continue
        if end_d is not None and d >= end_d:
            continue
        out.append(pid)
    return out


def _sort_key(pid: str) -> tuple:
    d = parse_partition_date(pid)
    # valid dates first in chronological order, invalid last lexicographically
    return (0, d, pid) if d is not None else (1, date.max, pid)


def sort_chronologically(partition_ids: list[str]) -> list[str]:
    """Chronological sort with lexicographic fallback for unparseable IDs
    (PartitionUtils.java:169-184)."""
    return sorted(partition_ids, key=_sort_key)


def in_list_predicate(partition_column: str, values: list[str]) -> Column:
    """``pcol IN (...)`` as a typed Column (PartitionUtils.java:83-100).

    Keeping this a comparison on the raw partition column (not an expression
    *of* it) is what lets Hive metastore partition pruning and Spark static
    partition pruning both fire — only the listed partitions are scanned.
    Built from SQL text in one JVM call.
    """
    return F.expr(in_list_sql(partition_column, values))
