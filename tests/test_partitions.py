"""Unit tests for the partition-ID domain (pure Python, no Spark).

Mirrors the behaviors of /root/reference/.../util/PartitionUtils.java:
pattern classification (21-27, 65-74), date parsing (36-57), validity
(142-150), date-range filtering with inclusive start / exclusive end
(110-134), and chronological sort with lexicographic fallback (169-184).
"""

from datetime import date

from bd_delete_records_from_external_hive_table_spark.catalog import (
    parse_partition_value,
    partition_spec,
)
from bd_delete_records_from_external_hive_table_spark.partitions import (
    PartitionType,
    classify_partition,
    filter_by_date_range,
    is_valid_partition,
    parse_partition_date,
    sort_chronologically,
)


def test_classify_three_shapes():
    assert classify_partition("20260213") is PartitionType.CURRENT
    assert classify_partition("20260213-1") is PartitionType.PREVIOUS
    assert classify_partition("history_20260213") is PartitionType.HISTORY
    assert classify_partition("history_20260213-2") is PartitionType.HISTORY
    assert classify_partition("garbage") is PartitionType.INVALID
    assert classify_partition("2026021") is PartitionType.INVALID
    assert classify_partition("") is PartitionType.INVALID


def test_parse_partition_date():
    assert parse_partition_date("20260213") == date(2026, 2, 13)
    assert parse_partition_date("20260213-3") == date(2026, 2, 13)
    assert parse_partition_date("history_20250101") == date(2025, 1, 1)
    assert parse_partition_date("history_20250101-9") == date(2025, 1, 1)
    assert parse_partition_date("not_a_partition") is None
    # impossible calendar date matches the regex but must not parse
    assert parse_partition_date("20261301") is None


def test_is_valid_partition():
    assert is_valid_partition("20260213")
    assert is_valid_partition("history_20240630-1")
    assert not is_valid_partition("20269999")
    assert not is_valid_partition("xyz")


def test_filter_by_date_range_inclusive_exclusive():
    ids = ["20260101", "20260102", "20260103", "history_20260102", "bogus"]
    out = filter_by_date_range(ids, date(2026, 1, 2), date(2026, 1, 3))
    # start inclusive, end exclusive; invalid skipped
    assert out == ["20260102", "history_20260102"]


def test_filter_open_bounds():
    ids = ["20260101", "20260105"]
    assert filter_by_date_range(ids, None, None) == ids
    assert filter_by_date_range(ids, date(2026, 1, 2), None) == ["20260105"]
    assert filter_by_date_range(ids, None, date(2026, 1, 2)) == ["20260101"]


def test_sort_chronologically_with_fallback():
    ids = ["20260301", "history_20260101", "zzz", "20260201-1", "aaa"]
    assert sort_chronologically(ids) == [
        "history_20260101", "20260201-1", "20260301", "aaa", "zzz"]


def test_partition_spec_and_parse_value():
    assert partition_spec("partition_id", "20260213") == "partition_id='20260213'"
    assert partition_spec("p", "o'brien") == "p='o''brien'"
    assert parse_partition_value("partition_id=20260213") == "20260213"
    assert parse_partition_value("bare") == "bare"


def test_parse_partition_value_undoes_hive_path_escaping():
    assert parse_partition_value(
        "partition_id=history_20260101%3Aa") == "history_20260101:a"
    assert parse_partition_value("p=50%25%2Fx") == "50%/x"
