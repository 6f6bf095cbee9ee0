"""Generic schema-enforced dataset IO: parquet / ORC / CSV / JSON / XML.

The reference's storage surface is ORC-in-Hive plus an ORC path sink and a
text metadata file (`/root/reference/.../backup/HDFSBackupStrategy.java:
40-45,151-175`); this module generalizes it to the five formats a Spark
pipeline actually exchanges data in (XML is native in Spark 4), with scale rules baked into the API
instead of left to callers:

- **Explicit schema always.** ``inferSchema`` (CSV) / schema sampling
  (JSON) read the whole dataset once before the real scan — at 100 TB
  that is a full extra pass. Readers here *require* a schema (DDL string
  or StructType); fail-fast on drift instead of silently re-typing.
- **PERMISSIVE + corrupt-record capture** for the text formats: a 100 TB
  ingest always contains malformed rows; dropping them silently
  (DROPMALFORMED) or dying on row 40-billion (FAILFAST) are both worse
  than quarantining. The corrupt column is dropped from the clean output
  and routed to a side DataFrame.
- **Partitioned writes** go through the same ``partitionBy`` +
  per-partition directory layout the deletion engine manages, so any
  dataset written here is immediately partition-prunable (and Hive-
  attachable with ``ALTER TABLE ... ADD PARTITION``).
- Columnar formats get codec defaults (snappy) matching the session conf
  (`SparkSessionManager.java:39`); text formats compress with gzip only
  behind an explicit flag, since gzip files are unsplittable — one 50 GB
  .csv.gz becomes one task.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["read_dataset", "write_dataset", "ReadResult"]

_COLUMNAR = ("parquet", "orc")
_TEXTUAL = ("csv", "json", "xml")
_CORRUPT = "_corrupt_record"


@dataclass
class ReadResult:
    """Clean rows + quarantined malformed rows (text formats only)."""

    data: DataFrame
    corrupt: DataFrame | None = None


def read_dataset(spark: SparkSession, path: str, fmt: str,
                 schema: str | StructType, *,
                 csv_header: bool = True,
                 xml_row_tag: str = "row") -> ReadResult:
    """Schema-enforced read. For csv/json/xml, malformed rows are
    captured in ``result.corrupt`` (the raw record) instead of crashing
    the scan or silently vanishing."""
    fmt = fmt.lower()
    if fmt in _COLUMNAR:
        df = spark.read.format(fmt).schema(schema).load(path)
        return ReadResult(data=df)
    if fmt not in _TEXTUAL:
        raise ValueError(f"unsupported format {fmt!r}")

    struct = (StructType.fromDDL(schema) if isinstance(schema, str)
              else schema)
    # StructType.add mutates in place — copy first, or a caller-supplied
    # schema object grows a phantom _corrupt_record column per call.
    with_corrupt = StructType(list(struct.fields)).add(_CORRUPT, "string")
    reader = (spark.read.format(fmt).schema(with_corrupt)
              .option("mode", "PERMISSIVE")
              .option("columnNameOfCorruptRecord", _CORRUPT))
    if fmt == "csv":
        reader = reader.option("header", str(csv_header).lower())
    if fmt == "xml":
        # Spark 4 ships the XML source natively; a record is one
        # rowTag element, and malformed elements land in the corrupt
        # column exactly like csv/json lines.
        reader = reader.option("rowTag", xml_row_tag)
    raw = reader.load(path)
    # Spark requires caching/materializing before filtering on the corrupt
    # column of the same scan; re-reading via two filters on one cached
    # frame keeps it a single pass.
    raw = raw.cache()
    clean = raw.where(F.col(_CORRUPT).isNull()).drop(_CORRUPT)
    corrupt = raw.where(F.col(_CORRUPT).isNotNull()).select(_CORRUPT)
    return ReadResult(data=clean, corrupt=corrupt)


def write_dataset(df: DataFrame, path: str, fmt: str, *,
                  partition_by: list[str] | None = None,
                  mode: str = "error",
                  compress_text: bool = False,
                  xml_row_tag: str = "row") -> None:
    """Write a dataset with scale-safe defaults: snappy for columnar
    formats, uncompressed (splittable) text unless ``compress_text``,
    optional directory partitioning."""
    fmt = fmt.lower()
    if fmt not in _COLUMNAR + _TEXTUAL:
        raise ValueError(f"unsupported format {fmt!r}")
    writer = df.write.format(fmt).mode(mode)
    if fmt in _COLUMNAR:
        writer = writer.option("compression", "snappy")
    elif compress_text:
        writer = writer.option("compression", "gzip")
    if fmt == "csv":
        writer = writer.option("header", "true")
    if fmt == "xml":
        writer = writer.option("rowTag", xml_row_tag)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
