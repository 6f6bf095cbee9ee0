"""Engine configuration & deletion criteria.

Python re-expression of the reference's two config structs
(``/root/reference/.../config/JobConfig.java:182-198`` defaults and
validation at 132-165; ``/root/reference/.../config/DeletionCriteria.java``)
with one architectural upgrade: criteria compile to typed
:class:`pyspark.sql.Column` expressions instead of string-spliced SQL
(DeletionCriteria.java:51-74 splices ``Timestamp.toString()`` into SQL text).
Typed literals remove the injection channel for the time bounds; the raw
user ``where`` clause remains a Spark SQL expression string (via ``F.expr``)
and keeps the reference's screen (DeletionCriteria.java:108-131) as
belt-and-braces.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["DeletionCriteria", "EngineConfig", "CriteriaValidationError"]


class CriteriaValidationError(ValueError):
    """Raised when criteria/config fail validation."""


#: Forbidden substrings in a raw WHERE clause — ported from the reference's
#: SQL-injection screen (DeletionCriteria.java:117-131), case-insensitive.
_FORBIDDEN = (
    ";", "--", "/*", "*/", "xp_", "sp_",
    "exec ", "execute ", "drop ", "truncate ", "alter ", "create ", "insert ",
)


@dataclass(frozen=True)
class DeletionCriteria:
    """What to delete: optional raw WHERE clause + optional time window.

    Window semantics: start **inclusive**, end **exclusive**
    (DeletionCriteria.java:55-64). At least one condition is required
    (DeletionCriteria.java:95-112).
    """

    where_clause: str | None = None
    start_time: datetime | None = None
    end_time: datetime | None = None
    time_column: str = "row_create_ts"

    def __post_init__(self) -> None:
        if not (self.where_clause or self.start_time or self.end_time):
            raise CriteriaValidationError(
                "at least one deletion condition (where/start/end) is required")
        if self.start_time and self.end_time and self.start_time >= self.end_time:
            raise CriteriaValidationError("start_time must be before end_time")
        if (self.start_time or self.end_time) and not self.time_column:
            raise CriteriaValidationError("time_column required with a time window")
        if self.where_clause:
            low = self.where_clause.lower()
            for bad in _FORBIDDEN:
                if bad in low:
                    raise CriteriaValidationError(
                        f"where clause contains forbidden pattern {bad!r}")

    # -- compilation to Column expressions ---------------------------------

    def to_column(self) -> Column:
        """The deletion predicate P as a typed Column (P3+P4 in SURVEY §2c)."""
        preds: list[Column] = []
        if self.start_time is not None:
            preds.append(F.col(self.time_column) >= F.lit(self.start_time))
        if self.end_time is not None:
            preds.append(F.col(self.time_column) < F.lit(self.end_time))
        if self.where_clause:
            preds.append(F.expr(f"({self.where_clause})"))
        return reduce(lambda a, b: a & b, preds)

    def retention_column(self, null_safe: bool = False) -> Column:
        """The retention complement ¬P (P5 in SURVEY §2c).

        Plain SQL three-valued logic (the reference's behaviour — it emits
        ``NOT (<clause>)``, DeletionCriteria.java:82-88): rows where P is
        NULL satisfy neither P nor NOT(P) and are therefore *dropped* by the
        retention scan. Pass ``null_safe=True`` to retain NULL-of-P rows
        ("delete only what provably matches").
        """
        p = self.to_column()
        if null_safe:
            return ~p | p.isNull()
        return ~p

    def deletion_column(self, null_safe: bool = False) -> Column:
        """The exact complement of :meth:`retention_column` — the set of
        rows the rewrite will physically drop. Under plain three-valued
        logic NULL-of-P rows satisfy neither P nor NOT(P), so the default
        retention scan drops them; counting the delete-set with P alone
        would under-count and break count reconciliation. This column is
        what partition analysis and dry-run must count."""
        p = self.to_column()
        if null_safe:
            return p & ~p.isNull()
        return p | p.isNull()

    def describe(self) -> str:
        parts = []
        if self.start_time is not None:
            parts.append(f"{self.time_column} >= {self.start_time}")
        if self.end_time is not None:
            parts.append(f"{self.time_column} < {self.end_time}")
        if self.where_clause:
            parts.append(f"({self.where_clause})")
        return " AND ".join(parts)


@dataclass(frozen=True)
class EngineConfig:
    """Job configuration with the reference's defaults (JobConfig.java:182-198)."""

    database: str
    table: str
    criteria: DeletionCriteria
    partition_column: str = "partition_id"

    # backup (SURVEY §2n C5/C6/C9)
    backup_enabled: bool = True
    backup_strategy: str = "hive_table"  # or "path"
    backup_location: str | None = None   # required for "path" strategy
    backup_retention_days: int = 7

    # validation (C7)
    validation_enabled: bool = True
    validation_tolerance_pct: float = 0.0

    # recovery (C8)
    auto_recovery: bool = True
    max_retries: int = 3

    dry_run: bool = False
    #: engine extension: retain rows where the predicate evaluates to NULL
    null_safe_retention: bool = False

    # partition window pre-pruning (driver-side static pruning, SURVEY §4)
    partition_start: datetime | None = None
    partition_end: datetime | None = None

    extra: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        if not self.database or not self.table:
            raise CriteriaValidationError("database and table are required")
        if self.backup_enabled and self.backup_strategy not in ("hive_table", "path"):
            raise CriteriaValidationError(
                f"unknown backup strategy {self.backup_strategy!r}")
        if (self.backup_enabled and self.backup_strategy == "path"
                and not self.backup_location):
            raise CriteriaValidationError("path backup strategy needs backup_location")
        if self.validation_tolerance_pct < 0:
            raise CriteriaValidationError("validation tolerance must be >= 0")

    @property
    def qualified_table(self) -> str:
        return f"{self.database}.{self.table}"


# -- properties-file loading (JobConfig.java:274-306) ------------------------

#: properties key → (EngineConfig field, parser). Mirrors
#: src/main/resources/application.properties:13-32, except three keys
#: ignored like any unknown one: ``partition.parallelism`` (one-pass
#: rewrite), ``batch.size`` (never read by the reference) and
#: ``validation.sample.size`` (post-validation counts every match).
_PROPERTY_KEYS = {
    "backup.strategy": ("backup_strategy",
                        lambda v: "path" if v == "hdfs" else v),
    "backup.location": ("backup_location", str),
    "backup.retention.days": ("backup_retention_days", int),
    "validation.enabled": ("validation_enabled",
                           lambda v: v.lower() == "true"),
    "validation.tolerance.percent": ("validation_tolerance_pct", float),
    "recovery.auto.enabled": ("auto_recovery", lambda v: v.lower() == "true"),
    "recovery.max.retries": ("max_retries", int),
    "dry.run.enabled": ("dry_run", lambda v: v.lower() == "true"),
}


def parse_properties(path: str) -> dict[str, str]:
    """Minimal java-.properties reader: ``key=value`` lines, ``#``/``!``
    comments, blank lines skipped."""
    props: dict[str, str] = {}
    with open(path, encoding="utf-8") as fh:
        for raw in fh:
            line = raw.strip()
            if not line or line.startswith(("#", "!")) or "=" not in line:
                continue
            key, _, value = line.partition("=")
            props[key.strip()] = value.strip()
    return props


def config_kwargs_from_properties(path: str) -> dict:
    """EngineConfig keyword overrides from a properties file. Keys the
    engine doesn't model (spark.* session confs) are returned under
    ``extra`` so the session factory can apply them."""
    props = parse_properties(path)
    kwargs: dict = {}
    extra: dict = {}
    for key, value in props.items():
        if key in _PROPERTY_KEYS:
            field_name, parse = _PROPERTY_KEYS[key]
            kwargs[field_name] = parse(value)
        elif key.startswith("spark."):
            extra[key] = value
    if extra:
        kwargs["extra"] = extra
    return kwargs
