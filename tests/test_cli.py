"""CLI + properties-file configuration tests (reference parity:
HiveTableDeletionJob.java:165-328, application.properties)."""

from __future__ import annotations

from datetime import datetime

import pytest

from bd_delete_records_from_external_hive_table_spark.cli import build_parser, config_from_args
from bd_delete_records_from_external_hive_table_spark.config import (
    CriteriaValidationError,
    config_kwargs_from_properties,
    parse_properties,
)

PROPS = """\
# comment
spark.app.name=HiveTableDeletionJob
backup.strategy=hdfs
backup.location=/tmp/backups
backup.retention.days=14
validation.enabled=true
validation.sample.size=5000
validation.tolerance.percent=0.5
recovery.auto.enabled=false
recovery.max.retries=5
partition.parallelism=4
batch.size=500000
dry.run.enabled=true
"""


@pytest.fixture
def props_file(tmp_path):
    p = tmp_path / "job.properties"
    p.write_text(PROPS)
    return str(p)


def test_parse_properties_skips_comments_and_blanks(props_file):
    props = parse_properties(props_file)
    assert props["backup.strategy"] == "hdfs"
    assert "# comment" not in props


def test_properties_map_to_config_kwargs(props_file):
    kw = config_kwargs_from_properties(props_file)
    assert kw["backup_strategy"] == "path"  # hdfs aliases to path
    assert kw["backup_location"] == "/tmp/backups"
    assert kw["backup_retention_days"] == 14
    assert kw["validation_tolerance_pct"] == 0.5
    assert kw["auto_recovery"] is False
    assert kw["max_retries"] == 5
    assert kw["dry_run"] is True
    # reference properties files still load: the engine rewrites in one
    # pass, so the batch-width keys are ignored like any unknown key, and
    # post-validation counts every match, so the sample size is too
    assert "partition_parallelism" not in kw and "batch_size" not in kw
    assert "validation_sample_size" not in kw
    assert kw["extra"]["spark.app.name"] == "HiveTableDeletionJob"


def test_flags_override_properties(props_file):
    args = build_parser().parse_args([
        "-d", "db", "-t", "tbl", "-w", "id = 5",
        "-s", "2026-02-13 00:00:00", "-e", "2026-02-13 23:59:59",
        "--backup-strategy", "hive_table", "-c", props_file])
    cfg = config_from_args(args)
    assert cfg.backup_strategy == "hive_table"     # flag wins
    assert cfg.backup_retention_days == 14         # from file
    assert cfg.dry_run is True                     # from file
    assert cfg.criteria.where_clause == "id = 5"
    assert cfg.criteria.start_time == datetime(2026, 2, 13, 0, 0, 0)
    assert cfg.criteria.end_time == datetime(2026, 2, 13, 23, 59, 59)


def test_defaults_match_reference():
    args = build_parser().parse_args(["-d", "db", "-t", "tbl", "-w", "id=1"])
    cfg = config_from_args(args)
    assert cfg.partition_column == "partition_id"
    assert cfg.criteria.time_column == "row_create_ts"
    assert cfg.backup_strategy == "hive_table"
    assert cfg.backup_retention_days == 7
    assert cfg.max_retries == 3
    assert cfg.dry_run is False


def test_partition_window_flags():
    from datetime import date
    args = build_parser().parse_args([
        "-d", "db", "-t", "tbl", "-w", "id = 1",
        "--partition-start", "2026-02-01", "--partition-end", "2026-03-01"])
    cfg = config_from_args(args)
    assert cfg.partition_start == date(2026, 2, 1)
    assert cfg.partition_end == date(2026, 3, 1)


def test_required_flags_enforced(capsys):
    with pytest.raises(SystemExit):
        build_parser().parse_args(["-t", "tbl"])


def test_no_criteria_rejected():
    args = build_parser().parse_args(["-d", "db", "-t", "tbl"])
    with pytest.raises(CriteriaValidationError):
        config_from_args(args)


def test_injection_screen_applies_to_cli_where():
    args = build_parser().parse_args(
        ["-d", "db", "-t", "tbl", "-w", "id = 1; DROP TABLE x"])
    with pytest.raises(CriteriaValidationError):
        config_from_args(args)


def test_mor_strategy_requires_dv_path_and_keys(capsys):
    from bd_delete_records_from_external_hive_table_spark.cli import main
    rc = main(["-d", "db", "-t", "t", "-w", "id = 1", "--strategy", "mor"])
    assert rc == 1
    assert "--dv-path and --key-columns" in capsys.readouterr().err


def test_mor_compact_needs_no_criteria():
    """mor-compact applies recorded tombstones; criteria flags are not
    required (a placeholder predicate satisfies config validation)."""
    parser = build_parser()
    args = parser.parse_args(["-d", "db", "-t", "t",
                              "--strategy", "mor-compact",
                              "--dv-path", "/tmp/dv",
                              "--key-columns", "id"])
    assert args.strategy == "mor-compact"
    # plain parse keeps criteria empty; main() injects the placeholder
    assert args.where is None


def test_strategy_defaults_to_cow():
    args = build_parser().parse_args(["-d", "db", "-t", "t", "-w", "x = 1"])
    assert args.strategy == "cow"
