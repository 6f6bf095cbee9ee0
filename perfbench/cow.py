"""The ``cow_*`` workloads: seeded DELETE streams on a partitioned ORC table.

One client in one process sends an operation through the engine's public
API, waits for it to finish, checks it, then sends the next (a closed
loop with one client). Operations follow a fixed cycle of kinds and
window lengths, so every run does the same mix of work; the seed picks
the events, each window's position and each predicate. Restores take the
oldest backup not yet restored.

``cow_daily``
    daily ``yyyyMMdd`` partitions: 30 of them, 1-7-day windows. The data
    path dominates (backup copies, retention rewrite, validation scans).
``cow_hourly``
    events in ``yyyyMMdd-H`` partitions: 720 of them, 1-3-day windows
    (24-72 partitions per job). The metadata path and the per-partition
    loops dominate.

Every operation is replayed on the DuckDB oracle (``oracle.py``) and
checked from outside the engine: the reported deleted / would-delete
count, the backup's contents against the exact pre-image, untouched
files outside the window, and an unchanged table after a dry-run. The
end of the run compares per-partition fingerprints of the whole table.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from datetime import date, datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow.orc as orc

from bd_delete_records_from_external_hive_table_spark.config import (
    DeletionCriteria, EngineConfig)
from bd_delete_records_from_external_hive_table_spark.job import DeletionJob
from bd_delete_records_from_external_hive_table_spark.operators.backup import (
    BackupManager)
from bd_delete_records_from_external_hive_table_spark.partitions import (
    parse_partition_date)
from bd_delete_records_from_external_hive_table_spark.sources.tables import (
    load_table)

import data
import panel
from oracle import FINGERPRINT_SQL, MIX_A, MIX_P, ReplayOracle
from spans import Tracer

DB = "bench"
TABLE = "events"
PCOL = "partition_id"

WRITE_KINDS = ("point", "bulk", "drop", "restore")
#: op_tail_s is the mean latency of the operations at or above this
#: percentile (the slowest quarter): a run has too few operations for a
#: single high percentile to repeat from run to run
TAIL_PCT = 75
#: untimed dry-runs before the measured operations
WARMUP_OPS = 2


@dataclass(frozen=True)
class Workload:
    name: str
    hourly: bool
    rows: int
    #: (operation kind, window days) in the order every run repeats them;
    #: a drop always empties one whole day, a restore has no window
    cycle: tuple[tuple[str, int], ...]
    #: operation seconds one cycle takes on the reference host (4 cores)
    cycle_s: float


WORKLOADS = {
    "cow_daily": Workload("cow_daily", hourly=False, rows=300_000, cycle=(
        ("point", 7), ("dry", 7), ("dry", 7), ("bulk", 3), ("dry", 7),
        ("drop", 1), ("dry", 7), ("point", 1), ("dry", 7), ("restore", 0),
        ("dry", 7), ("restore", 0), ("dry", 7)), cycle_s=15.0),
    "cow_hourly": Workload("cow_hourly", hourly=True, rows=50_000, cycle=(
        ("point", 3), ("dry", 2), ("dry", 2), ("bulk", 1), ("dry", 2),
        ("drop", 1), ("dry", 2), ("point", 1), ("dry", 2), ("restore", 0),
        ("dry", 2), ("restore", 0), ("dry", 2)), cycle_s=30.0),
}


# -- storage, walked from outside the engine --------------------------------

def _listing(root: Path) -> dict[str, tuple[int, int]]:
    """relative path -> (bytes, mtime_ns) of every data file under root."""
    out = {}
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for f in files:
            if f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.relpath(os.path.join(dirpath, f), root)] = (
                st.st_size, st.st_mtime_ns)
    return out


def _partition_of(relpath: str) -> str:
    """``[<table dir>/]partition_id=<v>/<file>`` -> ``<v>``."""
    for part in relpath.split(os.sep):
        if part.startswith(PCOL + "="):
            return part[len(PCOL) + 1:]
    return ""


def _new_bytes(before: dict, after: dict) -> int:
    return sum(size for p, (size, mt) in after.items()
               if before.get(p) != (size, mt))


def _orc_fingerprints(table_dir: Path, only=None) -> dict[str, tuple]:
    """Per-partition oracle fingerprint of ORC files, read with pyarrow;
    ``only`` limits it to those partitions."""
    acc: dict[str, list[int]] = {}
    for rel in _listing(table_dir):
        if only is not None and _partition_of(rel) not in only:
            continue
        ids = orc.ORCFile(str(table_dir / rel)).read(
            columns=["event_id"]).column(0).to_numpy().astype(np.int64)
        fp = acc.setdefault(_partition_of(rel), [0, 0, 0])
        fp[0] += len(ids)
        fp[1] += int(ids.sum())
        fp[2] += int(((ids * MIX_A) % MIX_P).sum())
    return {k: tuple(v) for k, v in acc.items() if v[0]}


# -- the table ----------------------------------------------------------------

def _partition_expr(hourly: bool) -> str:
    day = "date_format(ts, 'yyyyMMdd')"
    return f"concat({day}, '-', CAST(hour(ts) AS STRING))" if hourly else day


def build_table(spark, wl: Workload, data_dir: Path, location: Path) -> None:
    """External partitioned ORC table from the generated events."""
    spark.sql(f"DROP TABLE IF EXISTS {DB}.{TABLE}")
    shutil.rmtree(location, ignore_errors=True)
    spark.sql(f"""
        CREATE EXTERNAL TABLE {DB}.{TABLE} (
          event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
          event_type STRING, value DOUBLE, props STRING
        ) PARTITIONED BY ({PCOL} STRING) STORED AS ORC
        LOCATION '{location}'""")
    ev = load_table(spark, str(data_dir), "events")
    (ev.selectExpr("event_id", "ts", "user_id", "event_type", "value",
                   "props", f"{_partition_expr(wl.hourly)} AS {PCOL}")
       .repartition(PCOL)
       .write.insertInto(f"{DB}.{TABLE}"))


# -- the operation stream -----------------------------------------------------

@dataclass
class Op:
    index: int
    kind: str
    predicate: str | None = None
    start: date | None = None
    end: date | None = None
    backup: dict | None = None  # restore target

    def window(self, partitions) -> list[str]:
        return [p for p in partitions
                if self.start <= parse_partition_date(p) < self.end]


class OpStream:
    """Seeded operation generator; consults the oracle's state, which is
    itself a function of the seed, so the sequence is fixed per seed."""

    def __init__(self, seed: int, wl: Workload):
        self.rng = np.random.default_rng([seed, 3])
        self.wl = wl
        self.pending: list[dict] = []  # restorable backups
        self.i = 0

    def _window(self, days: int, oracle: ReplayOracle) -> tuple[date, date]:
        """A window of whole days that all still hold rows, so the same
        slot of the cycle does the same amount of work in every run."""
        live = {parse_partition_date(p) for p in oracle.partitions()}
        first = data.EVENTS_START.date()
        starts = [first + timedelta(days=s)
                  for s in range(data.EVENT_DAYS - days + 1)]
        full = [d for d in starts
                if all(d + timedelta(days=i) in live for i in range(days))]
        d0 = (full or starts)[int(self.rng.integers(0, len(full or starts)))]
        return d0, d0 + timedelta(days=days)

    def next(self, oracle: ReplayOracle) -> Op:
        kind, days = self.wl.cycle[self.i % len(self.wl.cycle)]
        op = Op(self.i, kind)
        self.i += 1
        if kind == "restore" and not self.pending:
            kind, days = "dry", 1
            op.kind = kind
        if kind in ("point", "dry"):
            op.predicate = f"user_id % 100 = {int(self.rng.integers(0, 100))}"
            op.start, op.end = self._window(days, oracle)
        elif kind == "bulk":
            op.predicate = f"user_id % 2 = {int(self.rng.integers(0, 2))}"
            op.start, op.end = self._window(days, oracle)
        elif kind == "drop":
            days = sorted({parse_partition_date(p)
                           for p in oracle.partitions()})
            op.start = days[int(self.rng.integers(0, len(days)))]
            op.end = op.start + timedelta(days=1)
            op.predicate = (f"ts >= TIMESTAMP '{op.start} 00:00:00' AND "
                            f"ts < TIMESTAMP '{op.end} 00:00:00'")
        else:
            op.backup = self.pending.pop(0)
        return op


# -- running one workload -----------------------------------------------------

class Checker:
    def __init__(self):
        self.failures: list[str] = []

    def expect(self, ok: bool, op: Op, what: str) -> bool:
        if not ok:
            self.failures.append(f"op {op.index} ({op.kind}): {what}")
        return ok


def _config(op: Op) -> EngineConfig:
    return EngineConfig(
        database=DB, table=TABLE, partition_column=PCOL,
        criteria=DeletionCriteria(where_clause=op.predicate,
                                  time_column="ts"),
        partition_start=datetime.combine(op.start, datetime.min.time()),
        partition_end=datetime.combine(op.end, datetime.min.time()),
        dry_run=op.kind == "dry")


def _trace_job(tracer: Tracer, job: DeletionJob, backups_dir: Path) -> None:
    """Wrap the job's own component instances, one span per step."""
    def plan_counts(rec, plan):
        rec["candidates"] = len(plan.candidates)
        rec["affected"] = len(plan.affected)

    def backups_seen(rec, _args):
        rec["backups_seen"] = sum(1 for d in os.listdir(backups_dir)
                                  if d.startswith(f"{TABLE}_backup_"))

    tracer.wrap(job.handler, "analyze", "deletion.analyze", after=plan_counts)
    tracer.wrap(job.validator, "validate_pre_deletion", "validation.pre")
    tracer.wrap(job.validator, "validate_post_deletion", "validation.post")
    tracer.wrap(job.executor, "execute", "deletion.rewrite")
    tracer.wrap(job.executor, "drop_partitions", "deletion.drop",
                after=lambda rec, out: rec.update(partitions=len(out)))
    if job.backups is not None:
        tracer.wrap(job.backups, "create_backup", "backup.create")
        tracer.wrap(job.backups, "cleanup_old_backups", "backup.cleanup",
                    before=backups_seen)


def run_op(spark, op: Op, stream: OpStream, oracle: ReplayOracle,
           tracer: Tracer, check: Checker, table_dir: Path,
           backups_dir: Path) -> dict:
    """Run one operation, time it, replay it on the oracle and check it."""
    before_table = _listing(table_dir)
    before_backups = _listing(backups_dir)
    live = oracle.partitions()
    row = {"kind": op.kind, "ok": True, "deleted": 0, "new_bytes": 0}

    if op.kind == "restore":
        ref = op.backup["ref"]
        manager = BackupManager(spark, op.backup["config"])
        t0 = time.perf_counter()
        with tracer.span("recovery.restore"):
            restored = manager.restore(ref)
        row["latency_s"] = time.perf_counter() - t0
        expected = oracle.restore(op.backup["snapshot"], ref.partitions)
        touched = set(ref.partitions)
        row["ok"] = check.expect(restored == expected, op,
                                 f"restored {restored} rows, pre-image "
                                 f"has {expected}")
        # read the restored partitions back: exactly the pre-image, no more
        got = _orc_fingerprints(table_dir, touched)
        want = {p: fp for p, fp in oracle.fingerprints().items()
                if p in touched}
        row["ok"] &= check.expect(got == want, op,
                                  "restored partitions differ from the "
                                  "pre-image")
    else:
        window = op.window(live)
        expected = oracle.count(window, op.predicate)
        cfg = _config(op)
        job = DeletionJob(spark, cfg)
        _trace_job(tracer, job, backups_dir)
        t0 = time.perf_counter()
        with tracer.span("deletion.job", kind=op.kind) as rec:
            outcome = job.run()
        row["latency_s"] = time.perf_counter() - t0
        if not check.expect(outcome.success, op, f"job failed: "
                            f"{outcome.error}"):
            row["ok"] = False
            return row
        got = outcome.result.deleted
        row["ok"] = check.expect(got == expected, op,
                                 f"engine reports {got} rows, oracle "
                                 f"{expected}")
        m = outcome.metrics
        rec.update(batches=m.batches_processed, rows_read=m.records_read,
                   rows_retained=m.records_retained)
        touched = set(window)
        if op.kind == "dry":
            row["ok"] &= check.expect(
                _listing(table_dir) == before_table
                and _listing(backups_dir) == before_backups, op,
                "dry-run changed files")
            touched = set()
        else:
            row["deleted"] = got
            ref = outcome.backup
            affected = sorted(p for p in window
                              if oracle.count([p], op.predicate))
            if ref is not None:
                row["ok"] &= _check_backup(op, ref, affected, stream, oracle,
                                           check, backups_dir,
                                           before_backups)
            else:
                row["ok"] &= check.expect(not affected, op,
                                          "no backup was made")
            oracle.delete(window, op.predicate)

    after_table = _listing(table_dir)
    outside_before = {p: v for p, v in before_table.items()
                      if _partition_of(p) not in touched}
    outside_after = {p: v for p, v in after_table.items()
                     if _partition_of(p) not in touched}
    row["ok"] &= check.expect(outside_before == outside_after, op,
                              "files outside the window changed")
    row["new_bytes"] = (_new_bytes(before_table, after_table)
                        + _new_bytes(before_backups, _listing(backups_dir)))
    return row


def _check_backup(op: Op, ref, affected, stream: OpStream,
                  oracle: ReplayOracle, check: Checker, backups_dir: Path,
                  before_backups: dict) -> bool:
    """The backup holds exactly the pre-image of the affected partitions
    and does not reuse the name of a backup that already existed."""
    name = ref.ref.split(".", 1)[1]
    reused = any(p.split(os.sep, 1)[0] == name for p in before_backups)
    ok = check.expect(not reused, op, f"backup name {name} already taken")
    ok &= check.expect(sorted(ref.partitions) == affected, op,
                       f"backup covers {sorted(ref.partitions)}, affected "
                       f"{affected}")
    snapshot = oracle.snapshot(ref.partitions)
    ok &= check.expect(
        _orc_fingerprints(backups_dir / name)
        == oracle.fingerprints(snapshot), op,
        "backup contents differ from the pre-image")
    # an overwritten backup's pre-image is gone: never restore it
    stream.pending[:] = [b for b in stream.pending if b["ref"].ref != ref.ref]
    if ok and op.kind in ("bulk", "drop"):
        stream.pending.append({"ref": ref, "snapshot": snapshot,
                               "config": _config(op)})
    return ok


def final_check(spark, oracle: ReplayOracle) -> list[str]:
    """Per-partition fingerprints of the Spark table against DuckDB."""
    rows = spark.sql(
        f"SELECT {PCOL}, {FINGERPRINT_SQL} FROM {DB}.{TABLE} "
        f"GROUP BY {PCOL}").collect()
    got = {r[0]: tuple(r[1:]) for r in rows}
    want = oracle.fingerprints()
    listed = {r[0].split("=", 1)[1] for r in spark.sql(
        f"SHOW PARTITIONS {DB}.{TABLE}").collect()}
    problems = [f"partition {p}: spark {got.get(p)} oracle {want.get(p)}"
                for p in sorted(set(got) | set(want))
                if got.get(p) != want.get(p)]
    if listed != set(want):
        problems.append(f"metastore partitions differ from live ones: "
                        f"{sorted(listed ^ set(want))[:10]}")
    return problems


def _metric(value, unit) -> dict:
    return {"value": float(value), "unit": unit}


def _pct(values, q):
    return float(np.percentile(values, q)) if values else float("nan")


def _tail_mean(values):
    cut = _pct(values, TAIL_PCT)
    return float(np.mean([v for v in values if v >= cut]))


def run_workload(spark, wl: Workload, work: Path, seed: int, seconds: float,
                 trace: bool, session_s: float,
                 rows: int | None = None) -> dict:
    wl = Workload(wl.name, wl.hourly, rows or wl.rows, wl.cycle,
                  wl.cycle_s)
    phases = {}
    t_phase = time.perf_counter()

    def phase(name):
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    data_dir = work / "data"
    data_dir.mkdir(parents=True, exist_ok=True)
    data.make_events(data_dir, seed, wl.rows)
    phase("generate_s")

    table_dir = work / "ext" / TABLE
    backups_dir = work / "warehouse" / f"{DB}.db"
    # the first metastore command initialises the embedded metastore: part
    # of the session's set-up cost
    t0 = time.perf_counter()
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    session_s += time.perf_counter() - t0
    # One build: a 720-partition build takes 10-20 s on 4 cores, too much
    # to repeat in every run of the benchmark.
    t0 = time.perf_counter()
    build_table(spark, wl, data_dir, table_dir)
    build_s = time.perf_counter() - t0
    phase("build_s")

    oracle = ReplayOracle(data_dir / "events.parquet", wl.hourly)
    tracer = Tracer(spark, trace)
    check = Checker()
    # untimed warm-up: checked one-day dry-runs, so the read path is past
    # its first compilations before anything is timed
    for day in range(0, data.EVENT_DAYS, data.EVENT_DAYS // WARMUP_OPS):
        d0 = data.EVENTS_START.date() + timedelta(days=day)
        warm = Op(-1, "dry", f"user_id % 100 = {day}", d0,
                  d0 + timedelta(days=1))
        run_op(spark, warm, None, oracle, Tracer(spark, False), check,
               table_dir, backups_dir)
    phase("warmup_s")

    # A fixed number of whole cycles, about `seconds` of operations on the
    # reference host: every run, and every commit, does the same work.
    n_ops = len(wl.cycle) * max(1, round(seconds / wl.cycle_s))
    stream = OpStream(seed, wl)
    rows_out: list[dict] = []
    while stream.i < n_ops:
        op = stream.next(oracle)
        try:
            row = run_op(spark, op, stream, oracle, tracer, check, table_dir,
                         backups_dir)
        except Exception as exc:  # counted, never hidden
            check.expect(False, op, f"raised {exc!r}")
            row = {"kind": op.kind, "ok": False, "latency_s": 0.0,
                   "deleted": 0, "new_bytes": 0}
        rows_out.append(row)
        if not row["ok"] and len(check.failures) > 20:
            break
    phase("loop_s")

    problems = final_check(spark, oracle)
    final_table = _listing(table_dir)
    final_backups = _listing(backups_dir)
    stored = (sum(s for s, _ in final_table.values())
              + sum(s for s, _ in final_backups.values()))
    live_rows = oracle.live_rows()
    parts = {_partition_of(p) for p in final_table}

    lat = [r["latency_s"] for r in rows_out]
    writes = [r["latency_s"] for r in rows_out if r["kind"] in WRITE_KINDS]
    reads = [r["latency_s"] for r in rows_out if r["kind"] == "dry"]
    deleted = sum(r["deleted"] for r in rows_out)
    new_bytes = sum(r["new_bytes"] for r in rows_out)

    metric = _metric
    end_to_end = {
        "setup_s": metric(session_s + build_s, "s"),
        "ops_per_s": metric(len(lat) / max(1e-9, sum(lat)), "1/s"),
        "op_p50_s": metric(_pct(lat, 50), "s"),
        "op_tail_s": metric(_tail_mean(lat), "s"),
        "write_op_p50_s": metric(_pct(writes, 50), "s"),
        "read_op_p50_s": metric(_pct(reads, 50), "s"),
        "write_bytes_per_deleted_row": metric(
            new_bytes / max(1, deleted), "B/row"),
        "stored_bytes_per_live_row": metric(
            stored / max(1, live_rows), "B/row"),
    }
    details = {
        "workload": wl.name, "seed": seed, "rows": wl.rows,
        "tail_percentile": TAIL_PCT, "ops": len(rows_out),
        "session_s": session_s, "build_s": build_s, "phases": phases,
        "failures": check.failures + problems, "op_rows": rows_out,
    }
    per_layer = {}
    if trace:
        per_layer = _per_layer(spark, tracer, data_dir, seed, details)
        per_layer["session.create_s"] = metric(session_s, "s")
        per_layer["sources.build_s"] = metric(build_s, "s")
        per_layer["storage.files_per_partition"] = metric(
            len(final_table) / max(1, len(parts)), "count")
        per_layer["trace.overhead_s_per_op"] = metric(
            tracer.overhead_s / max(1, len(lat)), "s")
        per_layer["trace.op_p50_s"] = metric(_pct(lat, 50), "s")
    oracle.close()
    failed = sum(1 for r in rows_out if not r["ok"])
    return {
        "correct": not check.failures and not problems,
        "attempted": len(rows_out),
        "failed": failed,
        "end_to_end": end_to_end,
        "per_layer": per_layer,
        "details": details,
    }


# -- per-layer metrics from the traced run ------------------------------------

def _per_layer(spark, tracer: Tracer, data_dir: Path, seed: int,
               details: dict) -> dict:
    panel_failures = panel.run(spark, tracer, data_dir, seed)
    details["failures"].extend(panel_failures)
    spans = tracer.resolve()
    details["spans"] = spans
    metric = _metric

    def mean(recs, key):
        return sum(r[key] for r in recs) / len(recs) if recs else 0.0

    jobs = [r for r in spans if r["name"] == "deletion.job"]
    real = {r["id"] for r in jobs if r["kind"] != "dry"}

    def step(name, only_real=True):
        return [r for r in spans if r["name"] == name
                and (not only_real or r["parent"] in real)]

    out = {}
    counters = {
        "s": ("wall_s", "s"), "jobs": ("jobs", "count"),
        "task_s": ("task_s", "s"), "input_bytes": ("input_bytes", "B"),
        "output_bytes": ("output_bytes", "B"), "driver_s": ("driver_s", "s"),
        "sql_statements": ("sql_statements", "count"),
    }
    layout = {
        ("deletion.analyze", False): ("s", "jobs", "task_s", "input_bytes",
                                      "driver_s"),
        ("validation.pre", False): ("s", "sql_statements"),
        ("backup.create", True): ("s", "jobs", "task_s", "output_bytes",
                                  "driver_s"),
        ("validation.post", True): ("s", "jobs", "task_s", "input_bytes",
                                    "sql_statements", "driver_s"),
        ("backup.cleanup", True): ("s", "sql_statements"),
        ("recovery.restore", False): ("s", "jobs", "task_s", "output_bytes"),
    }
    for (name, only_real), keys in layout.items():
        recs = step(name, only_real)
        for k in keys:
            field, unit = counters[k]
            out[f"{name}.{k}"] = metric(mean(recs, field), unit)

    analyze = step("deletion.analyze", False)
    out["deletion.affected_per_candidate"] = metric(
        sum(r["affected"] for r in analyze)
        / max(1, sum(r["candidates"] for r in analyze)), "ratio")
    out["backup.cleanup.backups_seen"] = metric(
        mean(step("backup.cleanup"), "backups_seen"), "count")

    # rewrite = execute minus its drop_partitions child
    rewrite = step("deletion.rewrite")
    for k in ("jobs", "task_s", "input_bytes", "output_bytes", "driver_s"):
        field, unit = counters[k]
        out[f"deletion.rewrite.{k}"] = metric(mean(rewrite, field), unit)
    out["deletion.rewrite.s"] = metric(mean(rewrite, "self_s"), "s")
    real_jobs = [r for r in jobs if r["id"] in real]
    out["deletion.rewrite.batches"] = metric(mean(real_jobs, "batches"),
                                             "count")
    read = sum(r["rows_read"] for r in real_jobs)
    out["deletion.deleted_per_row_rewritten"] = metric(
        (read - sum(r["rows_retained"] for r in real_jobs)) / max(1, read),
        "ratio")

    drops = [r for r in spans if r["name"] == "deletion.drop"
             and r["partitions"] > 0]
    n_parts = sum(r["partitions"] for r in drops)
    out["deletion.drop.s"] = metric(mean(drops, "wall_s"), "s")
    out["deletion.drop.partitions"] = metric(mean(drops, "partitions"),
                                             "count")
    out["deletion.drop.sql_statements"] = metric(
        mean(drops, "sql_statements"), "count")
    out["deletion.drop.s_per_partition"] = metric(
        sum(r["wall_s"] for r in drops) / max(1, n_parts), "s")

    out["deletion.job.s"] = metric(mean(jobs, "wall_s"), "s")
    out["deletion.job.self_s"] = metric(mean(jobs, "self_s"), "s")

    queries = [r for r in spans if r["name"].startswith("plans.")]
    for r in queries:
        out[f"{r['name']}.{r['phase']}_s"] = metric(r["wall_s"], "s")
    passes = max(1, len({r["phase"] for r in queries}))
    for k, unit in (("jobs", "count"), ("tasks", "count"),
                    ("task_s", "s"), ("shuffle_bytes", "B"),
                    ("driver_s", "s")):
        out[f"plans.panel.{k}"] = metric(
            sum(r[k] for r in queries) / passes, unit)
    return out
