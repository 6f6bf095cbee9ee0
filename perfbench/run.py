"""Benchmark entry point for the safe-deletion engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload cow_daily --seed 1 --seconds 20 --trace 0

Workloads are defined in ``perfbench/cow.py``; ``perfbench/README.md``
explains the protocol, the metrics and which layer should move which
metric. The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones.

Host hygiene lives here: every run gets its own work directory inside
the checkout (Spark local dirs, Hive warehouse, Derby metastore, engine
artifacts, JVM temp dir), ``local[nproc]`` with ``nproc`` shuffle
partitions, the repository on ``PYTHONPATH`` so Python workers can import
the package, one Hive session per process, and the Spark log captured so
``ERROR`` lines can be counted. The work directory and the JVM are
removed before the process exits.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_BASE = ROOT / ".perfbench_work"
OUT_DIR = ROOT / ".perfbench_out"
PACKAGE = "bd_delete_records_from_external_hive_table_spark"

_ERROR_LINE = re.compile(r"^\S+ \S+ ERROR ")


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def _host_sample() -> dict:
    """loadavg and cumulative CPU steal ticks (``/proc/stat``)."""
    steal = 0
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        steal = int(fields[8]) if len(fields) > 8 else 0
    except OSError:
        pass
    return {"loadavg": os.getloadavg()[0], "steal_ticks": steal,
            "t": time.time()}


def _prepare_env(work: Path, cpus: int) -> dict:
    """Point every Spark/engine temporary location into ``work`` before the
    JVM starts. Returns the extra Spark confs the session needs."""
    for sub in ("local", "tmp", "artifacts", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "TZ": "UTC",
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_GRAFT_ARTIFACTS": str(work / "artifacts"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": str(work / "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    })
    # every JVM, the spark-submit launcher included, keeps its temp files
    # (and no perf-data file) inside the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData")
    time.tzset()
    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={work} "
            f"-Dderby.stream.error.file={work / 'derby.log'}"),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads stage and SQL records back from the UI
        # store; keep every record of a run (same setting untraced)
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def _stop_jvm(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="override the workload's event count (smoke runs)")
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"{PACKAGE} not found next to perfbench/", file=sys.stderr)
        return 2
    cpus = _nproc()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = WORK_BASE / tag
    confs = _prepare_env(work, cpus)
    host_start = _host_sample()

    sys.path.insert(0, str(ROOT))
    try:
        import cow  # noqa: E402  (perfbench/cow.py, next to this script)
    except Exception:
        shutil.rmtree(work, ignore_errors=True)
        raise
    if args.workload not in cow.WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(cow.WORKLOADS)}", file=sys.stderr)
        return 2

    # Spark's JVM inherits fd 2: capture it so ERROR lines can be counted
    log_path = work / "spark.log"
    saved_stderr = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    spark = None
    result = None
    try:
        from bd_delete_records_from_external_hive_table_spark.session import (
            SessionFactory)

        t0 = time.perf_counter()
        spark = SessionFactory.create(
            app_name=f"perfbench-{args.workload}", master=f"local[{cpus}]",
            hive=True, warehouse_dir=str(work / "warehouse"),
            metastore_dir=str(work / "metastore_db"),
            shuffle_partitions=cpus, extra_confs=confs)
        session_s = time.perf_counter() - t0
        result = cow.run_workload(
            spark, cow.WORKLOADS[args.workload], work=work, seed=args.seed,
            seconds=args.seconds, trace=bool(args.trace),
            session_s=session_s, rows=args.rows)
    finally:
        try:
            if spark is not None:
                _stop_jvm(spark)
        finally:
            sys.stderr.flush()
            os.dup2(saved_stderr, 2)
            os.close(saved_stderr)
            log_text = log_path.read_text(errors="replace") \
                if log_path.exists() else ""
            if result is None:
                sys.stderr.write(log_text[-8000:])
            shutil.rmtree(work, ignore_errors=True)
            try:
                WORK_BASE.rmdir()
            except OSError:
                pass

    host_end = _host_sample()
    error_lines = sum(1 for ln in log_text.splitlines()
                      if _ERROR_LINE.match(ln))
    details = result["details"]
    details["host"] = {
        "cpus": cpus,
        "loadavg_start": host_start["loadavg"],
        "loadavg_end": host_end["loadavg"],
        "steal_frac": (host_end["steal_ticks"] - host_start["steal_ticks"])
        / max(1e-9, (host_end["t"] - host_start["t"])
              * os.sysconf("SC_CLK_TCK") * cpus),
    }
    details["log_error_lines"] = error_lines
    metrics = result["end_to_end"] if not args.trace else result["per_layer"]
    if args.trace:
        metrics["log.error_lines"] = {"value": error_lines, "unit": "count"}
    OUT_DIR.mkdir(exist_ok=True)
    (OUT_DIR / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps(details, indent=1, default=str))
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
