"""Analytics benchmark: times registry queries under one protocol and
prints ONE JSON line.

Usage:
  python bench.py [--names a,b] [--sf-dirs d1,d2,...] [--n N] [--plan-dir DIR]

Protocol, the same for every use. For each of N passes and each SF dir,
a fresh session waits (bounded) behind the quiet-host gate, runs
``warmup``, then times each query once cold (analysis + codegen +
execution) and N times warm; its warm value is the min of the N. Each
query's cold and warm figures are then the min across the N passes:
hypervisor steal and GC only ever add time, so the min is the closest
observable to the compute itself. A query is timed from building its
DataFrame (some plans run eager phases there) through ``collect()``, or
through the noop sink for ``OUTPUT_HEAVY`` queries, whose results at
large SF are millions of rows that a real job writes to a sink.

Artifacts:
- One SF dir, the whole registry: each pass's detail in
  ``BENCH_DETAIL_run{i}.json``; the per-query min across passes in the
  top-level keys of ``BENCH_DETAIL.json`` (other sections are kept).
- Two or more SF dirs (named ``sf<value>``, in ascending order): for each
  consecutive pair, one ``BENCH_DETAIL.json`` section (``sf_scaling`` for
  sf0.1→sf1, ``sf30_canary`` for sf10→sf30, ``sf<hi>_scaling`` otherwise)
  holding both SFs' figures per query, their ratios and flags. A warm time
  that grows by more than the data factor (the ratio of the SF values)
  is flagged ``superlinear`` unless the result grew as fast
  (``output_bound``). The rows merge into an existing section.
- ``--names`` with one SF dir writes no file.
- ``--plan-dir DIR`` writes each query's formatted plan, as executed in
  the first pass, to ``DIR/<name>_sf<value>.txt``.

Environment: ``SPARK_GRAFT_SF_DIR`` (the SF dir when ``--sf-dirs`` is not
given; default the sf0.1 test data), ``SPARK_GRAFT_CPUS`` (local cores,
default 32), ``SPARK_GRAFT_BENCH_WAIT`` (the gate's wait budget in
seconds, default 900; 0 skips the gate) and
``SPARK_GRAFT_BENCH_TIME_BUDGET`` (seconds, default 3600: no further pass
starts once the next one would overrun it). Run it alone on the host:
concurrent Spark work inflates every number.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from bd_delete_records_from_external_hive_table_spark import plans  # noqa: E402
from bd_delete_records_from_external_hive_table_spark.session import SessionFactory  # noqa: E402
from bd_delete_records_from_external_hive_table_spark.sources.tables import TABLES, load_table  # noqa: E402

#: queries whose result at large SF is millions of rows (pair joins over
#: replica-family corpora, EXCEPT ALL): collect() would time driver-side
#: row serialization, not the plan, so they run through the noop sink
#: and their row count comes from one count() outside the timed window.
OUTPUT_HEAVY = {"u04_except_all", "d17_prefix_filter_jaccard"}

#: the quiet-host gate: 1-min and 5-min load average below these, then
#: two consecutive 5-s windows with hypervisor steal below STEAL_QUIET_PCT
#: of all CPU time (load average cannot see neighbouring VMs; steal can).
LOADAVG_QUIET, LOADAVG_QUIET5, STEAL_QUIET_PCT = 1.0, 1.5, 1.0
LOADAVG_MAX_WAIT_S = int(os.environ.get("SPARK_GRAFT_BENCH_WAIT", "900"))

#: section names of the scaling tables already recorded in BENCH_DETAIL.json
SECTIONS = {("sf0.1", "sf1"): "sf_scaling", ("sf10", "sf30"): "sf30_canary"}


def _loadavg():
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except (OSError, AttributeError):
        return None


def _cpu_ticks():
    """(busy, steal, total) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        busy = f[0] + f[1] + f[2] + f[5] + f[6]
        steal = f[7] if len(f) > 7 else 0
        return busy, steal, busy + f[3] + f[4] + steal
    except (OSError, IndexError, ValueError):
        return None


def _steal_stats(t0, t1):
    if t0 is None or t1 is None or t1[2] <= t0[2]:
        return None
    busy, steal, total = (b - a for a, b in zip(t0, t1))
    return {"steal_pct_of_total": round(100.0 * steal / total, 2),
            "steal_pct_of_busy": round(100.0 * steal / max(busy + steal, 1),
                                       2)}


def wait_for_quiet_host() -> dict:
    """Wait, at most LOADAVG_MAX_WAIT_S, for the quiet gate to hold and
    report what was seen. Never raises: a run on a busy host still runs,
    and says so."""
    t0 = time.time()
    good_steal_windows = 0
    la, steal = _loadavg(), None
    while time.time() - t0 < LOADAVG_MAX_WAIT_S:
        la = _loadavg()
        if la is None or la[0] < LOADAVG_QUIET and la[1] < LOADAVG_QUIET5:
            t1 = _cpu_ticks()
            time.sleep(5)
            steal = (_steal_stats(t1, _cpu_ticks())
                     or {}).get("steal_pct_of_total")
            good_steal_windows = (good_steal_windows + 1
                                  if steal is None or steal < STEAL_QUIET_PCT
                                  else 0)
            if good_steal_windows >= 2:
                break
        else:
            good_steal_windows = 0
            time.sleep(5)
    return {
        "loadavg_start": la,
        "quiet_threshold": LOADAVG_QUIET,
        "quiet_threshold_5min": LOADAVG_QUIET5,
        "steal_threshold_pct": STEAL_QUIET_PCT,
        "steal_start_pct": steal,
        "steal_quiet_windows": good_steal_windows,
        "waited_s": round(time.time() - t0, 1),
        "quiet": bool(la is not None and la[0] < LOADAVG_QUIET
                      and la[1] < LOADAVG_QUIET5
                      and good_steal_windows >= 2),
    }


def warmup(spark, sf_dir: str) -> None:
    """Absorb the one-time costs before any query is timed: JVM and
    whole-stage-codegen warm-up, the parquet footers of every table, and
    one mapInPandas so the Python/Arrow worker pool is up."""
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    spark.range(4).mapInPandas(lambda it: it, "id long").count()


def _explain(df, mode: str) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def time_query(spark, name: str, sf_dir: str, n: int):
    """The timing loop: one cold run, then ``n`` warm runs. Returns
    (cold_s, min warm_s, rows_out, the cold run's DataFrame)."""
    sc, spec = spark.sparkContext, plans.REGISTRY[name]
    samples = []
    for i in range(n + 1):
        sc.setJobDescription(f"{name} {'warm' if i else 'cold'}")
        t0 = time.perf_counter()
        df = spec.spark_fn(spark, sf_dir)
        if name in OUTPUT_HEAVY:
            df.write.format("noop").mode("overwrite").save()
        else:
            rows = df.collect()
        samples.append(time.perf_counter() - t0)
        if i == 0:
            cold_df = df
    sc.setJobDescription(None)
    rows_out = cold_df.count() if name in OUTPUT_HEAVY else len(rows)
    return samples[0], min(samples[1:]), rows_out, cold_df


def run_once(sf_dir: str, names: list[str], n: int, cpus: str,
             plan_dir: str | None) -> dict:
    """One pass at one SF in a fresh session. ``SPARK_GRAFT_ARTIFACTS``
    points at a fresh directory, so a query with a train-once disk
    artifact (e09's quantizer) trains inside its cold run instead of
    loading one an earlier run left behind."""
    prev_artifacts = os.environ.get("SPARK_GRAFT_ARTIFACTS")
    artifacts_dir = tempfile.mkdtemp(prefix="bd_bench_artifacts_")
    os.environ["SPARK_GRAFT_ARTIFACTS"] = artifacts_dir
    spark = None
    try:
        spark = SessionFactory.create(
            app_name="bd-engine-bench", master=f"local[{cpus}]",
            shuffle_partitions=(int(cpus) if cpus.isdigit()
                                else (os.cpu_count() or 8)))
        gate = wait_for_quiet_host()
        ticks0 = _cpu_ticks()
        warmup(spark, sf_dir)
        rows = {}
        for name in names:
            cold, warm, rows_out, df = time_query(spark, name, sf_dir, n)
            rows[name] = {"cold": round(cold, 4), "warm": round(warm, 4),
                          "rows_out": rows_out,
                          # the final sort on one partition: valid only
                          # for results whose size does not grow with SF
                          "single_sort": "Coalesce 1" in _explain(df,
                                                                  "simple")}
            if plan_dir:
                os.makedirs(plan_dir, exist_ok=True)
                with open(os.path.join(plan_dir, f"{name}_{_label(sf_dir)}"
                                       ".txt"), "w") as f:
                    f.write(_explain(df, "formatted"))
        return {"loadavg_end": _loadavg(), "loadavg_gate": gate,
                "cpu_steal": _steal_stats(ticks0, _cpu_ticks()),
                "rows": rows}
    finally:
        if spark is not None:
            spark.stop()
        if prev_artifacts is None:
            os.environ.pop("SPARK_GRAFT_ARTIFACTS", None)
        else:
            os.environ["SPARK_GRAFT_ARTIFACTS"] = prev_artifacts
        shutil.rmtree(artifacts_dir, ignore_errors=True)


def _label(sf_dir: str) -> str:
    """``.../sf0.1`` → ``sf0.1``."""
    return os.path.basename(sf_dir.rstrip("/"))


def _sf(sf_dir: str):
    """``.../sf0.1`` → 0.1; the dir name when it holds no number."""
    sf = _label(sf_dir).removeprefix("sf")
    try:
        return float(sf)
    except ValueError:
        return sf


def _best(passes: list[dict], key: str) -> dict[str, float]:
    return {q: min(p["rows"][q][key] for p in passes)
            for q in passes[0]["rows"]}


def detail(sf_dir: str, passes: list[dict]) -> dict:
    """The per-query min across ``passes`` at one SF, in the shape of
    ``BENCH_DETAIL_run{i}.json``."""
    cold, warm = _best(passes, "cold"), _best(passes, "warm")
    return {
        "metric": "declared_queries_total",
        "value": round(sum(cold.values()), 2),
        "warm_value": round(sum(warm.values()), 4),
        "unit": "sec",
        "sf": _sf(sf_dir),
        "loadavg_end": passes[-1]["loadavg_end"],
        "loadavg_gate": passes[0]["loadavg_gate"],
        "cpu_steal": passes[0]["cpu_steal"],
        # bounded-demo-panel queries do ~constant work at every SF by design
        "fixed_input_queries": plans.FIXED_INPUT,
        "queries": cold,
        "warm_queries": warm,
    }


def scaling(lo_dir: str, hi_dir: str, lo_passes: list[dict],
            hi_passes: list[dict], loadavg_start, protocol: str) -> dict:
    """One scaling section: both SFs' figures per query, the warm ratio
    against the data factor, and the flags that qualify it."""
    lo, hi = _label(lo_dir), _label(hi_dir)
    factor = round(_sf(hi_dir) / _sf(lo_dir), 4)
    lo_cold, lo_warm = _best(lo_passes, "cold"), _best(lo_passes, "warm")
    hi_cold, hi_warm = _best(hi_passes, "cold"), _best(hi_passes, "warm")
    out = {}
    for q in lo_warm:
        w0, w1 = lo_warm[q], hi_warm[q]
        ro0 = lo_passes[0]["rows"][q]["rows_out"]
        ro1 = hi_passes[0]["rows"][q]["rows_out"]
        single_sort = lo_passes[0]["rows"][q]["single_sort"]
        row = out[q] = {
            f"{lo}_cold": lo_cold[q], f"{lo}_warm": w0,
            f"{hi}_cold": hi_cold[q], f"{hi}_warm": w1,
            "warm_ratio": round(w1 / w0, 2) if w0 else None,
            "superlinear": bool(w0 and w1 / w0 > factor),
            f"rows_out_{lo}": ro0, f"rows_out_{hi}": ro1,
            "single_sort": single_sort,
        }
        if ro0 and ro1 and w0 and w1:
            per_row = (w1 / ro1) / (w0 / ro0)
            row["rows_out_ratio"] = round(ro1 / ro0, 2)
            row["warm_per_row_ratio"] = round(per_row, 2)
            if ro1 / ro0 > factor and per_row <= factor:
                # the wall ratio measures result size, not plan shape
                row["output_bound"] = True
                row["superlinear"] = False
        if q in plans.FIXED_INPUT:
            # constant work at every SF: a flat ratio here is no evidence
            row["fixed_input"] = plans.FIXED_INPUT[q]
        if single_sort and ro1 > max(2 * ro0, ro0 + 50):
            # the coalesce(1) final sort is valid only for results whose
            # size does not grow with SF; this one grew
            row["bounded_sort_violation"] = True
        if q in OUTPUT_HEAVY:
            row["noop_sink"] = True
    return {"data_factor": factor, "protocol": protocol,
            "loadavg_start": loadavg_start, "loadavg_end": _loadavg(),
            "queries": out}


def _write_json(path: str, obj: dict) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--names", help="comma-separated registry queries "
                                    "(default: all)")
    ap.add_argument("--sf-dirs", help="comma-separated SF dirs, ascending "
                                      "(default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--n", type=int, default=3,
                    help="passes, and warm runs per query in each pass")
    ap.add_argument("--plan-dir", help="write each query's plan here")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    names = (args.names.split(",") if args.names else list(plans.REGISTRY))
    unknown = [q for q in names if q not in plans.REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    sf_dirs = [d for d in (args.sf_dirs or sf_dir).split(",") if d]
    if len(sf_dirs) > 1 and not all(isinstance(_sf(d), float)
                                    for d in sf_dirs):
        print("--sf-dirs: name each dir sf<value>", file=sys.stderr)
        return 2
    n = max(1, args.n)
    budget_s = int(os.environ.get("SPARK_GRAFT_BENCH_TIME_BUDGET", "3600"))
    headline = len(sf_dirs) == 1 and not args.names

    # a killed bench leaves no artifact, which is worse than a min over
    # fewer passes: no pass starts that would overrun the budget
    loadavg_start, t_start = _loadavg(), time.time()
    passes: dict[str, list[dict]] = {d: [] for d in sf_dirs}
    for i in range(n):
        if i and (time.time() - t_start) * (i + 1) / i > budget_s:
            print(json.dumps({"note": f"time budget {budget_s}s: "
                              f"stopping after {i} passes"}),
                  file=sys.stderr)
            break
        for d in sf_dirs:
            passes[d].append(run_once(d, names, n, cpus,
                                      args.plan_dir if i == 0 else None))
        if headline:
            _write_json(os.path.join(HERE, f"BENCH_DETAIL_run{i}.json"),
                        detail(sf_dirs[0], passes[sf_dirs[0]][-1:]))

    last = passes[sf_dirs[-1]]
    runs = [detail(sf_dirs[-1], [p]) for p in last]
    out = detail(sf_dirs[-1], last)
    sections = {}
    for lo, hi in zip(sf_dirs, sf_dirs[1:]):
        key = SECTIONS.get((_label(lo), _label(hi)), f"{_label(hi)}_scaling")
        sections[key] = scaling(
            lo, hi, passes[lo], passes[hi], loadavg_start,
            f"bench.py: per SF, {len(runs)} pass(es) of one fresh session "
            f"shared by all of this run's queries; per query 1 cold + min "
            f"of {n} warm, min across passes. Rows this run did not measure "
            f"keep the protocol they were measured under")
    if headline or sections:
        path = os.path.join(HERE, "BENCH_DETAIL.json")
        try:
            with open(path) as f:
                existing = json.load(f)
        except (OSError, ValueError):
            existing = {}
        if headline:
            existing.update(out, protocol=(
                f"per-query min across {len(runs)} fresh-session runs of 1 "
                f"cold + min of {n} warm; per-run detail in "
                f"BENCH_DETAIL_run{{i}}.json"), runs=[
                {"value": r["value"], "warm_value": r["warm_value"],
                 "cpu_steal": r["cpu_steal"],
                 "quiet": r["loadavg_gate"]["quiet"],
                 "waited_s": r["loadavg_gate"]["waited_s"]} for r in runs])
        for key, section in sections.items():
            # this run's rows replace their namesakes; other rows stay
            old = existing.get(key) if isinstance(existing.get(key),
                                                  dict) else {}
            existing[key] = {**old, **section, "queries": {
                **old.get("queries", {}), **section["queries"]}}
        _write_json(path, existing)

    # the stdout line carries totals and the ten slowest queries only
    # (consumers keep a ~2,000-char tail); the detail is in the files
    def top10(d):
        return dict(sorted(((k, round(v, 2)) for k, v in d.items()),
                           key=lambda kv: -kv[1])[:10])
    line = {
        "metric": "declared_queries_total",
        "value": out["value"],
        "unit": "sec",
        "warm_value": round(out["warm_value"], 2),
        "sf": out["sf"],
        "n_queries": len(out["queries"]),
        "protocol": f"min-of-{len(runs)}",
        "runs": [{"v": r["value"], "w": r["warm_value"],
                  "steal_busy_pct": (r["cpu_steal"] or {}).get(
                      "steal_pct_of_busy"),
                  "quiet": r["loadavg_gate"]["quiet"]} for r in runs],
        "loadavg": {"end": _loadavg()},
        "queries": top10(out["queries"]),
        "slowest_warm": top10(out["warm_queries"]),
    }
    if sections:
        # only the rows this run measured
        line["scaling"] = {key: {
            "superlinear": [q for q, r in s["queries"].items()
                            if r["superlinear"]],
            "bounded_sort_violations": [q for q, r in s["queries"].items()
                                        if r.get("bounded_sort_violation")]}
            for key, s in sections.items()}
    text = json.dumps(line, separators=(",", ":"))
    assert len(text) <= 1900, f"bench line {len(text)} chars > 1900"
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
