"""bench.py end to end: two small SFs, two queries, one pass.

The script runs from a copy in a temporary directory, so the detail file
it writes lands there and the repository's ``BENCH_DETAIL.json`` stays as
it is. That copy's detail file starts with the section the run writes,
holding a note and a flagged row the run does not measure: the rows merge
into it, and the stdout line reports only the rows the run measured.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

from .conftest import SF_SMOKE

REPO = Path(__file__).resolve().parents[1]
NAMES = ["q01_scan_count", "q10_per_partition_counts"]
LINE_KEYS = {"metric", "value", "unit", "warm_value", "sf", "n_queries",
             "protocol", "runs", "loadavg", "queries", "slowest_warm"}


def test_bench_writes_the_scaling_section_of_two_sfs(tmp_path):
    testdata = os.path.dirname(SF_SMOKE)
    sf_dirs = [os.path.join(testdata, "sf0.001"),
               os.path.join(testdata, "sf0.01")]
    shutil.copy(REPO / "bench.py", tmp_path)
    unmeasured = {"warm_ratio": 40.0, "superlinear": True,
                  "bounded_sort_violation": True}
    (tmp_path / "BENCH_DETAIL.json").write_text(json.dumps({
        "sf0.01_scaling": {"protocol": "an earlier protocol", "queries": {
            "_note": "rows measured earlier", "w01_topk_per_group": unmeasured,
            NAMES[0]: unmeasured}}}))
    repo_detail = (REPO / "BENCH_DETAIL.json").read_bytes()
    proc = subprocess.run(
        [sys.executable, "bench.py", "--names", ",".join(NAMES),
         "--sf-dirs", ",".join(sf_dirs), "--n", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=900,
        env={**os.environ, "PYTHONPATH": str(REPO), "SPARK_GRAFT_CPUS": "2",
             "SPARK_GRAFT_BENCH_WAIT": "0"})
    assert proc.returncode == 0, proc.stderr[-3000:]

    line = proc.stdout.strip().splitlines()[-1]
    out = json.loads(line)
    assert len(line) <= 1900 and LINE_KEYS <= set(out)
    assert (out["sf"], out["n_queries"], out["protocol"]) == (0.01, 2,
                                                              "min-of-1")
    assert sorted(out["queries"]) == sorted(out["slowest_warm"]) == NAMES
    assert out["scaling"] == {"sf0.01_scaling": {
        "superlinear": [], "bounded_sort_violations": []}}

    section = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())[
        "sf0.01_scaling"]
    assert section["data_factor"] == 10.0
    assert section["protocol"].startswith("bench.py: per SF, 1 pass(es)")
    assert sorted(section["queries"]) == ["_note"] + NAMES + [
        "w01_topk_per_group"]
    assert section["queries"]["_note"] == "rows measured earlier"
    assert section["queries"]["w01_topk_per_group"] == unmeasured
    for name, rows_out in zip(NAMES, (1, 3)):
        row = section["queries"][name]
        w0, w1 = row["sf0.001_warm"], row["sf0.01_warm"]
        assert row["warm_ratio"] == round(w1 / w0, 2)
        assert row["superlinear"] is False
        assert "bounded_sort_violation" not in row
        assert row["rows_out_sf0.001"] == row["rows_out_sf0.01"] == rows_out
        assert row["rows_out_ratio"] == 1.0
        assert abs(row["warm_per_row_ratio"] - row["warm_ratio"]) <= 0.01
        assert row["single_sort"] is False
        assert row["sf0.001_cold"] > 0 and row["sf0.01_cold"] > 0
    assert (REPO / "BENCH_DETAIL.json").read_bytes() == repo_detail
