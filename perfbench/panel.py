"""Analytics panel for the traced run: registry queries, cold then warm.

Runs after the delete stream, in the same session, over tables generated
from the seed (``data.make_panel_tables`` plus the workload's events).
Each query runs once cold (its first execution in the session) and once
warm, in a seeded order, each under its own span ``plans.<query>``.
Oracle-bearing queries are compared with their DuckDB oracle; a query
without one must return rows.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

from bd_delete_records_from_external_hive_table_spark import plans

import data

#: the deletion-shaped reference queries, a relational profile, and the
#: iterative operators (PageRank, k-means) over the generated tables
PANEL = (
    "q01_scan_count", "q02_time_window", "q03_conjunctive_criteria",
    "q04_retention_complement", "q05_in_list_filter",
    "q06_affected_partition_probe", "q07_delete_retain_complement",
    "q08_ordered_projection", "q09_count_reconciliation",
    "q10_per_partition_counts", "p02_data_profile", "g01_triangle_count",
    "g02_pagerank", "ml03_kmeans_training",
)
TABLES = ("events", "orders", "lineitem", "embeddings")


def _cell(v):
    if v is None or v is pd.NaT:
        return "<null>"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "<nan>" if math.isnan(f) else repr(f)
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return v.isoformat()
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    return str(v)


def normalize(pdf: pd.DataFrame) -> list[tuple]:
    """Order-insensitive, type-sensitive rows, columns sorted by name."""
    cols = sorted(pdf.columns, key=str.lower)
    return sorted(tuple(_cell(v) for v in row)
                  for row in pdf[cols].itertuples(index=False, name=None))


def run(spark, tracer, data_dir: Path, seed: int) -> list[str]:
    """Cold and warm pass over :data:`PANEL`; returns oracle failures."""
    data.make_panel_tables(data_dir, seed)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir / (t + '.parquet')}')")
    order = list(PANEL)
    np.random.default_rng([seed, 4]).shuffle(order)
    failures = []
    for phase in ("cold", "warm"):
        for name in order:
            spec = plans.REGISTRY[name]
            with tracer.span(f"plans.{name}", phase=phase):
                got = spec.spark_fn(spark, str(data_dir)).toPandas()
            if phase == "warm":
                continue
            if spec.oracle is None:
                ok = len(got) > 0
            else:
                ok = normalize(got) == normalize(con.sql(spec.oracle).df())
            if not ok:
                failures.append(f"panel query {name} disagrees with its "
                                "oracle")
    con.close()
    return failures
