"""Seeded input generation: the same seed gives byte-identical parquet.

``events`` feeds the Hive table of the ``cow_*`` workloads; ``orders``,
``lineitem`` and ``embeddings`` feed the analytics panel of the traced run.
Column names and types follow the engine's testdata tables, so the
registry queries and their DuckDB oracles run on them unchanged. Every
table is built with numpy and written by DuckDB, which also serves as the
oracle engine.
"""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

#: events span 30 whole days starting here (UTC wall clock)
EVENTS_START = datetime(2024, 1, 1)
EVENT_DAYS = 30
EVENT_USERS = 10_000
_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def _write(con: duckdb.DuckDBPyConnection, frame: pd.DataFrame,
           select: str, path: Path) -> None:
    con.register("frame", frame)
    con.sql(f"COPY (SELECT {select} FROM frame) TO '{path}' (FORMAT PARQUET)")
    con.unregister("frame")


def make_events(out_dir: Path, seed: int, rows: int) -> None:
    """``rows`` events spread uniformly over :data:`EVENT_DAYS` days."""
    rng = np.random.default_rng([seed, 1])
    span_us = EVENT_DAYS * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, rows))
    start = np.datetime64(EVENTS_START, "us")
    frame = pd.DataFrame({
        "event_id": np.arange(rows, dtype=np.int64),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, EVENT_USERS, rows),
        "event_type": _EVENT_TYPES[rng.integers(0, len(_EVENT_TYPES), rows)],
        "value": np.round(rng.random(rows) * 200.0, 2),
        "k": rng.integers(0, 100, rows),
    })
    path = out_dir / "events.parquet"
    con = duckdb.connect()
    _write(con, frame,
           "event_id::BIGINT AS event_id, ts::TIMESTAMP AS ts, "
           "user_id::BIGINT AS user_id, event_type::VARCHAR AS event_type, "
           "value::DOUBLE AS value, "
           "'{\"k\": ' || k::VARCHAR || '}' AS props", path)
    con.close()


def make_panel_tables(out_dir: Path, seed: int) -> None:
    """TPC-H-shaped ``orders``/``lineitem`` and labelled ``embeddings``,
    the sizes of the engine's smallest testdata scale."""
    orders, lines_per_order = 1500, 4
    vectors, dim, labels = 500, 64, 10
    rng = np.random.default_rng([seed, 2])
    con = duckdb.connect()
    day0 = np.datetime64("1995-01-01", "us")
    days = 2400
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    _write(con, pd.DataFrame({
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, orders // 10, orders),
        "o_orderstatus": status[rng.integers(0, 3, orders)],
        "o_totalprice": np.round(rng.random(orders) * 450_000 + 1_000, 2),
        "o_orderdate": day0 + (rng.integers(0, days, orders)
                               * 86_400_000_000).astype("timedelta64[us]"),
        "o_orderpriority": prio[rng.integers(0, 5, orders)],
    }), "o_orderkey::BIGINT AS o_orderkey, o_custkey::BIGINT AS o_custkey, "
        "o_orderstatus, o_totalprice::DOUBLE AS o_totalprice, "
        "o_orderdate::TIMESTAMP AS o_orderdate, o_orderpriority",
        out_dir / "orders.parquet")

    n = orders * lines_per_order
    flags = np.array(["A", "N", "R"])
    lstat = np.array(["F", "O"])
    _write(con, pd.DataFrame({
        "l_orderkey": rng.integers(0, orders, n),
        "l_partkey": rng.integers(0, 200, n),
        "l_suppkey": rng.integers(0, 10, n),
        "l_linenumber": rng.integers(1, 8, n),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.random(n) * 100_000 + 900, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": flags[rng.integers(0, 3, n)],
        "l_linestatus": lstat[rng.integers(0, 2, n)],
        "l_shipdate": day0 + (rng.integers(0, days, n)
                              * 86_400_000_000).astype("timedelta64[us]"),
    }), "l_orderkey::BIGINT AS l_orderkey, l_partkey::BIGINT AS l_partkey, "
        "l_suppkey::BIGINT AS l_suppkey, l_linenumber::INTEGER AS l_linenumber, "
        "l_quantity::DOUBLE AS l_quantity, "
        "l_extendedprice::DOUBLE AS l_extendedprice, "
        "l_discount::DOUBLE AS l_discount, l_tax::DOUBLE AS l_tax, "
        "l_returnflag, l_linestatus, l_shipdate::TIMESTAMP AS l_shipdate",
        out_dir / "lineitem.parquet")

    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, vectors)
    vecs = (centers[label] + 0.3 * rng.normal(size=(vectors, dim))
            ).astype(np.float32)
    _write(con, pd.DataFrame({
        "vec_id": np.arange(vectors, dtype=np.int64),
        "embedding": list(vecs),
        "label": label,
    }), "vec_id::BIGINT AS vec_id, embedding::FLOAT[] AS embedding, "
        "label::INTEGER AS label", out_dir / "embeddings.parquet")
    con.close()
