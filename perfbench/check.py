"""Output checks: DuckDB oracles compared on canonical rows, and the
bridge properties that need no oracle text.

The canonical-rows rules are those of the engine's parity harness
(``tests/parity.py``), restated here so the benchmark depends on the
package's public surface only: columns sorted by name, every cell
rendered to a canonical string (NaN as NULL, floats to 4 places, numeric
kinds unified, nested values recursively), rows sorted.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import duckdb
import numpy as np
import pandas as pd


def duck_connection(tree_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with every table file of ``tree_dir`` as a view."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for f in sorted(os.listdir(tree_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(tree_dir, f)
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, np.floating):
        v = float(v)
    elif isinstance(v, np.integer):
        v = int(v)
    elif isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else f"{v:.4f}"
    if isinstance(v, (bool, int)):
        return str(v)
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canonical_rows(df: pd.DataFrame) -> tuple[list[str], list[tuple[str, ...]]]:
    cols = sorted(df.columns)
    rows = [tuple(canon_cell(x) for x in r) for r in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows)


def compare_rows(got: pd.DataFrame, cols: list[str], rows: list[tuple[str, ...]]) -> str | None:
    """None when ``got`` holds exactly the canonical ``rows``, else a reason."""
    gc, gr = canonical_rows(got)
    if gc != cols:
        return f"columns {gc} != {cols}"
    if len(gr) != len(rows):
        return f"row count {len(gr)} != {len(rows)}"
    for g, w in zip(gr, rows):
        if g != w:
            return f"first differing row {g} != {w}"
    return None


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    return compare_rows(got, *canonical_rows(want))


def oracle_frame(tree_dir: str, sql: str) -> pd.DataFrame:
    con = duck_connection(tree_dir)
    try:
        return con.sql(sql).df()
    finally:
        con.close()


# --- bridge properties --------------------------------------------------


def bridge_counts(events: pd.DataFrame, orders: pd.DataFrame) -> dict[str, int]:
    """What one flush must deliver, counted from the generated slice.

    pipeline_bridge_e2e posts one request per order day, plus a RESOLVED
    request every 7th day and a request on an unrouted path every 11th day
    (day numbers count from 1995-01-01). Requests of days whose number is a
    multiple of 5 carry a wrong shared key and must be refused; every
    admitted order becomes one message. The JSON file source applies the
    pushed-down shared-key filter while it reads, so the stream's input
    rows are the admitted requests."""
    day_num = (pd.to_datetime(orders["o_orderdate"]).dt.normalize() - pd.Timestamp("1995-01-01")).dt.days
    days = day_num.drop_duplicates()
    admitted = day_num % 5 != 0
    keyed = days % 5 != 0
    return {
        "events": len(events),
        "orders": len(orders),
        "requests": int(len(days) + (days % 7 == 0).sum() + (days % 11 == 0).sum()),
        "admitted_requests": int(keyed.sum() + ((days % 7 == 0) & keyed).sum() + (days % 11 == 0).sum()),
        "order_messages": int(admitted.sum()),
        "resolved_messages": int(((days % 7 == 0) & keyed).sum()),
    }


def bridge_property(name: str, got: pd.DataFrame, counts: dict[str, int]) -> str | None:
    """Oracle-free invariants of the bridge ops; None when they hold."""
    n_ev = counts["events"]
    if name == "sink_pubsub_emulated":
        if int(got["n_messages"].sum()) != n_ev:
            return f"published {int(got['n_messages'].sum())} messages for {n_ev} events"
        if not (got["n_distinct"] == got["n_messages"]).all():
            return "a topic holds duplicate messages"
    elif name == "sink_exactly_once_manifest":
        if int(got["n"].sum()) != n_ev:
            return f"manifest table holds {int(got['n'].sum())} rows for {n_ev} events"
    elif name == "stream_http_ingest":
        if not (got["rejected_unauthorized"] == 3).all():
            return "unauthorized requests were not all refused"
        if int(got["n"].sum()) != n_ev:
            return f"ingested {int(got['n'].sum())} rows for {n_ev} events"
    elif name == "pipeline_bridge_e2e":
        by_attr = dict(zip(got["table_attr"], got["n_messages"]))
        for attr, key in (("orders", "order_messages"), ("RESOLVED", "resolved_messages")):
            if int(by_attr.get(attr, 0)) != counts[key]:
                return f"published {by_attr.get(attr, 0)} {attr} messages, {counts[key]} admitted"
    return None


def self_test() -> None:
    """The comparator must reject one altered cell and one dropped row."""
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})
    if compare(want.copy(), want) is not None:
        raise RuntimeError("self-test: identical frames compared unequal")
    altered = want.copy()
    altered.loc[1, "v"] = 1.2501
    if compare(altered, want) is None:
        raise RuntimeError("self-test: an altered cell passed the check")
    if compare(want.drop(index=2), want) is None:
        raise RuntimeError("self-test: a dropped row passed the check")
    short = pd.DataFrame({"topic": ["events-a"], "n_messages": [2], "n_distinct": [2]})
    if bridge_property("sink_pubsub_emulated", short, {"events": 3}) is None:
        raise RuntimeError("self-test: a lost message passed the bridge check")
