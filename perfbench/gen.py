"""Seeded input generator for the benchmark.

Everything the engine reads during a benchmark run is made here from the
run's ``--seed``: a base tree with the ten tables of the engine's testdata
schema (``cdc_pubsub_spark.registry.TABLES``), the small per-call trees of
the bridge workload, and the 10x key-shifted tree of the heavy workload.
The same seed gives byte-identical parquet files; two seeds give different
ones (``perfbench/test_perfbench.py`` checks both).

The value domains follow the driver's testdata trees (TESTDATA.md): the
same key ranges per scale factor, categorical vocabularies, date ranges,
a 30-word document vocabulary with 5% " dup" near-copies, and 64-dim unit
embeddings with ten labels. Only numpy and pyarrow are used, so the
generator needs no Spark session and its time is reported apart from the
benchmark's set-up time.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated bytes change, so cached inputs are made again.
VERSION = 2

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

ORDER_DAY0 = dt.date(1995, 1, 1)
ORDER_DAYS = (dt.date(2001, 8, 1) - ORDER_DAY0).days + 1
SHIP_DAY0 = dt.date(1995, 1, 2)
SHIP_DAYS = (dt.date(2001, 11, 4) - SHIP_DAY0).days + 1
EVENT_T0_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
EVENT_SPAN_US = 30 * 86_400_000_000

# Key columns shifted per replica in the 10x tree. 2^40 lies above every
# base key, so replicas never collide and cross-table joins stay aligned.
REPLICA_SHIFT = 1 << 40
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _days(day0: dt.date, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(day0.isoformat(), "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tree(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf`` (sf0.01 = 60,000 lineitems)."""
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": pa.array(
                np.char.add(
                    np.char.add(rng.choice(PART_ADJ, n_part), " "),
                    rng.choice(PART_NOUN, n_part),
                )
            ),
            "p_brand": pa.array(
                np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(STATUSES, n_ord)),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(ORDER_DAY0, rng.integers(0, ORDER_DAYS, n_ord)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
            "l_shipdate": _days(SHIP_DAY0, rng.integers(0, SHIP_DAYS, n_line)),
        }
    )
    ts = EVENT_T0_US + np.sort(rng.integers(0, EVENT_SPAN_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] * 0.3 + rng.normal(0.0, 1.0, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return t


def replicate(tables: dict[str, pa.Table], replicas: int) -> dict[str, pa.Table]:
    """``replicas`` key-shifted copies of every fact table, one copy of the
    fixed dims. Replica r adds r * 2^40 to each key column; document text
    gets a per-replica suffix so near-duplicate groups keep their size."""
    out = {t: tables[t] for t in ("region", "nation")}
    for name, cols in KEY_COLS.items():
        parts = []
        for r in range(replicas):
            tab = tables[name]
            for c in cols:
                i = tab.schema.get_field_index(c)
                shifted = np.asarray(tab[c].to_numpy()) + r * REPLICA_SHIFT
                tab = tab.set_column(i, c, pa.array(shifted, pa.int64()))
            if name == "documents" and r > 0:
                text = [s + f" r{r}" for s in tab["text"].to_pylist()]
                tab = tab.set_column(tab.schema.get_field_index("text"), "text", pa.array(text))
                tab = tab.set_column(
                    tab.schema.get_field_index("n_chars"),
                    "n_chars",
                    pa.array([len(s) for s in text], pa.int64()),
                )
            parts.append(tab)
        out[name] = pa.concat_tables(parts)
    return out


def slice_sizes(seed: int, n: int, median: int, lo: int, hi: int) -> list[int]:
    """Uneven flush sizes: log-normal around ``median``, clipped to [lo, hi]."""
    rng = np.random.default_rng([seed, 7])
    sizes = np.exp(rng.normal(np.log(median), 0.8, n))
    return [int(s) for s in np.clip(np.round(sizes), lo, hi)]


def bridge_slices(base: dict[str, pa.Table], sizes: list[int]) -> list[dict[str, pa.Table]]:
    """One small tree per changefeed flush: consecutive time-ordered slices
    of ``events`` (by ts) and ``orders`` (by orderdate), ``sizes[i]`` events
    and half as many orders in flush i, wrapping around at the end."""
    ev = base["events"]  # already time-ordered
    od = base["orders"].sort_by([("o_orderdate", "ascending"), ("o_orderkey", "ascending")])
    out = []
    e_pos = o_pos = 0
    for n in sizes:
        n_o = max(1, n // 2)
        if e_pos + n > ev.num_rows:
            e_pos = 0
        if o_pos + n_o > od.num_rows:
            o_pos = 0
        out.append({"events": ev.slice(e_pos, n), "orders": od.slice(o_pos, n_o)})
        e_pos += n
        o_pos += n_o
    return out


def write_tree(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file per table; fixed writer settings keep bytes stable."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(
            tab,
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
            row_group_size=1 << 20,
        )


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
