"""Deterministic TPC-H-shaped parquet fixture for the benchmark.

The benchmark must not depend on data outside its checkout, so it writes
its own tables with the schema ``g4s_spark.sources`` loads and
``graph.build_graph`` graph-izes (the schema of TESTDATA.md):
region, nation, customer, supplier, part, orders, lineitem, plus small
events/documents/embeddings tables that ``load_tables`` opens lazily.

Row counts follow TPC-H per scale factor (150k customers, 1.5M orders,
~4 lineitems per order, 200k parts, 10k suppliers at sf1). The data seed
is fixed: every workload seed runs against the same graph, and
``--seed`` only varies the operation stream (see ``ops.py``).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
FORMAT_VERSION = 1  # bump when the generated content changes

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS_A = ["blue", "hot", "large", "small", "red", "green", "dark", "light"]
PART_WORDS_B = ["anvil", "bolt", "ring", "widget", "gear", "spring", "valve", "lamp"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


@dataclass(frozen=True)
class Sizes:
    customers: int
    suppliers: int
    parts: int
    orders: int

    @staticmethod
    def for_sf(sf: float) -> "Sizes":
        return Sizes(
            customers=max(10, round(150_000 * sf)),
            suppliers=max(5, round(10_000 * sf)),
            parts=max(20, round(200_000 * sf)),
            orders=max(100, round(1_500_000 * sf)),
        )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    sz = Sizes.for_sf(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(sz.customers, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, sz.customers).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, sz.customers),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, sz.customers)],
    })
    sk = np.arange(sz.suppliers, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, sz.suppliers).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, sz.suppliers),
    })
    pk = np.arange(sz.parts, dtype=np.int64)
    retail = np.round(900.0 + (pk % 1000) / 10.0, 2)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(
            np.array(PART_WORDS_A)[rng.integers(0, 8, sz.parts)],
            np.array(PART_WORDS_B)[rng.integers(0, 8, sz.parts)],
        )],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, sz.parts)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, sz.parts)],
        "p_size": rng.integers(1, 51, sz.parts).astype(np.int32),
        "p_retailprice": retail,
    })
    ok = np.arange(sz.orders, dtype=np.int64)
    odays = rng.integers(0, 2400, sz.orders)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, sz.customers, sz.orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, sz.orders)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, sz.orders),
        "o_orderdate": pa.array(EPOCH_1995 + odays * DAY_US, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, sz.orders)],
    })
    lines = rng.integers(1, 8, sz.orders)  # 1..7 lineitems per order
    n = int(lines.sum())
    l_orderkey = np.repeat(ok, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    l_partkey = rng.integers(0, sz.parts, n).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": l_partkey,
        "l_suppkey": rng.integers(0, sz.suppliers, n).astype(np.int64),
        "l_linenumber": l_linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_partkey], 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(
            EPOCH_1995 + (np.repeat(odays, lines) + rng.integers(1, 121, n)) * DAY_US,
            pa.timestamp("us"),
        ),
    })
    # tables the graph never reads; load_tables opens them, so they exist
    ev = 200
    t["events"] = pa.table({
        "event_id": np.arange(ev, dtype=np.int64),
        "ts": pa.array(EPOCH_1995 + np.sort(rng.integers(0, 10 * DAY_US, ev)), pa.timestamp("us")),
        "user_id": rng.integers(0, sz.customers, ev).astype(np.int64),
        "event_type": np.array(["view", "click", "buy"])[rng.integers(0, 3, ev)],
        "value": _money(rng, 0.0, 100.0, ev),
        "props": ['{"k": 1}'] * ev,
    })
    docs = 20
    text = [f"document {i} about part {i % 7}" for i in range(docs)]
    t["documents"] = pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": text,
        "lang": ["en"] * docs,
        "source": ["bench"] * docs,
        "n_chars": np.array([len(s) for s in text], dtype=np.int64),
    })
    t["embeddings"] = pa.table({
        "vec_id": np.arange(docs, dtype=np.int64),
        "embedding": pa.array(rng.random((docs, 8)).astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 3, docs), pa.int32()),
    })
    return t


def ensure_data(root: str, sf: float) -> str:
    """Write the sf's tables under ``root`` once and return their directory.
    A finished directory is reused. Tables are written under a scratch
    name and renamed, so a killed writer never leaves a half-written
    directory under the final name."""
    out = os.path.join(root, f"sf{sf:g}-v{FORMAT_VERSION}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out)
    return out
