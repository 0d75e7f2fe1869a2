"""GraphStats.compute, the one producer of a graph's planner statistics:
checked against a pure-Python model of the distinct (id, label) rows,
against a pandas model of the TPC-H graph's parquet tables, and held to
a job budget."""

from collections import Counter

import pandas as pd
import pytest

from g4s_spark.graph import GraphStats, PropertyGraph, build_graph
from g4s_spark.graph import tpch
from g4s_spark.graph.tpch import GRAPH_TABLES, _build_graph_uncached

from test_memo import SF  # the sf0.001 testdata directory


def _model(nodes, edges) -> GraphStats:
    """The stats of the distinct (id, label) rows of ``nodes`` and of the
    (src, dst, type) rows of ``edges``."""
    rows = set(nodes)
    labels: dict[int, set[str]] = {}
    for i, lab in rows:
        labels.setdefault(i, set()).add(lab)
    types = Counter(t for _s, _d, t in edges)
    ends = {}
    for t in types:
        ends[(t, 0)] = len({s for s, _d, tt in edges if tt == t})
        ends[(t, 2)] = len({d for _s, d, tt in edges if tt == t})
    trip = Counter(
        (sl, t, dl)
        for s, d, t in edges
        for sl in labels.get(s, ())
        for dl in labels.get(d, ())
    )
    return GraphStats(
        len(rows), len(edges), dict(Counter(lab for _i, lab in rows)), dict(types),
        dict(trip), ends, all(len(ls) == 1 for ls in labels.values()),
    )


# (nodes, edges) per case; 9 and 8 carry no label row (dangling ends)
CASES = {
    "duplicate_rows": ([(1, "A"), (1, "A"), (2, "B"), (2, "B"), (2, "B")], [(1, 2, "X")]),
    "multi_label": ([(1, "A"), (1, "B"), (2, "C")], [(1, 2, "X"), (2, 1, "Y")]),
    "dangling": ([(1, "A")], [(1, 9, "X"), (9, 1, "X"), (8, 9, "Y")]),
    "parallel": ([(1, "A"), (2, "B")], [(1, 2, "X")] * 3 + [(1, 2, "Y")]),
    "self_loop": ([(1, "A"), (1, "B"), (2, "A")], [(1, 1, "X"), (2, 2, "X")]),
    "mixed": (
        [(1, "A"), (1, "A"), (1, "B"), (2, "B"), (2, "B"), (3, "C")],
        [(1, 2, "X"), (1, 2, "X"), (2, 2, "X"), (3, 9, "Y"), (1, 1, "Y"), (8, 3, "Y")],
    ),
    "empty": ([], []),
}


@pytest.mark.parametrize("case", CASES)
def test_compute_matches_model(spark, case):
    nodes, edges = CASES[case]
    assert PropertyGraph.from_tuples(spark, nodes, edges).stats == _model(nodes, edges)


def _tpch_model(sf: str) -> GraphStats:
    """The model of build_graph's stats, read off the parquet tables
    with pandas: the builder's node ids and edges, then _model."""
    cols = {
        "region": ["r_regionkey"], "nation": ["n_nationkey", "n_regionkey"],
        "customer": ["c_custkey", "c_nationkey"], "supplier": ["s_suppkey", "s_nationkey"],
        "part": ["p_partkey"], "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
    }
    t = {
        name: pd.read_parquet(f"{sf}/{name}.parquet", columns=cols[name]).astype("int64")
        for name in GRAPH_TABLES
    }
    li = t["lineitem"]
    li_id = tpch.LINEITEM_OFF + li.l_orderkey * 8 + li.l_linenumber
    node_ids = {
        "Region": tpch.REGION_OFF + t["region"].r_regionkey,
        "Nation": tpch.NATION_OFF + t["nation"].n_nationkey,
        "Customer": tpch.CUSTOMER_OFF + t["customer"].c_custkey,
        "Supplier": tpch.SUPPLIER_OFF + t["supplier"].s_suppkey,
        "Part": tpch.PART_OFF + t["part"].p_partkey,
        "Order": tpch.ORDER_OFF + t["orders"].o_orderkey,
        "Lineitem": li_id,
    }
    nodes = [(int(i), lab) for lab, ids in node_ids.items() for i in ids]
    edge_cols = [
        ("IN_REGION", node_ids["Nation"], tpch.REGION_OFF + t["nation"].n_regionkey),
        ("FROM_NATION", node_ids["Customer"], tpch.NATION_OFF + t["customer"].c_nationkey),
        ("FROM_NATION", node_ids["Supplier"], tpch.NATION_OFF + t["supplier"].s_nationkey),
        ("PLACED", tpch.CUSTOMER_OFF + t["orders"].o_custkey, node_ids["Order"]),
        ("HAS_ITEM", tpch.ORDER_OFF + li.l_orderkey, li_id),
        ("OF_PART", li_id, tpch.PART_OFF + li.l_partkey),
        ("BY_SUPP", li_id, tpch.SUPPLIER_OFF + li.l_suppkey),
    ]
    edges = [
        (int(s), int(d), typ) for typ, src, dst in edge_cols for s, d in zip(src, dst)
    ]
    return _model(nodes, edges)


def test_tpch_stats_equal_table_model(spark):
    """build_graph sets no stats; the first read computes them, and they
    count distinct (id, label) rows: sf0.001's 6,000 lineitem rows hold
    4,599 distinct ids."""
    assert "stats" not in _build_graph_uncached(spark, SF).derived
    s = build_graph(spark, SF).stats
    assert s == _tpch_model(SF)
    assert s.label_counts["Lineitem"] == 4599
    assert s.node_count == 6489
    assert s.triplet_counts[("Order", "HAS_ITEM", "Lineitem")] == 6000
    assert s.endpoint_counts[("HAS_ITEM", 2)] == 4599
    assert s.single_label is True


# jobs of one compute over the cached sf0.001 graph's slim (id, label)
# rows and edges, with the fixture's 8 shuffle partitions (AQE query
# stages count as jobs). The three collects run 12; the budget is the 14
# the one-aggregate-per-statistic shape before them ran.
STATS_JOB_BUDGET = 14


def test_compute_within_job_budget(spark):
    g = build_graph(spark, SF)
    g.stats  # materializes the slim and edge caches
    slim = g.derived.peek("nodes_slim")
    sc = spark.sparkContext
    group = "stats-jobs"
    sc.setJobGroup(group, group)
    try:
        s = GraphStats.compute(slim, g.edges)
    finally:
        sc.setJobGroup("stats-jobs-idle", "idle")
    assert s == g.stats
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= STATS_JOB_BUDGET, n_jobs
