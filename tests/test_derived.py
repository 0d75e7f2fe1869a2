"""PropertyGraph.derived — the per-graph registry of derived state.

A write returns a graph that inherits every registry entry reading none
of the facets the write changed. These tests pin that rule against a
fresh build on the written graph, for every mutator in graph/store.py,
and pin uncache() as a release that leaves results unchanged."""

import pytest
from pyspark import StorageLevel
from pyspark.sql import DataFrame

from g4s_spark.graph import PropertyGraph
from g4s_spark.operators import algorithms as A
from g4s_spark.plans import explain_cypher, run_cypher, run_cypher_set

NODE_SCHEMA = "id long, label string, props map<string,string>"
EDGE_SCHEMA = "src long, dst long, type string, weight double"
WEIGHT_KEY = ("weight_edges", "weight")


def _weight_edges(g):
    A.weighted_pagerank(g, iters=1)
    return g.derived.peek(WEIGHT_KEY)


# registry key -> the public or operator call that builds that entry
WARM = {
    "nodes_slim": lambda g: g.cache().derived.peek("nodes_slim"),
    "stats": lambda g: g.stats,
    "payload_nodes": lambda g: g.payload_nodes(),
    "payload_rows": lambda g: g.payload_rows(),
    ("typed_edges", None, ("src", "dst"), None):
        lambda g: A._cached_typed_edges(g, None, ("src", "dst")),
    ("typed_edges", None, ("src", "dst"), "dst"):
        lambda g: A._cached_typed_edges(g, None, ("src", "dst"), "dst"),
    ("typed_edges", ("T",), ("src", "dst", "weight"), None):
        lambda g: A._cached_typed_edges(g, ["T"], ("src", "dst", "weight")),
    "degree_edges": A._degree_folded_edges,
    "mass_edges": A._mass_edges,
    "distinct_node_ids": A._distinct_node_ids,
    ("distinct_edges", "dst"): lambda g: A._distinct_edges(g, "dst"),
    ("distinct_edges", "src"): lambda g: A._distinct_edges(g, "src"),
    "distinct_node_count": A._distinct_node_count,
    "sym_edges": A._sym_edges,
    "node_count": A._node_count,
    WEIGHT_KEY: _weight_edges,
    ("node_hist", "A", "k"): lambda g: g.node_histogram("A", "k"),
    ("edge_hist", ("T",), "weight"): lambda g: g.edge_histogram(("T",), "weight"),
    # the driver-side indexes build only from the caches
    "adjacency": lambda g: g.cache().adjacency()[0],
    "label_index": lambda g: g.cache().adjacency()[1],
    ("adjacency", "weight"): lambda g: g.cache().edge_index("weight"),
}


def _graph(spark):
    nodes = spark.createDataFrame(
        [(1, "A", {"k": "a"}), (1, "B", {"k": "a"}), (2, "A", {"k": "b"}),
         (3, "B", {"k": "c"}), (4, "C", {})],
        NODE_SCHEMA,
    )
    edges = spark.createDataFrame(
        [(1, 2, "T", 1.0), (2, 3, "T", 2.0), (3, 1, "U", 0.5),
         (1, 4, "U", 3.0), (4, 2, "T", 1.5)],
        EDGE_SCHEMA,
    )
    return PropertyGraph(nodes, edges, spark)


def _canon(v):
    """Comparable form of an entry: sorted rows (maps as sorted items)
    for DataFrames, the value itself otherwise."""
    if not isinstance(v, DataFrame):
        return v
    return sorted(
        repr(tuple(sorted(x.items()) if isinstance(x, dict) else x for x in r))
        for r in v.collect()
    )


def _ids(spark, *ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


# (mutator call, an entry the child must keep, an entry it must rebuild)
MUTATIONS = {
    "insert_vertices": (
        lambda g, s: g.insert_vertices(s.createDataFrame([(5, "A", {"k": "e"})], NODE_SCHEMA)),
        "degree_edges", "stats",
    ),
    "insert_edges": (
        lambda g, s: g.insert_edges(s.createDataFrame([(2, 4, "U", 4.0)], EDGE_SCHEMA)),
        "nodes_slim", "sym_edges",
    ),
    "remove_vertices": (
        lambda g, s: g.remove_vertices(_ids(s, 3)), None, "nodes_slim",
    ),
    "remove_edges": (
        lambda g, s: g.remove_edges(s.createDataFrame([(1, 2)], "src long, dst long")),
        "payload_rows", "degree_edges",
    ),
    "merge_vertices": (
        lambda g, s: g.merge_vertices(
            s.createDataFrame([(1, "A", {"k": "a"}), (6, "C", {"k": "f"})], NODE_SCHEMA)
        ),
        "sym_edges", "node_count",
    ),
    "merge_edges": (
        lambda g, s: g.merge_edges(
            s.createDataFrame([(1, 2, "T", 9.0), (3, 4, "T", 1.0)], EDGE_SCHEMA)
        ),
        "node_count", "mass_edges",
    ),
    "add_labels": (
        lambda g, s: g.add_labels(_ids(s, 2, 4), "B"), "degree_edges", "mass_edges",
    ),
    "remove_labels": (
        lambda g, s: g.remove_labels(_ids(s, 1), "A"), "sym_edges", "payload_nodes",
    ),
    "remove_labels_cascade": (
        lambda g, s: g.remove_labels(_ids(s, 4), "C"), None, "degree_edges",
    ),
    "update_node_props": (
        lambda g, s: g.update_node_props(
            s.createDataFrame([(2, {"k": "z", "n": "1"})], "id long, props map<string,string>")
        ),
        "stats", "payload_nodes",
    ),
    "remove_node_props": (
        lambda g, s: g.remove_node_props(_ids(s, 1), ["k"]), "nodes_slim", "payload_rows",
    ),
    "update_edge_weights": (
        lambda g, s: g.update_edge_weights(
            s.createDataFrame([(1, 2, "T", 7.0)], EDGE_SCHEMA)
        ),
        ("typed_edges", None, ("src", "dst"), None), WEIGHT_KEY,
    ),
}


@pytest.fixture(scope="module")
def warmed(spark):
    g = _graph(spark)
    for warm in WARM.values():
        warm(g)
    # every entry the registry can hold is covered by WARM
    assert set(g.derived) == set(WARM)
    return g


@pytest.mark.parametrize("name", sorted(MUTATIONS))
def test_write_inherits_only_valid_entries(spark, warmed, name):
    mutate, kept, rebuilt = MUTATIONS[name]
    child = mutate(warmed, spark)
    if kept is not None:
        assert kept in child.derived
    assert rebuilt not in child.derived
    fresh = PropertyGraph(child.nodes, child.edges, spark)
    for key in child.derived:
        assert _canon(child.derived.peek(key)) == _canon(WARM[key](fresh)), key


def test_uncache_releases_every_frame_and_keeps_results(spark):
    g = _graph(spark).cache()
    query = "MATCH (a:A)-[:T]->(b) RETURN a, b"

    def results():
        return (
            sorted(tuple(r) for r in A.bfs(g, [1]).collect()),
            sorted((r.id, round(r.pr, 12)) for r in A.pagerank(g, iters=3).collect()),
            sorted(tuple(r) for r in run_cypher(g, query).collect()),
        )

    before = results()
    for warm in WARM.values():
        warm(g)
    frames = [g.derived.peek(k) for k in g.derived]
    frames = [f for f in frames if isinstance(f, DataFrame)]
    assert sum(f.storageLevel != StorageLevel.NONE for f in frames) >= 10

    g.uncache()
    assert all(f.storageLevel == StorageLevel.NONE for f in frames)
    assert g.edges.storageLevel == StorageLevel.NONE
    assert not any(isinstance(g.derived.peek(k), DataFrame) for k in g.derived)
    assert "stats" in g.derived  # plain values stay
    assert results() == before


def test_racing_first_uses_share_one_entry(spark):
    """Client threads share one graph (perfbench's oltp_read runs nproc
    of them): every racing first use of an entry must return the value
    the registry keeps."""
    import sys
    import threading

    g = _graph(spark)
    n = 16
    barrier = threading.Barrier(n)
    got = [None] * n

    def client(i):
        barrier.wait(timeout=30)
        got[i] = g.payload_rows()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    kept = g.derived.peek("payload_rows")
    assert all(x is kept for x in got)


def test_predicate_estimate_follows_a_props_write(spark):
    """The planner's WHERE histograms are registry entries reading
    {labels, props}: after a SET the estimate equals a fresh build's
    instead of the pre-write histogram's."""
    nodes = spark.createDataFrame(
        [(i, "C", {"v": str(i)}) for i in range(100)] + [(100 + i, "D", {}) for i in range(4)],
        NODE_SCHEMA,
    )
    edges = spark.createDataFrame(
        [(i, 100 + i % 4, "E", 1.0) for i in range(100)], EDGE_SCHEMA
    )
    g = PropertyGraph(nodes, edges, spark)
    query = "MATCH (c:C)-[:E]->(d:D) WHERE c.v > 50 RETURN d"

    def cost(graph):
        return explain_cypher(graph, query).splitlines()[0]

    before = cost(g)
    written = run_cypher_set(g, "MATCH (c:C) SET c.v = 1000")
    assert cost(written) == cost(PropertyGraph(written.nodes, written.edges, spark)) != before
