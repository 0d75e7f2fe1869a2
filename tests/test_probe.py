"""The anchored-read probe: plan_match expands a pattern anchored on
literal ids over the graph's driver-side adjacency index
(PropertyGraph.adjacency) instead of a join chain.

A graph whose edge table is cached takes the probe; a twin built from
the same tuples but left uncached takes the general path. The two must
return the same rows under the same columns, before and after writes.
The oltp_read templates must run no Spark job for 1-3 hops."""

import itertools
import sys
from collections import Counter
from pathlib import Path

import pandas as pd
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

import __spark_entry__ as E
from g4s_spark.cypher.parser import parse
from g4s_spark.graph import GraphStats, PropertyGraph
from g4s_spark.plans import explain_cypher, run_cypher
from g4s_spark.plans.planner import plan_match
from test_memo import SF  # the sf0.001 testdata directory

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))
import ops  # noqa: E402

NODE_SCHEMA = "id long, label string, props map<string,string>"
EDGE_SCHEMA = "src long, dst long, type string"
N_NODES = 6  # ids 0..5 have node rows; 6 and 7 are edge endpoints only
LABELS = [None, "A", "B", "A:B"]


@st.composite
def small_graph(draw):
    """Multi-label nodes (one row per label, one shared payload),
    parallel edges, self-loops and edges to ids with no node row."""
    nodes = []
    for i in range(N_NODES):
        for label in draw(st.sampled_from(["A", "B", "A", "B", "AB"])):
            nodes.append((i, label, {"k": f"v{i}"}))
    edges = draw(st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7), st.sampled_from("TU")),
        min_size=8, max_size=20,
    ))
    return nodes, edges


@st.composite
def anchored_tree(draw):
    """A 1-3 hop tree over bindings x0..xk with an id anchor on one of
    them (absent ids included), optional labels and type sets, both
    directions; RETURN a subset of the bindings plus one property."""
    k = draw(st.integers(1, 3))
    names = [f"x{i}" for i in range(k + 1)]
    labels = [draw(st.sampled_from(LABELS)) for _ in names]

    def node(i):
        return f"({names[i]}{'' if labels[i] is None else ':' + labels[i]})"

    parts = []
    for i in range(1, k + 1):
        parent = draw(st.integers(0, i - 1))
        types = draw(st.sampled_from(["", ":T", ":U", ":T|U"]))
        arrow = (f"-[{types}]->", f"<-[{types}]-")[draw(st.booleans())]
        parts.append(f"{node(parent)}{arrow}{node(i)}")
    anchor = draw(st.sampled_from(names))
    ids = draw(st.lists(st.integers(0, 8), min_size=1, max_size=4))
    where = (
        f"id({anchor}) = {ids[0]}" if len(ids) == 1 or draw(st.booleans())
        else f"id({anchor}) IN [{', '.join(map(str, ids))}]"
    )
    returned = draw(st.lists(st.sampled_from(names), min_size=1, unique=True))
    prop = draw(st.sampled_from(names))
    return (
        f"MATCH {', '.join(parts)} WHERE {where} "
        f"RETURN {', '.join(returned)}, {prop}.k AS pk"
    )


def _twins(spark, nodes, edges):
    """(cached, uncached) graphs over the same local tables. Their stats
    are the label and type counts only, so the general path plans
    without triplet estimates, hop elimination or label-implied skips;
    computing full stats would cost seconds per drawn graph."""
    ndf = spark.createDataFrame(pd.DataFrame(nodes, columns=["id", "label", "props"]), NODE_SCHEMA)
    edf = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst", "type"]), EDGE_SCHEMA)
    twins = PropertyGraph(ndf, edf, spark).cache(), PropertyGraph(ndf, edf, spark)
    for g in twins:
        g.stats = _counts(nodes, edges)
    return twins


def _counts(nodes, edges) -> GraphStats:
    labels = Counter(label for _, label, _ in nodes)
    types = Counter(t for _, _, t in edges)
    return GraphStats(len(nodes), len(edges), dict(labels), dict(types))


def _result(graph, query):
    planned = plan_match(graph, parse(query))
    rows = sorted(map(tuple, planned.df.collect()), key=repr)
    return [s[0] for s in planned.steps], planned.df.dtypes, rows


def _assert_twins_agree(probed, general, query):
    steps, dtypes, rows = _result(probed, query)
    ref_steps, ref_dtypes, ref_rows = _result(general, query)
    assert "probe" in steps and "probe" not in ref_steps, (query, steps, ref_steps)
    assert (dtypes, rows) == (ref_dtypes, ref_rows), query


# a fixed case where dropping the label check, the per-hop dedupe (the
# parallel 0->1 edges) or the edge direction each changes the rows
FIXED_GRAPH = (
    [(0, "A", {"k": "v0"}), (1, "B", {"k": "v1"}), (2, "A", {"k": "v2"}),
     (2, "B", {"k": "v2"}), (3, "A", {"k": "v3"}), (4, "B", {"k": "v4"}),
     (5, "A", {"k": "v5"})],
    [(0, 1, "T"), (0, 1, "T"), (0, 2, "T"), (0, 6, "T"), (3, 0, "T"), (0, 3, "U"),
     (1, 4, "T"), (2, 4, "T"), (2, 5, "U"), (4, 4, "U")],
)
FIXED_QUERIES = [
    "MATCH (x0:A)-[:T]->(x1:B) WHERE id(x0) IN [0, 3] RETURN x1, x0.k AS pk",
    "MATCH (x0)<-[:T|U]-(x1:A) WHERE id(x0) = 4 RETURN x1, x1.k AS pk",
    "MATCH (x0:A)-[:U]->(x1)-[:T]->(x2) WHERE id(x0) IN [2, 5] RETURN x2, x1.k AS pk",
]


@given(graph=small_graph(), queries=st.lists(anchored_tree(), min_size=3, max_size=3))
@example(graph=FIXED_GRAPH, queries=FIXED_QUERIES)
@settings(
    max_examples=2, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_probe_equals_general_path(spark, graph, queries):
    nodes, edges = graph
    cached, plain = _twins(spark, nodes, edges)
    _assert_twins_agree(cached, plain, queries[0])

    # a props write inherits both indexes and reads the new values
    upd = spark.createDataFrame(
        pd.DataFrame({"id": [0, 2, 4], "props": [{"k": f"w{i}"} for i in (0, 2, 4)]}),
        "id long, props map<string,string>",
    )
    cached2, plain2 = cached.update_node_props(upd), plain.update_node_props(upd)
    assert {"adjacency", "label_index"} <= set(cached2.derived)
    _assert_twins_agree(cached2, plain2, queries[1])

    # an edge write drops the adjacency; cache() rebuilds it
    more = [(5, 6, "T"), (2, 2, "U"), (0, 1, "T")]
    more_df = spark.createDataFrame(pd.DataFrame(more, columns=["src", "dst", "type"]), EDGE_SCHEMA)
    grown, plain_grown = cached.insert_edges(more_df), plain.insert_edges(more_df)
    for g in (grown, plain_grown):
        g.stats = _counts(nodes, edges + more)
    assert "adjacency" not in grown.derived and grown.adjacency() is None
    _assert_twins_agree(grown.cache(), plain_grown, queries[2])


def test_weight_write_keeps_the_unweighted_index(spark):
    """A weight write changes no (src, dst, type) row: its result keeps
    the unweighted adjacency index, so a hop1 read stays on the probe,
    and drops the weighted index sssp reads."""
    nodes = [(0, "A", {"k": "v0"}), (1, "B", {"k": "v1"}), (2, "B", {"k": "v2"})]
    edges = [(0, 1, "T", 1.0), (0, 2, "T", 2.0), (1, 2, "U", 3.0)]
    ndf = spark.createDataFrame(pd.DataFrame(nodes, columns=["id", "label", "props"]), NODE_SCHEMA)
    edf = spark.createDataFrame(edges, EDGE_SCHEMA + ", weight double")
    g = PropertyGraph(ndf, edf, spark).cache()
    g.stats = _counts(nodes, [e[:3] for e in edges])
    assert g.adjacency() is not None and g.edge_index("weight") is not None
    written = g.update_edge_weights(
        spark.createDataFrame([(0, 1, 5.0)], "src long, dst long, weight double")
    )
    assert "adjacency" in written.derived and ("adjacency", "weight") not in written.derived
    assert written.edge_index("weight") is None  # an uncached join: sssp runs join rounds
    planned = plan_match(written, parse("MATCH (a:A)-[:T]->(b) WHERE id(a) = 0 RETURN b"))
    assert planned.steps[0][0] == "probe"
    assert sorted(r.b for r in planned.df.collect()) == [1, 2]


# hop1-hop3 run no job once the index is built; prop resolves the
# payload of the probed ids only (5 jobs on the join chain)
JOB_BUDGET = {"hop1": 0, "hop2": 0, "hop3": 0, "prop": 3}
# the uncached twin's steps: the join chain the probe replaces
GENERAL_STEPS = {
    "hop1": ["semi", "semi_skip", "scan", "project_distinct"],
    "hop2": [
        "semi", "semi_skip", "scan", "project_distinct",
        "semi_skip", "semi_skip", "expand", "project_distinct",
    ],
    "hop3": [
        "semi", "semi_skip", "scan", "project_distinct",
        "semi_skip", "semi_skip", "expand", "project_distinct",
        "semi_skip", "semi_skip", "expand", "project_distinct",
    ],
    "prop": ["semi", "semi_skip", "scan", "project_distinct", "resolve_props"],
}


def test_oltp_templates_probe_within_job_budget(spark):
    g = E.build_graph(spark, SF)  # cached, as the benchmark's graph is
    twin = PropertyGraph(g.nodes, g.edges.select("*"), spark)
    twin.stats = g.stats
    params = {"cid": ops.CUSTOMER_OFF + 1}
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    groups = itertools.count()
    for kind, text in ops.READ_TEMPLATES.items():
        qg = parse(text.replace("$cid", str(params["cid"])))
        steps = [s[0] for s in plan_match(g, qg).steps]
        assert steps[0] == "probe" and not {"scan", "expand"} & set(steps), (kind, steps)
        general = [s[0] for s in plan_match(twin, qg).steps]
        assert general == GENERAL_STEPS[kind], (kind, general)
        group = f"probe-jobs-{kind}-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            rows = run_cypher(g, text, params=params).collect()
        finally:
            sc.setJobGroup("probe-jobs-idle", "idle")
        assert rows, kind
        n_jobs = len(tracker.getJobIdsForGroup(group))
        assert n_jobs <= JOB_BUDGET[kind], (kind, n_jobs)
    # explain prints each hop's estimate beside its actual rows
    text = explain_cypher(g, ops.READ_TEMPLATES["hop2"], params=params)
    assert "adjacency index" in text and text.count("actual rows") == 2, text
