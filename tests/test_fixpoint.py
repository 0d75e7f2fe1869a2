"""The one semi-naive fixpoint driver (``checkpointing.fixpoint``) and the
loops that run through it: iteration caps, the per-call job budget of
the gated loops, and pure-Python models on random small graphs. bfs and
sssp run their rounds on the driver's adjacency index when the graph is
cached; a twin built from the same tuples but left uncached runs the
join rounds, and both paths must give the same rows and types."""

import itertools
from collections import deque

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

import g4s_spark.grblas.bfs as grblas_bfs
from g4s_spark.graph import PropertyGraph
from g4s_spark.grblas import Matrix, bfs_levels
from g4s_spark.operators import (
    betweenness_centrality,
    bfs,
    connected_components,
    sssp,
    strongly_connected_components,
    topological_layers,
)
from g4s_spark.plans import planner

CHAIN5 = [(i, i + 1) for i in range(4)]  # 0 -> 1 -> 2 -> 3 -> 4


@pytest.fixture(scope="module")
def chain5(spark):
    """(uncached graph: join rounds, edge table, cached twin: driver rounds)"""
    nodes, edges = [(i, "V") for i in range(5)], [(a, b, "E", 1.0) for a, b in CHAIN5]
    return (
        PropertyGraph.from_tuples(spark, nodes, edges),
        spark.createDataFrame(CHAIN5, "src long, dst long"),
        PropertyGraph.from_tuples(spark, nodes, edges).cache(),
    )


def _closure(chain5, cap, monkeypatch):
    monkeypatch.setattr(planner, "MAX_CLOSURE_ITERS", cap)
    return planner._var_length_pairs(chain5[1], 1, None)


def _bfs_levels(chain5, cap, monkeypatch):
    monkeypatch.setattr(grblas_bfs, "MAX_BFS_ITERS", cap)
    adj = Matrix.from_tuples(
        chain5[1].sparkSession, [(a, b, True) for a, b in CHAIN5], 5, 5, "boolean"
    )
    return bfs_levels(adj, [0]).df


# (loop, rounds the 5-chain needs — the last one finds an empty delta —,
# message match). Each loop must converge at exactly that cap and raise
# one round below it.
CAPPED = [
    (lambda c, k, mp: sssp(c[0], [0], max_iters=k), 5, "sssp did not converge"),
    (lambda c, k, mp: sssp(c[2], [0], max_iters=k), 5, "sssp did not converge"),
    (lambda c, k, mp: connected_components(c[0], max_iters=k), 5, "connected_components"),
    (
        lambda c, k, mp: betweenness_centrality(c[0], sources=[0], max_depth=k),
        5, "betweenness forward phase",
    ),
    (_closure, 4, "transitive closure"),
    (_bfs_levels, 5, "bfs_levels"),
    (lambda c, k, mp: topological_layers(c[1], max_iters=k), 5, "cycle"),
    (lambda c, k, mp: strongly_connected_components(c[1], max_iters=k), 5, "peel"),
]


@pytest.mark.parametrize(
    "loop,rounds,match", CAPPED,
    ids=[
        "sssp", "sssp_driver", "components", "betweenness", "closure", "bfs_levels",
        "layers", "scc",
    ],
)
def test_loop_cap_raises_one_round_short(chain5, monkeypatch, loop, rounds, match):
    assert loop(chain5, rounds, monkeypatch).count() > 0
    with pytest.raises(RuntimeError, match=match):
        loop(chain5, rounds - 1, monkeypatch).collect()
    with pytest.raises(RuntimeError, match=match):
        loop(chain5, 1, monkeypatch).collect()


def test_bfs_max_hops_truncates_without_raising(chain5):
    for g in (chain5[0], chain5[2]):  # join rounds, driver rounds
        got = {r.id: r.dist for r in bfs(g, [0], max_hops=1).collect()}
        assert got == {0: 0, 1: 1}
        got = {r.id: r.dist for r in bfs(g, [0], max_hops=0).collect()}
        assert got == {0: 0}


def test_duplicate_start_ids_give_one_row(spark):
    nodes, edges = [(i, "V") for i in range(3)], [(0, 1, "E", 1.0), (0, 2, "E", 1.0)]
    for g in (
        PropertyGraph.from_tuples(spark, nodes, edges),
        PropertyGraph.from_tuples(spark, nodes, edges).cache(),
    ):
        assert sorted(map(tuple, bfs(g, [0, 0]).collect())) == [(0, 0), (1, 1), (2, 1)]
        assert sorted(map(tuple, sssp(g, [0, 0]).collect())) == [(0, 0.0), (1, 1.0), (2, 1.0)]


# jobs per call (collect included) of the loops the analytics workload
# and the Cypher closure run as Spark rounds, measured with the
# hand-written loops the driver replaced, on this 9-node chain with the
# fixture's 8 shuffle partitions (AQE query stages count as jobs). The
# driver may not add any; bfs and sssp run exactly this many. The chain
# graph is uncached, so bfs and sssp take the join rounds.
JOB_BUDGET = {"bfs": 44, "sssp": 68, "closure": 61}


# a fresh job group per measured call: the tracker keeps old groups' job ids
_GROUPS = itertools.count()


def _jobs_per_call(spark, loops: dict) -> dict:
    """{name: jobs of one call, collect included}, after a warm call
    that builds the per-graph caches and indexes."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = {}
    for name, run in loops.items():
        run().collect()
        group = f"fixpoint-jobs-{name}-{next(_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            run().collect()
        finally:
            sc.setJobGroup("fixpoint-jobs-idle", "idle")
        jobs[name] = len(tracker.getJobIdsForGroup(group))
    return jobs


def _chain9(spark):
    chain = [(i, i + 1) for i in range(8)]
    g = PropertyGraph.from_tuples(
        spark, [(i, "V") for i in range(9)], [(a, b, "E", 1.0) for a, b in chain]
    )
    return g, spark.createDataFrame(chain, "src long, dst long")


def test_gated_loops_stay_within_job_budget(spark):
    g, edges = _chain9(spark)
    jobs = _jobs_per_call(spark, {
        "bfs": lambda: bfs(g, [0]),
        "sssp": lambda: sssp(g, [0]),
        "closure": lambda: planner._var_length_pairs(edges, 1, None),
    })
    for name, n_jobs in jobs.items():
        assert 0 < n_jobs <= JOB_BUDGET[name], (name, n_jobs)


def test_driver_rounds_run_at_most_one_job(spark):
    g = _chain9(spark)[0].cache()
    jobs = _jobs_per_call(spark, {
        "bfs": lambda: bfs(g, [0]),
        "sssp": lambda: sssp(g, [0]),
    })
    assert all(n_jobs <= 1 for n_jobs in jobs.values()), jobs


# --- twins: driver rounds on the cached graph, join rounds uncached ----------

EDGE_TYPES = [None, ["T"], ["T", "U"], ["X"], ["U", "X"]]


@st.composite
def weighted_multigraph(draw):
    """Edges over ids 0..7 (6 and 7 have no node row) with cycles,
    self-loops and parallel edges of different weights, at most one
    null weight, long or double weights; start ids (duplicates and ids
    without edges included), a hop bound and a type filter."""
    dtype = draw(st.sampled_from(["bigint", "double"]))
    weight = st.integers(1, 4) if dtype == "bigint" else st.sampled_from([0.1, 0.25, 1.5, 2.0])
    edges = draw(st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7), st.sampled_from("TU"), weight),
        min_size=1, max_size=14,
    ))
    null_at = draw(st.none() | st.integers(0, len(edges) - 1))
    if null_at is not None:
        a, b, t, _ = edges[null_at]
        edges[null_at] = (a, b, t, None)
    starts = draw(st.lists(st.integers(0, 7), min_size=1, max_size=3))
    max_hops = draw(st.none() | st.integers(0, 3))
    return dtype, edges, starts, max_hops, draw(st.sampled_from(EDGE_TYPES))


def _outcome(run):
    """(types, sorted rows) of a loop's result, or its RuntimeError text."""
    try:
        df = run()
    except RuntimeError as e:
        return str(e)
    return df.dtypes, sorted(map(tuple, df.collect()), key=repr)


@given(case=weighted_multigraph())
# a null weight on 1->2 and a self-loop at 2: 2's null distance takes
# every null candidate, so sssp raises at the cap on both paths
@example(case=(
    "bigint",
    [(0, 1, "T", 2), (0, 1, "T", 5), (1, 0, "T", 1), (1, 2, "U", None), (2, 2, "U", 1),
     (2, 3, "T", 1), (3, 6, "T", 2)],
    [0, 0, 7], 2, ["T", "U", "X"],
))
# a null weight on 0->4, which a weighted path 0->5->4 improves later
@example(case=(
    "double",
    [(0, 4, "T", None), (0, 5, "T", 1.5), (5, 4, "U", 0.25), (4, 0, "T", 0.1),
     (4, 4, "T", 2.0), (5, 4, "U", 2.0)],
    [0, 3, 3], None, None,
))
@settings(
    max_examples=4, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_driver_rounds_equal_join_rounds(spark, case):
    dtype, edges, starts, max_hops, types = case
    edf = spark.createDataFrame(edges, f"src long, dst long, type string, weight {dtype}")
    ndf = spark.createDataFrame([(i, "N") for i in range(6)], "id long, label string")
    # the twin's own frame: cache() marks the frame it is given as cached
    driver = PropertyGraph(ndf, edf, spark).cache()
    join = PropertyGraph(ndf, edf.select("*"), spark)
    assert driver.edge_index("weight") is not None and join.edge_index("weight") is None
    for run in (
        lambda g: bfs(g, starts, max_hops=max_hops, edge_types=types),
        lambda g: sssp(g, starts, max_iters=10, edge_types=types),
    ):
        assert _outcome(lambda: run(driver)) == _outcome(lambda: run(join)), case


# --- pure-Python models on random small graphs --------------------------------

def _bfs_model(adj, start):
    dist, dq = {start: 0}, deque([start])
    while dq:
        v = dq.popleft()
        for w in adj.get(v, ()):
            if w not in dist:
                dist[w] = dist[v] + 1
                dq.append(w)
    return dist


def _sssp_model(wedges, start):
    dist = {start: 0.0}
    for _ in range(len(wedges) + 1):  # Bellman-Ford
        for a, b, w in wedges:
            if a in dist and dist[a] + w < dist.get(b, float("inf")):
                dist[b] = dist[a] + w
    return dist


def _reach(adj, v):
    return set(_bfs_model(adj, v))


def _components_model(nodes, edges):
    und = {}
    for a, b in edges:
        und.setdefault(a, set()).add(b)
        und.setdefault(b, set()).add(a)
    return {v: min(_reach(und, v)) for v in nodes}


def _scc_model(edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    ends = {v for e in edges for v in e}
    reach = {v: _reach(adj, v) for v in ends}
    return {v: min(u for u in ends if v in reach[u] and u in reach[v]) for v in ends}


def _layers_model(dag):
    ends = {v for e in dag for v in e}
    layer = {v: 0 for v in ends}
    for _ in ends:  # longest path by relaxation; a DAG needs <= |V| passes
        for a, b in dag:
            layer[b] = max(layer[b], layer[a] + 1)
    return layer


@st.composite
def small_digraph(draw, n=6):
    edges = draw(st.lists(
        st.tuples(st.integers(0, n - 1), st.integers(0, n - 1), st.integers(1, 3)),
        min_size=1, max_size=10, unique_by=lambda e: e[:2],
    ))
    return n, edges


@given(graph=small_digraph())
@settings(
    max_examples=5, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_fixpoint_loops_match_python_models(spark, graph):
    n, wedges = graph
    edges = [(a, b) for a, b, _ in wedges]
    g = PropertyGraph.from_tuples(
        spark, [(v, "N") for v in range(n)], [(a, b, "E", float(w)) for a, b, w in wedges]
    )
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    start = edges[0][0]

    assert {r.id: r.dist for r in bfs(g, [start]).collect()} == _bfs_model(adj, start)
    assert {r.id: r.dist for r in sssp(g, [start]).collect()} == _sssp_model(wedges, start)
    assert {
        r.id: r.component for r in connected_components(g).collect()
    } == _components_model(range(n), edges)
    edf = spark.createDataFrame(edges, "src long, dst long")
    assert {
        r.id: r.scc for r in strongly_connected_components(edf).collect()
    } == _scc_model(edges)
    dag = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    if dag:
        ddf = spark.createDataFrame(dag, "src long, dst long")
        assert {
            r.id: r.layer for r in topological_layers(ddf).collect()
        } == _layers_model(dag)
