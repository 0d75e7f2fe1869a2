"""One expression table evaluated in every context that compiles
arithmetic through the shared parse (``parse_expr``) and compiler
(``expr_col``): RETURN items, WHERE predicates, node SET, MERGE ON
MATCH, edge SET and the WITH-stage RETURN / WHERE / ORDER BY — each
checked against one pure-Python model of the expression semantics."""

import math

import pytest

from g4s_spark.cypher import CypherParseError
from g4s_spark.graph import PropertyGraph
from g4s_spark.plans import run_cypher, run_cypher_merge, run_cypher_set

# (id, x, y, s): x doubles as the hub edge's weight in the edge contexts
NODES = [(1, 3.0, 4.0, "ab"), (2, -2.5, 2.0, "hello"), (3, 9.0, 0.5, "z")]


def _round(v):  # Spark round(): HALF_UP, away from zero
    return math.copysign(math.floor(abs(v) + 0.5), v)


# (template, model(x, y, s)); {x} {y} {s} are the context's leaves
EXPRS = [
    ("{x} + {y} * 2", lambda x, y, s: x + y * 2),
    ("({x} - {y}) / 2", lambda x, y, s: (x - y) / 2),
    ("-{x} + 1", lambda x, y, s: -x + 1),
    ("-({x} - 4) * {x}", lambda x, y, s: -(x - 4) * x),
    ("abs({x})", lambda x, y, s: abs(x)),
    ("round({x} * 1.25)", lambda x, y, s: _round(x * 1.25)),
    ("ceil({x})", lambda x, y, s: float(math.ceil(x))),
    ("floor({x}) + 1", lambda x, y, s: float(math.floor(x)) + 1),
    ("sqrt({y}) * 2", lambda x, y, s: math.sqrt(y) * 2),
    ("size({s}) + {x}", lambda x, y, s: len(s) + x),
    ("CASE WHEN {x} > 2 THEN {x} * 2 ELSE 0 END",
     lambda x, y, s: x * 2 if x > 2 else 0.0),
    ("CASE WHEN {s} = 'ab' THEN 1 WHEN {s} = 'z' THEN 2 ELSE 0 END",
     lambda x, y, s: {"ab": 1.0, "z": 2.0}.get(s, 0.0)),
]
IDS = [t for t, _ in EXPRS]


def _uses(tmpl, *words):
    return any(w in tmpl for w in words)


def _model(fn):
    return {i: float(fn(x, y, s)) for i, x, y, s in NODES}


def _node_text(tmpl):
    return tmpl.format(x="n.x", y="n.y", s="n.s")


def _close(got, want):
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == pytest.approx(v), (k, got[k], v)


def _threshold(want):
    """A literal strictly between the two smallest distinct values, so
    a `> t` filter keeps a proper, non-empty subset."""
    lo, nxt = sorted(set(want.values()))[:2]
    return (lo + nxt) / 2


@pytest.fixture(scope="module")
def g(spark):
    nodes = spark.createDataFrame(
        [(0, "H", {})]
        + [(i, "N", {"x": repr(x), "y": repr(y), "s": s, "k": "1"})
           for i, x, y, s in NODES],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(0, i, "W", x) for i, x, _y, _s in NODES],
        "src long, dst long, type string, weight double",
    )
    return PropertyGraph(nodes, edges, spark).cache()


@pytest.mark.parametrize("tmpl,fn", EXPRS, ids=IDS)
def test_return_item(g, tmpl, fn):
    df = run_cypher(g, f"MATCH (n:N) RETURN n, {_node_text(tmpl)} AS v")
    _close({r.n: r.v for r in df.collect()}, _model(fn))


@pytest.mark.parametrize("tmpl,fn", EXPRS, ids=IDS)
def test_where_predicate(g, tmpl, fn):
    want = _model(fn)
    t = _threshold(want)
    df = run_cypher(g, f"MATCH (n:N) WHERE {_node_text(tmpl)} > {t!r} RETURN n")
    assert sorted(r.n for r in df.collect()) == sorted(i for i, v in want.items() if v > t)


@pytest.mark.parametrize("tmpl,fn", EXPRS, ids=IDS)
def test_node_set(g, tmpl, fn):
    g2 = run_cypher_set(g, f"MATCH (n:N) SET n.v = {_node_text(tmpl)}")
    got = {r.id: float(r.props["v"]) for r in g2.nodes.filter("label = 'N'").collect()}
    _close(got, _model(fn))


@pytest.mark.parametrize("tmpl,fn", EXPRS, ids=IDS)
def test_merge_on_match(g, tmpl, fn):
    g2 = run_cypher_merge(g, f"MERGE (n:N {{k: '1'}}) ON MATCH SET n.v = {_node_text(tmpl)}")
    got = {r.id: float(r.props["v"]) for r in g2.nodes.filter("label = 'N'").collect()}
    _close(got, _model(fn))


EDGE_EXPRS = [(t, f) for t, f in EXPRS if not _uses(t, "{y}", "{s}", "CASE", "size")]


@pytest.mark.parametrize("tmpl,fn", EDGE_EXPRS, ids=[t for t, _ in EDGE_EXPRS])
def test_edge_set(g, tmpl, fn):
    g2 = run_cypher_set(
        g, f"MATCH (h:H)-[e:W]->(n:N) SET e.weight = {tmpl.format(x='e.weight')}"
    )
    got = {r.dst: r.weight for r in g2.edges.collect()}
    _close(got, _model(fn))


CARRY = "MATCH (n:N) WITH n, n.x AS x, n.y AS y, n.s AS s "


@pytest.mark.parametrize("tmpl,fn", EXPRS, ids=IDS)
def test_carry_return(g, tmpl, fn):
    df = run_cypher(g, CARRY + f"RETURN n, {tmpl.format(x='x', y='y', s='s')} AS v")
    _close({r.n: r.v for r in df.collect()}, _model(fn))


@pytest.mark.parametrize("tmpl,fn", EXPRS, ids=IDS)
def test_carry_where(g, tmpl, fn):
    want = _model(fn)
    t = _threshold(want)
    df = run_cypher(
        g, CARRY + f"WHERE {tmpl.format(x='x', y='y', s='s')} > {t!r} RETURN n"
    )
    assert sorted(r.n for r in df.collect()) == sorted(i for i, v in want.items() if v > t)


@pytest.mark.parametrize("tmpl,fn", EXPRS, ids=IDS)
def test_carry_order_by(g, tmpl, fn):
    want = _model(fn)
    df = run_cypher(
        g, CARRY + f"RETURN n, x, y, s ORDER BY {tmpl.format(x='x', y='y', s='s')} DESC, n"
    )
    assert [r.n for r in df.collect()] == sorted(want, key=lambda i: (-want[i], i))


def test_carried_column_named_like_a_function_word(g):
    df = run_cypher(
        g, "MATCH (n:N) WITH n, n.x AS size, n.y AS round RETURN n, size + round AS v"
    )
    _close({r.n: r.v for r in df.collect()}, {i: x + y for i, x, y, _s in NODES})


@pytest.mark.parametrize("run,query", [
    (run_cypher, "MATCH (n:N) RETURN n, n.x + x AS v"),
    (run_cypher, "MATCH (n:N) WHERE n.x + x > 1 RETURN n"),
    (run_cypher_set, "MATCH (n:N) SET n.v = n.x + x"),
    (run_cypher_merge, "MERGE (n:N {k: '1'}) ON MATCH SET n.v = n.x + x"),
])
def test_bare_name_rejected_outside_carry(g, run, query):
    with pytest.raises(CypherParseError, match="bad token"):
        run(g, query)


@pytest.mark.parametrize("run,query", [
    (run_cypher_set, "MATCH (h:H)-[e:W]->(n:N) SET e.weight = size(e.weight)"),
    (run_cypher_set,
     "MATCH (h:H)-[e:W]->(n:N) SET e.weight = CASE WHEN e.weight > 1 THEN 1 ELSE 0 END"),
    (run_cypher_merge,
     "MATCH (h:H), (n:N) MERGE (h)-[e:W]->(n) "
     "ON MATCH SET e.weight = CASE WHEN e.weight > 1 THEN 1 ELSE 0 END"),
])
def test_string_nodes_rejected_on_edges(g, run, query):
    with pytest.raises(CypherParseError, match=r"size\(\)/CASE"):
        run(g, query)


@pytest.mark.parametrize("tail", [
    "RETURN n, zz * 2 AS v",
    "WHERE zz + 1 > 2 RETURN n",
])
def test_unknown_carried_column_raises(g, tail):
    with pytest.raises(CypherParseError, match="unknown column"):
        run_cypher(g, CARRY + tail)


def test_unknown_carried_column_in_order_by_raises(g):
    with pytest.raises(CypherParseError, match="unsupported ORDER BY item"):
        run_cypher(g, CARRY + "RETURN n, x ORDER BY zz * 2")


def test_id_compared_exactly_beyond_2_pow_53(spark):
    """id(n) = <int> compares the long id column uncast: 2^53 and
    2^53 + 1 round to the same double, yet only one row matches."""
    big = 2**53
    g = PropertyGraph.from_tuples(spark, [(big, "N"), (big + 1, "N")], [])
    q = "MATCH (n:N) WHERE id(n) = {} RETURN n"
    assert [r.n for r in run_cypher(g, q.format(big + 1)).collect()] == [big + 1]
    got = run_cypher(g, q.format("$cid"), params={"cid": big + 1}).collect()
    assert [r.n for r in got] == [big + 1]
