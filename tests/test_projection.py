"""The projection tail: one ORDER BY reader and applier and one aggregate
compiler behind every projection kind (a single stage, a RETURN over a
MATCH after a WITH, a carry-only stage, a leading-UNWIND RETURN), each
checked against a pure-Python model."""

import statistics

import pytest

from g4s_spark.cypher import CypherParseError
from g4s_spark.graph import PropertyGraph
from g4s_spark.plans import run_cypher

# (id, x, s): x has a tie and sorts differently as text ('10.0' < '2.0');
# s is unique, so `n.s` breaks every tie
NODES = [(1, 10.0, "d"), (2, 2.0, "b"), (3, 9.0, "a"), (4, 2.0, "c"), (5, -1.5, "e")]
# hub h's out-degree: the carried count() column has a repeat (2)
DEGREES = {11: 1, 12: 2, 13: 2, 14: 4, 15: 5}


@pytest.fixture(scope="module")
def g(spark):
    nodes = spark.createDataFrame(
        [(i, "N", {"x": repr(x), "s": s}) for i, x, s in NODES]
        + [(h, "H", {}) for h in DEGREES],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(h, i, "E", 1.0) for h, d in DEGREES.items() for i, _x, _s in NODES[:d]],
        "src long, dst long, type string, weight double",
    )
    return PropertyGraph(nodes, edges, spark).cache()


# (ORDER BY tail, sort key of (id, x, s), SKIP, LIMIT); every tail ends
# in the `n.s` property tie-break
ORDERS = [
    ("n DESC, n.s", lambda i, x, s: -i, None, None),
    ("x * 2, n.s", lambda i, x, s: x * 2, None, None),
    ("CASE WHEN x > 5 THEN 0 ELSE 1 END, n.s", lambda i, x, s: 0 if x > 5 else 1, None, None),
    ("n.x DESC, n.s SKIP 1 LIMIT 3", lambda i, x, s: -x, 1, 3),
]
CONTEXTS = {
    "single": "MATCH (n:N) RETURN n, n.x AS x ORDER BY {}",
    "after_with": "MATCH (n:N) WITH n MATCH (n:N) RETURN n, n.x AS x ORDER BY {}",
    "unwind": "UNWIND [1] AS k MATCH (n:N) RETURN n, n.x AS x ORDER BY {}",
}


@pytest.mark.parametrize("tail,key,skip,limit", ORDERS, ids=[t for t, *_ in ORDERS])
def test_order_by_same_in_every_projection(g, tail, key, skip, limit):
    want = [i for i, x, s in sorted(NODES, key=lambda r: (key(*r), r[2]))]
    want = want[skip or 0 :][:limit]
    for name, q in CONTEXTS.items():
        df = run_cypher(g, q.format(tail))
        assert df.columns == ["n", "x"], name
        assert [r.n for r in df.collect()] == want, name


CARRY = "MATCH (n:N) WITH n, n.x AS x, n AS d RETURN n ORDER BY {}"


@pytest.mark.parametrize("tail,key", [
    ("d DESC", lambda i, x: -i),
    ("x * 2, n", lambda i, x: (x, i)),
])
def test_carry_return_sorts_by_unprojected_column(g, tail, key):
    df = run_cypher(g, CARRY.format(tail) + " LIMIT 4")
    assert df.columns == ["n"]
    want = [i for i, x, _s in sorted(NODES, key=lambda r: key(*r[:2]))]
    assert [r.n for r in df.collect()] == want[:4]


@pytest.mark.parametrize("query", [
    "MATCH (n:N) WITH n, n AS d RETURN DISTINCT n ORDER BY d",
    "MATCH (n:N) WITH n, n AS d RETURN count(n) AS c ORDER BY d",
])
def test_grouped_carry_return_rejects_unprojected_sort_column(g, query):
    with pytest.raises(CypherParseError, match="ORDER BY of non-returned column: 'd'"):
        run_cypher(g, query)


KS = list(DEGREES.values())
# (item over the carried count column k, model)
AGGS = [
    ("count(k)", len(KS)),
    ("count(DISTINCT k)", len(set(KS))),
    ("sum(k)", sum(KS)),
    ("sum(DISTINCT k)", sum(set(KS))),
    ("avg(k)", statistics.mean(KS)),
    ("avg(DISTINCT k)", statistics.mean(set(KS))),
    ("min(k)", min(KS)),
    ("max(k)", max(KS)),
    ("collect(k)", sorted(set(KS))),
    ("stdev(k)", statistics.stdev(KS)),
    ("stdevp(k)", statistics.pstdev(KS)),
]


@pytest.fixture(scope="module")
def carried_aggs(g):
    items = ", ".join(f"{it} AS a{j}" for j, (it, _) in enumerate(AGGS))
    (row,) = run_cypher(
        g, f"MATCH (h:H)-[:E]->(n:N) WITH h, count(n) AS k RETURN {items}"
    ).collect()
    return row


@pytest.mark.parametrize("j", range(len(AGGS)), ids=[it for it, _ in AGGS])
def test_carried_aggregate_matches_model(carried_aggs, j):
    got, want = carried_aggs[f"a{j}"], AGGS[j][1]
    assert got == (want if isinstance(want, list) else pytest.approx(want))


@pytest.mark.parametrize("query", [
    "MATCH (h:H)-[:E]->(n:N) RETURN n ORDER BY h.s",
    "UNWIND [1] AS k MATCH (h:H)-[:E]->(n:N) RETURN n ORDER BY h.s",
    "UNWIND [1] AS k MATCH (h:H)-[:E]->(n:N) RETURN k, n.x AS x ORDER BY h.s DESC",
])
def test_order_by_property_of_non_returned_binding_is_rejected(g, query):
    """A hidden sort property of a binding the RETURN does not read
    would join that binding to the distinct match set and multiply its
    rows (several H nodes point at each N)."""
    with pytest.raises(CypherParseError, match="ORDER BY property of non-returned binding: 'h'"):
        run_cypher(g, query)


@pytest.mark.parametrize("query,cols", [
    ("MATCH (n:N) RETURN id(n) AS i, n.s AS s, toUpper(n.s) AS u", ["i", "s", "u"]),
    ("MATCH (n:N) RETURN count(*) AS c, n.s AS s", ["c", "s"]),
    ("MATCH (n:N) WITH n MATCH (n:N) RETURN n.s AS s, n, id(n) AS i", ["s", "n", "i"]),
])
def test_return_columns_follow_item_order(g, query, cols):
    """openCypher: a RETURN emits its columns in item order, whatever
    the kinds of its items."""
    assert run_cypher(g, query).columns == cols


@pytest.mark.parametrize("query", [
    "MATCH (n:N) WHERE n.x >= 0 RETURN n.x AS x ORDER BY x{}",
    "MATCH (n:N) WITH n MATCH (n:N) WHERE n.x >= 0 RETURN n.x AS x ORDER BY x{}",
])
def test_order_by_property_alias_sorts_numerically(g, query):
    """An ORDER BY of a bare property item's alias sorts like `ORDER BY
    n.x`: numeric values by number, not as text ('10.0' < '2.0')."""
    asc = [r.x for r in run_cypher(g, query.format("")).collect()]
    assert asc == ["2.0", "2.0", "9.0", "10.0"]
    desc = [r.x for r in run_cypher(g, query.format(" DESC")).collect()]
    assert desc == ["10.0", "9.0", "2.0", "2.0"]
