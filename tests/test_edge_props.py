"""Edge-variable extension: WHERE predicates on edge properties (pushed
into the typed edge scan) and RETURN of edge properties (carried through
the join chain like a binding). The reference parser accepts edge
variables (QueryGraph.scala:76-83) but has no predicate surface — this is
extension territory the data model already pays for (edges carry weight).

Also: clause-scoped WHERE — an OPTIONAL MATCH's WHERE must only restrict
its optional group (openCypher), never drop rows from the required match.
"""

import pytest

from g4s_spark.cypher import CypherParseError, ReturnItem, parse
from g4s_spark.graph import PropertyGraph
from g4s_spark.plans import plan_match, run_cypher


@pytest.fixture(scope="module")
def weighted(spark):
    # A nodes 0,1 -> B nodes 10,11 with varying weights
    return PropertyGraph.from_tuples(
        spark,
        nodes=[(0, "A"), (1, "A"), (10, "B"), (11, "B"), (12, "B")],
        edges=[
            (0, 10, "X", 1.0),
            (0, 11, "X", 5.0),
            (1, 11, "X", 2.0),
            (1, 12, "X", 9.0),
        ],
    ).cache()


def rows(df):
    return {tuple(r) for r in df.collect()}


def test_parse_edge_variable_and_filters():
    qg = parse("MATCH (a)-[e:X]->(b) WHERE e.weight > 2 RETURN a, e.weight AS w")
    assert qg.edges[0].name == "e"
    assert len(qg.edge_filters) == 1
    ef = qg.edge_filters[0]
    assert (ef.binding, ef.prop, ef.op, ef.value) == ("e", "weight", ">", 2.0)
    assert qg.items[1] == ReturnItem("w", ("eprop", "e", "weight"))


def test_edge_where_filters_scan(weighted):
    planned = plan_match(weighted, parse("MATCH (a:A)-[e:X]->(b:B) WHERE e.weight >= 2 RETURN a, b"))
    assert any(s[0] == "edge_filter" and s[1] == "e" for s in planned.steps)
    assert rows(planned.df) == {(0, 11), (1, 11), (1, 12)}


def test_edge_prop_return(weighted):
    got = rows(run_cypher(weighted, "MATCH (a:A)-[e:X]->(b:B) RETURN a, b, e.weight AS w"))
    assert got == {(0, 10, 1.0), (0, 11, 5.0), (1, 11, 2.0), (1, 12, 9.0)}


def test_edge_prop_return_only(weighted):
    got = rows(run_cypher(weighted, "MATCH (a:A)-[e:X]->(b:B) WHERE e.weight < 3 RETURN e.weight AS w"))
    # distinct over the match set: (0,10,1.0) and (1,11,2.0)
    assert got == {(1.0,), (2.0,)}


def test_edge_where_on_varlength_applies_per_hop(spark):
    g = PropertyGraph.from_tuples(
        spark,
        nodes=[(i, "N") for i in range(4)],
        edges=[(0, 1, "X", 1.0), (1, 2, "X", 9.0), (2, 3, "X", 1.0)],
    )
    got = rows(run_cypher(g, "MATCH (a)-[e:X*1..3]->(b) WHERE e.weight < 5 RETURN a, b"))
    # the 1->2 edge (weight 9) is excluded from every hop
    assert got == {(0, 1), (2, 3)}


def test_varlength_edge_prop_return_rejected(weighted):
    with pytest.raises(ValueError):
        run_cypher(weighted, "MATCH (a)-[e:X*1..2]->(b) RETURN e.weight AS w")


def test_edge_variable_node_collision_rejected():
    with pytest.raises(CypherParseError):
        parse("MATCH (a)-[a:X]->(b) RETURN b")


def test_optional_where_scoped_to_optional_clause(spark):
    """MATCH (a:A) OPTIONAL MATCH (a)-[:X]->(b:B) WHERE b.size > 5:
    non-matching a rows survive with b = NULL (ADVICE r1: previously the
    optional clause's WHERE constrained the required chain too)."""
    nodes_df = spark.createDataFrame(
        [
            (0, "A", {}),
            (1, "A", {}),
            (10, "B", {"size": "3"}),
            (11, "B", {"size": "9"}),
        ],
        "id long, label string, props map<string,string>",
    )
    edges_df = spark.createDataFrame(
        [(0, 10, "X"), (1, 11, "X")], "src long, dst long, type string"
    )
    g = PropertyGraph(nodes_df, edges_df, spark)
    got = rows(
        run_cypher(g, "MATCH (a:A) OPTIONAL MATCH (a)-[:X]->(b:B) WHERE b.size > 5 RETURN a, b")
    )
    # a=0 has only the size-3 neighbor -> kept with NULL; a=1 matches 11
    assert got == {(0, None), (1, 11)}


def test_optional_edge_where_scoped(spark):
    g = PropertyGraph.from_tuples(
        spark,
        nodes=[(0, "A"), (1, "A"), (10, "B"), (11, "B")],
        edges=[(0, 10, "X", 1.0), (1, 11, "X", 8.0)],
    )
    got = rows(
        run_cypher(g, "MATCH (a:A) OPTIONAL MATCH (a)-[e:X]->(b:B) WHERE e.weight > 5 RETURN a, b")
    )
    assert got == {(0, None), (1, 11)}


def test_required_where_still_constrains_main_chain(spark):
    nodes_df = spark.createDataFrame(
        [(0, "A", {"v": "1"}), (1, "A", {"v": "7"}), (10, "B", {})],
        "id long, label string, props map<string,string>",
    )
    edges_df = spark.createDataFrame(
        [(0, 10, "X"), (1, 10, "X")], "src long, dst long, type string"
    )
    g = PropertyGraph(nodes_df, edges_df, spark)
    got = rows(run_cypher(g, "MATCH (a:A)-[:X]->(b:B) WHERE a.v > 5 RETURN a, b"))
    assert got == {(1, 10)}


# --- aggregates over edge properties -----------------------------------------

def test_edge_prop_aggregates(weighted):
    got = rows(run_cypher(
        weighted,
        "MATCH (a:A)-[e:X]->(b:B) "
        "RETURN a, sum(e.weight) AS total, max(e.weight) AS mx, "
        "min(e.weight) AS mn, avg(e.weight) AS av",
    ))
    assert got == {(0, 6.0, 5.0, 1.0, 3.0), (1, 11.0, 9.0, 2.0, 5.5)}


def test_edge_prop_collect(weighted):
    got = {r.a: r.ws for r in run_cypher(
        weighted, "MATCH (a:A)-[e:X]->(b:B) RETURN a, collect(e.weight) AS ws"
    ).collect()}
    assert got == {0: [1.0, 5.0], 1: [2.0, 9.0]}


def test_edge_agg_global(weighted):
    got = run_cypher(
        weighted, "MATCH (a:A)-[e:X]->(b:B) RETURN sum(e.weight) AS total"
    ).collect()
    assert got[0].total == 17.0


def test_edge_agg_parse_errors():
    with pytest.raises(CypherParseError, match="unbound"):
        parse("MATCH (a:A)-[:X]->(b:B) RETURN sum(e.weight)")
    with pytest.raises(CypherParseError, match="needs a property"):
        parse("MATCH (a:A)-[e:X]->(b:B) RETURN sum(e)")
