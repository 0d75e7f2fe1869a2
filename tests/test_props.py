"""Property access in RETURN and sum/avg/min/max aggregates (extensions
beyond the reference surface — g4s is schemaless past labels, SURVEY §2.7;
result resolution to payloads follows Readme.md:66-70 semantics)."""

import pytest

from g4s_spark.cypher import CypherParseError, ReturnItem, parse
from g4s_spark.graph import PropertyGraph
from g4s_spark.plans import run_cypher
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def shop(spark):
    nodes = spark.createDataFrame(
        [
            (1, "Person", {"name": "ann", "age": "30"}),
            (2, "Person", {"name": "bob", "age": "40"}),
            (3, "Item", {"name": "hat", "price": "5.0"}),
            (4, "Item", {"name": "cap", "price": "7.0"}),
            (5, "Item", {"name": "hat", "price": "9.0"}),  # duplicate name
        ],
        schema="id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(1, 3, "BOUGHT"), (1, 4, "BOUGHT"), (2, 4, "BOUGHT"), (2, 5, "BOUGHT")],
        schema="src long, dst long, type string",
    )
    return PropertyGraph(nodes, edges).cache()


def rows(df):
    return {tuple(r) for r in df.collect()}


def test_parse_prop_return():
    qg = parse("MATCH (a:A)-[:X]->(b) RETURN a, b.name AS bn, b.price")
    assert qg.items[0] == ReturnItem("a", ("var", "a"))
    assert qg.items[1:] == [
        ReturnItem("bn", ("prop", "b", "name")), ReturnItem("b_price", ("prop", "b", "price"))
    ]


def test_parse_numeric_aggregates():
    qg = parse("MATCH (a)-[:X]->(b) RETURN a, sum(b.price) AS total, avg(b.price)")
    _, s, v = qg.items
    assert (s.agg, s.expr, s.alias) == ("sum", ("prop", "b", "price"), "total")
    assert (v.agg, v.expr, v.alias) == ("avg", ("prop", "b", "price"), "avg_b_price")
    with pytest.raises(CypherParseError):
        parse("MATCH (a)-[:X]->(b) RETURN sum(b)")  # sum needs a property
    # count(b.prop) counts non-NULL values (round-7, VERDICT r6 #8)
    qg2 = parse("MATCH (a)-[:X]->(b) RETURN count(b.price)")
    c = qg2.items[0]
    assert (c.agg, c.expr, c.alias) == ("count", ("prop", "b", "price"), "count_b_price")


def test_prop_return_values(shop):
    got = rows(run_cypher(shop, "MATCH (p:Person)-[:BOUGHT]->(i:Item) RETURN p.name, i.name"))
    assert got == {("ann", "hat"), ("ann", "cap"), ("bob", "cap"), ("bob", "hat")}


def test_prop_return_keeps_match_multiplicity(shop):
    # distinct is over match ids, not property values: items 3 and 5 are
    # both named "hat", so "hat" appears twice
    df = run_cypher(shop, "MATCH (p:Person)-[:BOUGHT]->(i:Item) RETURN i.name")
    vals = sorted(r[0] for r in df.collect())
    assert vals == ["cap", "hat", "hat"]


def test_sum_avg_min_max(shop):
    got = rows(
        run_cypher(
            shop,
            "MATCH (p:Person)-[:BOUGHT]->(i:Item) "
            "RETURN p.name AS who, sum(i.price) AS total, min(i.price) AS lo, "
            "max(i.price) AS hi, count(i) AS n",
        )
    )
    assert got == {("ann", 12.0, 5.0, 7.0, 2), ("bob", 16.0, 7.0, 9.0, 2)}


def test_global_aggregate(shop):
    [(total,)] = run_cypher(shop, "MATCH (p:Person)-[:BOUGHT]->(i) RETURN sum(i.price)").collect()
    assert total == 5.0 + 7.0 + 9.0  # distinct items, not per-buyer


def test_orderby_prop_alias(shop):
    df = run_cypher(
        shop,
        "MATCH (p:Person)-[:BOUGHT]->(i:Item) RETURN i.name AS n, count(p) AS buyers "
        "ORDER BY buyers DESC, n LIMIT 2",
    )
    assert [tuple(r) for r in df.collect()] == [("cap", 2), ("hat", 2)]


def test_collect_aggregate(shop):
    got = {r.a: r.items for r in run_cypher(
        shop, "MATCH (a:Person)-[:BOUGHT]->(b:Item) RETURN a, collect(b) AS items"
    ).collect()}
    assert got == {1: [3, 4], 2: [4, 5]}
    # collect over props: sorted DISTINCT values (2 buys the 'cap' and a
    # 'hat'; 1 buys 'hat' and 'cap')
    got2 = {r.a: r.names for r in run_cypher(
        shop, "MATCH (a:Person)-[:BOUGHT]->(b:Item) RETURN a, collect(b.name) AS names"
    ).collect()}
    assert got2 == {1: ["cap", "hat"], 2: ["cap", "hat"]}


def test_expr_return_values(shop):
    """Arithmetic over props: value = prop(double) op literal, per row."""
    got = rows(run_cypher(shop, "MATCH (p:Person) RETURN p.name AS n, p.age * 2 - 1 AS v"))
    assert got == {("ann", 59.0), ("bob", 79.0)}


def test_expr_aggregate_matches_manual(shop):
    """sum(expr) over the distinct match set == manually-computed sum."""
    got = rows(run_cypher(
        shop, "MATCH (p:Person)-[:BOUGHT]->(i:Item) "
              "RETURN p.name AS n, sum(i.price * 2) AS s"
    ))
    # ann: (5+7)*2 = 24; bob: (7+9)*2 = 32
    assert got == {("ann", 24.0), ("bob", 32.0)}


def test_expr_mixed_with_plain_aggregate(shop):
    got = rows(run_cypher(
        shop, "MATCH (p:Person)-[:BOUGHT]->(i:Item) "
              "RETURN p, count(i) AS n, avg(i.price - 1) AS a"
    ))
    assert got == {(1, 2, 5.0), (2, 2, 7.0)}


def test_case_expression_in_aggregate(shop):
    got = rows(run_cypher(
        shop, "MATCH (p:Person)-[:BOUGHT]->(i:Item) "
              "RETURN p, sum(CASE WHEN i.price > 6 THEN 1 ELSE 0 END) AS n_pricey"
    ))
    # ann bought 5.0/7.0 -> 1 pricey; bob bought 7.0/9.0 -> 2
    assert got == {(1, 1.0), (2, 2.0)}


def test_case_expression_string_condition(shop):
    got = rows(run_cypher(
        shop, "MATCH (i:Item) "
              "RETURN i, CASE WHEN i.name = 'hat' THEN 1 ELSE 0 END AS is_hat"
    ))
    assert got == {(3, 1.0), (4, 0.0), (5, 1.0)}


def test_case_without_else_yields_null(shop):
    vals = {r.i: r.v for r in run_cypher(
        shop, "MATCH (i:Item) RETURN i, CASE WHEN i.price > 6 THEN i.price END AS v"
    ).collect()}
    assert vals[3] is None and vals[4] == 7.0 and vals[5] == 9.0


def test_case_missing_end_rejected(shop):
    from g4s_spark.cypher import CypherParseError

    with pytest.raises(CypherParseError, match="END"):
        run_cypher(shop, "MATCH (i:Item) RETURN i, CASE WHEN i.price > 6 THEN 1 AS v")


def test_string_fn_returns(shop):
    got = rows(run_cypher(shop, "MATCH (p:Person) RETURN p, toUpper(p.name) AS u"))
    assert got == {(1, "ANN"), (2, "BOB")}
    got2 = rows(run_cypher(
        shop, "MATCH (p:Person)-[:BOUGHT]->(i:Item) "
              "RETURN toLower(i.name) AS n, count(p) AS c"
    ))
    # hat bought by ann(item3) and bob(item5): distinct matches -> 2; cap by ann+bob? cap(4): ann+bob -> 2
    assert got2 == {("hat", 2), ("cap", 2)}


def test_string_fn_unbound_rejected(shop):
    from g4s_spark.cypher import CypherParseError

    with pytest.raises(CypherParseError, match="unbound"):
        run_cypher(shop, "MATCH (p:Person) RETURN toLower(z.name) AS x")


def test_size_in_expressions(shop):
    got = rows(run_cypher(shop, "MATCH (p:Person) RETURN p, size(p.name) * 2 AS n2"))
    assert got == {(1, 6.0), (2, 6.0)}
    got2 = rows(run_cypher(
        shop, "MATCH (i:Item) WHERE size(i.name) + 0 > 2 RETURN i"
    ))
    assert got2 == {(3,), (4,), (5,)}
