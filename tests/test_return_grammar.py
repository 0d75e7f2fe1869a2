"""Parse-level pins for the token-span RETURN/WITH item grammar
(the token shapes of _ret_item_shape, appended to QueryGraph.items as
one ReturnItem per item by _apply_ret_item). Driver-only — no SparkSession;
execution-level RETURN coverage lives in test_cypher / test_with /
test_relational.

Characterization corpus: scripts/return_corpus.py (252 rows; the
whitespace liberalization over the retired regexes is pinned below).
"""

from __future__ import annotations

import pytest

from g4s_spark.cypher import CypherParseError, ReturnItem, parse

FRAME = "MATCH (a:Person)-[e:KNOWS]->(b:Person) RETURN {item}"
PATH_FRAME = "MATCH p = (a:Person)-[:KNOWS*1..2]->(b:Person) RETURN {item}"


def _g(item: str, frame: str = FRAME):
    return parse(frame.format(item=item))


def test_bare_star_and_rename():
    assert _g("a, b").items == [ReturnItem("a", ("var", "a")), ReturnItem("b", ("var", "b"))]
    assert _g("*").items == [ReturnItem("a", ("var", "a")), ReturnItem("b", ("var", "b"))]
    assert _g("a AS x").items == [ReturnItem("x", ("id", "a"))]
    with pytest.raises(CypherParseError, match="unbound variable: 'e'"):
        _g("e")
    with pytest.raises(CypherParseError, match="unsupported return item"):
        _g("z AS x")


def test_prop_returns_node_and_edge():
    g = _g("a.name, e.weight AS w")
    assert g.items[0] == ReturnItem("a_name", ("prop", "a", "name"))
    assert g.items[1] == ReturnItem("w", ("eprop", "e", "weight"))


def test_count_star_and_aggregates():
    assert _g("count(*)").items[0] == ReturnItem("count_star", None, "count")
    assert _g("COUNT( * ) AS n").items[0] == ReturnItem("n", None, "count")
    a = _g("count(DISTINCT a.name) AS dn").items[0]
    assert (a.agg, a.expr, a.distinct, a.alias) == (
        "count", ("prop", "a", "name"), True, "dn",
    )
    a = _g("stDevP(a.age)").items[0]
    assert (a.agg, a.alias) == ("stdevp", "stdevp_a_age")
    # whitespace liberalization vs the retired regexes (round-16):
    a = _g("sum ( a . age )").items[0]
    assert (a.agg, a.expr) == ("sum", ("prop", "a", "age"))


def test_edge_property_aggregates():
    a = _g("sum(e.weight)").items[0]
    assert a.expr == ("eprop", "e", "weight") and a.alias == "sum_e_weight"
    with pytest.raises(CypherParseError, match="DISTINCT edge-property"):
        _g("sum(DISTINCT e.weight)")
    with pytest.raises(CypherParseError, match="count\\(\\) of unbound variable: 'e'"):
        _g("count(e)")
    with pytest.raises(CypherParseError, match="needs a property"):
        _g("sum(a)")


def test_percentiles():
    a = _g("percentileDisc(a.age, .9) AS p").items[0]
    assert (a.agg, a.param, a.alias) == ("percentiledisc", 0.9, "p")
    assert _g("percentileCont(a.age, 1)").items[0].param == 1.0
    # out-of-range quantile is no shape -> the canonical error
    with pytest.raises(CypherParseError, match="unsupported return item"):
        _g("percentileCont(a.age, 1.5)")


def test_coalesce():
    assert _g("coalesce(a.name, 'x')").items == [
        ReturnItem("coalesce_a_name", ("coalesce", ("prop", "a", "name"), "x"))
    ]
    # numeric defaults keep their source text (props are strings)
    assert _g("coalesce(a.age, -1.5)").items[0].expr[2] == "-1.5"
    # a comma inside the literal is data
    assert _g("coalesce(a.name, 'a, b')").items[0].expr[2] == "a, b"


def test_scalar_string_fns():
    assert _g("toLower(a.name)").items == [
        ReturnItem("tolower_a_name", ("sfn", "tolower", ("prop", "a", "name")))
    ]
    assert _g("substring(a.name, 1, 2)").items[0].expr[1] == (
        "substring\x1f1\x1f2"
    )
    with pytest.raises(CypherParseError, match="needs a start index"):
        _g("substring(a.name)")
    with pytest.raises(CypherParseError, match="takes exactly"):
        _g("left(a.name)")


def test_replace():
    assert _g("replace(a.name, 'x', 'y') AS r").items == [
        ReturnItem("r", ("sfn", "replace\x1fx\x1fy", ("prop", "a", "name")))
    ]
    assert _g("replace(a.name, 'a,b', 'c')").items[0].expr[1] == (
        "replace\x1fa,b\x1fc"
    )
    with pytest.raises(CypherParseError, match="unsupported return item"):
        _g("replace(a.name, 1, 2)")


def test_concat():
    g = _g("'<' + a.name + '>' AS x")
    assert g.items == [
        ReturnItem("x", ("concat", (("str", "<"), ("prop", "a", "name"), ("str", ">"))))
    ]
    # AS and '+' inside the literal are data
    assert _g("'a AS b' + a.name AS x").items[0].expr[1][0] == ("str", "a AS b")
    assert _g("a.name + '+' AS x").items[0].expr[1][1] == ("str", "+")
    with pytest.raises(CypherParseError, match="needs an AS alias"):
        _g("a.name + '!'")
    with pytest.raises(CypherParseError, match="concat of unbound or non-node"):
        _g("e.weight + 'x' AS x")
    with pytest.raises(CypherParseError, match="takes b.prop and quoted"):
        _g("count(a) + 'x' AS x")


def test_introspection():
    assert _g("id(a) AS i").items == [ReturnItem("i", ("id", "a"))]
    assert _g("labels(a)").items == [ReturnItem("labels_a", ("labels", "a"))]
    assert _g("type(e)").items == [ReturnItem("type_e", ("eprop", "e", "type"))]
    assert _g("keys(a)").items == [ReturnItem("keys_a", ("keys", "a"))]
    assert _g("properties(a) AS ps").items == [ReturnItem("ps", ("properties", "a"))]
    with pytest.raises(CypherParseError, match="type\\(\\) of non-edge"):
        _g("type(a)")
    with pytest.raises(CypherParseError, match="id\\(\\) of unbound or non-node"):
        _g("id(e)")


def test_path_length():
    assert _g("length(p) AS l", PATH_FRAME).items == [ReturnItem("l", ("length", "p"))]
    with pytest.raises(CypherParseError, match="length\\(\\) of unknown path"):
        _g("length(q)", PATH_FRAME)
    with pytest.raises(CypherParseError, match="cannot return path"):
        _g("p", PATH_FRAME)


def test_expression_items():
    it = _g("sum(a.age * 2) AS x").items[0]
    assert it.agg == "sum" and it.alias == "x"
    it = _g("abs(a.age) AS x").items[0]
    assert it.expr[0] == "fn1"
    with pytest.raises(CypherParseError, match="needs an AS alias"):
        _g("a.age + 1")
    with pytest.raises(CypherParseError, match="unbound or non-node"):
        _g("e.weight + 1 AS x")
    # no property leaf and no expr-shape trigger -> canonical error
    with pytest.raises(CypherParseError, match="unsupported return item"):
        _g("1 + 2 AS x")


@pytest.mark.parametrize(
    "item",
    [
        "a.name.x", "foo(a)", "a..name", "$p", "'lit'", "'lit' AS x",
        "3", "3 AS x", "a.name AS 'x'", "count(a.name, 1)", "a AS",
        "AS x", "count(DISTINCT(a))",
    ],
)
def test_junk_items_raise_unsupported(item):
    with pytest.raises(CypherParseError, match="unsupported return item"):
        _g(item)


def test_empty_return():
    with pytest.raises(CypherParseError, match="empty RETURN"):
        parse("MATCH (a:Person) RETURN ")
