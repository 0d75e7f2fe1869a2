"""The statement tree (cypher/parser.parse_statement): one token pass
cuts a read statement into UNION parts and clause nodes, and every
reader takes its clause and item spans from the tree. Pure-Python tree
checks first, then end-to-end item lists whose string literals hold
commas, and RETURN DISTINCT."""

import pytest

from g4s_spark.cypher.parser import (
    CypherParseError,
    Match,
    Unwind,
    parse,
    parse_statement,
    split_with,
)
from g4s_spark.graph import PropertyGraph
from g4s_spark.plans import run_cypher


def test_tree_shape():
    stmt = parse_statement(
        "MATCH (a:A)-[:X]->(b) WHERE b.s = 'x, WITH y' "
        "WITH DISTINCT a, count(b) AS n WHERE n > 1 ORDER BY n DESC LIMIT 3 "
        "UNWIND range(1, 5, 2) AS k OPTIONAL MATCH (a)-->(c) "
        "RETURN a, k, c ORDER BY a SKIP 1 "
        "UNION ALL MATCH (a:A) RETURN a, 1 AS k, a AS c"
    )
    assert stmt.union_all and len(stmt.parts) == 2
    m, w, u, om, r = stmt.parts[0]
    assert m == Match(False, "(a:A)-[:X]->(b)", "b.s = 'x, WITH y'")
    assert (w.kind, w.distinct, w.items, w.where, w.order_by, w.limit) == (
        "WITH", True, ("a", "count(b) AS n"), "n > 1", ("n DESC",), 3
    )
    assert (u.alias, u.bounds) == ("k", (1, 6, 2))
    assert om == Match(True, "(a)-->(c)")
    assert (r.kind, r.items, r.order_by, r.skip, r.limit) == (
        "RETURN", ("a", "k", "c"), ("a",), 1, None
    )
    assert stmt.single_stage() is None
    matches, ret = parse_statement("MATCH (a) RETURN a").single_stage()
    assert matches == [Match(False, "(a)")] and ret.items == ("a",)


def test_items_split_on_tokens():
    r = parse_statement(
        "MATCH (a) RETURN coalesce(a.s, 'x,y') AS s, a.p + ', ' + a.q AS t, a"
    ).parts[0][-1]
    assert r.items == ("coalesce(a.s, 'x,y') AS s", "a.p + ', ' + a.q AS t", "a")
    u = parse_statement("UNWIND ['a,b', 'c'] AS x RETURN x").parts[0][0]
    assert u == Unwind("x", "['a,b', 'c']", values=("a,b", "c"))


def test_views_keep_their_contracts():
    assert split_with("MATCH (a) RETURN a") is None
    assert split_with("MATCH (a) WITH a MATCH (a)-->(b) WITH b RETURN b") == [
        "MATCH (a)", "a MATCH (a)-->(b)", "b RETURN b"
    ]
    qg = parse("MATCH (a:A) RETURN DISTINCT a.s AS s")
    assert qg.distinct and qg.prop_returns == [("a", "s", "s")]
    assert not parse("MATCH (a:A) RETURN a.s AS s").distinct


@pytest.mark.parametrize("text, msg", [
    ("MATCH (a) RETURN a UNION ALL", "dangling UNION"),
    ("MATCH (a) WITH RETURN a", "dangling WITH"),
    ("MATCH (a) RETURN a WHERE a.x = 1", "misplaced or duplicate WHERE"),
    ("MATCH (a) WITH a LIMIT 1 WHERE a.x = 1 RETURN a", "misplaced or duplicate WHERE"),
    ("MATCH (a) MATCH (b) RETURN a", "consecutive MATCH"),
    ("MATCH (a) UNWIND [1] AS k RETURN a, k", "follow a WITH"),
    ("UNWIND xs AS x MATCH (a) RETURN a, x", "preceding WITH"),
    ("UNWIND [1, [2]] AS x RETURN x", "UNWIND list item"),
    ("OPTIONAL MATCH (a) RETURN a", "expected MATCH"),
    ("MATCH (a) WITH a", "expected MATCH"),
])
def test_grammar_errors(text, msg):
    with pytest.raises(CypherParseError, match=msg):
        parse_statement(text)


@pytest.fixture(scope="module")
def g(spark):
    nodes = spark.createDataFrame(
        [(i, "C", {"s": "a,b" if i % 2 else "x"}) for i in range(6)],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame([(0, 1, "E", 1.0)], "src long, dst long, type string, weight double")
    return PropertyGraph(nodes, edges, spark)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


ODD_T = [(i, 1.0 if i % 2 else 0.0) for i in range(6)]


def test_final_return_after_with_item_with_comma_literal(g):
    got = _rows(run_cypher(
        g, "MATCH (a:C) WITH a, a.s AS s "
           "RETURN a, CASE WHEN s = 'a,b' THEN 1 ELSE 0 END AS t",
    ))
    assert got == ODD_T


def test_order_by_after_with_item_with_comma_literal(g):
    # a pipeline's ORDER BY reads the projection's output columns
    got = [r.a for r in run_cypher(
        g, "MATCH (a:C) WITH a, a.s AS s RETURN a, s "
           "ORDER BY CASE WHEN s = 'a,b' THEN 1 ELSE 0 END DESC, a",
    ).collect()]
    assert got == [1, 3, 5, 0, 2, 4]


def test_unwind_item_with_comma_literal_matches_single_stage(g):
    case = "CASE WHEN a.s = 'a,b' THEN 1 ELSE 0 END AS t"
    single = _rows(run_cypher(g, f"MATCH (a:C) RETURN a, {case}"))
    assert single == ODD_T
    got = _rows(run_cypher(g, f"UNWIND [1, 2] AS k MATCH (a:C) RETURN k, a, {case}"))
    assert got == sorted((k, a, t) for k in (1, 2) for a, t in single)


def test_return_distinct_dedupes_values(g):
    assert _rows(run_cypher(g, "MATCH (a:C) RETURN DISTINCT a.s AS s")) == [("a,b",), ("x",)]
    assert _rows(run_cypher(g, "MATCH (a:C) WITH a, a.s AS s RETURN DISTINCT s")) == [
        ("a,b",), ("x",)
    ]
    assert _rows(run_cypher(g, "UNWIND [1, 1] AS k RETURN DISTINCT k")) == [(1,)]
    # without DISTINCT the match set, not the value set, is what's distinct
    assert len(run_cypher(g, "MATCH (a:C) RETURN a.s AS s").collect()) == 6
    assert len(run_cypher(g, "MATCH (a:C) WITH a, a.s AS s RETURN s").collect()) == 6


def _ordered(df):
    return [tuple(r) for r in df.collect()]


def test_unwind_return_distinct_dedupes_before_order_and_limit(g):
    assert _ordered(run_cypher(g, "UNWIND [1, 1, 2] AS k RETURN DISTINCT k ORDER BY k LIMIT 2")) == [
        (1,), (2,)
    ]
    assert _ordered(run_cypher(g, "UNWIND [3, 1, 3, 2] AS k RETURN DISTINCT k ORDER BY k")) == [
        (1,), (2,), (3,)
    ]
    got = _ordered(run_cypher(
        g, "UNWIND [2, 1, 2] AS k MATCH (a:C) WHERE a.s = 'x' "
           "RETURN DISTINCT k, a ORDER BY k DESC, a LIMIT 4",
    ))
    assert got == [(2, 0), (2, 2), (2, 4), (1, 0)]


def test_unwind_order_skip_limit_cut_the_joined_rows(g):
    assert len(run_cypher(g, "UNWIND [1, 2] AS k MATCH (a:C) RETURN k, a LIMIT 3").collect()) == 3
    got = _ordered(run_cypher(
        g, "UNWIND [1, 2] AS k MATCH (a:C) RETURN k, a ORDER BY a, k SKIP 1 LIMIT 2"
    ))
    assert got == [(2, 0), (1, 1)]
    # a property ORDER BY is no output column: it sorts the match rows
    # (numeric-first, then the raw string) before the join
    got = _ordered(run_cypher(g, "UNWIND [7] AS k MATCH (a:C) RETURN k, a ORDER BY a.s, a"))
    assert got == [(7, 1), (7, 3), (7, 5), (7, 0), (7, 2), (7, 4)]
