"""The statement tree (cypher/parser.parse_statement): one token pass
cuts a read or write statement into UNION parts and clause nodes, and
every reader takes its clause and item spans from the tree. Pure-Python
tree checks first (reads, then the write nodes), then end-to-end item
lists whose string literals hold commas, RETURN DISTINCT and a MERGE
whose ON MATCH literal holds a clause keyword."""

import pytest

from g4s_spark.cypher.parser import (
    Create,
    CypherParseError,
    Delete,
    Match,
    Merge,
    PropFilter,
    Remove,
    ReturnItem,
    SetClause,
    SetItem,
    Unwind,
    WriteEdge,
    WriteNode,
    parse,
    parse_statement,
    split_with,
)
from g4s_spark.graph import PropertyGraph
from g4s_spark.plans import run_cypher, run_cypher_merge


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
    assert m == Match(False, "(a:A)-[:X]->(b)", ("b.s = 'x, WITH y'",))
    assert (w.kind, w.distinct, w.items, w.where, w.order_by, w.limit) == (
        "WITH", True, ("a", "count(b) AS n"), ("n > 1",), ("n DESC",), 3
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
    assert qg.distinct and qg.items == [ReturnItem("s", ("prop", "a", "s"))]
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


def _lit(b, p, v, text):
    return SetItem(b, p, value=("lit", v), text=text)


def _lbl(b, label, text):
    return SetItem(b, label=label, text=text)


# each write form and the tree it parses to: (text, MATCH patterns,
# write node). Commas, verbs and ON ... SET inside string literals, and
# keywords in label, property or alias position, never cut a clause.
WRITE_TREES = [
    ("MATCH (a:A) WHERE a.k = 'x, SET y' SET a.s = 'p, DELETE q', a.n = -2.5, a.v = a.n * 2",
     ["(a:A)"],
     SetClause((
         _lit("a", "s", "p, DELETE q", "a.s = 'p, DELETE q'"),
         _lit("a", "n", "-2.5", "a.n = -2.5"),
         SetItem("a", "v", value=("expr", ("op", "*", ("prop", "a", "n"), ("num", 2.0))),
                 text="a.v = a.n * 2"),
     ))),
    ("MATCH (a:Set)-[e:CREATE]->(b:Merge) SET a:VIP, e.weight = 3",
     ["(a:Set)-[e:CREATE]->(b:Merge)"],
     SetClause((_lbl("a", "VIP", "a:VIP"), _lit("e", "weight", "3", "e.weight = 3")))),
    ("MATCH (a:A) OPTIONAL MATCH (a)-->(b) REMOVE a.delete, b:Remove",
     ["(a:A)", "(a)-->(b)"],
     Remove((SetItem("a", "delete", text="a.delete"), _lbl("b", "Remove", "b:Remove")))),
    ("MATCH (a)-[e:E]->(b) WHERE b.on = 'ON MATCH SET' DELETE e, b",
     ["(a)-[e:E]->(b)"], Delete(("e", "b"))),
    ("MATCH (a:A) DETACH DELETE a", ["(a:A)"], Delete(("a",), detach=True)),
    ("CREATE (x:C {name: 'c, CREATE (y)', rank: 3}), (:C {b: 1.5})",
     [],
     Create(nodes=(
         WriteNode("x", "C", (("name", "c, CREATE (y)"), ("rank", "3")), (
             PropFilter("x", "name", "=", "c, CREATE (y)"),
             PropFilter("x", "rank", "=", 3.0),
         )),
         WriteNode(None, "C", (("b", "1.5"),), (PropFilter("_anon1", "b", "=", 1.5),)),
     ))),
    ("MATCH (a:A), (c:C) CREATE (a)-[:LINKS {weight: 2.5}]->(c)",
     ["(a:A), (c:C)"],
     Create(edge=WriteEdge("a", "c", "LINKS", None, (("weight", "2.5"),)))),
    ("MERGE (n:A {k: 'v, w'}) ON CREATE SET n.x = 1 ON MATCH SET n.note = 'a ON CREATE SET b'",
     [],
     Merge(
         node=WriteNode("n", "A", (("k", "v, w"),), (PropFilter("n", "k", "=", "v, w"),)),
         on_create=(_lit("n", "x", "1", "n.x = 1"),),
         on_match=(_lit("n", "note", "a ON CREATE SET b", "n.note = 'a ON CREATE SET b'"),),
     )),
    ("MATCH (a:A), (b:B) MERGE (a)-[r:T]->(b) "
     "ON MATCH SET r.weight = r.weight + 1 ON CREATE SET r.weight = 2",
     ["(a:A), (b:B)"],
     Merge(
         edge=WriteEdge("a", "b", "T", "r"),
         on_create=(_lit("r", "weight", "2", "r.weight = 2"),),
         on_match=(SetItem("r", "weight", value=(
             "expr", ("op", "+", ("prop", "r", "weight"), ("num", 1.0))
         ), text="r.weight = r.weight + 1"),),
     )),
]


@pytest.mark.parametrize("text, patterns, node", WRITE_TREES)
def test_write_statement_tree(text, patterns, node):
    stmt = parse_statement(text)
    *matches, w = stmt.parts[0]
    assert len(stmt.parts) == 1 and stmt.write is w == node
    assert [m.pattern for m in matches] == patterns
    assert stmt.single_stage() is None


def test_keywords_in_read_aliases_and_literals_stay_items():
    ret = parse_statement(
        "MATCH (a:Create) WHERE a.set = 'MERGE (x)' "
        "RETURN a.remove AS delete, count(a) AS merge, 'ON MATCH SET x' AS s"
    ).parts[0][-1]
    assert ret.items == ("a.remove AS delete", "count(a) AS merge", "'ON MATCH SET x' AS s")


@pytest.mark.parametrize("text, msg", [
    ("MATCH (a) SET a.x = 1 REMOVE a.y", "one write clause per statement"),
    ("MATCH (a) DETACH DELETE a SET a.x = 1", "one write clause per statement"),
    ("MERGE (n:A) MERGE (m:B)", "one write clause per statement"),
    ("MATCH (a) SET a.x = 1 RETURN a", "RETURN cannot follow a write clause"),
    ("MATCH (a) RETURN a SET a.x = 1", "misplaced or duplicate SET"),
    ("MATCH (a) SET", "SET statement must be"),
    ("MATCH (a) REMOVE", "REMOVE statement must be"),
    ("MATCH (a) DELETE", "DELETE statement must be"),
    ("MATCH (a) DELETE a,", "DELETE statement must be"),
    ("SET a.x = 1", "SET statement must be"),
    ("MATCH (a) SET a.x", "unsupported SET item"),
    ("MATCH (a) REMOVE a.x = 1", "unsupported REMOVE item"),
    ("MATCH (a) SET a.x = b.y + 1", "only reference the binding being set"),
    ("CREATE (a:A:B)", "unsupported CREATE node pattern"),
    ("MATCH (a), (b) CREATE (a)-[r:T]->(b)", "unsupported CREATE edge pattern"),
    ("MATCH (a), (b) CREATE (a:L)-[:T]->(b)", "unsupported CREATE edge pattern"),
    ("MATCH (a), (b) MERGE (a)<-[:T]-(b)", "unsupported MERGE edge pattern"),
    ("MERGE (:A {k: 1})", "unsupported MERGE node pattern"),
    ("MERGE nonsense", "MERGE statement must be"),
    ("MERGE (n:A) ON MATCH SET n.x = 1 ON MATCH SET n.y = 2", "duplicate ON MATCH SET"),
    ("MATCH (a) SET a.x = 1 ON CREATE SET a.y = 2", "must follow a MERGE"),
    ("MATCH (a) MATCH (b) SET b.x = 1", "consecutive MATCH"),
    ("MATCH (a) WITH a SET a.x = 1", "SET statement must be"),
    ("MATCH (a) SET a.x = 1 UNION MATCH (a) RETURN a", "UNION of a write statement"),
])
def test_write_grammar_errors(text, msg):
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


def test_merge_on_match_literal_holding_clause_keywords(spark):
    """The ON MATCH SET literal is one token, so its ``ON CREATE SET``
    cuts no clause; map literals store their text (numbers as
    written)."""
    g = PropertyGraph(
        spark.createDataFrame(
            [(0, "A", {"k": "v"})], "id long, label string, props map<string,string>"
        ),
        spark.createDataFrame([], "src long, dst long, type string"),
        spark,
    )
    g2 = run_cypher_merge(
        g, "MERGE (n:A {k: 'v'}) ON MATCH SET n.note = 'a ON CREATE SET b'"
    )
    assert dict(g2.nodes.collect()[0].props) == {"k": "v", "note": "a ON CREATE SET b"}
    g3 = run_cypher_merge(
        g, "MERGE (n:A {k: 'w', r: 3, b: 1.5}) ON CREATE SET n.c = -2 ON MATCH SET n.c = 0"
    )
    got = {r.id: dict(r.props) for r in g3.nodes.collect()}
    assert got[1] == {"k": "w", "r": "3", "b": "1.5", "c": "-2"}
