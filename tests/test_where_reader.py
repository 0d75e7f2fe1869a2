"""The one WHERE reader (parser.read_conjunct): MATCH WHERE, WITH WHERE
and the leading-UNWIND lift read each top-level AND conjunct on the
statement lexer's tokens, and parse_expr reads the same tokens, so a
literal reads the same in every clause. Parse-level checks first, then
end-to-end ones over a three-node graph."""

import pytest

from g4s_spark.cypher import CypherParseError
from g4s_spark.cypher.parser import PropFilter, parse, parse_expr
from g4s_spark.graph import PropertyGraph
from g4s_spark.plans import run_cypher

FRAME = "MATCH (a:N) WHERE {} RETURN a"


@pytest.mark.parametrize("w, s", [
    ("(a.x = 1) OR (a.s = '-[')", "-["),  # an edge bracket inside a literal
    ("(a.x = 1) OR (a.s = 'x')", "x"),
    ("(a.x = 1) OR a.s = 'x'", "x"),
])
def test_parenthesized_disjuncts_read_as_an_or_group(w, s):
    qg = parse(FRAME.format(w))
    assert qg.or_filters == [(PropFilter("a", "x", "=", 1.0), PropFilter("a", "s", "=", s))]
    assert not (qg.filters or qg.pattern_filters or qg.expr_filters)


def test_spaced_property_reads_like_unspaced():
    want = ("op", "*", ("prop", "a", "x"), ("num", 2.0))
    assert parse_expr("a . x * 2") == parse_expr("a.x * 2") == want
    assert parse(FRAME.format("a . x * 2 > 3")).expr_filters == [(want, ">", ("num", 3.0))]
    qg = parse("MATCH (a:N) RETURN a . x * 2 AS y")
    assert qg.items == parse("MATCH (a:N) RETURN a.x * 2 AS y").items


def test_double_quoted_case_literal_parses_like_single_quoted():
    single = parse_expr("CASE WHEN a.s = 'x' THEN 1 ELSE 0 END")
    assert parse_expr('CASE WHEN a.s = "x" THEN 1 ELSE 0 END') == single
    assert single[1][0][2] == ("str", "x")


# n.x / n.s per N node
NODES = {1: ("0", "x"), 2: ("2", "y"), 3: ("3", "x")}


@pytest.fixture(scope="module")
def g(spark):
    nodes = spark.createDataFrame(
        [(i, "N", {"x": x, "s": s}) for i, (x, s) in NODES.items()],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [], "src long, dst long, type string, weight double, props map<string,string>"
    )
    return PropertyGraph(nodes, edges, spark).cache()


def ids(df, col="a"):
    return sorted(r[col] for r in df.collect())


CASE = "CASE WHEN a.s = {q}x{q} THEN 1 ELSE 0 END"
QUOTED = {
    "return": ("MATCH (a:N) RETURN a, " + CASE + " AS v", lambda df: sorted(map(tuple, df.collect()))),
    "match_where": ("MATCH (a:N) WHERE " + CASE + " = 1 RETURN a", ids),
    "with_where": (
        "MATCH (a:N) WITH a, a.s AS s WHERE " + CASE.replace("a.s", "s") + " = 1 RETURN a", ids,
    ),
}


@pytest.mark.parametrize("form", QUOTED)
def test_double_quoted_case_literal_reads_like_single_quoted(g, form):
    query, read = QUOTED[form]
    single = read(run_cypher(g, query.format(q="'")))
    assert read(run_cypher(g, query.format(q='"'))) == single
    assert single in ([(1, 1.0), (2, 0.0), (3, 1.0)], [1, 3])


WITH = "MATCH (a:N) WITH a, a.x AS x WHERE {} RETURN a"


def test_with_where_strips_wrapping_parens(g):
    assert ids(run_cypher(g, WITH.format("(x > 1)"))) == ids(run_cypher(g, WITH.format("x > 1"))) == [2, 3]
    assert ids(run_cypher(g, WITH.format("(x > 1) AND x < 3"))) == [2]


@pytest.mark.parametrize("w", ["x > 2 OR x < 1", "(x > 2 OR x < 1)", "NOT x > 1"])
def test_with_where_or_and_not_are_named(g, w):
    with pytest.raises(CypherParseError, match="WITH WHERE supports neither OR nor NOT"):
        run_cypher(g, WITH.format(w))


def test_unwind_lift_strips_wrapping_parens(g):
    """The leading-UNWIND lift reads a conjunct with the same reader, so
    a parenthesized `k <op> literal` moves onto the generator too."""
    q = "UNWIND [1, 2, 3] AS k MATCH (a:N) WHERE {} RETURN k, a"
    got = sorted(map(tuple, run_cypher(g, q.format("(k > 2)")).collect()))
    assert got == sorted(map(tuple, run_cypher(g, q.format("k > 2")).collect()))
    assert got == [(3, 1), (3, 2), (3, 3)]
