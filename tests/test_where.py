"""WHERE prop-predicate extension: planner pushes predicates into the
node-set scans (semi-join side), verified end-to-end on a small
props-carrying graph."""

import pytest
from pyspark.sql import functions as F

from g4s_spark.graph import PropertyGraph
from g4s_spark.plans import run_cypher


@pytest.fixture(scope="module")
def props_graph(spark):
    nodes = spark.createDataFrame(
        [
            (0, "Person", {"age": "35.0", "city": "berlin"}),
            (1, "Person", {"age": "17.0", "city": "paris"}),
            (2, "Person", {"age": "50.0", "city": "berlin"}),
            (3, "Item", {"price": "9.5"}),
            (4, "Item", {"price": "120.0"}),
        ],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(0, 3, "BOUGHT"), (1, 3, "BOUGHT"), (2, 4, "BOUGHT")],
        "src long, dst long, type string",
    )
    return PropertyGraph(nodes, edges, spark).cache()


def rows(df):
    return {tuple(r) for r in df.collect()}


def test_numeric_predicate(props_graph):
    got = rows(run_cypher(props_graph, "MATCH (p:Person)-[:BOUGHT]->(i:Item) WHERE p.age >= 18 RETURN p"))
    assert got == {(0,), (2,)}


def test_string_and_conjunction(props_graph):
    got = rows(run_cypher(
        props_graph,
        "MATCH (p:Person)-[:BOUGHT]->(i:Item) "
        "WHERE p.city = 'berlin' AND i.price < 100 RETURN p, i",
    ))
    assert got == {(0, 3)}


def test_not_equal(props_graph):
    got = rows(run_cypher(props_graph, "MATCH (p:Person) WHERE p.city <> 'berlin' RETURN p"))
    assert got == {(1,)}


def test_where_without_props_column_raises(spark):
    g = PropertyGraph.from_tuples(spark, [(0, "A")], [])
    with pytest.raises(ValueError, match="props"):
        run_cypher(g, "MATCH (a:A) WHERE a.x = 1 RETURN a").collect()


def test_count_orderby_limit_e2e(props_graph):
    got = run_cypher(
        props_graph,
        "MATCH (p:Person)-[:BOUGHT]->(i:Item) RETURN i, count(p) AS n ORDER BY n DESC, i LIMIT 1",
    ).collect()
    assert [(r.i, r.n) for r in got] == [(3, 2)]  # item 3 bought by 2 people


def test_global_count(props_graph):
    got = run_cypher(props_graph, "MATCH (p:Person)-[:BOUGHT]->(i:Item) RETURN count(p)").collect()
    assert got[0].count_p == 3  # distinct buyers... (0,1,2 each bought)


def test_missing_prop_filters_out(props_graph):
    # Items have no 'age' -> NULL comparison -> filtered (SQL semantics)
    got = rows(run_cypher(props_graph, "MATCH (i:Item) WHERE i.age > 0 RETURN i"))
    assert got == set()

# --- WHERE disjunctions (OR) ------------------------------------------------

def test_same_binding_or_pushed_to_scan(props_graph):
    got = rows(run_cypher(
        props_graph,
        "MATCH (p:Person)-[:BOUGHT]->(i:Item) "
        "WHERE p.age >= 40 OR p.city = 'paris' RETURN p",
    ))
    assert got == {(1,), (2,)}


def test_cross_binding_or_after_join(props_graph):
    got = rows(run_cypher(
        props_graph,
        "MATCH (p:Person)-[:BOUGHT]->(i:Item) "
        "WHERE p.age >= 40 OR i.price < 10 RETURN p, i",
    ))
    assert got == {(0, 3), (1, 3), (2, 4)}


def test_and_of_parenthesized_or(props_graph):
    got = rows(run_cypher(
        props_graph,
        "MATCH (p:Person)-[:BOUGHT]->(i:Item) "
        "WHERE p.age >= 18 AND (p.city = 'paris' OR i.price > 100) RETURN p",
    ))
    assert got == {(2,)}


def test_unparenthesized_and_or_rejected(props_graph):
    from g4s_spark.cypher import CypherParseError

    with pytest.raises(CypherParseError, match="parenthesize"):
        run_cypher(
            props_graph,
            "MATCH (p:Person) WHERE p.age >= 18 AND p.city = 'paris' OR p.city = 'berlin' RETURN p",
        )


def test_cross_binding_or_in_optional_rejected(props_graph):
    from g4s_spark.cypher import CypherParseError

    with pytest.raises(CypherParseError, match="cross-binding OR"):
        run_cypher(
            props_graph,
            "MATCH (p:Person) OPTIONAL MATCH (p)-[:BOUGHT]->(i:Item) "
            "WHERE p.age >= 40 OR i.price < 10 RETURN p, i",
        )


def test_multilabel_intersection(spark):
    nodes = spark.createDataFrame(
        [(0, "Person"), (0, "Admin"), (1, "Person"), (2, "Admin"), (3, "Thing")],
        "id long, label string",
    )
    edges = spark.createDataFrame(
        [(0, 3, "OWNS"), (1, 3, "OWNS"), (2, 3, "OWNS")],
        "src long, dst long, type string",
    )
    g = PropertyGraph(nodes, edges, spark)
    got = rows(run_cypher(g, "MATCH (p:Person:Admin)-[:OWNS]->(t:Thing) RETURN p"))
    assert got == {(0,)}  # only node 0 carries both labels
    # single-label still matches the union of rows
    got = rows(run_cypher(g, "MATCH (p:Person)-[:OWNS]->(t:Thing) RETURN p"))
    assert got == {(0,), (1,)}


def test_features_compose(spark):
    # multi-label + same-binding OR + path length in one query
    nodes = spark.createDataFrame(
        [(0, "Person", {"age": "30.0"}), (0, "Admin", {"age": "30.0"}),
         (1, "Person", {"age": "55.0"}), (2, "Thing", {}), (3, "Thing", {})],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(0, 2, "OWNS"), (2, 3, "OWNS"), (1, 2, "OWNS")],
        "src long, dst long, type string",
    )
    g = PropertyGraph(nodes, edges, spark)
    got = rows(run_cypher(
        g,
        "MATCH p = (u:Person:Admin)-[:OWNS*]->(t:Thing) "
        "WHERE u.age >= 50 OR u.age <= 40 "
        "RETURN u, t, length(p) AS d",
    ))
    assert got == {(0, 2, 1), (0, 3, 2)}  # only node 0 is Person+Admin


# --- pattern predicates (WHERE [NOT] pattern) --------------------------------

def test_pattern_predicate_exists_and_not(spark):
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher

    g = PropertyGraph.from_tuples(
        spark,
        nodes=[(0, "A"), (1, "B"), (2, "B"), (3, "C")],
        edges=[(0, 1, "X"), (0, 2, "X"), (1, 3, "Y")],
    ).cache()
    r = lambda q: sorted(tuple(x) for x in run_cypher(g, q).collect())
    # b=1 has Y -> C; b=2 does not
    assert r("MATCH (a:A)-[:X]->(b:B) WHERE (b)-[:Y]->(:C) RETURN b") == [(1,)]
    assert r("MATCH (a:A)-[:X]->(b:B) WHERE NOT (b)-[:Y]->(:C) RETURN b") == [(2,)]
    # sink check: nodes 2 (B, no outgoing) and 3 (C) have no out-edges
    assert r("MATCH (n) WHERE NOT (n)-[]->() RETURN n") == [(2,), (3,)]
    # var-length probe: nodes that reach nothing transitively
    assert r("MATCH (n:C) WHERE NOT (n)-[*]->() RETURN n") == [(3,)]
    g.nodes.unpersist()


def test_pattern_predicate_parse_errors(spark):
    from g4s_spark.cypher import CypherParseError, parse

    with pytest.raises(CypherParseError, match="bound binding"):
        parse("MATCH (a:A) WHERE (x)-[:Y]->(z) RETURN a")
    with pytest.raises(CypherParseError, match="OPTIONAL MATCH WHERE"):
        parse(
            "MATCH (a:A) OPTIONAL MATCH (a)-[:X]->(b:B) "
            "WHERE (b)-[:Y]->(:C) RETURN a, b"
        )


# --- IN lists and string predicates ------------------------------------------

def test_where_in_and_string_predicates(spark):
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher

    nodes = spark.createDataFrame(
        [
            (1, "P", {"name": "alpha", "city": "rome"}),
            (2, "P", {"name": "beta", "city": "oslo"}),
            (3, "P", {"name": "gamma", "city": "romea"}),
            (4, "Q", {"name": "x"}),
        ],
        schema="id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(1, 4, "E"), (2, 4, "E"), (3, 4, "E")],
        schema="src long, dst long, type string",
    )
    g = PropertyGraph(nodes, edges)
    r = lambda q: sorted(tuple(x) for x in run_cypher(g, q).collect())
    assert r("MATCH (p:P)-[:E]->(q:Q) WHERE p.name IN ['alpha', 'gamma'] RETURN p") == [(1,), (3,)]
    assert r("MATCH (p:P)-[:E]->(q:Q) WHERE p.city STARTS WITH 'rom' RETURN p") == [(1,), (3,)]
    assert r("MATCH (p:P)-[:E]->(q:Q) WHERE p.city ENDS WITH 'me' RETURN p") == [(1,)]
    assert r("MATCH (p:P)-[:E]->(q:Q) WHERE p.name CONTAINS 'mm' RETURN p") == [(3,)]
    # IN inside a conjunction lands as a pushed OR-group
    assert r(
        "MATCH (p:P)-[:E]->(q:Q) WHERE p.city STARTS WITH 'rom' "
        "AND p.name IN ['gamma', 'beta'] RETURN p"
    ) == [(3,)]


def test_where_in_parse_errors():
    from g4s_spark.cypher import CypherParseError, parse

    with pytest.raises(CypherParseError, match="empty IN list"):
        parse("MATCH (a:A) WHERE a.x IN [] RETURN a")
    with pytest.raises(CypherParseError, match="IN list item"):
        parse("MATCH (a:A) WHERE a.x IN [foo] RETURN a")


def test_expr_where_single_binding(props_graph):
    got = rows(run_cypher(
        props_graph, "MATCH (p:Person)-[:BOUGHT]->(i:Item) "
                     "WHERE i.price * 2 > 20 RETURN p, i"
    ))
    # prices: 3->9.5 (19, no), 4->120.0 (240, yes)
    assert got == {(2, 4)}


def test_expr_where_cross_binding(props_graph):
    got = rows(run_cypher(
        props_graph, "MATCH (p:Person)-[:BOUGHT]->(i:Item) "
                     "WHERE p.age - i.price * 2 > 0 RETURN p, i"
    ))
    # 35-19>0 yes; 17-19>0 no; 50-240>0 no
    assert got == {(0, 3)}


def test_expr_where_in_optional_rejected(props_graph):
    from g4s_spark.cypher import CypherParseError

    with pytest.raises(CypherParseError, match="OPTIONAL"):
        run_cypher(
            props_graph, "MATCH (p:Person) OPTIONAL MATCH (p)-[:BOUGHT]->(i:Item) "
                         "WHERE i.price * 2 > 13 RETURN p, i"
        )


def test_case_in_where(props_graph):
    got = rows(run_cypher(
        props_graph, "MATCH (p:Person)-[:BOUGHT]->(i:Item) "
                     "WHERE CASE WHEN i.price > 100 THEN 1 ELSE 0 END = 1 RETURN p, i"
    ))
    assert got == {(2, 4)}


def test_expr_vs_expr_where(props_graph):
    got = rows(run_cypher(
        props_graph, "MATCH (p:Person)-[:BOUGHT]->(i:Item) "
                     "WHERE p.age * 2 > i.price + 10 RETURN p, i"
    ))
    # 35*2=70 > 9.5+10 yes; 17*2=34 > 19.5 yes; 50*2=100 > 130 no
    assert got == {(0, 3), (1, 3)}


def test_pure_subtraction_where(props_graph):
    """`a.x - 5 > 3` (only '-' as arithmetic) reaches the expression
    path instead of a confusing literal-filter parse error (ADVICE r5)."""
    got = rows(run_cypher(
        props_graph, "MATCH (p:Person)-[:BOUGHT]->(i:Item) "
                     "WHERE p.age - 18 > 0 RETURN p"
    ))
    assert got == {(0,), (2,)}


def test_negative_literal_stays_plain_filter(props_graph):
    """`p.age > -5` must NOT detour through the expression path (the
    unary sign is not arithmetic); it keeps scan pushdown and matches
    everyone here."""
    from g4s_spark.cypher.parser import parse

    qg = parse("MATCH (p:Person) WHERE p.age > -5 RETURN p")
    assert not qg.expr_filters and len(qg.filters) == 1
    got = rows(run_cypher(props_graph, "MATCH (p:Person) WHERE p.age > -5 RETURN p"))
    assert got == {(0,), (1,), (2,)}


def test_spaceless_less_than_negative_literal(props_graph):
    """``p.age - 100 <-5`` (meaning ``< -5``, no space): the lexer
    greedily reads ``<-`` as a relationship arrow, so the WHERE reader
    splits it into ``<`` plus unary minus (ADVICE r15) — the predicate
    plans through the expression path instead of raising a parse
    error."""
    got = rows(run_cypher(
        props_graph,
        "MATCH (p:Person) WHERE p.age - 100 <-51 RETURN p",
    ))
    # ages 35, 17, 50 → age-100 = -65, -83, -50; < -51 keeps the first two
    assert got == {(0,), (1,)}


def test_cmp_numeric_split_ignores_literal_interiors():
    """The expression-comparison split consumes tokens: a comparator
    inside a string literal never splits, a signed RHS with a space
    ('< - 5') lexes as minus + num, a comparator inside CASE...END never
    splits, and a comparison against a string literal stays a plain
    filter."""
    from g4s_spark.cypher import CypherParseError
    from g4s_spark.cypher.parser import parse

    def where(w):
        return parse(f"MATCH (c:C) WHERE {w} RETURN c")

    # comparator only inside the literal: no comparison at all
    with pytest.raises(CypherParseError, match="unsupported WHERE condition"):
        where("c.name + '>' ")
    lhs = ("op", "+", ("prop", "c", "x"), ("num", 1.0))
    assert where("c.x + 1 < -5").expr_filters == [(lhs, "<", ("num", -5.0))]
    assert where("c.x + 1 < - 5").expr_filters == [(lhs, "<", ("num", -5.0))]
    qg = where("CASE WHEN c.x > 3 THEN 1 ELSE 0 END = 1")
    assert qg.expr_filters == [(
        ("case", ((("prop", "c", "x"), ">", ("num", 3.0), ("num", 1.0)),), ("num", 0.0)),
        "=", ("num", 1.0),
    )]
    qg = where("c.name = 'abc'")
    assert not qg.expr_filters and [(f.op, f.value) for f in qg.filters] == [("=", "abc")]


def test_case_right_of_comparison(props_graph):
    """Outer comparison LEFT of a CASE: the split happens at the first
    comparison outside the CASE...END span (ADVICE r5: splitting at the
    last comparison grabbed the one inside the CASE condition)."""
    got = rows(run_cypher(
        props_graph, "MATCH (p:Person)-[:BOUGHT]->(i:Item) "
                     "WHERE p.age > CASE WHEN i.price > 100 THEN 60 ELSE 20 END "
                     "RETURN p, i"
    ))
    # 35 > 20 yes; 17 > 20 no; 50 > 60 no
    assert got == {(0, 3)}


def test_order_by_property_numeric_and_string(props_graph):
    """ORDER BY b.prop (round-6): numeric strings sort numerically
    (cast-first key), the helper column is dropped, LIMIT applies after
    the sort."""
    out = run_cypher(
        props_graph, "MATCH (p:Person) RETURN p ORDER BY p.age ASC, p ASC"
    )
    assert out.columns == ["p"]
    assert [r.p for r in out.collect()] == [1, 0, 2]  # 17 < 35 < 50
    top = run_cypher(
        props_graph, "MATCH (p:Person) RETURN p ORDER BY p.age DESC LIMIT 1"
    )
    assert [r.p for r in top.collect()] == [2]
    lex = run_cypher(
        props_graph, "MATCH (p:Person) RETURN p ORDER BY p.city ASC, p ASC"
    )
    assert [r.p for r in lex.collect()] == [0, 2, 1]  # berlin,berlin,paris


def test_order_by_property_errors(props_graph):
    from g4s_spark.cypher import CypherParseError

    with pytest.raises(CypherParseError, match="unbound"):
        run_cypher(props_graph, "MATCH (p:Person) RETURN p ORDER BY z.age")
    with pytest.raises(CypherParseError, match="aggregation"):
        run_cypher(
            props_graph,
            "MATCH (p:Person)-[:BOUGHT]->(i:Item) "
            "RETURN p, count(i) AS n ORDER BY p.age",
        ).collect()
    with pytest.raises(CypherParseError, match="non-returned binding"):
        run_cypher(
            props_graph,
            "MATCH (p:Person)-[:BOUGHT]->(i:Item) RETURN p ORDER BY i.price",
        ).collect()


def test_where_string_function_predicates(props_graph):
    """toLower/size() around a property in WHERE push into the node-set
    scan like plain predicates (round-6)."""
    got = rows(run_cypher(
        props_graph,
        "MATCH (p:Person) WHERE toUpper(p.city) = 'BERLIN' RETURN p",
    ))
    assert got == {(0,), (2,)}
    got2 = rows(run_cypher(
        props_graph,
        "MATCH (p:Person) WHERE size(p.city) >= 6 RETURN p",
    ))
    assert got2 == {(0,), (2,)}  # berlin=6, paris=5
    from g4s_spark.cypher import CypherParseError

    with pytest.raises(CypherParseError, match="against a number"):
        run_cypher(props_graph, "MATCH (p:Person) WHERE size(p.city) = 'x' RETURN p")
    with pytest.raises(CypherParseError, match="against a string"):
        run_cypher(props_graph, "MATCH (p:Person) WHERE toLower(p.city) = 5 RETURN p")


def test_order_by_numeric_tie_uses_query_tiebreak_not_rendering(spark):
    """'100' and '100.0' are the SAME number: the tie must fall to the
    query's own tiebreak (binding), never the string rendering — the
    raw-string secondary applies only where the numeric cast fails
    (ADVICE r6)."""
    from g4s_spark.graph import PropertyGraph

    nodes = spark.createDataFrame(
        [(1, "P", {"x": "100.0"}), (2, "P", {"x": "100"}), (3, "P", {"x": "7"})],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame([], "src long, dst long, type string")
    g = PropertyGraph(nodes, edges)
    out = run_cypher(g, "MATCH (p:P) RETURN p ORDER BY p.x ASC, p ASC")
    # numeric order 7 < 100 == 100; the tie breaks on p (1 < 2), even
    # though lexically '100' < '100.0' would have flipped them
    assert [r.p for r in out.collect()] == [3, 1, 2]


def test_count_prop_counts_non_null_values(spark):
    """count(b.prop) counts matches whose property is non-NULL — the
    openCypher parity nit from VERDICT r6 #8."""
    from g4s_spark.graph import PropertyGraph

    nodes = spark.createDataFrame(
        [(0, "P", {"n": "x", "c": "yes"}), (1, "P", {"n": "y"}),
         (2, "P", {"n": "z", "c": "no"}), (10, "Q", None)],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(0, 10, "E"), (1, 10, "E"), (2, 10, "E")],
        "src long, dst long, type string",
    )
    g = PropertyGraph(nodes, edges)
    out = run_cypher(
        g, "MATCH (p:P)-[:E]->(q:Q) "
           "RETURN q, count(p) AS all_, count(p.c) AS with_c"
    ).collect()[0]
    assert (out.q, out.all_, out.with_c) == (10, 3, 2)


def test_where_is_null_and_is_not_null(spark):
    """`WHERE n.prop IS [NOT] NULL` (round-7): a property missing from
    the props map is NULL; the predicate pushes into the node scan."""
    from g4s_spark.graph import PropertyGraph

    nodes = spark.createDataFrame(
        [(0, "P", {"seg": "x"}), (1, "P", {}), (2, "P", {"seg": "y"}),
         (3, "P", None), (10, "Q", None)],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(0, 10, "E"), (1, 10, "E"), (2, 10, "E"), (3, 10, "E")],
        "src long, dst long, type string",
    )
    g = PropertyGraph(nodes, edges)
    have = rows(run_cypher(g, "MATCH (p:P) WHERE p.seg IS NOT NULL RETURN p"))
    assert have == {(0,), (2,)}
    miss = rows(run_cypher(g, "MATCH (p:P) WHERE p.seg IS NULL RETURN p"))
    assert miss == {(1,), (3,)}
    # composes with other conjuncts and joins
    both = rows(run_cypher(
        g, "MATCH (p:P)-[:E]->(q:Q) WHERE p.seg IS NOT NULL AND p.seg <> 'x' RETURN p, q"
    ))
    assert both == {(2, 10)}


def test_where_exists_and_conversions(spark):
    """exists(b.prop) == IS NOT NULL (round-8); toFloat/toInteger in
    WHERE compare numerically, toString/toFloat/toInteger project in
    RETURN (NULL for non-convertible input)."""
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher

    nodes = spark.createDataFrame(
        [(0, "N", {"v": "4.9"}), (1, "N", {"v": "7"}), (2, "N", {"w": "x"})],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame([], "src long, dst long, type string")
    g = PropertyGraph(nodes, edges, spark)
    out = run_cypher(g, "MATCH (n:N) WHERE exists(n.v) RETURN n")
    assert sorted(r.n for r in out.collect()) == [0, 1]
    out = run_cypher(g, "MATCH (n:N) WHERE toFloat(n.v) > 5 RETURN n")
    assert [r.n for r in out.collect()] == [1]
    got = {
        r.n: (r.f, r.i, r.s)
        for r in run_cypher(
            g,
            "MATCH (n:N) RETURN n, toFloat(n.v) AS f, toInteger(n.v) AS i, "
            "toString(n.v) AS s",
        ).collect()
    }
    assert got[0] == (4.9, 4, "4.9")  # toInteger truncates toward zero
    assert got[1] == (7.0, 7, "7")
    assert got[2] == (None, None, None)  # absent prop -> NULL through


def test_where_not_folds_into_operator(props_graph):
    """WHERE NOT <atom> (round-16): negation folds into the op under SQL
    3VL — a NULL property drops the row on BOTH sides of the flip, so
    NOT(p = v) is exactly p <> v over present props."""
    base = "MATCH (p:Person)-[:BOUGHT]->(i:Item) WHERE {w} RETURN p"
    pairs = [
        ("NOT p.age >= 18", "p.age < 18"),
        ("NOT p.city = 'berlin'", "p.city <> 'berlin'"),
        ("NOT p.city CONTAINS 'erl'", "p.city = 'paris'"),
        ("NOT p.city STARTS WITH 'b'", "p.city = 'paris'"),
        ("NOT p.city =~ 'b.*'", "p.city = 'paris'"),
        ("NOT exists(p.age)", "p.age IS NULL"),
    ]
    for neg, equiv in pairs:
        got = rows(run_cypher(props_graph, base.format(w=neg)))
        want = rows(run_cypher(props_graph, base.format(w=equiv)))
        assert got == want, (neg, got, want)


def test_where_not_null_semantics(spark):
    """NOT contains over a NULL prop drops the row (3VL), unlike the
    set-complement reading a naive engine would give."""
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher

    nodes = spark.createDataFrame(
        [(0, "N", {"v": "abc"}), (1, "N", {"v": "xyz"}), (2, "N", {})],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame([], "src long, dst long, type string")
    g = PropertyGraph(nodes, edges, spark)
    out = run_cypher(g, "MATCH (n:N) WHERE NOT n.v CONTAINS 'b' RETURN n")
    assert sorted(r.n for r in out.collect()) == [1]  # node 2 dropped
