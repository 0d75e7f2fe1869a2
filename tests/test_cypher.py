"""Parser tests mirroring LogicNodeSpec's Cypher cases (SURVEY §5)."""

import pytest

from g4s_spark.cypher import CypherParseError, PatternEdge, ReturnItem, parse


def test_one_hop():
    qg = parse("MATCH (a:A)-[:X]->(b:B) RETURN b")
    assert qg.labels == {"a": "A", "b": "B"}
    assert qg.edges == [PatternEdge("a", "b", ("X",))]
    assert qg.items == [ReturnItem("b", ("var", "b"))]


def test_two_hop_reverse_edge():
    qg = parse("MATCH (a:A)-[:X]->(b:B)<-[:Y]-(c:C) RETURN c")
    assert qg.edges == [PatternEdge("a", "b", ("X",)), PatternEdge("c", "b", ("Y",))]


def test_multi_return_and_multi_pattern():
    qg = parse("MATCH (a:A)-[:X]->(b:B), (b)-[:Y]->(c:C) RETURN a, b, c")
    assert [it.expr for it in qg.items] == [("var", "a"), ("var", "b"), ("var", "c")]
    assert qg.labels["b"] == "B"
    assert len(qg.edges) == 2


def test_anonymous_and_untyped():
    qg = parse("MATCH (a)-[]->() RETURN a")
    assert qg.edges[0].src == "a"
    assert qg.edges[0].types == ()
    assert qg.labels[qg.edges[0].dst] is None


def test_multi_type():
    qg = parse("MATCH (a)-[:X|Y]->(b) RETURN a")
    assert qg.edges[0].types == ("X", "Y")


def test_edge_variable_captured():
    qg = parse("MATCH (a)-[e:X]->(b) RETURN b")
    assert qg.edges == [PatternEdge("a", "b", ("X",), name="e")]


def test_where_filters():
    qg = parse(
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WHERE c.acctbal >= 5000 AND o.orderstatus = 'F' RETURN o"
    )
    f1, f2 = qg.filters
    assert (f1.binding, f1.prop, f1.op, f1.value, f1.is_num) == ("c", "acctbal", ">=", 5000.0, True)
    assert (f2.binding, f2.prop, f2.op, f2.value, f2.is_num) == ("o", "orderstatus", "=", "F", False)


def test_orderby_limit_count():
    qg = parse("MATCH (a:A)-[:X]->(b) RETURN a, count(b) AS n ORDER BY n DESC, a LIMIT 5")
    assert qg.items[0] == ReturnItem("a", ("var", "a"))
    a = qg.items[1]
    assert (a.agg, a.expr, a.alias) == ("count", ("var", "b"), "n")
    assert qg.order_by == [("n", True), ("a", False)]
    assert qg.limit == 5


def test_count_default_alias():
    qg = parse("MATCH (a:A)-[:X]->(b) RETURN count(b)")
    a, = qg.items
    assert (a.agg, a.expr, a.alias) == ("count", ("var", "b"), "count_b")
    assert [it for it in qg.items if it.agg is None] == []


@pytest.mark.parametrize(
    "bad",
    [
        "MATCH (a)<-[:X]->(b) RETURN a",  # bidirected
        "SELECT 1",
        "MATCH (a) RETURN z",  # unbound return
        "MATCH (a) WHERE z.x = 1 RETURN a",  # WHERE on unbound variable
        "MATCH (a) WHERE a.x LIKE 'y' RETURN a",  # unsupported operator
    ],
)
def test_rejects_out_of_subset(bad):
    with pytest.raises(CypherParseError):
        parse(bad)


def test_return_distinct_noop():
    qg = parse("MATCH (a:A)-[:X]->(b) RETURN DISTINCT a, b")
    assert [it.expr for it in qg.items] == [("var", "a"), ("var", "b")]


def test_count_star():
    qg = parse("MATCH (a:A)-[:X]->(b) RETURN a, count(*) AS n")
    ag = qg.items[1]
    assert (ag.agg, ag.expr, ag.alias) == ("count", None, "n")
    qg2 = parse("MATCH (a:A)-[:X]->(b) RETURN count(*)")
    assert qg2.items[0].alias == "count_star"


def test_rejects_edge_variable_reuse():
    with pytest.raises(CypherParseError, match="reused"):
        parse("MATCH (a)-[e:X]->(b)-[e:Y]->(c) RETURN a")
    with pytest.raises(CypherParseError, match="reused"):
        parse("MATCH (a)-[e:X]->(b) OPTIONAL MATCH (b)-[e:Y]->(c) RETURN a")


def test_rejects_correlated_clause_where():
    # a is bound by the required MATCH but is not part of the OPTIONAL
    # MATCH pattern — the planner would silently drop the predicate
    with pytest.raises(CypherParseError, match="not part of"):
        parse(
            "MATCH (a:Customer)-[:PLACED]->(o:Order) "
            "OPTIONAL MATCH (o)-[:CONTAINS]->(p:Part) WHERE a.name = 'x' "
            "RETURN a"
        )
    # same-clause references stay legal, including shared bindings
    qg = parse(
        "MATCH (a:Customer)-[:PLACED]->(o:Order) "
        "OPTIONAL MATCH (o)-[:CONTAINS]->(p:Part) WHERE p.size > 3 "
        "RETURN a"
    )
    assert qg.filters[0].clause == 1


def test_multilabel_parse():
    qg = parse("MATCH (n:A:B:C)-[:T]->(m) RETURN n")
    assert qg.labels["n"] == "A"
    assert qg.extra_labels["n"] == ("B", "C")
    assert "m" not in qg.extra_labels


def test_undirected_parse():
    qg = parse("MATCH (a:A)-[:X]-(b:B) RETURN a, b")
    (e,) = qg.edges
    assert e.undirected and e.src == "a" and e.dst == "b"
    # directed forms stay directed
    assert not parse("MATCH (a)-[:X]->(b) RETURN a").edges[0].undirected
    assert not parse("MATCH (a)<-[:X]-(b) RETURN a").edges[0].undirected
    # var-length undirected closure parses
    e2 = parse("MATCH (a)-[:X*1..3]-(b) RETURN a").edges[0]
    assert e2.undirected and (e2.min_hops, e2.max_hops) == (1, 3)


def test_rejects_bidirected():
    with pytest.raises(CypherParseError, match="bidirected"):
        parse("MATCH (a)<-[:X]->(b) RETURN a")


def test_undirected_matches_both_orientations(spark):
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher

    nodes = [(1, "A"), (2, "B"), (3, "B"), (4, "A")]
    edges = [(1, 2, "X"), (3, 4, "X")]  # one out of A, one into A
    g = PropertyGraph.from_tuples(spark, nodes, edges)
    got = sorted((r.a, r.b) for r in run_cypher(g, "MATCH (a:A)-[:X]-(b:B) RETURN a, b").collect())
    assert got == [(1, 2), (4, 3)]
    # undirected var-length walks the symmetrized graph: 2 hops returns home
    got2 = sorted((r.a, r.x) for r in run_cypher(g, "MATCH (a:A)-[:X*1..2]-(x) RETURN a, x").collect())
    assert got2 == [(1, 1), (1, 2), (4, 3), (4, 4)]


def test_expr_return_parses():
    qg = parse("MATCH (c:Customer) RETURN c, c.acctbal / 2 + 10 AS half")
    _, it = qg.items
    assert it.agg is None and it.alias == "half"
    assert it.expr == ("op", "+", ("op", "/", ("prop", "c", "acctbal"), ("num", 2.0)), ("num", 10.0))


def test_expr_aggregate_parses():
    qg = parse(
        "MATCH (o:Order)-[:HAS_ITEM]->(l:Lineitem) "
        "RETURN o, sum(l.extendedprice * (1 - l.discount)) AS rev"
    )
    _, it = qg.items
    assert it.agg == "sum" and it.alias == "rev"
    assert it.expr[0] == "op" and it.expr[1] == "*"


def test_expr_requires_alias():
    with pytest.raises(CypherParseError, match="AS alias"):
        parse("MATCH (c:Customer) RETURN c.acctbal / 2")


def test_expr_unbound_variable_rejected():
    with pytest.raises(CypherParseError, match="unbound"):
        parse("MATCH (c:Customer) RETURN z.acctbal * 2 AS x")


def test_expr_unbalanced_parens_rejected():
    # the lexer-level bracket check (ADVICE r14) now catches this
    # earlier than the expression grammar, with the position named
    with pytest.raises(CypherParseError, match=r"unclosed '\('"):
        parse("MATCH (c:Customer) RETURN (c.acctbal * 2 AS x")


def test_return_star_expands_named_bindings():
    qg = parse("MATCH (a:A)-[:X]->(b:B)-[:Y]->() RETURN *")
    assert [it.expr for it in qg.items] == [("var", "a"), ("var", "b")]  # anonymous endpoint excluded


def test_return_star_with_no_named_bindings_rejected():
    with pytest.raises(CypherParseError, match="no named"):
        parse("MATCH ()-[:X]->() RETURN *")


def test_aggregate_distinct_values(spark):
    """sum/avg/count(DISTINCT b.prop) aggregate the distinct VALUES
    (round-8 — previously DISTINCT parsed but was silently ignored in
    plan_match aggregates; the carry-stage path already honored it)."""
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher

    nodes = spark.createDataFrame(
        [(0, "G", None),
         (10, "V", {"x": "5"}), (11, "V", {"x": "5"}),
         (12, "V", {"x": "7"}), (13, "V", {"x": "9"})],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(0, 10, "E"), (0, 11, "E"), (0, 12, "E"), (0, 13, "E")],
        "src long, dst long, type string",
    )
    g = PropertyGraph(nodes, edges, spark)
    row = run_cypher(
        g,
        "MATCH (a:G)-[:E]->(v:V) RETURN a, sum(DISTINCT v.x) AS s, "
        "avg(DISTINCT v.x) AS av, count(DISTINCT v.x) AS n, "
        "sum(v.x) AS s_all",
    ).collect()[0]
    assert row.s == 21.0  # 5+7+9, not 5+5+7+9
    assert row.av == 7.0
    assert row.n == 3
    assert row.s_all == 26.0


def test_aggregate_stdev_and_percentiles(spark):
    """openCypher stDev/stDevP and percentileCont/percentileDisc
    (round-8): sample vs population stddev; cont interpolates, disc
    returns an actual element."""
    import math

    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher

    nodes = spark.createDataFrame(
        [(0, "G", None),
         (10, "V", {"x": "2"}), (11, "V", {"x": "4"}),
         (12, "V", {"x": "6"}), (13, "V", {"x": "8"})],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(0, i, "E") for i in (10, 11, 12, 13)], "src long, dst long, type string"
    )
    g = PropertyGraph(nodes, edges, spark)
    row = run_cypher(
        g,
        "MATCH (a:G)-[:E]->(v:V) RETURN a, stDev(v.x) AS sd, "
        "stDevP(v.x) AS sdp, percentileCont(v.x, 0.5) AS med, "
        "percentileDisc(v.x, 0.5) AS dmed",
    ).collect()[0]
    assert row.sd == pytest.approx(math.sqrt(20 / 3))
    assert row.sdp == pytest.approx(math.sqrt(5.0))
    assert row.med == 5.0  # interpolated between 4 and 6
    assert row.dmed == 4.0  # ceil(0.5*4)=2nd element


def test_string_functions_substring_replace_left_right(spark):
    """openCypher string functions (round-8): substring (0-based),
    replace, left/right, reverse — in RETURN projections and WHERE
    pushdown."""
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher

    nodes = spark.createDataFrame(
        [(0, "D", {"name": "alphabet"}), (1, "D", {"name": "beta"}),
         (2, "D", {"name": "al"})],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame([], "src long, dst long, type string")
    g = PropertyGraph(nodes, edges, spark)
    got = {
        r.d: (r.s, r.rep, r.l2, r.r3, r.rev)
        for r in run_cypher(
            g,
            "MATCH (d:D) RETURN d, substring(d.name, 1, 3) AS s, "
            "replace(d.name, 'a', 'X') AS rep, left(d.name, 2) AS l2, "
            "right(d.name, 3) AS r3, reverse(d.name) AS rev",
        ).collect()
    }
    # replace() replaces ALL occurrences (openCypher)
    assert got[0] == ("lph", "XlphXbet", "al", "bet", "tebahpla")
    assert got[1] == ("eta", "betX", "be", "eta", "ateb")
    # right() of a shorter string is the whole string (openCypher)
    assert got[2] == ("l", "Xl", "al", "al", "la")
    # WHERE pushdown forms
    out = run_cypher(g, "MATCH (d:D) WHERE substring(d.name, 0, 2) = 'al' RETURN d")
    assert sorted(r.d for r in out.collect()) == [0, 2]
    out = run_cypher(g, "MATCH (d:D) WHERE left(d.name, 1) = 'b' RETURN d")
    assert [r.d for r in out.collect()] == [1]
    out = run_cypher(g, "MATCH (d:D) WHERE reverse(d.name) = 'ateb' RETURN d")
    assert [r.d for r in out.collect()] == [1]


def test_string_function_arity_errors(spark):
    from g4s_spark.cypher import CypherParseError
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher

    g = PropertyGraph.from_tuples(spark, [(0, "D")], [])
    with pytest.raises(CypherParseError, match="start index"):
        run_cypher(g, "MATCH (d:D) RETURN d, substring(d.name) AS s")
    with pytest.raises(CypherParseError, match="exactly"):
        run_cypher(g, "MATCH (d:D) RETURN d, left(d.name) AS s")
    with pytest.raises(CypherParseError, match="single property"):
        run_cypher(g, "MATCH (d:D) WHERE toLower(d.name, 2) = 'x' RETURN d")


def test_numeric_functions_in_expressions(spark):
    """abs/round/ceil/floor/sqrt in expression trees (round-8): RETURN
    expressions, WHERE predicates, and SET RHS all share the factor
    grammar; results are doubles."""
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher, run_cypher_set

    nodes = spark.createDataFrame(
        [(0, "N", {"x": "-2.5", "y": "9"}), (1, "N", {"x": "1.2", "y": "16"})],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame([], "src long, dst long, type string")
    g = PropertyGraph(nodes, edges, spark)
    got = {
        r.n: (r.a, r.rt, r.c, r.f)
        for r in run_cypher(
            g,
            "MATCH (n:N) RETURN n, abs(n.x) AS a, sqrt(n.y) AS rt, "
            "ceil(n.x) AS c, floor(n.x) AS f",
        ).collect()
    }
    assert got[0] == (2.5, 3.0, -2.0, -3.0)
    assert got[1] == (1.2, 4.0, 2.0, 1.0)
    # WHERE with a function over an expression
    out = run_cypher(g, "MATCH (n:N) WHERE abs(n.x * 2) > 3 RETURN n")
    assert [r.n for r in out.collect()] == [0]
    # SET RHS
    g2 = run_cypher_set(g, "MATCH (n:N) SET n.r = round(n.x + 0.4)")
    got2 = {r.id: dict(r.props).get("r") for r in g2.nodes.collect()}
    assert got2[0] == "-2.0" and got2[1] == "2.0"


def test_numeric_function_parse_errors(spark):
    from g4s_spark.cypher import CypherParseError
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher

    g = PropertyGraph.from_tuples(spark, [(0, "N")], [])
    with pytest.raises(CypherParseError):
        run_cypher(g, "MATCH (n:N) RETURN n, abs n.x AS a")
    with pytest.raises(CypherParseError, match=r"unclosed '\('"):
        run_cypher(g, "MATCH (n:N) RETURN n, abs(n.x AS a")


def test_graph_introspection_functions(spark):
    """id(n)/labels(n)/type(r) (round-8): id projects the binding
    column; labels renders the sorted comma-joined label set (scalar
    contract — openCypher returns a list); type rides the edge-property
    path (`type` is a physical edge column)."""
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher

    nodes = spark.createDataFrame(
        [(1, "A", {"name": "x"}), (1, "X", {"name": "x"}),
         (2, "A", {"name": "y"}), (10, "B", {"name": "b"}), (11, "B", {"name": "c"})],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(1, 10, "E"), (1, 11, "F"), (2, 10, "E")],
        "src long, dst long, type string",
    )
    g = PropertyGraph(nodes, edges, spark)
    got = {(r.ai, r.bi) for r in run_cypher(
        g, "MATCH (a:A)-[:E]->(b:B) RETURN id(a) AS ai, id(b) AS bi"
    ).collect()}
    assert got == {(1, 10), (2, 10)}
    # multi-label node renders both labels, sorted
    got = {(r.b, r.la) for r in run_cypher(
        g, "MATCH (a:A)-[:E]->(b:B) RETURN b, labels(a) AS la"
    ).collect()}
    assert got == {(10, "A,X"), (10, "A")}
    # type() over an untyped edge variable carries the scan's type column
    got = {(r.a, r.b, r.t) for r in run_cypher(
        g, "MATCH (a:A)-[r]->(b:B) RETURN a, b, type(r) AS t"
    ).collect()}
    assert got == {(1, 10, "E"), (1, 11, "F"), (2, 10, "E")}
    # introspection aliases group like any other return item
    got = {(r.la, r.n) for r in run_cypher(
        g, "MATCH (a)-[:E]->(b:B) RETURN labels(a) AS la, count(b) AS n"
    ).collect()}
    assert got == {("A,X", 1), ("A", 1)}
    # errors: type() of a node, labels()/id() of an edge or unbound var
    from g4s_spark.cypher import CypherParseError
    with pytest.raises(CypherParseError, match="non-edge"):
        run_cypher(g, "MATCH (a:A)-[r]->(b) RETURN type(a)")
    with pytest.raises(CypherParseError, match="unbound or non-node"):
        run_cypher(g, "MATCH (a:A)-[r]->(b) RETURN labels(r)")
    with pytest.raises(CypherParseError, match="unbound or non-node"):
        run_cypher(g, "MATCH (a:A) RETURN id(zz)")


def test_where_regex_predicate(spark):
    """=~ (round-8): FULL-string semantics per openCypher — the pattern
    is anchored, so a bare substring pattern matches nothing unless it
    spans the whole value; scan-pushed like the other string ops."""
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher

    nodes = spark.createDataFrame(
        [(1, "A", {"name": "NATION_1"}), (2, "A", {"name": "NATION_2"}),
         (3, "A", {"name": "XNATION_1X"}), (10, "B", {"name": "b"})],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(1, 10, "E"), (2, 10, "E"), (3, 10, "E")], "src long, dst long, type string"
    )
    g = PropertyGraph(nodes, edges, spark)
    q = lambda c: sorted(
        r.a for r in run_cypher(g, f"MATCH (a:A) WHERE {c} RETURN a").collect()
    )
    assert q("a.name =~ 'NATION_[12]'") == [1, 2]
    assert q("a.name =~ 'NATION'") == []          # full match, not substring
    assert q("a.name =~ '.*NATION.*'") == [1, 2, 3]
    assert q("(a.name =~ 'NATION_1' OR a.name = 'NATION_2')") == [1, 2]
    # composes with a pattern join
    got = run_cypher(
        g, "MATCH (a:A)-[:E]->(b:B) WHERE a.name =~ 'NATION_1' RETURN a, b"
    ).collect()
    assert [(r.a, r.b) for r in got] == [(1, 10)]


def test_string_concatenation_return(spark):
    """`a.p + '_' + b.q AS x` (round-8): string-concat chains of props
    and quoted literals; NULL-propagating like openCypher's + (a NULL
    prop nulls the whole result, it does not render as 'null')."""
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher

    nodes = spark.createDataFrame(
        [(1, "A", {"name": "ann", "seg": "S1"}), (2, "A", {"name": "bob"}),
         (10, "B", {"name": "x"})],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(1, 10, "E"), (2, 10, "E")], "src long, dst long, type string"
    )
    g = PropertyGraph(nodes, edges, spark)
    got = sorted((r.a, r.tag) for r in run_cypher(
        g, "MATCH (a:A)-[:E]->(b:B) RETURN a, a.name + '_' + b.name AS tag"
    ).collect())
    assert got == [(1, "ann_x"), (2, "bob_x")]
    got = sorted((r.a, r.tag) for r in run_cypher(
        g, "MATCH (a:A) RETURN a, a.seg + '!' AS tag"
    ).collect())
    assert got == [(1, "S1!"), (2, None)]
    # concat result as a grouping key
    got = run_cypher(
        g, "MATCH (a:A)-[:E]->(b:B) RETURN b.name + '!' AS bn, count(a) AS n"
    ).collect()
    assert [(r.bn, r.n) for r in got] == [("x!", 2)]
    # numeric arithmetic is NOT hijacked by the concat branch
    nodes2 = spark.createDataFrame(
        [(1, "N", {"x": "2"})], "id long, label string, props map<string,string>"
    )
    g2 = PropertyGraph(nodes2, spark.createDataFrame([], "src long, dst long, type string"), spark)
    assert run_cypher(g2, "MATCH (n:N) RETURN n, n.x + 1 AS y").collect()[0].y == 3.0
    from g4s_spark.cypher import CypherParseError
    with pytest.raises(CypherParseError, match="concat"):
        run_cypher(g, "MATCH (a:A) RETURN a, a.name + '_' + 3 AS t")


def test_where_id_predicate(spark):
    """WHERE id(b) <op> n (round-8): scan-pushed point/range lookups on
    the node id."""
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher

    nodes = spark.createDataFrame(
        [(1, "A", {"v": "a"}), (2, "A", {"v": "b"}), (3, "A", {"v": "c"}),
         (10, "B", {"v": "x"})],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(1, 10, "E"), (2, 10, "E"), (3, 10, "E")], "src long, dst long, type string"
    )
    g = PropertyGraph(nodes, edges, spark)
    q = lambda c: sorted(
        r.a for r in run_cypher(g, f"MATCH (a:A) WHERE {c} RETURN a").collect()
    )
    assert q("id(a) = 2") == [2]
    assert q("id(a) <= 2") == [1, 2]
    assert q("id(a) <> 2") == [1, 3]
    # combines with prop predicates and pattern joins
    got = run_cypher(
        g, "MATCH (a:A)-[:E]->(b:B) WHERE id(a) >= 2 AND a.v = 'b' RETURN a, b"
    ).collect()
    assert [(r.a, r.b) for r in got] == [(2, 10)]


def test_keys_properties_functions(spark):
    """keys(n)/properties(n) (round-8): sorted comma-joined key list /
    k=v pair list (scalar rendering, like labels())."""
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher

    nodes = spark.createDataFrame(
        [(1, "A", {"b_key": "2", "a_key": "1"}), (2, "A", {}), (10, "B", {"z": "9"})],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(1, 10, "E"), (2, 10, "E")], "src long, dst long, type string"
    )
    g = PropertyGraph(nodes, edges, spark)
    got = {r.a: (r.ks, r.ps) for r in run_cypher(
        g, "MATCH (a:A)-[:E]->(b:B) RETURN a, keys(a) AS ks, properties(a) AS ps"
    ).collect()}
    assert got[1] == ("a_key,b_key", "a_key=1,b_key=2")
    assert got[2] == ("", "")
    # grouping key + combination with other introspection fns
    got = run_cypher(
        g, "MATCH (a:A)-[:E]->(b:B) RETURN keys(b) AS ks, count(a) AS n"
    ).collect()
    assert [(r.ks, r.n) for r in got] == [("z", 2)]


def test_query_parameters(spark):
    """$param binding (round-8): literals substituted outside quotes;
    strings quote, numbers stay numeric, lists feed IN."""
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher

    nodes = spark.createDataFrame(
        [(1, "A", {"name": "ann", "bal": "5"}),
         (2, "A", {"name": "bob", "bal": "9"})],
        "id long, label string, props map<string,string>",
    )
    g = PropertyGraph(
        nodes, spark.createDataFrame([], "src long, dst long, type string"), spark
    )
    q = "MATCH (a:A) WHERE a.name = $nm RETURN a"
    assert [r.a for r in run_cypher(g, q, params={"nm": "bob"}).collect()] == [2]
    q = "MATCH (a:A) WHERE a.bal >= $min RETURN a"
    assert sorted(r.a for r in run_cypher(g, q, params={"min": 5}).collect()) == [1, 2]
    q = "MATCH (a:A) WHERE a.name IN $names RETURN a"
    assert sorted(
        r.a for r in run_cypher(g, q, params={"names": ["ann", "bob"]}).collect()
    ) == [1, 2]
    # $ inside a quoted literal is data, not a parameter
    q = "MATCH (a:A) WHERE a.name = '$nm' RETURN a"
    assert run_cypher(g, q, params={"nm": "x"}).collect() == []
    from g4s_spark.cypher import CypherParseError
    with pytest.raises(CypherParseError, match="missing query parameter"):
        run_cypher(g, "MATCH (a:A) WHERE a.name = $nope RETURN a", params={})
    with pytest.raises(CypherParseError, match="quote"):
        run_cypher(g, "MATCH (a:A) WHERE a.name = $nm RETURN a", params={"nm": "x'y"})


def test_commas_inside_quoted_literals(spark):
    """Round-8: commas inside string literals are data, not item
    delimiters — concat separators, IN-list items, UNWIND items, MERGE
    prop literals."""
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher, run_cypher_merge

    nodes = spark.createDataFrame(
        [(1, "A", {"name": "x"}), (2, "A", {"name": "y,z"})],
        "id long, label string, props map<string,string>",
    )
    g = PropertyGraph(
        nodes, spark.createDataFrame([], "src long, dst long, type string"), spark
    )
    got = {r.a: r.t for r in run_cypher(
        g, "MATCH (a:A) RETURN a, a.name + ', ' + a.name AS t"
    ).collect()}
    assert got[1] == "x, x"
    assert sorted(r.a for r in run_cypher(
        g, "MATCH (a:A) WHERE a.name IN ['x', 'y,z'] RETURN a"
    ).collect()) == [1, 2]
    got = run_cypher(
        g, "UNWIND ['p,q', 'r'] AS k MATCH (a:A) RETURN a, k"
    ).collect()
    assert sorted((r.a, r.k) for r in got) == [
        (1, "p,q"), (1, "r"), (2, "p,q"), (2, "r")
    ]
    g2 = run_cypher_merge(g, "MERGE (n:B {name: 'v,w'})")
    assert dict(g2.nodes.filter("label = 'B'").collect()[0].props) == {"name": "v,w"}
