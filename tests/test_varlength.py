"""Variable-length path extension: -[:T*lo..hi]-> as bounded iterative
expand with existence semantics."""

import pytest

from g4s_spark.cypher import CypherParseError, ReturnItem, parse
from g4s_spark.graph import PropertyGraph
from g4s_spark.plans import run_cypher


@pytest.fixture(scope="module")
def chain(spark):
    # 0 -> 1 -> 2 -> 3 -> 4 (X), plus a cycle 5 <-> 6
    return PropertyGraph.from_tuples(
        spark,
        nodes=[(i, "N") for i in range(5)] + [(5, "N"), (6, "N")],
        edges=[(0, 1, "X"), (1, 2, "X"), (2, 3, "X"), (3, 4, "X"), (5, 6, "X"), (6, 5, "X")],
    ).cache()


def rows(df):
    return {tuple(r) for r in df.collect()}


def test_parse_bounds():
    e = parse("MATCH (a)-[:X*2..4]->(b) RETURN b").edges[0]
    assert (e.min_hops, e.max_hops) == (2, 4)
    e2 = parse("MATCH (a)-[:X*3]->(b) RETURN b").edges[0]
    assert (e2.min_hops, e2.max_hops) == (3, 3)
    e3 = parse("MATCH (a)<-[:X*1..2]-(b) RETURN b").edges[0]
    assert (e3.src, e3.dst, e3.min_hops, e3.max_hops) == ("b", "a", 1, 2)
    e4 = parse("MATCH (a)-[:X*]->(b) RETURN b").edges[0]
    assert (e4.min_hops, e4.max_hops) == (1, None)  # unbounded closure
    e5 = parse("MATCH (a)-[:X*3..]->(b) RETURN b").edges[0]
    assert (e5.min_hops, e5.max_hops) == (3, None)
    e6 = parse("MATCH (a)-[:X*..4]->(b) RETURN b").edges[0]
    assert (e6.min_hops, e6.max_hops) == (1, 4)
    with pytest.raises(CypherParseError):
        parse("MATCH (a)-[:X*0]->(b) RETURN b")  # zero-length rejected


def test_exact_hops(chain):
    got = rows(run_cypher(chain, "MATCH (a)-[:X*2]->(b) RETURN a, b"))
    assert got == {(0, 2), (1, 3), (2, 4), (5, 5), (6, 6)}  # cycle closes on itself


def test_range_hops_from_anchor(chain):
    g = chain
    got = rows(run_cypher(g, "MATCH (a)-[:X*1..3]->(b) WHERE a.x = 1 RETURN b")) if False else None
    # anchor via extra pattern edge instead of WHERE (nodes have no props)
    got = rows(run_cypher(g, "MATCH (s)-[:X]->(a)-[:X*1..2]->(b) RETURN s, b"))
    # s->a is one X edge; b is 1..2 further X hops
    assert (0, 2) in got and (0, 3) in got and (0, 4) not in got


def test_cycle_terminates_bounded(chain):
    got = rows(run_cypher(chain, "MATCH (a)-[:X*1..5]->(b) RETURN a, b"))
    # cycle nodes reach each other and themselves; no infinite loop
    assert (5, 5) in got and (5, 6) in got and (6, 5) in got


def test_min_hops_excludes_shorter(chain):
    got = rows(run_cypher(chain, "MATCH (a)-[:X*3..4]->(b) RETURN a, b"))
    assert (0, 1) not in got and (0, 2) not in got
    assert (0, 3) in got and (0, 4) in got


def test_unbounded_closure(chain):
    got = rows(run_cypher(chain, "MATCH (a)-[:X*]->(b) RETURN a, b"))
    # full reachability on the 0->1->2->3->4 chain
    chain_pairs = {(i, j) for i in range(5) for j in range(i + 1, 5)}
    # the 5<->6 cycle reaches both nodes incl. itself
    cycle_pairs = {(5, 5), (5, 6), (6, 5), (6, 6)}
    assert got == chain_pairs | cycle_pairs


def test_unbounded_min_hops(chain):
    got = rows(run_cypher(chain, "MATCH (a)-[:X*3..]->(b) RETURN a, b"))
    # chain pairs at distance >= 3 only; cycle nodes still reach all
    # (walks can loop to reach length >= 3)
    assert {(0, 3), (0, 4), (1, 4)} <= got
    assert (0, 1) not in got and (0, 2) not in got and (2, 4) not in got
    assert {(5, 5), (5, 6), (6, 5), (6, 6)} <= got


@pytest.fixture(scope="module")
def labeled(spark):
    # A-labeled sources 0,1; B-labeled sinks 3,4; plain chain through 2
    return PropertyGraph.from_tuples(
        spark,
        nodes=[(0, "A"), (1, "A"), (2, "N"), (3, "B"), (4, "B"), (9, "N")],
        edges=[(0, 2, "X"), (1, 2, "X"), (2, 3, "X"), (3, 4, "X"), (9, 0, "X")],
    ).cache()


def test_closure_seeded_from_source_label(labeled):
    """The source-label restriction must be pushed INTO the closure: the
    plan seeds the frontier with the A node set (steps record closure_seed)
    instead of closing over the whole graph then filtering (VERDICT r1 #1)."""
    from g4s_spark.plans import plan_match

    planned = plan_match(labeled, parse("MATCH (a:A)-[:X*]->(x) RETURN a, x"))
    assert ("closure_seed", "a") in planned.steps, planned.steps
    # no redundant post-closure semi-join on the seeded binding
    assert not any(s[0] == "semi" and s[1] == "a" for s in planned.steps)
    got = rows(planned.df)
    assert got == {(0, 2), (0, 3), (0, 4), (1, 2), (1, 3), (1, 4)}


def test_closure_seeded_from_dst_label_via_transpose(labeled):
    """Only the destination constrained: the closure runs over the
    transposed edges seeded from the B set (transpose is a column swap)."""
    from g4s_spark.plans import plan_match

    planned = plan_match(labeled, parse("MATCH (a)-[:X*]->(x:B) RETURN a, x"))
    assert ("closure_seed", "x") in planned.steps, planned.steps
    got = rows(planned.df)
    assert got == {
        (0, 3), (0, 4), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (9, 3), (9, 4),
    }


def test_bounded_varlength_seeded(labeled):
    from g4s_spark.plans import plan_match

    planned = plan_match(labeled, parse("MATCH (a:A)-[:X*1..2]->(x) RETURN a, x"))
    assert ("closure_seed", "a") in planned.steps, planned.steps
    got = rows(planned.df)
    assert got == {(0, 2), (0, 3), (1, 2), (1, 3)}


# --- path binding + length(p) -----------------------------------------------

def test_path_length_parse():
    qg = parse("MATCH p = (a)-[:X*]->(b) RETURN a, b, length(p) AS d")
    assert qg.paths["p"] == (0,)
    assert qg.items[2] == ReturnItem("d", ("length", "p"))
    with pytest.raises(CypherParseError, match="unknown path"):
        parse("MATCH (a)-[:X]->(b) RETURN length(q)")
    with pytest.raises(CypherParseError, match="only length"):
        parse("MATCH p = (a)-[:X]->(b) RETURN p")


def test_path_length_closure_min_hops(chain):
    got = rows(run_cypher(chain, "MATCH p = (a)-[:X*]->(b) RETURN a, b, length(p) AS d"))
    # chain part: distance = b - a for 0..4
    for a in range(5):
        for b in range(a + 1, 5):
            assert (a, b, b - a) in got
    # cycle part: 5->6 = 1, 5->5 = 2 (min over the infinite walk family)
    assert (5, 6, 1) in got and (5, 5, 2) in got and (6, 5, 1) in got


def test_path_length_bounded(chain):
    got = rows(run_cypher(chain, "MATCH p = (a)-[:X*2..3]->(b) RETURN a, b, length(p) AS d"))
    assert (0, 2, 2) in got and (0, 3, 3) in got
    assert not any(x[0] == 0 and x[1] == 1 for x in got)  # 1 hop below lo


def test_path_length_fixed_edges_constant(chain):
    got = rows(run_cypher(chain, "MATCH p = (a)-[:X]->(b)-[:X]->(c) RETURN a, c, length(p) AS d"))
    assert got and all(d == 2 for _, _, d in got)


def test_path_length_mixed_fixed_and_var(chain):
    got = rows(run_cypher(
        chain, "MATCH p = (a)-[:X]->(b)-[:X*]->(c) RETURN a, c, length(p) AS d"
    ))
    # 0->1 fixed (1) then 1->4 min 3 hops: total 4
    assert (0, 4, 4) in got


# --- shortestPath() ----------------------------------------------------------

def test_shortest_path_equals_min_hop_reachability(chain):
    sp = rows(run_cypher(
        chain, "MATCH p = shortestPath((a)-[:X*]->(b)) RETURN a, b, length(p) AS d"
    ))
    plain = rows(run_cypher(
        chain, "MATCH p = (a)-[:X*]->(b) RETURN a, b, length(p) AS d"
    ))
    # distinct-match semantics: shortestPath == reachability with min dist
    assert sp == plain
    assert (0, 4, 4) in sp and (5, 5, 2) in sp


def test_shortest_path_parse_errors():
    with pytest.raises(CypherParseError, match="path expression"):
        parse("MATCH p = shortestpath b RETURN p")


def test_skip_offset(chain):
    full = [tuple(r) for r in run_cypher(
        chain, "MATCH (a)-[:X]->(b) RETURN a, b ORDER BY a, b"
    ).collect()]
    skipped = [tuple(r) for r in run_cypher(
        chain, "MATCH (a)-[:X]->(b) RETURN a, b ORDER BY a, b SKIP 2 LIMIT 3"
    ).collect()]
    assert skipped == full[2:5]
