"""Plan-shape tests: the cost-based planner must reproduce the reference
optimizer's selectivity-driven decisions (OptimSpec.scala:18-262 asserts
exact physical plans; here we assert the join order / step structure and
key physical-plan properties of the emitted DataFrame program)."""

from pyspark.sql import functions as F

from g4s_spark.cypher import parse
from g4s_spark.graph import PropertyGraph
from g4s_spark.plans import plan_match


def steps_of(planned, kind):
    return [s for s in planned.steps if s[0] == kind]


def test_cheapest_edge_scanned_first_chain(spark):
    """2-hop chain where the second hop is far more selective: the planner
    must anchor the join chain at the cheap edge (the analogue of the
    OptimSpec A*X*B vs A*(X*B) flip)."""
    nodes = (
        [(i, "A") for i in range(50)]
        + [(100 + i, "B") for i in range(50)]
        + [(200, "C")]
    )
    # 50 X edges A->B, 1 Y edge B->C
    edges = [(i, 100 + i, "X") for i in range(50)] + [(100, 200, "Y")]
    g = PropertyGraph.from_tuples(spark, nodes, edges)
    # this test pins JOIN ORDER: disable the round-16 tautological-hop
    # elimination (which would collapse the whole chain to a label scan)
    g.stats.endpoint_counts.clear()
    planned = plan_match(g, parse("MATCH (a:A)-[:X]->(b:B)-[:Y]->(c:C) RETURN c"))
    first = steps_of(planned, "scan")[0]
    assert first[1] == ("b", "c"), planned.steps  # Y edge anchors the chain
    # and the X edge joins onto it
    expands = steps_of(planned, "expand")
    assert expands and expands[0][1] == ("a", "b")


def test_live_binding_projection_prunes_dead_columns(spark):
    """After each hop, bindings not returned and not needed by pending
    edges must be projected away (the ANY_PAIR distinct trick)."""
    g = PropertyGraph.from_tuples(
        spark,
        nodes=[(0, "A"), (1, "B"), (2, "C")],
        edges=[(0, 1, "X"), (1, 2, "Y")],
    )
    # pins per-hop projection: keep the hops (see elimination tests below)
    g.stats.endpoint_counts.clear()
    planned = plan_match(g, parse("MATCH (a:A)-[:X]->(b:B)-[:Y]->(c:C) RETURN c"))
    final_proj = steps_of(planned, "project_distinct")[-1]
    assert final_proj[1] == ("c",)  # a and b dropped before the end
    assert planned.df.columns == ["c"]


def test_label_pruning_reaches_parquet_scan(spark, tmp_path):
    """A label filter over the union-of-tables node set must prune to the
    single underlying scan: Catalyst folds lit-label predicates per union
    branch, so (label == 'A') eliminates the other branches entirely."""
    a_path, b_path = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    spark.range(10).select(F.col("id")).write.mode("overwrite").parquet(a_path)
    spark.range(10).select((F.col("id") + 100).alias("id")).write.mode("overwrite").parquet(b_path)
    nodes = (
        spark.read.parquet(a_path).select("id", F.lit("A").alias("label"))
        .unionByName(spark.read.parquet(b_path).select("id", F.lit("B").alias("label")))
    )
    edges = spark.createDataFrame([], "src long, dst long, type string")
    g = PropertyGraph(nodes, edges, spark)
    df = g.label_nodes("A")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly ONE FileScan survives: the B branch is constant-folded away
    # (lit('B') == 'A' -> false) before execution
    assert plan.count("FileScan") == 1, plan
    assert "Union" not in plan, plan


def test_broadcast_semi_join_for_small_labels(spark):
    """Label semi-joins must go broadcast when the label set is small —
    the FilterMul analogue should never shuffle the frontier for a tiny
    dimension (SURVEY §4.3). The extra C-sourced X edge keeps the a:A
    constraint non-redundant (otherwise the triplet-identity skip
    removes the semi-join altogether — see test below)."""
    nodes = [(i, "A") for i in range(100)] + [(1000, "B"), (1001, "C")]
    edges = [(i, 1000, "X") for i in range(100)] + [(1001, 1000, "X")]
    g = PropertyGraph.from_tuples(spark, nodes, edges)
    planned = plan_match(g, parse("MATCH (a:A)-[:X]->(b:B) RETURN a, b"))
    physical = planned.df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in physical


def test_label_identity_semi_join_skipped(spark):
    """When the triplet stats prove every X edge runs A->B, the label
    semi-joins are identities and the planner skips them (round-16):
    the plan records semi_skip steps, no semi steps, and the result is
    identical to the constrained match."""
    nodes = [(i, "A") for i in range(100)] + [(1000, "B"), (1001, "C")]
    edges = [(i, 1000, "X") for i in range(100)] + [(1000, 1001, "Y")]
    g = PropertyGraph.from_tuples(spark, nodes, edges)
    planned = plan_match(g, parse("MATCH (a:A)-[:X]->(b:B) RETURN a, b"))
    assert steps_of(planned, "semi_skip"), planned.steps
    assert not steps_of(planned, "semi"), planned.steps
    rows = {(r.a, r.b) for r in planned.df.collect()}
    assert rows == {(i, 1000) for i in range(100)}
    # a C-sourced X edge breaks src coverage: the a-side semi-join must
    # come back (and b-side coverage still holds -> still skipped)
    g2 = PropertyGraph.from_tuples(
        spark, nodes, [(i, 1000, "X") for i in range(100)] + [(1001, 1000, "X")]
    )
    planned2 = plan_match(g2, parse("MATCH (a:A)-[:X]->(b:B) RETURN a, b"))
    assert steps_of(planned2, "semi"), planned2.steps
    rows2 = {(r.a, r.b) for r in planned2.df.collect()}
    assert rows2 == {(i, 1000) for i in range(100)}


def test_label_skip_unsound_under_multilabel_nodes(spark):
    """Multi-label nodes inflate the two-sided triplet counters (an edge
    counts once per label PAIR), so a side-sum can equal the type count
    without full coverage: here the Z-src edge's dst carries two labels
    (2 triplet rows) and the A-src edge's dst is dangling (0 rows) —
    sum(sl=Z) == type_card(X) even though edge e2 runs from an A node.
    stats.single_label must gate the skip off and keep the semi-join."""
    nodes = [(1, "Z"), (2, "A"), (1000, "B"), (1000, "C")]
    edges = [(1, 1000, "X"), (2, 5000, "X")]  # 5000 has no label row
    g = PropertyGraph.from_tuples(spark, nodes, edges)
    assert g.stats.single_label is False
    tcs = g.stats.triplet_counts
    covered = sum(c for (sl, t, _), c in tcs.items() if t == "X" and sl == "Z")
    assert covered == g.stats.type_counts["X"]  # the trap is live
    planned = plan_match(g, parse("MATCH (a:Z)-[:X]->(b) RETURN a, b"))
    assert steps_of(planned, "semi"), planned.steps
    assert not steps_of(planned, "semi_skip"), planned.steps
    assert {(r.a, r.b) for r in planned.df.collect()} == {(1, 1000)}


def test_tautological_hop_elimination_cascades(spark):
    """FK hop elimination (round-16): a chain returning only its far
    endpoint collapses to a single label scan when the stats prove every
    hop is an identity (coverage + participation). The cascade must drop
    BOTH hops and the result must equal the un-eliminated plan's."""
    nodes = (
        [(i, "A") for i in range(20)]
        + [(100 + i, "B") for i in range(10)]
        + [(200 + i, "C") for i in range(5)]
    )
    # every A has an X edge, every B is covered; every B has a Y edge,
    # every C is covered
    edges = [(i, 100 + i % 10, "X") for i in range(20)] + [
        (100 + i, 200 + i % 5, "Y") for i in range(10)
    ]
    g = PropertyGraph.from_tuples(spark, nodes, edges)
    q = "MATCH (a:A)-[:X]->(b:B)-[:Y]->(c:C) RETURN c"
    planned = plan_match(g, parse(q))
    assert len(steps_of(planned, "edge_elim")) == 2, planned.steps
    assert not steps_of(planned, "scan"), planned.steps
    assert steps_of(planned, "node_scan") == [("node_scan", "c", "C")]
    got = {r.c for r in planned.df.collect()}
    # differential: the un-eliminated plan over the same graph
    g.stats.endpoint_counts.clear()
    ref = plan_match(g, parse(q))
    assert not steps_of(ref, "edge_elim")
    assert got == {r.c for r in ref.df.collect()} == {200 + i for i in range(5)}


def test_tautological_hop_elimination_blockers(spark):
    """Each soundness gate must block the elimination on its own: a
    referenced dead binding, a participation gap (a C node with no
    Y in-edge), count(*) semantics, and a dangling edge endpoint
    (coverage breaks via the missing triplet row)."""
    nodes = [(0, "A"), (1, "B"), (2, "B")]
    edges = [(0, 1, "X"), (0, 2, "X")]
    g = PropertyGraph.from_tuples(spark, nodes, edges)
    # fully covered 1-hop: RETURN b eliminates (a dead), RETURN a, b not
    gone = plan_match(g, parse("MATCH (a:A)-[:X]->(b:B) RETURN b"))
    assert steps_of(gone, "edge_elim"), gone.steps
    assert {r.b for r in gone.df.collect()} == {1, 2}
    kept = plan_match(g, parse("MATCH (a:A)-[:X]->(b:B) RETURN a, b"))
    assert not steps_of(kept, "edge_elim"), kept.steps
    # count(*) counts distinct FULL matches — elimination must not fire
    star = plan_match(g, parse("MATCH (a:A)-[:X]->(b:B) RETURN count(*) AS n"))
    assert not steps_of(star, "edge_elim"), star.steps
    assert star.df.collect()[0].n == 2
    # a WHERE on the dead side blocks (referenced via filters); id()
    # predicates need no props column on this tuple-built graph
    filt = plan_match(
        g, parse("MATCH (a:A)-[:X]->(b:B) WHERE id(a) = 0 RETURN b")
    )
    assert not steps_of(filt, "edge_elim"), filt.steps
    assert {r.b for r in filt.df.collect()} == {1, 2}
    # participation gap: a B node with no X in-edge
    g2 = PropertyGraph.from_tuples(
        spark, nodes + [(3, "B")], edges
    )
    part = plan_match(g2, parse("MATCH (a:A)-[:X]->(b:B) RETURN b"))
    assert not steps_of(part, "edge_elim"), part.steps
    assert {r.b for r in part.df.collect()} == {1, 2}
    # dangling dst (id 99 has no label row): kills coverage on BOTH
    # sides (no triplet row), so neither orientation eliminates
    g3 = PropertyGraph.from_tuples(spark, nodes, edges + [(0, 99, "X")])
    dang = plan_match(g3, parse("MATCH (a:A)-[:X]->(b:B) RETURN b"))
    assert not steps_of(dang, "edge_elim"), dang.steps
    assert {r.b for r in dang.df.collect()} == {1, 2}


def test_tautological_hop_elimination_unlabeled_dead_side(spark):
    """An unlabeled dead binding needs no dead-side coverage — but a
    dangling endpoint must still block via the LIVE side's coverage
    test (the dangling edge has no triplet row at all)."""
    nodes = [(0, "A"), (1, "A"), (10, "B")]
    g = PropertyGraph.from_tuples(spark, nodes, [(0, 10, "X"), (1, 10, "X")])
    gone = plan_match(g, parse("MATCH (a:A)-[:X]->(b) RETURN a"))
    assert steps_of(gone, "edge_elim"), gone.steps
    assert {r.a for r in gone.df.collect()} == {0, 1}
    # now a dangles an X edge to a missing node: src coverage breaks
    # (that edge has no triplet row) -> no elimination, and the result
    # STILL includes node 0 (it matches via the dangling edge too)
    g2 = PropertyGraph.from_tuples(
        spark, nodes, [(0, 10, "X"), (1, 10, "X"), (0, 99, "X")]
    )
    kept = plan_match(g2, parse("MATCH (a:A)-[:X]->(b) RETURN a"))
    assert not steps_of(kept, "edge_elim"), kept.steps
    assert {r.a for r in kept.df.collect()} == {0, 1}


def test_cost_model_formulas():
    from g4s_spark.plans import expand_card, filter_card, step_cost

    # Operator.scala:116-148 formulas
    assert expand_card(10, 20, 0.5) == 100
    assert expand_card(1, 1, 0.0001) == 1  # floor at 1
    assert filter_card(10, 20, 0.5) == 10  # capped at lCard
    assert step_cost(100) == 120.0  # 1.2 factor


def test_shared_scan_memo_for_repeated_edge_type(spark):
    """Two pattern edges over the same type share one scan DataFrame
    (order-insensitive plan signatures, LogicNode.scala:20-31): the second
    occurrence records a scan_reuse step."""
    nodes = [(i, "A") for i in range(10)]
    edges = [(i, (i + 1) % 10, "X") for i in range(10)]
    g = PropertyGraph.from_tuples(spark, nodes, edges)
    planned = plan_match(g, parse("MATCH (a:A)-[:X]->(b:A)-[:X]->(c:A) RETURN a, c"))
    assert steps_of(planned, "scan_reuse"), planned.steps
    got = {tuple(r) for r in planned.df.collect()}
    assert got == {(i, (i + 2) % 10) for i in range(10)}


def test_shared_closure_memo_two_branches(spark):
    """Fork with two var-length branches over the same type: the closure
    is computed once (checkpointed) and reused for the second branch."""
    nodes = [(0, "A"), (1, "B"), (2, "B"), (3, "B")]
    edges = [(0, 1, "X"), (1, 2, "X"), (0, 3, "X")]
    g = PropertyGraph.from_tuples(spark, nodes, edges)
    planned = plan_match(
        g, parse("MATCH (a:A)-[:X*]->(x:B), (a)-[:X*]->(y:B) RETURN a, x, y")
    )
    assert steps_of(planned, "scan_reuse"), planned.steps
    # only ONE closure_seed step: second branch reused the memoized closure
    assert len(steps_of(planned, "closure_seed")) == 1, planned.steps
    got = {tuple(r) for r in planned.df.collect()}
    reach = {1, 2, 3}
    assert got == {(0, x, y) for x in reach for y in reach}


def test_skewed_hub_expand_correct_under_aqe(spark):
    """Hub-heavy graph (one vertex owns ~90% of edges — the power-law
    worst case for the expand join's shuffle keys): AQE skew-join is
    enabled session-wide and the 2-hop expand over the hub stays exact."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    n = 500
    nodes = [(i, "U") for i in range(n)] + [(1000, "H")]
    # hub 1000 receives an edge from every U, and fans out to every U
    edges = (
        [(i, 1000, "F") for i in range(n)]
        + [(1000, i, "F") for i in range(n)]
        + [(0, 1, "F")]  # one non-hub edge
    )
    g = PropertyGraph.from_tuples(spark, nodes, edges)
    planned = plan_match(g, parse("MATCH (a:U)-[:F]->(h)-[:F]->(b:U) RETURN a, b"))
    # every (a, b) pair routes through the hub; the 0->1 edge contributes
    # nothing (no F edge leaves 1 toward a U node)
    assert planned.df.count() == n * n


def test_triplet_stats_flip_join_order(spark):
    """One edge type whose volume lives on an unrelated label pair: the
    independence estimate (type_card x label selectivities) charges the
    A->B hop for all 1000 D->D edges of type T and anchors elsewhere;
    the (srcLabel, type, dstLabel) triplet count knows A-[:T]->B holds
    exactly one edge and anchors there (StatsStore.scala:141-170)."""
    nodes = (
        [(i, "A") for i in range(10)]
        + [(100 + i, "B") for i in range(10)]
        + [(200 + i, "C") for i in range(10)]
        + [(1000 + i, "D") for i in range(270)]
    )
    edges = (
        [(0, 100, "T")]
        + [(1000 + a, 1000 + b, "T") for a in range(40) for b in range(25)]
        + [(100 + i % 10, 200 + i // 10, "U") for i in range(50)]
    )
    g = PropertyGraph.from_tuples(spark, nodes, edges)
    q = "MATCH (a:A)-[:T]->(b:B)-[:U]->(c:C) RETURN c"
    planned = plan_match(g, parse(q))
    assert steps_of(planned, "scan")[0][1] == ("a", "b"), planned.steps
    # without triplet stats the independence estimate anchors at the U edge
    g.stats.triplet_counts.clear()
    planned2 = plan_match(g, parse(q))
    assert steps_of(planned2, "scan")[0][1] == ("b", "c"), planned2.steps


def test_bushy_fork_beats_left_deep_cost():
    """Two 2-hop arms meeting at one binding: the DP must build each arm
    independently and join them (the reference memo's re-association
    space, FilterExpandCommutative.scala:10-36) — strictly cheaper under
    the cost model than any left-deep order, whose running cardinality
    carries the first arm through the second arm's joins."""
    from itertools import permutations

    from g4s_spark.cypher.parser import PatternEdge
    from g4s_spark.plans.cost import step_cost
    from g4s_spark.plans.planner import _choose_join_tree, _subtree_edges

    arms = [
        PatternEdge("a", "m1", ("X",)), PatternEdge("m1", "z", ("Y",)),
        PatternEdge("b", "m2", ("W",)), PatternEdge("m2", "z", ("V",)),
    ]
    est = lambda e: 10.0
    tree, cost = _choose_join_tree(arms, est)

    # exhaustive left-deep reference: every connected linear order
    def left_deep_cost(order):
        c, card, bound = 0.0, None, set()
        for e in order:
            if card is None:
                card = 10.0
            else:
                if not ({e.src, e.dst} & bound):
                    return None  # cartesian step — old planner avoided these
                card = max(card * 10.0, 1.0)
            c += step_cost(card)
            bound |= {e.src, e.dst}
        return c
    ld_costs = [c for p in permutations(arms) if (c := left_deep_cost(p)) is not None]
    assert cost < min(ld_costs), (cost, min(ld_costs))

    # shape: root joins the two arms (2 edges each side), arm-by-arm
    assert isinstance(tree, tuple) and tree[0] == "J"
    sides = {frozenset((e.src, e.dst) for e in _subtree_edges(t)) for t in tree[1:]}
    assert sides == {
        frozenset({("a", "m1"), ("m1", "z")}),
        frozenset({("b", "m2"), ("m2", "z")}),
    }, tree


def test_bushy_fork_executes_correctly(spark):
    """The bushy plan's DataFrame program returns the same matches as the
    pattern's semantics demand (two arms ANDed on the shared endpoint)."""
    nodes = (
        [(i, "A") for i in range(10)] + [(10 + i, "M") for i in range(10)]
        + [(20 + i, "B") for i in range(10)] + [(30 + i, "N") for i in range(10)]
        + [(40, "Z"), (41, "Z")]
    )
    edges = (
        [(i, 10 + i, "X") for i in range(10)]          # a -> m
        + [(10 + i, 40 + i % 2, "Y") for i in range(10)]  # m -> z
        + [(20 + i, 30 + i, "W") for i in range(10)]   # b -> n
        + [(30 + i, 40 + (i + 1) % 2, "V") for i in range(10)]  # n -> z
    )
    g = PropertyGraph.from_tuples(spark, nodes, edges)
    planned = plan_match(
        g,
        parse(
            "MATCH (a:A)-[:X]->(m:M)-[:Y]->(z:Z), (b:B)-[:W]->(n:N)-[:V]->(z) "
            "RETURN a, b, z"
        ),
    )
    assert steps_of(planned, "bushy_join"), planned.steps
    got = {(r.a, r.b, r.z) for r in planned.df.collect()}
    want = {
        (a, 20 + b, 40 + a % 2)
        for a in range(10) for b in range(10)
        if a % 2 == (b + 1) % 2
    }
    assert got == want


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q11_scalar_is_broadcast_not_collected(spark):
    """The HAVING-above-scalar cutoff must reach the plan as a broadcast
    join of the 1-row aggregate — never a driver-side collect — and the
    big joins must not degrade to a cartesian product."""
    from g4s_spark.functions import relational as REL
    from g4s_spark.sources import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001")
    plan = _physical(REL.q11_important_stock(t, nation_name="NATION_3"))
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan


def test_q4_exists_is_semi_join(spark):
    from g4s_spark.functions import relational as REL
    from g4s_spark.sources import load_tables
    import __spark_entry__ as E

    df = E.queries()["rel_q4_priority"](spark, "/root/testdata/sf0.001")
    plan = _physical(df)
    assert "LeftSemi" in plan


def test_q22_anti_join_in_plan(spark):
    from g4s_spark.functions import relational as REL
    from g4s_spark.sources import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001")
    plan = _physical(REL.q22_idle_customers(t))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_bench_side_broadcasts(spark):
    """The benchmark n-gram set must broadcast into the semi-join (the
    100 TB shape: corpus-side explode streams, bench side ships)."""
    from g4s_spark.functions.text import decontaminate
    from g4s_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = decontaminate(
        docs.filter(F.col("source") != "src19"),
        docs.filter(F.col("source") == "src19"),
        n=4,
    )
    plan = _physical(out)
    assert "LeftSemi" in plan


def test_predicate_selectivity_flips_anchor(spark):
    """Histogram-based WHERE selectivity (SURVEY §4.2 extension): a chain
    whose label counts anchor the plan at the cheap Y edge must re-anchor
    at the X edge when a highly selective numeric predicate sits on (a).
    Without histograms both queries plan identically."""
    nodes = spark.createDataFrame(
        [(i, "A", {"v": str(float(i))}) for i in range(100)]
        + [(100 + i, "B", {}) for i in range(100)]
        + [(200 + i, "C", {}) for i in range(10)],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(i, 100 + i, "X") for i in range(100)]
        + [(100 + i, 200 + i, "Y") for i in range(10)],
        "src long, dst long, type string",
    )
    g = PropertyGraph(nodes, edges).cache()
    # pins anchor choice under histograms: keep the hops
    g.stats.endpoint_counts.clear()

    base = plan_match(g, parse("MATCH (a:A)-[:X]->(b:B)-[:Y]->(c:C) RETURN c"))
    assert steps_of(base, "scan")[0][1] == ("b", "c")  # Y anchors: 10 < 100

    # v < 2.0 keeps ~2/100 of A: X-side estimate ~2 beats Y's 10
    sel = plan_match(
        g, parse("MATCH (a:A)-[:X]->(b:B)-[:Y]->(c:C) WHERE a.v < 2.0 RETURN c")
    )
    assert steps_of(sel, "scan")[0][1] == ("a", "b"), sel.steps


def test_edge_predicate_selectivity_flips_anchor(spark):
    """Edge-weight histogram: a selective WHERE on an edge variable must
    re-anchor the chain at that edge."""
    nodes = (
        [(i, "A") for i in range(100)]
        + [(100 + i, "B") for i in range(100)]
        + [(200 + i, "C") for i in range(10)]
    )
    # X edges carry weights 0..99; Y edges are few but unfiltered
    edges = spark.createDataFrame(
        [(i, 100 + i, "X", i) for i in range(100)]
        + [(100 + i, 200 + i, "Y", 1) for i in range(10)],
        "src long, dst long, type string, weight long",
    )
    g = PropertyGraph(
        spark.createDataFrame(nodes, "id long, label string"), edges
    ).cache()
    base = plan_match(g, parse("MATCH (a:A)-[e:X]->(b:B)-[:Y]->(c:C) RETURN c"))
    assert steps_of(base, "scan")[0][1] == ("b", "c")
    sel = plan_match(
        g, parse("MATCH (a:A)-[e:X]->(b:B)-[:Y]->(c:C) WHERE e.weight < 3 RETURN c")
    )
    assert steps_of(sel, "scan")[0][1] == ("a", "b"), sel.steps


def test_explain_cypher(spark):
    """explain_cypher (round-8): the step trace comes from the same
    PlannedQuery.steps channel the plan-shape tests pin."""
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import explain_cypher

    nodes = spark.createDataFrame(
        [(1, "A", {"v": "1"}), (10, "B", {"v": "2"})],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame([(1, 10, "E")], "src long, dst long, type string")
    g = PropertyGraph(nodes, edges, spark)
    txt = explain_cypher(g, "MATCH (a:A)-[:E]->(b:B) RETURN a, count(b) AS n")
    assert "estimated cost" in txt
    assert "semi" in txt and "aggregate" in txt
    assert "spark physical plan" not in txt
    txt = explain_cypher(g, "MATCH (a:A) RETURN a", spark_plan=True)
    assert "spark physical plan" in txt and "Physical Plan" in txt
    # compound queries fall back to the Spark-level plan
    txt = explain_cypher(
        g, "MATCH (a:A) RETURN a UNION MATCH (b:B) RETURN b AS a"
    )
    assert "compound query" in txt and "Physical Plan" in txt


def test_return_binding_alias(spark):
    """RETURN b AS alias (round-8): zero-cost id projection — the shape
    UNION sides need to align columns."""
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher

    nodes = spark.createDataFrame(
        [(1, "A", {}), (10, "B", {})], "id long, label string, props map<string,string>"
    )
    edges = spark.createDataFrame([(1, 10, "E")], "src long, dst long, type string")
    g = PropertyGraph(nodes, edges, spark)
    out = run_cypher(g, "MATCH (a:A) RETURN a UNION MATCH (b:B) RETURN b AS a")
    assert out.columns == ["a"]
    assert sorted(r.a for r in out.collect()) == [1, 10]


def test_kmv_ungrouped_plans_take_ordered(spark):
    """kmv_distinct without group cols must plan TakeOrderedAndProject
    (per-partition top-k + k-row merge), never a single-task global
    window (round-9, ADVICE r8)."""
    from g4s_spark.functions.dedup import kmv_distinct

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, v string"
    )
    plan = kmv_distinct(df, "v", k=8)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_tfidf_broadcasts_corpus_total(spark):
    """tfidf_keywords joins the 1-row N aggregate as a broadcast, and the
    only Window is the per-document rank (partitioned by the id col,
    never a global sort)."""
    from g4s_spark.functions.text import tfidf_keywords

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    plan = tfidf_keywords(df, k=2)._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan
    assert "windowspecdefinition(doc_id" in plan


def test_payload_rows_memoized_and_deduped(spark):
    """payload_rows (round-9): one deduped plan per graph (memo
    identity), payload-level dedup (multi-label collapses, distinct
    payloads survive)."""
    from g4s_spark.graph import PropertyGraph

    nodes = spark.createDataFrame(
        [(0, "A", {"k": "1"}), (0, "B", {"k": "1"}), (7, "L", {"k": "a"}),
         (7, "L", {"k": "b"})],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame([], "src long, dst long, type string")
    g = PropertyGraph(nodes, edges, spark)
    p1, p2 = g.payload_rows(), g.payload_rows()
    assert p1 is p2  # memoized: every resolution join reuses ONE plan
    rows = sorted((r.id, dict(r.props)["k"]) for r in p1.collect())
    assert rows == [(0, "1"), (7, "a"), (7, "b")]


def test_simhash_single_exchange(spark):
    """simhash (round-16): the doc_id repartition serves BOTH the
    (id, tok) distinct and the vote groupBy via the subset rule — the
    whole fingerprint plan carries exactly ONE shuffle exchange, and
    the fingerprints match a direct per-token recomputation."""
    from g4s_spark.functions.dedup import simhash

    df = spark.createDataFrame(
        [(1, "a b c a"), (2, "b c d"), (3, "a b c a")],
        "doc_id long, text string",
    )
    out = simhash(df)
    plan = _physical(out)
    assert plan.count("Exchange hashpartitioning") == 1
    got = {(r.doc_id, r.simhash) for r in out.collect()}
    assert len(got) == 3
    by_id = dict(got)
    assert by_id[1] == by_id[3]  # identical docs -> identical fingerprints


def test_mxm_reuses_row_partitioned_input_exchange(spark):
    """Library-level port of the round-16 fixture rule (VERDICT r16 #2):
    a NON-fixture matrix that opted in via Matrix.partition_by_row()
    must feed mxm's output aggregation and reduce_rows' groupBy(i)
    through its ONE row-keyed exchange — HashPartitioning(i) is a
    subset of the grouping keys and survives the broadcast join of the
    B operand, so the join product is never re-shuffled: no hash
    exchange sits ABOVE the join (plans print top-down, so "above"
    means before BroadcastHashJoin in the string). Differential: the
    unpartitioned form pays the aggregation exchange above the join,
    and both forms produce identical cells."""
    from g4s_spark.grblas import Matrix, PLUS_TIMES, mxm, reduce_rows

    cells_a = [(i % 40, i % 17, float(i % 5 + 1)) for i in range(400)]
    cells_b = [(k, k % 7, 2.0) for k in range(17)]
    a_plain = Matrix.from_df(
        spark.createDataFrame(cells_a, "i long, j long, v double"),
        "i", "j", "v", 40, 17,
    )
    b = Matrix.from_df(
        spark.createDataFrame(cells_b, "i long, j long, v double"),
        "i", "j", "v", 17, 7,
    ).cache()  # cached => exact size stats => planner builds/broadcasts B
    b.df.count()
    a_part = a_plain.partition_by_row(4).cache()
    a_part.df.count()  # materialize, as a session warmup would

    out_part = mxm(a_part, b, PLUS_TIMES).df
    out_plain = mxm(a_plain, b, PLUS_TIMES).df
    plan_part, plan_plain = _physical(out_part), _physical(out_plain)
    assert "BroadcastHashJoin" in plan_part, plan_part
    # row-partitioned A: the aggregation reuses the cached partitioning —
    # nothing above the join but the broadcast build
    above = plan_part.split("BroadcastHashJoin", 1)[0]
    assert "Exchange hashpartitioning" not in above, plan_part
    assert "InMemoryTableScan" in plan_part
    # plain A: the groupBy(i, j) pays its own exchange above the join
    above_plain = plan_plain.split("BroadcastHashJoin", 1)[0]
    assert "Exchange hashpartitioning" in above_plain, plan_plain
    got_part = {(r.i, r.j, r.v) for r in out_part.collect()}
    got_plain = {(r.i, r.j, r.v) for r in out_plain.collect()}
    assert got_part == got_plain and got_part

    # reduce_rows on the cached row-partitioned matrix: shuffle-free —
    # the groupBy(i) sits directly on the cache scan
    red = reduce_rows(a_part).df
    plan_red = _physical(red)
    # only the plan ABOVE the cache scan matters: the cached build
    # lineage legitimately contains the one-time row-key exchange
    above_red = plan_red.split("InMemoryRelation", 1)[0]
    assert "Exchange hashpartitioning" not in above_red, plan_red
    assert "InMemoryTableScan" in above_red
    got_red = {(r.i, r.v) for r in red.collect()}
    want = {}
    for i, _, v in cells_a:
        want[i] = want.get(i, 0.0) + v
    assert got_red == {(i, v) for i, v in want.items()}


def test_semi_skip_fires_on_synth_graph_and_snapshot_roundtrip(spark, tmp_path):
    """VERDICT r16 #6: the stats-driven eliminations must flow through
    NON-TPC-H graphs — a graph built from synthesized DataFrames gets
    endpoint_counts + single_label from GraphStats.compute, and a
    write_graph/read_graph stats-snapshot round-trip preserves them, so
    the semi-join skip fires on both."""
    from g4s_spark.graph.synth import power_law_graph
    from g4s_spark.sources.layout import write_graph, read_graph

    e = power_law_graph(spark, n_nodes=50, n_edges=200, seed=7)
    # label by id range: every edge runs Src-label -> Dst-label by
    # construction (src and dst id spaces are disjoint after the shift)
    edges = e.select(
        F.col("src"), (F.col("dst") + 1000).alias("dst"), F.lit("X").alias("type")
    )
    nodes = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.lit("S"))
        .unionByName(
            edges.select(F.col("dst").alias("id")).distinct()
            .withColumn("label", F.lit("T"))
        )
    )
    g = PropertyGraph(nodes, edges, spark)
    assert g.stats.single_label is True
    assert g.stats.endpoint_counts  # computed, not empty
    planned = plan_match(g, parse("MATCH (a:S)-[:X]->(b:T) RETURN a, b"))
    assert steps_of(planned, "semi_skip"), planned.steps
    assert not steps_of(planned, "semi"), planned.steps

    # snapshot round-trip: read_graph pre-warms stats from stats.json —
    # the flags must survive and the skip must still fire
    path = str(tmp_path / "synthg")
    write_graph(g, path)
    g2 = read_graph(spark, path)
    assert "stats" in g2.derived and g2.stats.single_label is True
    planned2 = plan_match(g2, parse("MATCH (a:S)-[:X]->(b:T) RETURN a, b"))
    assert steps_of(planned2, "semi_skip"), planned2.steps
    got = {(r.a, r.b) for r in planned2.df.collect()}
    want = {(r.src, r.dst) for r in edges.select("src", "dst").collect()}
    assert got == want


def test_semi_skip_refused_under_preflag_stats_snapshot(spark, tmp_path):
    """A stats snapshot written BEFORE the single_label/endpoint_counts
    flags existed loads with single_label=None — the planner must treat
    unknown as unsafe: no semi_skip, no tautological-hop elimination,
    same results through the full semi-join plan."""
    import json as _json

    from g4s_spark.sources.layout import write_graph, read_graph

    nodes = [(i, "A") for i in range(20)] + [(1000, "B")]
    edges = [(i, 1000, "X") for i in range(20)]
    g = PropertyGraph.from_tuples(spark, nodes, edges)
    path = str(tmp_path / "oldg")
    write_graph(g, path)
    # simulate the pre-flag snapshot: strip the round-16 fields
    with open(f"{path}/stats.json") as fh:
        d = _json.load(fh)
    d.pop("single_label", None)
    d.pop("endpoint_counts", None)
    with open(f"{path}/stats.json", "w") as fh:
        _json.dump(d, fh)
    g2 = read_graph(spark, path)
    assert "stats" in g2.derived and g2.stats.single_label is None
    planned = plan_match(g2, parse("MATCH (a:A)-[:X]->(b:B) RETURN a, b"))
    assert not steps_of(planned, "semi_skip"), planned.steps
    assert steps_of(planned, "semi"), planned.steps
    assert {(r.a, r.b) for r in planned.df.collect()} == {(i, 1000) for i in range(20)}


def test_ngram_jaccard_session_shingle_index(spark):
    """round-17: materialize=True serves the pair stage from the
    session-persisted shingle inverted index (shingle_table) — the memo
    returns the SAME cached frame across calls (one fill per corpus per
    session), the doc-keyed cache partitioning is reused by the pair
    aggregation (no exchange above the cache scans in the
    pre-checkpoint pipeline), and the results are identical to the
    uncached plan-builder form."""
    from g4s_spark.functions import dedup as D

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d x y"), (3, "p q r s t u")],
        "doc_id long, text string",
    )
    sh1 = D.shingle_table(df)
    sh2 = D.shingle_table(df)
    assert sh1 is sh2  # memoized: every consumer shares ONE fill
    sh1.count()  # materialize, as the gate's first execution does —
    # only a materialized cache carries exact size stats (=> broadcast)
    # pre-checkpoint pipeline over the index: cache-scan-backed, and the
    # doc-keyed partitioning satisfies the (a, b) aggregation via the
    # subset rule — no hash exchange above the cache scans
    from pyspark.sql import functions as FF

    a = sh1.select(FF.col("doc_id").alias("a"), "shingle")
    b = sh1.select(FF.col("doc_id").alias("b"), "shingle")
    inter = (
        a.join(b, on="shingle").filter(FF.col("a") < FF.col("b"))
        .groupBy("a", "b").agg(FF.count(FF.lit(1)).alias("n_common"))
    )
    plan = _physical(inter)
    above = plan.split("InMemoryRelation", 1)[0]
    assert "InMemoryTableScan" in above, plan
    assert "Exchange hashpartitioning" not in above, plan
    got = {(r.a, r.b, r.jaccard) for r in
           D.ngram_jaccard_pairs(df, threshold=0.2, materialize=True).collect()}
    want = {(r.a, r.b, r.jaccard) for r in
            D.ngram_jaccard_pairs(df, threshold=0.2, materialize=False).collect()}
    assert got == want and got
