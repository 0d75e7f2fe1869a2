"""Cost-based pattern-match planner: QueryGraph -> DataFrame program.

Reference pipeline (SURVEY §3.1): QueryGraph -> LogicNode DFS
(LogicNode.scala:106-200) -> memo optimizer picking join order from label
statistics (Optimizer.scala:24-38) -> physical mxm chain
(Operator.scala:150-197).

Spark-first translation (SURVEY §7.1): instead of boolean matrices keyed
by (start, current) we carry one id column per binding through a chain of
equi-joins — strictly more capable (multi-binding RETURN needs no separate
Join/tuple-merge stage, cf. GrBTuples.scala:67-147) and it lets Catalyst
fuse the whole chain into whole-stage-codegen'd hash joins.

The reference's semantics we must preserve (SURVEY §7.3):
- ANY_PAIR existence semiring == duplicate elimination after every hop
  (Operator.scala:401-424): we project to the *live* bindings (returned or
  still needed by a pending pattern edge) and dropDuplicates after each
  join. This bounds every intermediate at |distinct live-binding tuples| —
  the reason the plan survives 100 TB instead of exploding with path
  multiplicity.
- Label filters are semi-joins (FilterMul, Operator.scala:298-324),
  broadcast when the label's cardinality is small.
- Join order is chosen by the reference's cost model (plans/cost.py) over
  edge-step estimates: type_card × src-label-sel × dst-label-sel — greedy
  smallest-first, which reproduces the OptimSpec plan flips for chain
  queries.
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields as dc_fields, is_dataclass, replace as dc_replace

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

import operator

from ..checkpointing import MAX_CLOSURE_ITERS, fixpoint, iter_checkpoint
from ..cypher.parser import (
    CypherParseError,
    Create,
    Delete,
    ID_PROP,
    Match,
    Merge,
    PatternEdge,
    Projection,
    QueryGraph,
    Remove,
    ReturnItem,
    SetClause,
    Statement,
    Unwind,
    bind_params,
    expr_prop_leaves,
    expr_walk,
    parse_expr,
    parse_statement,
    stage_query_graph,
    write_shape_error,
    _parse_clauses,
    _parse_returns,
    _prop_at,
    _ret_item_shape,
    _strip_ret_alias,
    lex,
    order_item,
    read_conjunct,
)
from ..graph.stats import hist_sel
from ..graph.store import PRED_OPS, PropertyGraph, apply_scalar_fn, atom_cmp, lit_cmp, num
from .cost import expand_card, step_cost

BROADCAST_MAX_ROWS = 2_000_000  # label sets below this are broadcast


@dataclass
class PlannedQuery:
    df: DataFrame
    steps: list[tuple] = field(default_factory=list)  # for plan-shape tests
    cost: float = 0.0


# a WITH-tail UNWIND range() materializes as a Python list (embedded as
# a literal array), so it is capped: UNWIND range(0, 1e8) cannot OOM the
# driver; a leading UNWIND builds on spark.range and has no cap (ADVICE r6)
_RANGE_LIST_CAP = 1_000_000


def _unwind_values(u: Unwind) -> list:
    """The values of a literal-list or range() UNWIND, as a list."""
    if u.bounds is None:
        return list(u.values)
    start, stop, step = u.bounds
    if abs(stop - start) // abs(step) > _RANGE_LIST_CAP:
        raise CypherParseError(
            f"{u.text} exceeds {_RANGE_LIST_CAP} elements; use a "
            "leading UNWIND (distributed via spark.range) instead"
        )
    return list(range(start, stop, step))


def run_cypher(
    graph: PropertyGraph,
    query: str,
    resolve: bool = False,
    params: dict | None = None,
) -> DataFrame:
    """Parse + plan + emit. Result: one column per returned binding holding
    node ids; with resolve=True, payload rows (id + label per binding,
    Readme.md:66-70 result semantics). Queries with top-level WITH run as
    a stage pipeline; UNION [ALL] combines same-shaped sub-queries; a
    leading UNWIND over a literal list cross-multiplies the match rows
    (all extensions beyond the reference surface). ``params`` binds
    ``$name`` query parameters as literals before parsing (round-8)."""
    if params is not None:
        query = bind_params(query, params)
    return _run_statement(graph, parse_statement(query), resolve)


def _run_statement(graph: PropertyGraph, stmt: Statement, resolve: bool) -> DataFrame:
    if stmt.write is not None:
        raise CypherParseError(
            f"unsupported query (expected MATCH ... RETURN ...; a write "
            f"statement runs through GraphDB.update): {stmt.text!r}"
        )
    dfs = [_run_part(graph, part, resolve) for part in stmt.parts]
    if len(dfs) == 1:
        return dfs[0]
    cols = sorted(dfs[0].columns)
    for d in dfs[1:]:
        if sorted(d.columns) != cols:
            raise CypherParseError(
                f"UNION sides return different columns: {cols} vs {sorted(d.columns)}"
            )
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    # UNION dedups across sides; each side is already distinct under
    # the engine's existence semantics, so ALL only skips that final
    # cross-side dedup
    return out if stmt.union_all else out.dropDuplicates()


def _run_part(graph: PropertyGraph, clauses, resolve: bool) -> DataFrame:
    """One UNION side: leading UNWINDs wrap the rest; otherwise the
    stage loop, then the optional label resolution."""
    lead = 0
    while isinstance(clauses[lead], Unwind):
        lead += 1
    if lead:
        return _run_unwind(graph, clauses[:lead], list(clauses[lead:]), resolve)
    df, bindings = _run_stages(graph, clauses)
    if resolve:
        df = _join_label_sets(
            graph, df, [(b, f"{b}_label") for b in df.columns if b in bindings]
        )
    return df


def _join_label_sets(graph: PropertyGraph, df: DataFrame, pairs) -> DataFrame:
    """Left-join each (binding, alias) pair's sorted comma-joined label
    SET onto ``df`` (round-9): one aggregated per-id lookup — a
    multi-label node is several (id, label) rows, yet resolves to one
    row carrying all its labels, never a fanout. Serves both
    run_cypher(resolve=True) and labels() returns; shuffles on node id,
    the same scale shape as props resolution."""
    ldf = (
        graph.nodes.select("id", "label")
        .dropDuplicates(["id", "label"])
        .groupBy("id")
        .agg(F.concat_ws(",", F.sort_array(F.collect_set("label"))).alias("_lbls"))
    )
    for b, a in pairs:
        df = df.join(
            ldf.select(F.col("id").alias(b), F.col("_lbls").alias(a)), on=b, how="left"
        )
    return df


def _write_statement(query, cls) -> tuple[QueryGraph, object]:
    """The QueryGraph of a write statement's MATCH clauses and its write
    node, which must be a ``cls`` node; ``query`` is the statement's
    text or its parsed tree."""
    stmt = query if isinstance(query, Statement) else parse_statement(query)
    *matches, w = stmt.parts[0]
    if not isinstance(w, cls):
        raise write_shape_error(cls, stmt.text)
    qg = QueryGraph()
    _parse_clauses(matches, qg)
    return qg, w


def _write_rows(graph: PropertyGraph, qg: QueryGraph, bindings) -> DataFrame:
    """Plan a write's MATCH through plan_match, returning ``bindings``
    (the ones the write reads) as well."""
    for b in dict.fromkeys(bindings):
        qg.items.append(ReturnItem(b, ("var", b)))
    return plan_match(graph, qg).df


def _weight_value(en: str, val: tuple) -> tuple:
    """An edge-weight SET value: ("lit", float) for a numeric literal,
    or ("expr", tree) over ``en.weight`` alone. An edge weight is a
    double, so size()/CASE (string-valued leaves) are rejected."""
    kind, v = val
    if kind == "lit":
        try:
            return "lit", float(v)
        except ValueError:
            raise CypherParseError(f"edge weight must be numeric, got: {v!r}") from None
    for n in expr_walk(v):
        if n[0] in ("strlen", "case"):
            raise CypherParseError("size()/CASE are unsupported in edge weight expressions")
        if n[0] == "prop" and n[2] != "weight":
            raise CypherParseError(
                f"edge SET expression may only reference {en}.weight, got {n[1]}.{n[2]}"
            )
    return "expr", v


def _node_props(graph: PropertyGraph, ids: DataFrame, props: dict) -> DataFrame:
    """(id, props) update rows for update_node_props: literal values as
    given, expression values evaluated over each node's own props map
    (ONE left join onto the payload resolves every leaf; multi-label
    nodes share one props map per id) and stored through the
    double->string rendering every other numeric prop uses."""
    upd = ids.dropDuplicates(["id"])
    if any(kind == "expr" for kind, _ in props.values()):
        upd = upd.join(graph.payload_nodes(), on="id", how="left")
    entries = []
    for k, (kind, v) in sorted(props.items()):
        entries.append(F.lit(k))
        entries.append(
            F.lit(v) if kind == "lit"
            else expr_col(v, lambda _b, p: F.col("props").getItem(p)).cast("string")
        )
    return upd.select("id", F.create_map(*entries).alias("props"))


def run_cypher_set(graph: PropertyGraph, query) -> PropertyGraph:
    """Mutation statement: ``MATCH pattern [WHERE ...] SET b.prop =
    value [, b2.prop2 = ...]`` — openCypher SET (extension; the
    reference declares no mutation at all, StatsStore.scala:172-177
    ``???``). Values are literals or arithmetic expressions over the
    SAME binding's properties (``SET b.cnt = b.cnt + 1``,
    property-from-property — VERDICT r6 #4); expression results are
    stored through the double→string rendering every other numeric
    prop uses. Returns the UPDATED graph (the input graph is untouched
    — immutable rewrite, like remove_*).

    Plan: the MATCH runs through the normal cost-based planner, each
    SET binding's matched id set projects out distinct, expression
    values resolve via ONE left join onto the node payload, and the
    props land via update_node_props' broadcast-merge join — so the
    match cost is one planned query and the write is
    Delta-MERGE-shaped."""
    qg, w = _write_statement(query, SetClause)
    # prop -> ("lit", str) | ("expr", tree), per binding
    sets: dict[str, dict[str, tuple]] = {}
    label_adds: list[tuple[str, str]] = []  # (binding, label) — SET n:L
    for it in w.items:
        if it.label is not None:
            label_adds.append((it.binding, it.label))
        else:
            sets.setdefault(it.binding, {})[it.prop] = it.value
    # edge-variable SET (round-7): `SET e.weight = <number>` overwrites
    # the matched edges' typed weight through update_edge_weights —
    # routed by the pattern edge the variable names
    edge_sets: dict[str, tuple] = {}
    edge_by_name = {e.name: e for e in qg.edges if e.name}
    for b in list(sets):
        if b in qg.labels:
            continue
        if b in edge_by_name:
            items_ = sets.pop(b)
            if set(items_) != {"weight"}:
                raise CypherParseError(
                    f"edge SET supports only {b}.weight (typed column); "
                    f"got: {sorted(items_)}"
                )
            # a literal, or an expression over THIS edge's weight
            # (`SET e.weight = e.weight * 2`, round-7)
            edge_sets[b] = _weight_value(b, items_["weight"])
            continue
        raise CypherParseError(f"SET references unbound binding: {b!r}")
    for b, _lbl in label_adds:
        if b not in qg.labels:
            raise CypherParseError(f"SET label references unbound binding: {b!r}")
    ends = []
    for en, (kind, _v) in edge_sets.items():
        e = edge_by_name[en]
        ends += [e.src, e.dst]
        if kind == "expr":
            # the current weight rides the match as an edge-prop column
            qg.items.append(ReturnItem(f"_setw_{en}", ("eprop", en, "weight")))
    matched = _write_rows(graph, qg, [b for b, _ in label_adds] + list(sets) + ends)
    out = graph
    for en, (kind, v) in edge_sets.items():
        e = edge_by_name[en]
        if len(e.types) != 1:
            raise CypherParseError(
                f"edge SET needs exactly one edge type on {en!r}"
            )
        if kind == "lit":
            wcol = F.lit(v).cast("double")
            cols = [F.col(e.src).alias("src"), F.col(e.dst).alias("dst")]
        else:
            wcol = expr_col(v, lambda _b, _p: F.col(f"_setw_{en}")).cast("double")
            cols = [
                F.col(e.src).alias("src"), F.col(e.dst).alias("dst"),
                F.col(f"_setw_{en}"),
            ]
        upd = (
            matched.select(*cols)
            .withColumn("weight", wcol)
            .select("src", "dst", "weight")
            .dropDuplicates(["src", "dst"])
            .withColumn("type", F.lit(e.types[0]))
        )
        out = out.update_edge_weights(upd)
    for b, props in sets.items():
        ids = matched.select(F.col(b).alias("id"))
        out = out.update_node_props(_node_props(graph, ids, props))
    # SET n:Label (round-8): matched ids gain the label's (id, label)
    # row (multi-label model; add_labels is an idempotent anti-join)
    for b, lbl in label_adds:
        out = out.add_labels(matched.select(F.col(b).alias("id")), lbl)
    return out


def run_cypher_delete(graph: PropertyGraph, query) -> PropertyGraph:
    """openCypher ``MATCH ... [DETACH] DELETE n[, e, ...]`` — the
    query-language surface of remove_vertices/remove_edges (extension;
    the reference declares removeNode/removeEdge but leaves them ``???``,
    StatsStore.scala:172-177). Targets are node bindings or edge
    variables from the MATCH. Per openCypher, a plain DELETE of a node
    that still has relationships (beyond those deleted by this same
    statement) raises; DETACH DELETE cascades incident edges. Returns
    the updated graph (immutable rewrite, like run_cypher_set).

    Plan shape: one planned MATCH; edge deletes are (src, dst, type)
    anti-joins, node deletes are the three-anti-join cascade of
    remove_vertices — all broadcastable semi-differences. The plain-
    DELETE constraint check is ONE limit(1) probe over the would-remain
    incident edges."""
    qg, w = _write_statement(query, Delete)
    edge_by_name = {e.name: e for e in qg.edges if e.name}
    node_targets, edge_targets = [], []
    for t in w.targets:
        if t in qg.labels:
            node_targets.append(t)
        elif t in edge_by_name:
            edge_targets.append(t)
        else:
            raise CypherParseError(f"DELETE references unbound binding: {t!r}")
    ends = []
    for en in edge_targets:
        e = edge_by_name[en]
        if len(e.types) != 1:
            raise CypherParseError(f"edge DELETE needs exactly one edge type on {en!r}")
        ends += [e.src, e.dst]
    matched = _write_rows(graph, qg, node_targets + ends)
    out = graph
    deleted_edges = None
    for en in edge_targets:
        e = edge_by_name[en]
        rows = (
            matched.select(F.col(e.src).alias("src"), F.col(e.dst).alias("dst"))
            .dropDuplicates(["src", "dst"])
            .withColumn("type", F.lit(e.types[0]))
        )
        out = out.remove_edges(rows)
        deleted_edges = rows if deleted_edges is None else deleted_edges.unionByName(rows)
    if node_targets:
        ids = None
        for t in node_targets:
            part = matched.select(F.col(t).alias("id"))
            ids = part if ids is None else ids.unionByName(part)
        ids = ids.dropDuplicates(["id"])
        if not w.detach:
            # openCypher: plain DELETE must not orphan relationships —
            # any incident edge that this statement does not itself
            # delete is an error (one limit(1) probe)
            remain = graph.edges
            if deleted_edges is not None:
                remain = remain.join(
                    F.broadcast(deleted_edges), on=["src", "dst", "type"], how="left_anti"
                )
            incident = remain.join(
                F.broadcast(ids.select(F.col("id").alias("src"))), on="src", how="left_semi"
            ).unionByName(
                remain.join(
                    F.broadcast(ids.select(F.col("id").alias("dst"))), on="dst", how="left_semi"
                )
            )
            if incident.limit(1).count():
                raise ValueError(
                    "cannot DELETE a node that still has relationships; "
                    "use DETACH DELETE"
                )
        out = out.remove_vertices(ids)
    return out


def run_cypher_remove(graph: PropertyGraph, query) -> PropertyGraph:
    """openCypher ``MATCH ... REMOVE n.prop[, ...]`` — drop property
    keys from matched nodes via remove_node_props (broadcast semi-join
    + map_filter; the nodes table never shuffles). A removed property
    reads back as NULL (the IS NULL / coalesce contract). Edge
    properties are typed columns here, so REMOVE on an edge variable is
    a typed error (SET e.weight to a new value instead)."""
    qg, w = _write_statement(query, Remove)
    edge_names = {e.name for e in qg.edges if e.name}
    removes: dict[str, list[str]] = {}
    label_removes: list[tuple[str, str]] = []  # (binding, label)
    for it in w.items:
        b = it.binding
        if it.label is not None:
            if b not in qg.labels:
                raise CypherParseError(
                    f"REMOVE label references unbound binding: {b!r}"
                )
            label_removes.append((b, it.label))
            continue
        if b in edge_names:
            raise CypherParseError(
                "REMOVE on an edge variable is unsupported (edge props are "
                "typed columns; SET e.weight instead)"
            )
        if b not in qg.labels:
            raise CypherParseError(f"REMOVE references unbound binding: {b!r}")
        removes.setdefault(b, []).append(it.prop)
    matched = _write_rows(graph, qg, [b for b, _ in label_removes] + list(removes))
    out = graph
    for b, keys in removes.items():
        out = out.remove_node_props(matched.select(F.col(b).alias("id")), keys)
    # REMOVE n:Label (round-8): drop the (id, label) rows; a node whose
    # last label goes leaves the store (incident edges removed with it)
    for b, lbl in label_removes:
        out = out.remove_labels(matched.select(F.col(b).alias("id")), lbl)
    return out


def _edge_pairs(graph: PropertyGraph, qg: QueryGraph, edge, verb: str) -> DataFrame:
    """The distinct matched (src, dst) pairs of a CREATE / MERGE edge,
    typed with its one edge type."""
    for nb in (edge.src, edge.dst):
        if nb not in qg.labels:
            raise CypherParseError(f"{verb} endpoint {nb!r} is not bound by MATCH")
    matched = _write_rows(graph, qg, [edge.src, edge.dst])
    return (
        matched.select(F.col(edge.src).alias("src"), F.col(edge.dst).alias("dst"))
        .dropDuplicates(["src", "dst"])
        .withColumn("type", F.lit(edge.type))
    )


def run_cypher_create(graph: PropertyGraph, query) -> PropertyGraph:
    """openCypher CREATE (round-8; extension — the reference declares no
    mutation at all, StatsStore.scala:172-177 ``???``). Two forms:

    - ``CREATE (n:Label {props})[, (m:L2 {...}) ...]`` — unconditional
      node creation; ids assigned from next_id() in pattern order.
    - ``MATCH pattern [WHERE ...] CREATE (a)-[:T {weight: n}]->(b)`` —
      one T edge per DISTINCT matched (a, b) pair, with an optional
      literal weight. The engine's edge model carries existence
      semantics (pattern matching deduplicates), so unlike openCypher
      a re-run does NOT observably multiply matches — use MERGE for
      explicit match-or-create.

    Plan shape at scale: node form is a driver-literal append; edge
    form is one planned MATCH projected to the distinct endpoint pair
    plus an append — no shuffle beyond the match itself."""
    qg, w = _write_statement(query, Create)
    if w.edge is not None:
        eprops = dict(w.edge.props)
        for k in eprops:
            if k != "weight":
                raise CypherParseError(
                    f"CREATE edge props support weight only, got: {k!r}"
                )
        rows = _edge_pairs(graph, qg, w.edge, "CREATE")
        if "weight" in eprops:
            rows = rows.withColumn("weight", F.lit(float(eprops["weight"])).cast("double"))
        return graph.insert_edges(rows)
    nid = graph.next_id()
    rows = [(nid + i, n.label, dict(n.props)) for i, n in enumerate(w.nodes)]
    row_df = graph.spark.createDataFrame(
        rows, "id long, label string, props map<string,string>"
    )
    return graph.insert_vertices(row_df)


def _merge_sets(w: Merge, target: str | None, weight: bool) -> list[dict]:
    """A MERGE's ON CREATE SET and ON MATCH SET items as {prop: value}
    per arm. Each item sets ``target.prop`` (an edge: exactly one
    ``target.weight`` item per arm); ON CREATE takes literals only."""
    arms = []
    for items, allow_expr in ((w.on_create or (), False), (w.on_match or (), True)):
        if weight and items and (len(items) > 1 or target is None):
            raise CypherParseError(
                "edge MERGE SET supports exactly one item on a named edge "
                f"variable ({target or '<unnamed>'}.weight)"
            )
        need = f"{target}.weight" if weight else f"{target}.prop"
        out: dict[str, tuple] = {}
        for it in items:
            if it.label is None and (it.binding != target or (weight and it.prop != "weight")):
                raise CypherParseError(
                    f"edge MERGE SET must target {need}: {it.text!r}" if weight
                    else f"MERGE SET item must target {target!r}: {it.text!r}"
                )
            if it.label is not None or (it.value[0] == "expr" and not allow_expr):
                raise CypherParseError(
                    f"unsupported {'edge ' if weight else ''}MERGE SET item (need "
                    f"{need} = {'value/expr' if allow_expr else 'literal'}): {it.text!r}"
                )
            out[it.prop] = it.value
        arms.append(out)
    return arms


def run_cypher_merge(graph: PropertyGraph, query) -> PropertyGraph:
    """openCypher MERGE (match-or-create; extension — the reference
    declares no mutation at all, StatsStore.scala:172-177 ``???``),
    wiring the round-7 API verbs ``merge_vertices``/``merge_edges``
    into the Cypher front-end (VERDICT r7 #4). Two forms:

    - ``MERGE (n:Label {prop: lit, ...})`` — create the node iff no
      node with that label carries ALL the given property values;
      ``ON CREATE SET n.p = lit`` adds creation-only props,
      ``ON MATCH SET n.p = lit | expr`` updates pre-existing matches
      through the SET machinery (expression RHS over n's own props).
    - ``MATCH pattern [WHERE ...] MERGE (a)-[r:T]->(b)`` — for every
      distinct matched (a, b) pair ensure one T edge exists;
      ``ON CREATE SET r.weight = lit`` stamps created edges,
      ``ON MATCH SET r.weight = lit | expr-over-r.weight`` rewrites
      pre-existing ones via update_edge_weights.

    Both are idempotent: re-running the same MERGE (without ON MATCH
    mutations) is a no-op. Returns the updated graph (immutable
    rewrite, like run_cypher_set).

    Plan shape at scale: the edge form is one planned MATCH + a
    broadcastable anti-join append (merge_edges) + an optional
    broadcast upsert — Delta-MERGE-shaped, no driver materialization.
    The node form's existence probe is ONE limit(1) point-lookup
    action (the statement's semantics branch on existence; the
    created row itself is a literal)."""
    qg, w = _write_statement(query, Merge)
    if w.edge is not None:
        return _run_merge_edge(graph, qg, w)
    node = w.node
    create_sets, match_sets = _merge_sets(w, node.name, weight=False)
    # match: the label's node set with ALL pattern props equal (numerics
    # as doubles — the WHERE-literal contract). No props column: nothing
    # can match a props pattern, so the merge takes the create branch
    # (insert_vertices adds the column via unionByName)
    cand = None
    if not node.filters or "props" in graph.nodes.columns:
        cand = graph.node_set(node.label, node.filters)
    if cand is None or not cand.limit(1).count():
        props = dict(node.props)
        props.update({k: v for k, (_kind, v) in create_sets.items()})
        row_df = graph.spark.createDataFrame(
            [(graph.next_id(), node.label, props)],
            "id long, label string, props map<string,string>",
        )
        return graph.merge_vertices(row_df)
    if not match_sets:
        return graph
    # ON MATCH SET through the update_node_props broadcast upsert, the
    # same update rows as run_cypher_set's node path
    return graph.update_node_props(_node_props(graph, cand, match_sets))


def _run_merge_edge(graph: PropertyGraph, qg: QueryGraph, w: Merge) -> PropertyGraph:
    edge = w.edge
    create_w, match_w = (
        _weight_value(edge.name, arm["weight"]) if arm else None
        for arm in _merge_sets(w, edge.name, weight=True)
    )
    pairs = _edge_pairs(graph, qg, edge, "MERGE")
    rows = pairs
    if create_w is not None:
        rows = rows.withColumn("weight", F.lit(create_w[1]).cast("double"))
    out = graph.merge_edges(rows)
    if match_w is None:
        return out
    # ON MATCH applies to edges that existed BEFORE the merge: semi-join
    # the matched pairs against the pre-merge typed edge set
    pre = graph.edges.filter(F.col("type") == edge.type)
    existing = pairs.join(
        pre.select("src", "dst"), on=["src", "dst"], how="left_semi"
    )
    if match_w[0] == "lit":
        upd = existing.withColumn("weight", F.lit(match_w[1]).cast("double"))
    else:
        if "weight" not in pre.columns:
            raise CypherParseError("graph edges carry no weight column")
        wsrc = pre.select("src", "dst", F.col("weight").alias("_curw")).dropDuplicates(
            ["src", "dst"]
        )
        upd = (
            existing.join(wsrc, on=["src", "dst"], how="left")
            .withColumn(
                "weight", expr_col(match_w[1], lambda _b, _p: F.col("_curw")).cast("double")
            )
            .drop("_curw")
        )
    return out.update_edge_weights(upd.select("src", "dst", "type", "weight"))


# the writer of each write node type (GraphDB.update routes on it)
WRITERS = {
    SetClause: run_cypher_set, Remove: run_cypher_remove, Delete: run_cypher_delete,
    Create: run_cypher_create, Merge: run_cypher_merge,
}


_NUM_FNS = {
    "abs": F.abs, "round": F.round, "ceil": F.ceil,
    "floor": F.floor, "sqrt": F.sqrt,
}
_ARITH = {"+": operator.add, "-": operator.sub, "*": operator.mul, "/": operator.truediv}


def expr_col(node, raw) -> Column:
    """The one expression compiler: a parse_expr tree -> Column, for
    every context (RETURN items, WHERE predicates, node/edge SET, MERGE
    SET items, WITH stages). ``raw(binding, prop)`` is the context's
    UNCAST leaf column; a leaf evaluates as its numeric reading, num()
    (a non-numeric value is NULL), and so do size() and numeric-function
    results (Spark's LONG ceil/floor would otherwise diverge from the
    DuckDB oracles); NULL leaves propagate. A CASE WHEN against a string
    literal compares a bare leaf uncast; a numeric one compares the
    condition's double value."""
    kind = node[0]
    if kind == "num":
        return F.lit(node[1])
    if kind == "prop":
        return num(raw(node[1], node[2]))
    if kind == "strlen":
        return num(F.length(raw(node[1], node[2])))
    if kind == "neg":
        return -expr_col(node[1], raw)
    if kind == "fn1":
        return num(_NUM_FNS[node[1]](expr_col(node[2], raw)))
    if kind == "case":
        _, whens, else_e = node
        out = None
        for cond_l, cmp_op, lit, then_e in whens:
            if lit[0] == "str":
                if cond_l[0] != "prop":
                    raise CypherParseError(
                        "CASE WHEN against a string literal needs a bare property"
                    )
                c = PRED_OPS[cmp_op](raw(cond_l[1], cond_l[2]), F.lit(lit[1]))
            else:
                c = PRED_OPS[cmp_op](expr_col(cond_l, raw), F.lit(lit[1]))
            t = expr_col(then_e, raw)
            out = F.when(c, t) if out is None else out.when(c, t)
        return out if else_e is None else out.otherwise(expr_col(else_e, raw))
    _, op, l, r = node
    return _ARITH[op](expr_col(l, raw), expr_col(r, raw))


# the leaves of a ReturnItem tree: a node binding's id column, a node
# or edge property, a node's label set or props map, a path length
_LEAVES = ("var", "id", "prop", "eprop", "labels", "keys", "properties", "length")


def item_col(node, leaf) -> Column:
    """The one RETURN item compiler: a ReturnItem tree -> Column, over
    ``leaf(node)``, the column of a leaf node. A bare property stays the
    uncast string (the props map is string-valued); the arithmetic nodes
    compile through expr_col, whose leaves are numeric readings (num).
    labels() reads the sorted comma-joined label set and
    keys()/properties() render the props map sorted and comma-joined
    (the scalar-column rendering of openCypher's lists and maps); a
    string concatenation is NULL when any part is, like openCypher's +
    (F.concat)."""
    kind = node[0]
    if kind in ("keys", "properties"):
        props = leaf(node)
        if kind == "keys":
            return F.concat_ws(",", F.array_sort(F.map_keys(props)))
        return F.concat_ws(",", F.transform(
            F.array_sort(F.map_entries(props)),
            lambda s: F.concat(s.key, F.lit("="), s.value),
        ))
    if kind in _LEAVES:
        return leaf(node)
    if kind == "sfn":
        return apply_scalar_fn(node[1], item_col(node[2], leaf))
    if kind == "coalesce":
        return F.coalesce(item_col(node[1], leaf), F.lit(node[2]))
    if kind == "concat":
        return F.concat(*(
            F.lit(p[1]) if p[0] == "str" else item_col(p, leaf) for p in node[1]
        ))
    return expr_col(node, lambda b, p: leaf(("prop", b, p)))


def _item_leaves(qg: QueryGraph) -> list[tuple]:
    """The distinct leaves of qg's RETURN items, in item order (a size()
    operand is its ("prop", b, p) leaf)."""
    out: dict[tuple, None] = {}
    for it in qg.items:
        for n in expr_walk(it.expr) if it.expr is not None else ():
            if n[0] == "strlen":
                n = ("prop", *n[1:])
            if n[0] in _LEAVES:
                out[n] = None
    return list(out)


def _run_unwind(graph: PropertyGraph, unwinds, rest: list, resolve: bool) -> DataFrame:
    """Leading UNWIND [literals] | range() AS x (chainable): a row
    generator cross-multiplied with the rest of the part's (distinct)
    match rows — list duplicates are preserved, matching openCypher's
    row semantics for the generator itself. The unwound names must
    appear in RETURN to be emitted; WHERE conjuncts of the form
    `x <op> literal` over an unwound name filter the generator rows
    pre-join (see the lift below); other references to unwound names
    stay unsupported. The RETURN's DISTINCT, ORDER BY, SKIP and LIMIT
    apply to the joined rows."""
    spark = graph.spark
    gens: list[tuple[str, DataFrame]] = []
    for u in unwinds:
        if u.bounds is not None:
            # distributed row generator — never a driver-side list, so
            # UNWIND range(0, 1e8) is fine here (ADVICE r6)
            gen = spark.range(*u.bounds).select(F.col("id").alias(u.alias))
        else:
            dt = {str: "string", int: "long", float: "double"}[type(u.values[0])]
            gen = spark.createDataFrame([(v,) for v in u.values], f"{u.alias} {dt}")
        gens.append((u.alias, gen))
    unames = {n for n, _ in gens}
    # WHERE conjuncts over unwound names (extension): `k <op> literal`
    # conjuncts lift out of the part's first WHERE (when no MATCH
    # follows it) and prune the GENERATOR itself — a pre-join filter on
    # the literal rows, the cheapest possible placement
    post: dict[str, list[Column]] = {}
    w = next((i for i, c in enumerate(rest) if getattr(c, "where", ())), None)
    if w is not None and not any(isinstance(c, Match) for c in rest[w + 1 :]):
        kept_conjs = []
        for conj in rest[w].where:
            # a conjunct that does not read over the unwound names alone
            # stays in the WHERE
            try:
                _, lhs, op, rhs = read_conjunct(conj, unames)
                lift = lhs[0] == "prop" and rhs[0] in ("num", "str")
            except CypherParseError:
                lift = False
            if lift:
                post.setdefault(lhs[2], []).append(lit_cmp(op, F.col(lhs[2]), rhs[1]))
            else:
                kept_conjs.append(conj)
        if post:
            rest[w] = dc_replace(rest[w], where=tuple(kept_conjs))
    for i, (name, gen) in enumerate(gens):
        for cond in post.get(name, ()):
            gen = gen.filter(cond)
        gens[i] = (name, gen)
    ret = rest[-1]
    kept: list[str] = []  # non-unwind items, returned by the rest of the part
    out_cols: list[str | None] = []  # RETURN-ordered output column names
    requested: dict[str, str] = {}  # unwind name -> output alias
    words: set[str] = set()  # the words of the kept items' bodies
    for item in ret.items:
        body, alias = _strip_ret_alias(lex(item))
        name = _word(body)
        if name in unames:
            requested[name] = alias or name
        else:
            kept.append(item)
            words.update(t.text for t in body if t.kind == "word")
        out_cols.append(alias or name)
    if len(rest) == 1:
        if kept:
            raise CypherParseError(
                f"UNWIND without MATCH can only RETURN unwound names, got: {kept[0]!r}"
            )
    elif not kept:
        raise CypherParseError(
            "UNWIND with a MATCH body must RETURN at least one pattern binding"
        )

    # ORDER BY / SKIP / LIMIT run once, after the join. An ORDER BY item
    # that reads no output column (`ORDER BY c.name`) rides the rest of
    # the part as a hidden column, sorted by _order_limit's rule. It
    # may read only bindings the kept items read: a hidden property of
    # another binding would join that binding to the distinct match set
    # and multiply its rows
    def hide(body: str, a: str) -> bool:
        if not kept:
            return False
        toks = lex(body)
        if _word(toks):
            raise CypherParseError(f"ORDER BY of non-returned column: {body!r}")
        for i in range(len(toks)):
            pr = _prop_at(toks, i)
            if pr and pr[0] not in words:
                raise CypherParseError(
                    f"ORDER BY property of non-returned binding: {pr[0]!r}"
                )
        if ret.distinct:
            raise CypherParseError(_DISTINCT_PROP_ORDER)
        kept.append(f"{body} AS {a}")
        return True

    order, hidden = _hide_order(ret.order_by, [c for c in out_cols if c], hide)
    out = None
    if kept:
        inner = Projection("RETURN", tuple(kept))
        out = _run_part(graph, rest[:-1] + [inner], resolve)
    kill = False  # a filtered-out NON-returned generator still empties rows
    for name, gen in gens:
        alias = requested.get(name)
        if alias is None:
            if name in post and gen.limit(1).count() == 0:
                kill = True
            continue
        # DISTINCT: distinct generators times the distinct rest of the
        # part are distinct rows, so no dedupe after the join disturbs
        # an order the rest of the part set
        if ret.distinct:
            gen = gen.dropDuplicates()
        gen = gen.withColumnRenamed(name, alias)
        out = gen if out is None else out.crossJoin(F.broadcast(gen))
    if out is None:
        raise CypherParseError("UNWIND query returned no columns")
    if kill:
        out = out.limit(0)
    # emit columns in RETURN-item order when every item's output name is
    # known and present (resolve=True adds payload columns — keep those)
    if all(c is not None for c in out_cols) and set(out_cols) <= set(out.columns):
        extras = [c for c in out.columns if c not in out_cols]
        out = out.select(*out_cols, *extras)
    return _order_limit(out, out.columns, order, hidden, ret.skip, ret.limit)


def _word(toks) -> str | None:
    """The name a single-word token list spells, else None."""
    return toks[0].text if len(toks) == 1 and toks[0].kind == "word" else None


# --------------------------------------------------------------------------
# The projection tail: every projection (a single stage, a WITH/RETURN
# stage over a new MATCH, a carry-only stage, a leading-UNWIND RETURN)
# reads its ORDER BY items with parser.order_item, hides a sort key it
# does not project as an ``_ob_<i>`` column (_hide_order), and runs
# ORDER BY, SKIP and LIMIT through _order_limit. Aggregates compile
# through _agg_col.
# --------------------------------------------------------------------------

_DISTINCT_PROP_ORDER = (
    "ORDER BY a property with RETURN DISTINCT: return the "
    "property with an alias and ORDER BY the alias"
)


def _prop_sort(col: str, desc: bool) -> list[Column]:
    """Sort keys of a string-typed column (a property, a carried
    property, a string function's or concat's output): its numeric
    reading num() first, the raw string second ONLY where that is NULL —
    numeric ties must NOT be broken by their string rendering ('100'
    vs '100.0') or a LIMIT cut diverges from the oracle's
    CAST-then-binding ordering (ADVICE r6); non-numeric values keep a
    deterministic lexical order."""
    n = num(F.col(col))
    return [k.desc() if desc else k.asc() for k in (n, F.when(n.isNull(), F.col(col)))]


def _over_cols(body: str, cols) -> bool:
    """True when ``body`` reads only the columns ``cols`` (a column or
    an arithmetic expression over them)."""
    try:
        parse_expr(body, cols)
    except CypherParseError:
        return False
    return True


def _col_or_expr(body: str, cols) -> Column:
    """A column by its value, or an expression over ``cols``."""
    return F.col(body) if body in cols else expr_col(parse_expr(body, cols), _carried)


def _check_alias_case(aliases) -> None:
    """Reject two output aliases that differ only in case: Spark
    resolves column names case-insensitively, so they would collide."""
    seen: dict[str, str] = {}
    for a in aliases:
        b = seen.setdefault(a.lower(), a)
        if b != a:
            raise CypherParseError(f"output aliases {b!r} and {a!r} differ only in case")


def _hide_order(items, cols, hide) -> tuple[list[tuple[str, bool]], list[str]]:
    """Read a projection's ORDER BY items into (body, desc) sort keys
    over its output ``cols``. An item that reads no output column rides
    the projection as the hidden column ``_ob_<i>`` when ``hide(body,
    alias)`` adds it there; otherwise _order_limit compiles or rejects
    it."""
    order, hidden = [], []
    for i, text in enumerate(items):
        body, desc = order_item(text)
        if not _over_cols(body, cols) and hide(body, f"_ob_{i}"):
            body = f"_ob_{i}"
            hidden.append(body)
        order.append((body, desc))
    return order, hidden


def _order_limit(
    df: DataFrame, cols, order, hidden, skip: int | None, limit: int | None
) -> DataFrame:
    """The one ORDER BY / SKIP / LIMIT applier, with one sort rule read
    from the frame's schema: a string-typed column sorts by _prop_sort's
    keys (numeric reading first), any other column by its value; an
    expression over ``cols`` compiles through expr_col (`ORDER BY n * 2
    DESC`). The ``hidden`` sort columns are dropped after LIMIT."""
    if order:
        strs = {c for c, t in df.dtypes if t == "string"}
        exprs = []
        for body, desc in order:
            if body in strs:
                exprs.extend(_prop_sort(body, desc))
                continue
            try:
                c = _col_or_expr(body, cols)
            except CypherParseError:
                raise CypherParseError(f"unsupported ORDER BY item: {body!r}") from None
            exprs.append(c.desc() if desc else c.asc())
        df = df.orderBy(*exprs)
    if skip is not None:
        df = df.offset(skip)
    if limit is not None:
        df = df.limit(limit)
    return df.drop(*hidden) if hidden else df


def _agg_col(fn: str, distinct: bool, src: str | None, param=None) -> Column:
    """The one aggregate compiler: (function, DISTINCT, source column,
    parameter) -> Column; ``src`` None is count(*). count and collect
    read the source as is; every other aggregate, min/max included,
    reads its numeric reading, num(), in every projection (a value that
    does not read as a number is NULL and skipped, so min/max over no
    numeric value is NULL). sum over no values is 0, not NULL — the
    case an OPTIONAL MATCH's unmatched rows hit (avg/min/max stay NULL,
    also per openCypher).
    collect() is the sorted distinct value list (deterministic), and
    DISTINCT is a no-op for it and for min/max."""
    if src is None:
        return F.count(F.lit(1))
    c = F.col(src)
    if fn == "count":
        # DISTINCT counts the distinct VALUES (rows are distinct as
        # tuples, not per column)
        return F.count_distinct(c) if distinct else F.count(c)
    if fn == "collect":
        return F.sort_array(F.collect_set(c))
    v = num(c)
    if fn == "sum":
        return F.coalesce(F.sum_distinct(v) if distinct else F.sum(v), F.lit(0.0))
    if fn == "avg":
        # a Column has no avg(DISTINCT): num() spelled in SQL
        return F.expr(f"avg(DISTINCT try_cast(`{src}` AS DOUBLE))") if distinct else F.avg(v)
    if fn in ("stdev", "stdevp"):
        # openCypher stDev (sample) / stDevP (population)
        return (F.stddev_samp if fn == "stdev" else F.stddev_pop)(v)
    if fn == "percentilecont":
        # sort-based interpolation — bit-identical to DuckDB's
        # quantile_cont (NOTES r5: percentiles are cross-engine exact,
        # unlike stddev)
        return F.percentile(v, F.lit(param))
    if fn == "percentiledisc":
        # the value at ceil(q·n) in sorted order — an actual element,
        # per openCypher percentileDisc; built from
        # sort_array(collect_list) so it stays deterministic
        vals = F.sort_array(F.collect_list(v))
        idx = F.greatest(F.lit(1), F.ceil(F.lit(param) * F.size(vals)).cast("int"))
        return F.element_at(vals, idx)
    return getattr(F, fn)(v)  # min / max


# --------------------------------------------------------------------------
# WITH pipelines (extension beyond the reference surface, which has no WITH)
#
# `MATCH p0 WITH items0 [WHERE w0] MATCH p1 ... RETURN r` runs as staged
# plans: each stage is planned by plan_match with the previous stage's
# output as `carry` (inner-joined on shared bindings BEFORE the stage's
# aggregation — openCypher row piping). A WITH's WHERE filters the stage
# output (HAVING when the stage aggregated). Deviations, consistent with
# the engine's ANY_PAIR existence semantics: intermediate WITH stages are
# implicitly DISTINCT, and aggregates count distinct matches.
# --------------------------------------------------------------------------


def _carried(_b, c: str) -> Column:
    """The raw leaf of a WITH stage's expressions: a carried column,
    named bare (parse_expr's ``cols``)."""
    return F.col(c)


def _carry_filter(df: DataFrame, where: tuple[str, ...]) -> DataFrame:
    """WITH ... WHERE over the carried columns (HAVING when the stage
    aggregated): per conjunct (parser.read_conjunct), `col <op>
    literal` or a comparison of expressions over carried columns
    (`n * 2 >= m + 1`, CASE)."""
    for conj in where:
        _, lhs, op, rhs = read_conjunct(conj, df.columns)
        if lhs[0] == "prop" and rhs[0] in ("num", "str"):
            df = df.filter(lit_cmp(op, F.col(lhs[2]), rhs[1]))
        else:
            df = df.filter(PRED_OPS[op](expr_col(lhs, _carried), expr_col(rhs, _carried)))
    return df


def _run_carry_stage(carried: DataFrame, proj: Projection, dedup: bool):
    """A WITH/RETURN stage with NO new MATCH: pure projection or
    aggregation over the carried columns (extension). This enables the
    aggregate-of-aggregate idiom — e.g. the TPC-H Q13 count-of-counts,
    `WITH c, count(o) AS n WITH n, count(c) AS cnt` — which openCypher
    users reach for as soon as they group twice. Items read like RETURN
    items: a carried column, id() of a carried binding (the column
    itself), count(*), an aggregate over a carried column (through
    _agg_col), or an aliased expression over carried columns (a
    grouping key). ``dedup`` dedupes a
    projection without aggregates: WITH always, RETURN when DISTINCT.
    A RETURN without DISTINCT or aggregates can sort by a carried
    column or expression it does not project. Returns the frame, its
    output columns and the _order_limit sort arguments."""
    cols = carried.columns
    if tuple(proj.items) == ("*",):
        order, hidden = _hide_order(proj.order_by, cols, lambda _b, _a: False)
        return (carried.dropDuplicates() if dedup else carried), cols, (order, hidden)
    if not proj.items:
        raise CypherParseError("empty WITH/RETURN item list")
    keys, key_names, aggs, agg_names, agg_srcs = [], [], [], [], []

    def key(c: Column, a: str) -> None:
        keys.append(c.alias(a))
        key_names.append(a)

    for it in proj.items:
        body, alias = _strip_ret_alias(lex(it))
        name = _word(body)
        spec = _ret_item_shape(body) if body else None
        if name in cols:
            key(F.col(name), alias or name)
        elif spec and spec[:2] == ("ifn", "id") and spec[2] in cols:
            # id(x) over a carried binding column is the column itself
            # (binding columns ARE node ids) — round-8
            key(F.col(spec[2]), alias or f"id_{spec[2]}")
        elif spec and (spec[0] == "count_star" or spec[0] == "agg" and spec[4] is None):
            fn, dist, src, param = (
                ("count", False, None, None) if spec[0] == "count_star" else spec[1:4] + spec[5:]
            )
            if src is not None and src not in cols:
                raise CypherParseError(
                    f"aggregate references unknown carried column: {src!r}"
                )
            agg_names.append(alias or ("count_star" if src is None else f"{fn}_{src}"))
            aggs.append(_agg_col(fn, dist, src, param).alias(agg_names[-1]))
            if src is not None:
                agg_srcs.append(src)
        elif alias is not None:
            key(expr_col(parse_expr(it[body[0].pos : body[-1].end], cols), _carried), alias)
        else:
            raise CypherParseError(
                f"carry-only stage item must be a carried column, an "
                f"aggregate over one, or an aliased expression, got: {it!r}"
            )

    def hide(body: str, a: str) -> bool:
        if not _over_cols(body, cols):
            return False
        if aggs or dedup:
            if body in cols:
                raise CypherParseError(f"ORDER BY of non-returned column: {body!r}")
            return False
        key(_col_or_expr(body, cols), a)
        return True

    _check_alias_case(key_names + agg_names)
    order, hidden = _hide_order(proj.order_by, key_names + agg_names, hide)
    if not aggs:
        out = carried.select(*keys)
        return (out.dropDuplicates() if dedup else out), key_names, (order, hidden)
    srcs = [c for c in dict.fromkeys(agg_srcs) if c not in key_names]
    pre = carried.select(*keys, *[F.col(c) for c in srcs])
    out = pre.groupBy(*key_names).agg(*aggs) if key_names else pre.agg(*aggs)
    return out, key_names + agg_names, (order, hidden)


def _run_stage(
    graph: PropertyGraph,
    matches: list[Match],
    proj: Projection,
    carried: DataFrame | None,
    dedup: bool,
):
    """Plan one pipeline stage: the MATCH clauses carrying `carried`,
    projecting the WITH/RETURN `proj`. Returns the frame, its output
    columns, the _order_limit sort arguments and its binding columns.

    A stage that opens with OPTIONAL MATCH (VERDICT r6 #5) has its
    pattern demoted to the first optional group and the carried rows
    become the required match set, so unmatched carried rows survive
    with NULLs for the stage's new bindings (and count(b) = 0). A
    RETURN without DISTINCT or aggregates can sort by a property of a
    binding it returns (`ORDER BY b.prop`)."""
    qg = QueryGraph()
    _parse_clauses(matches, qg)
    if matches[0].optional:
        if qg.cross_filters or qg.pattern_filters or qg.expr_filters:
            raise CypherParseError(
                "cross-binding / pattern / expression WHERE predicates are "
                "unsupported in an OPTIONAL MATCH stage (they would drop "
                "unmatched rows)"
            )
        if not qg.edges:
            raise CypherParseError(
                "OPTIONAL MATCH stage needs at least one pattern edge"
            )
        # demote the parsed required clause to the FIRST optional group;
        # clause-scoped WHERE predicates shift with their clause
        # (clause 0 -> 1, pre-existing optional clauses 1.. -> 2..)
        qg.optionals.insert(0, list(qg.edges))
        qg.edges = []
        qg.filters = [dc_replace(pf, clause=pf.clause + 1) for pf in qg.filters]
        qg.edge_filters = [
            dc_replace(pf, clause=pf.clause + 1) for pf in qg.edge_filters
        ]
        qg.or_filters = [
            tuple(dc_replace(pf, clause=pf.clause + 1) for pf in grp)
            for grp in qg.or_filters
        ]
        qg.carry_required = True
    items = proj.items
    if tuple(items) == ("*",):
        # WITH * — every named binding of this match plus every carried
        # column rides through (openCypher's all-variables projection)
        names = sorted(
            b for b in qg.labels
            if not b.startswith("_anon")
            and (not qg.match_bindings or b in qg.match_bindings)
        )
        items = names + [
            c for c in (carried.columns if carried is not None else [])
            if c not in names
        ]
    if not items:
        raise CypherParseError("empty WITH/RETURN item list")
    sel: list[tuple[str, str]] = []  # (source col, output alias)
    carry_srcs: list[str] = []
    for it in items:
        body, a = _strip_ret_alias(lex(it))
        n = _word(body)
        if n is not None:
            if n in qg.paths or n in qg.opt_paths:
                raise CypherParseError(f"cannot carry path {n!r}; use length({n})")
            if n in qg.labels:
                qg.items.append(ReturnItem(n, ("var", n)))
                sel.append((n, a or n))
                continue
            if carried is not None and n in carried.columns:
                carry_srcs.append(n)
                sel.append((n, a or n))
                continue
            raise CypherParseError(f"WITH/RETURN references unknown name: {n!r}")
        _parse_returns(qg, [it])
        sel.append((qg.items[-1].alias,) * 2)

    def hide(body: str, a: str) -> bool:
        ptoks = lex(body)
        pr = _prop_at(ptoks, 0)
        if (
            dedup or any(x.agg for x in qg.items)
            or not (pr and pr[2] == len(ptoks) and ReturnItem(pr[0], ("var", pr[0])) in qg.items)
        ):
            return False
        qg.items.append(ReturnItem(a, ("prop", pr[0], pr[1])))
        sel.append((a, a))
        return True

    order, hidden = _hide_order(proj.order_by, [dst for _, dst in sel], hide)
    dummy_added = False
    if not qg.items:
        # carried-only projection over a new pattern = existence check;
        # plan needs at least one emitted binding, then it is dropped
        # (the post-select dedup below restores distinctness)
        keys = [c for c in (carried.columns if carried is not None else [])
                if c in qg.labels]
        dummy = keys[0] if keys else next(iter(qg.labels))
        qg.items.append(ReturnItem(dummy, ("var", dummy)))
        dummy_added = True
    carry_df = None
    if carried is not None:
        keys = [c for c in carried.columns if c in qg.labels]
        proj = list(dict.fromkeys(keys + carry_srcs))
        if proj:
            carry_df = carried.select(*proj)
            if len(proj) < len(carried.columns):
                carry_df = carry_df.dropDuplicates()
        else:
            # no shared binding and nothing carried forward: the carry
            # acts as a pure existence guard — empty carried rows must
            # still empty the result (openCypher row piping), so cross
            # join a single constant-probe row
            carry_df = carried.limit(1).select(F.lit(1).alias("_g4s_probe"))
    df = plan_match(graph, qg, carry=carry_df).df
    df = df.select(*[F.col(src).alias(dst) for src, dst in sel])
    if dedup or dummy_added:
        df = df.dropDuplicates()
    cols = [dst for _, dst in sel]
    return df, cols, (order, hidden), {x for x in cols if x in qg.labels}


def _unwind_column(df: DataFrame, u: Unwind) -> DataFrame:
    """A WITH-tail UNWIND: explode a carried list column, a literal list
    or a capped range() into one row per element."""
    if u.column is None:
        return df.withColumn(u.alias, F.explode(F.array(*map(F.lit, _unwind_values(u)))))
    if u.column not in df.columns:
        raise CypherParseError(f"UNWIND references unknown carried column: {u.column!r}")
    return df.withColumn(u.alias, F.explode(F.col(u.column)))


def _run_stages(graph: PropertyGraph, clauses) -> tuple[DataFrame, set[str]]:
    """The stage loop over one part's clauses. A projection closes a
    stage over the MATCH clauses before it (none = a carry-only stage
    over the previous stage's rows). A WITH stage is implicitly
    DISTINCT, then filtered by its WHERE, ordered and cut; UNWINDs after
    it explode its rows. Returns the RETURN's frame and the binding
    columns it emits (for label resolution)."""
    carried: DataFrame | None = None
    matches: list[Match] = []
    for c in clauses:
        if isinstance(c, Match):
            matches.append(c)
        elif isinstance(c, Unwind):
            carried = _unwind_column(carried, c)
        elif carried is None and c.kind == "RETURN":
            qg = stage_query_graph(matches, c)
            return plan_match(graph, qg).df, set(qg.labels)
        else:
            dedup = c.kind == "WITH" or c.distinct
            if matches:
                df, cols, sort, bindings = _run_stage(graph, matches, c, carried, dedup)
            else:
                df, cols, sort = _run_carry_stage(carried, c, dedup)
                bindings = set()
            if c.where:
                df = _carry_filter(df, c.where)
            df = _order_limit(df, cols, *sort, c.skip, c.limit)
            if c.kind == "RETURN":
                return df, bindings
            carried, matches = df, []


def _edge_implies_label(qg: QueryGraph, stats, e, binding: str) -> bool:
    """True when every scanned edge of ``e``'s types provably ends at
    a ``label``-bearing node on ``binding``'s side(s) — the triplet
    counters give the exact test: for each type T,
    triplet(label, T, ·) == type_card(T) (resp. the dst orientation).
    Stats always describe the graph being planned (label-changing
    mutations rebuild them; only cardinality-neutral rewrites carry
    them over — store.py), so a True here means the label semi-join
    cannot drop a row. Restricted to plain 1-hop directed edges:
    undirected scans would need both orientations and var-length
    closures have interior hops. Requires stats.single_label: with
    multi-label nodes the triplet join counts an edge once per label
    *pair*, so the side-sum over triplet_counts is inflated by the
    other endpoint's extra labels and can equal type_card without
    full coverage (stats.py documents the cancellation case)."""
    if e.undirected or (e.min_hops, e.max_hops) != (1, 1):
        return False
    if stats.single_label is not True:
        return False
    label = qg.labels.get(binding)
    if label is None:
        return False
    tcs = stats.triplet_counts
    types = list(e.types) if e.types else list(stats.type_counts)
    if not tcs or not types:
        return False
    sides = [s for s, bb in ((0, e.src), (2, e.dst)) if bb == binding]
    for t in types:
        total = stats.type_counts.get(t, 0)
        if total == 0:
            return False
        for side in sides:
            have = sum(
                c for (sl, tt, dl), c in tcs.items()
                if tt == t and (sl if side == 0 else dl) == label
            )
            if have != total:
                return False
    return True


def _qg_referenced_strings(qg: QueryGraph) -> set[str]:
    """Every string reachable from the QueryGraph OUTSIDE the structural
    fields (labels / extra_labels / edges / match_bindings) — the
    conservative over-approximation of 'binding b is consumed somewhere'
    the tautological-edge eliminator tests against. Collecting aliases,
    property names, operators and literals too only ever ADDS names,
    which can only suppress an elimination, never unsoundly allow one."""
    out: set[str] = set()
    skip = {"labels", "extra_labels", "edges", "match_bindings"}

    def walk(v):
        if isinstance(v, str):
            out.add(v)
        elif isinstance(v, dict):
            for k, vv in v.items():
                walk(k)
                walk(vv)
        elif isinstance(v, (list, tuple, set, frozenset)):
            for vv in v:
                walk(vv)
        elif is_dataclass(v) and not isinstance(v, type):
            for f in dc_fields(v):
                walk(getattr(v, f.name))

    for f in dc_fields(qg):
        if f.name not in skip:
            walk(getattr(qg, f.name))
    # other edges' variable names are consumers too (edge_filters and
    # edge-property items address edges by name); collect them so a binding
    # named like an edge variable is conservatively kept
    for e in qg.edges:
        if e.name is not None:
            out.add(e.name)
    return out


def _eliminate_tautological_edges(qg: QueryGraph, stats, steps: list) -> QueryGraph:
    """Stats-driven foreign-key hop elimination (round-16, guide §3):
    drop a pattern edge whose dead-side binding ``y`` is referenced
    nowhere else when the exact counters prove the hop cannot change the
    result set: (a) coverage — every scanned edge of the type ends at an
    ``L_x``-labelled node on the live side AND at an ``L_y``-labelled
    node on the dead side (triplet counts, same identity the semi_skip
    uses), and (b) participation — the type's distinct endpoint count on
    the live side equals ``|L_x|``, i.e. every candidate ``x`` has at
    least one such edge. Under the engine's distinct-match semantics
    (project + dropDuplicates to the needed bindings) the join is then
    an identity and the whole hop — scan, expand join, label semi-joins
    — vanishes. Eliminations cascade (a 2-hop chain returning only its
    far endpoint collapses to one label scan).

    Soundness gates: exact single type, plain 1-hop directed edge, no
    edge variable, no self-loop; ``y`` unreferenced anywhere (generic
    conservative scan incl. optionals / pattern filters / verbs — verb
    layers return their bindings as items), in no other edge, no
    extra labels; skip entirely under paths (edge indices), carried
    stages, count(*) (it counts distinct FULL-pattern matches), unknown
    endpoint stats, or multi-label graphs (the triplet identity is only
    valid under single_label — stats.py). The participation count is a
    raw countDistinct over the edge table (danglers included) but a
    dangling edge of the type also breaks coverage (it contributes no
    triplet row), so the pair of tests is sound together."""
    if (
        stats.single_label is not True
        or not getattr(stats, "endpoint_counts", None)
        or qg.paths
        or qg.opt_paths
        or qg.carry_required
        or any(it.expr is None for it in qg.items)
    ):
        return qg
    referenced = _qg_referenced_strings(qg)
    qg = dc_replace(
        qg,
        labels=dict(qg.labels),
        edges=list(qg.edges),
        match_bindings=set(qg.match_bindings),
    )
    changed = True
    while changed:
        changed = False
        use: dict[str, int] = {}
        for e in qg.edges:
            for b in (e.src, e.dst):
                use[b] = use.get(b, 0) + 1
        for e in qg.edges:
            if (
                len(e.types) != 1
                or e.undirected
                or (e.min_hops, e.max_hops) != (1, 1)
                or e.name is not None
                or e.src == e.dst
            ):
                continue
            t = e.types[0]
            for y, x, side_x in ((e.dst, e.src, 0), (e.src, e.dst, 2)):
                if y in referenced or use.get(y, 0) != 1:
                    continue
                if qg.extra_labels.get(y):
                    continue
                ylab = qg.labels.get(y)
                if ylab is not None and not _edge_implies_label(qg, stats, e, y):
                    continue
                if qg.labels.get(x) is None or not _edge_implies_label(qg, stats, e, x):
                    continue
                if stats.endpoint_counts.get((t, side_x)) != stats.label_card(
                    qg.labels[x]
                ):
                    continue
                qg.edges.remove(e)
                qg.labels.pop(y, None)
                qg.match_bindings.discard(y)
                steps.append(("edge_elim", (e.src, e.dst), t, y))
                changed = True
                break
            if changed:
                break
    return qg


# an anchored read whose frontier would pass this many rows on a hop
# plans as joins over the cached edge table instead (_probe_anchored)
PROBE_MAX_ROWS = 100_000


def _probe_order(qg: QueryGraph, cols: list[str]):
    """(literal id sets by binding, root, edges in expansion order) of a
    pattern the adjacency probe answers exactly, else None. Eligible: a
    tree of fixed 1-hop directed edges, anchored by ``id(x) = n`` /
    ``id(x) IN [...]`` literals, with no other WHERE than those and
    nothing but label constraints, no OPTIONAL, no edge variable read,
    no path, and every ``cols`` binding in the pattern."""
    edges = qg.edges
    bindings = {b for e in edges for b in (e.src, e.dst)}
    if (
        not edges
        or qg.optionals or qg.pattern_filters or qg.cross_filters
        or qg.expr_filters or qg.edge_filters or qg.paths or qg.carry_required
        or any(n[0] in ("eprop", "length") for n in _item_leaves(qg))
        or any(
            e.undirected or (e.min_hops, e.max_hops) != (1, 1) or e.src == e.dst
            for e in edges
        )
        or len(edges) != len(bindings) - 1
        or not cols or not set(cols) <= bindings
        or not (qg.match_bindings or set(qg.labels)) <= bindings
    ):
        return None
    anchors: dict[str, np.ndarray] = {}
    for grp in [(f,) for f in qg.filters] + list(qg.or_filters):
        if not all(
            f.prop == ID_PROP and f.op == "=" and type(f.value) is int for f in grp
        ):
            return None
        ids = np.unique(np.array([f.value for f in grp], np.int64))
        b = grp[0].binding
        anchors[b] = np.intersect1d(anchors[b], ids) if b in anchors else ids
    if not anchors:
        return None
    # tree walk from the smallest anchor set: each edge in the order has
    # its other endpoint bound by an earlier one
    root = min(anchors, key=lambda b: len(anchors[b]))
    seen, order, frontier = {root}, [], [root]
    while frontier:
        b = frontier.pop()
        for e in edges:
            if b in (e.src, e.dst) and e not in order:
                order.append(e)
                other = e.dst if b == e.src else e.src
                seen.add(other)
                frontier.append(other)
    if seen != bindings:
        return None
    return anchors, root, order


def _probe_anchored(graph: PropertyGraph, qg: QueryGraph, cols: list[str]):
    """Expand an anchored pattern on the driver over the graph's
    adjacency index (PropertyGraph.adjacency): label checks and the
    live-binding dedupe after every hop, as build_tree's join chain
    does them. Returns ({binding: distinct match column}, [(edge, rows
    after the hop)], the index bytes), or None when the pattern is not
    eligible, the graph has no index, or a hop would pass
    PROBE_MAX_ROWS."""
    walk = _probe_order(qg, cols)
    index = graph.adjacency() if walk is not None else None
    if index is None:
        return None
    (adj, labels), (anchors, root, order) = index, walk

    def keep(b: str, ids: np.ndarray) -> np.ndarray:
        # the general path's semi-joins: the label (any node row when
        # only an anchor constrains b), extra labels, the anchor ids
        mask = np.ones(len(ids), bool)
        if qg.labels.get(b) is not None or b in anchors:
            mask &= labels.has(ids, qg.labels.get(b))
        for xl in qg.extra_labels.get(b, ()):
            mask &= labels.has(ids, xl)
        if b in anchors:
            mask &= np.isin(ids, anchors[b])
        return mask

    ids = anchors[root]
    table = {root: ids[keep(root, ids)]}
    hops = []
    for i, e in enumerate(order):
        reverse = e.src not in table
        frm, to = (e.dst, e.src) if reverse else (e.src, e.dst)
        got = adj.expand(table[frm], e.types, reverse, PROBE_MAX_ROWS)
        if got is None:
            return None
        rows, nbrs, _, _ = got
        m = keep(to, nbrs)
        table = {b: v[rows[m]] for b, v in table.items()}
        table[to] = nbrs[m]
        live = [
            b for b in table
            if b in cols or any(b in (x.src, x.dst) for x in order[i + 1:])
        ]
        distinct = np.unique(np.stack([table[b] for b in live], axis=1), axis=0)
        table = {b: distinct[:, j] for j, b in enumerate(live)}
        hops.append((e, len(distinct)))
    return {b: table[b] for b in cols}, hops, adj.nbytes + labels.nbytes


def plan_match(
    graph: PropertyGraph, qg: QueryGraph, carry: DataFrame | None = None
) -> PlannedQuery:
    """Plan one MATCH...RETURN stage. ``carry`` (WITH-pipeline extension)
    is the previous stage's output: its columns that name bindings of
    this stage become inner-join keys (openCypher row piping — carried
    rows restrict the new match), the rest ride along into the output
    and, when this stage aggregates, into the grouping keys."""
    stats = graph.stats
    steps: list[tuple] = []
    total_cost = 0.0

    # stats-driven FK hop elimination (round-16): rewrite the pattern
    # before any planning so join-order, label skips and projections are
    # all re-derived on the reduced graph. Carried stages are skipped —
    # the carry frame's columns can reference bindings the generic scan
    # cannot see.
    if carry is None:
        qg = _eliminate_tautological_edges(qg, stats, steps)

    # WHERE predicates are clause-scoped (openCypher): the required
    # MATCH's filters constrain the main chain; an OPTIONAL MATCH's
    # filters only restrict that optional group (unmatched rows keep
    # NULLs — they are never dropped from the required match set).
    filters_by_clause: dict[int, dict[str, list]] = {}
    for pf in qg.filters:
        filters_by_clause.setdefault(pf.clause, {}).setdefault(pf.binding, []).append(pf)
    edge_filters_by_clause: dict[int, dict[str, list]] = {}
    for pf in qg.edge_filters:
        edge_filters_by_clause.setdefault(pf.clause, {}).setdefault(pf.binding, []).append(pf)
    # same-binding OR groups, scan-pushed like conjunctive filters
    or_by_clause: dict[int, dict[str, list[tuple]]] = {}
    for grp in qg.or_filters:
        or_by_clause.setdefault(grp[0].clause, {}).setdefault(grp[0].binding, []).append(grp)
    clause_state = {"clause": 0}

    def filters_by_binding() -> dict[str, list]:
        return filters_by_clause.get(clause_state["clause"], {})

    def or_filters_by_binding() -> dict[str, list[tuple]]:
        return or_by_clause.get(clause_state["clause"], {})

    def node_set(binding: str) -> DataFrame:
        label = qg.labels.get(binding)
        ids = graph.node_set(
            label,
            filters_by_binding().get(binding, ()),
            or_filters_by_binding().get(binding, ()),
            qg.extra_labels.get(binding, ()),
        )
        # prop filters only shrink the set, so the label card is an upper
        # bound; unlabeled-but-filtered sets have no bound -> let AQE pick
        if label is not None and stats.label_card(label) < BROADCAST_MAX_ROWS:
            ids = F.broadcast(ids)
        return ids

    def constrain(df: DataFrame, binding: str, label_implied: bool = False) -> DataFrame:
        label = qg.labels.get(binding)
        nfs = filters_by_binding().get(binding, ())
        ors = or_filters_by_binding().get(binding, ())
        extra = qg.extra_labels.get(binding, ())
        if label is None and not nfs and not ors and not extra:
            return df
        if label_implied and not nfs and not ors and not extra:
            # the edge scan already guarantees the label (exact triplet
            # counts, _edge_implies_label): the semi-join is an identity
            # — skip its broadcast build + join pass (round-16)
            steps.append(("semi_skip", binding, label))
            return df
        steps.append(("semi", binding, label, len(nfs) + len(ors) + len(extra)))
        return df.join(
            node_set(binding).withColumnRenamed("id", binding), on=binding, how="left_semi"
        )

    def edge_implies_label(e, binding: str) -> bool:
        # module-level _edge_implies_label over THIS stage's (possibly
        # hop-eliminated) query graph and stats
        return _edge_implies_label(qg, stats, e, binding)

    # The leaves every RETURN item reads, gathered once: a binding's id
    # column is the binding column; every other leaf gets its own column
    # (_v<i>). An edge leaf is a column of its edge scan; a node
    # property, label set or props map resolves after the match; a path
    # length is computed once its dist columns are bound.
    leaves = _item_leaves(qg)
    leaf_cols = {
        n: n[1] if n[0] in ("var", "id") else f"_v{i}" for i, n in enumerate(leaves)
    }
    item_bindings = list(dict.fromkeys(
        n[1] for n in leaves if n[0] not in ("eprop", "length")
    ))
    # edge name -> [(prop, scan column)]
    edge_prop_cols: dict[str, list[tuple[str, str]]] = {}
    for n in leaves:
        if n[0] == "eprop":
            edge_prop_cols.setdefault(n[1], []).append((n[2], leaf_cols[n]))
    edge_leaf_cols = [c for cs in edge_prop_cols.values() for _, c in cs]
    measured_paths = [n[1] for n in leaves if n[0] == "length"]

    # length(p): var-length edges on a measured path carry a min-hop dist
    # column (computed inside the closure, see _var_length_pairs); fixed
    # edges contribute compile-time constants
    measured = {i for pn in measured_paths if pn in qg.paths for i in qg.paths[pn]}
    dist_alias_by_idx: dict[int, str] = {}
    dist_alias_by_id: dict[int, str] = {}
    for i in sorted(measured):
        e = qg.edges[i]
        if e.min_hops != (e.max_hops if e.max_hops is not None else -1):
            a = f"_pdist_{i}"
            dist_alias_by_idx[i] = a
            dist_alias_by_id[id(e)] = a
    # measured paths inside OPTIONAL MATCH groups (round-7): their
    # var-length edges carry a dist column through the group's left
    # join; (group idx, edge idx) -> alias
    opt_dist_alias: dict[tuple[int, int], str] = {}
    for pn in measured_paths:
        if pn not in qg.opt_paths:
            continue
        gi, idxs = qg.opt_paths[pn]
        for i in idxs:
            e = qg.optionals[gi][i]
            if e.min_hops != (e.max_hops if e.max_hops is not None else -1):
                a = f"_pdist_opt_{gi}_{i}"
                opt_dist_alias[(gi, i)] = a
                dist_alias_by_id[id(e)] = a

    def edge_prop_col(df: DataFrame, prop: str):
        """Resolve an edge property: typed edge column (weight) first,
        then the props map if the edge table carries one."""
        if prop in df.columns:
            return F.col(prop)
        if "props" in df.columns:
            return F.col("props").getItem(prop)
        raise ValueError(f"edge property {prop!r} not present on edges")

    def pred_sel(binding: str) -> float:
        """Product of WHERE-predicate selectivities on a binding, from
        the per-(label, prop) histograms (extension beyond the
        reference's label-frequency-only model — SURVEY §4.2). Unknown
        predicates contribute 1.0, keeping the estimate an upper bound
        exactly like the label card."""
        label = qg.labels.get(binding)

        def atom_sel(f) -> float | None:
            if f.fn is not None:
                return None  # function-wrapped prop: unestimated (bound kept)
            if f.prop == ID_PROP:
                # id(b) equality hits exactly one node of the label set;
                # range/inequality on id: unestimated
                card = stats.label_card(label)
                return 1.0 / card if f.op == "=" and card else None
            return hist_sel(graph.node_histogram(label, f.prop), f.op, f.value)

        sel = 1.0
        for f in filters_by_binding().get(binding, ()):
            s = atom_sel(f)
            if s is not None:
                sel *= s
        # OR groups (incl. expanded IN lists): disjunction bounded by the
        # sum of atom fractions; an unestimable atom makes the whole
        # group unestimable (sum would silently under-count it)
        for grp in or_filters_by_binding().get(binding, ()):
            parts = [atom_sel(f) for f in grp]
            if all(p is not None for p in parts):
                sel *= min(1.0, sum(parts))
        return sel

    def edge_pred_sel(e: PatternEdge) -> float:
        """Product of edge-property predicate selectivities on the edge
        variable (weight histograms over the typed scan)."""
        if not e.name:
            return 1.0
        sel = 1.0
        for f in edge_filters_by_clause.get(clause_state["clause"], {}).get(e.name, ()):
            s = hist_sel(graph.edge_histogram(tuple(e.types), f.prop), f.op, f.value)
            if s is not None:
                sel *= s
        return sel

    def edge_est(e: PatternEdge) -> float:
        # unbounded closures have no hop count; assume a deep-ish graph
        hops = e.max_hops if e.max_hops is not None else 8
        psel = pred_sel(e.src) * pred_sel(e.dst) * edge_pred_sel(e)
        if e.undirected:
            # symmetrized scan: twice the stored rows; directional triplet
            # counts don't apply (both orientations contribute)
            return expand_card(
                (stats.type_card(list(e.types)) or 1) * 2 * hops,
                1.0,
                stats.node_sel(qg.labels.get(e.src))
                * stats.node_sel(qg.labels.get(e.dst)) * psel,
            )
        # exact directional triplet count when a label constrains the hop
        # (StatsStore.scala:141-170,210-253); independence fallback.
        # WHERE predicates scale either path by their histogram fraction.
        tc = stats.triplet_card(
            qg.labels.get(e.src), list(e.types), qg.labels.get(e.dst)
        )
        if tc is not None:
            return expand_card(float(tc) * hops, 1.0, psel)
        return expand_card(
            (stats.type_card(list(e.types)) or 1) * hops,
            1.0,
            stats.node_sel(qg.labels.get(e.src))
            * stats.node_sel(qg.labels.get(e.dst)) * psel,
        )

    def is_constrained(binding: str) -> bool:
        return (
            qg.labels.get(binding) is not None
            or binding in filters_by_binding()
            or binding in or_filters_by_binding()
            or binding in qg.extra_labels
        )

    def node_sig(binding: str) -> tuple:
        """Constraint identity of a binding (labels + predicate set +
        OR-group set) — what makes two seeded scans interchangeable."""
        nfs = filters_by_binding().get(binding, ())
        ors = or_filters_by_binding().get(binding, ())
        return (
            qg.labels.get(binding),
            tuple(sorted(qg.extra_labels.get(binding, ()))),
            tuple(sorted((f.prop, f.op, str(f.value)) for f in nfs)),
            tuple(sorted(
                tuple(sorted((f.prop, f.op, str(f.value)) for f in grp)) for grp in ors
            )),
        )

    scan_memo: dict[tuple, DataFrame] = {}

    def edge_df(e: PatternEdge) -> DataFrame:
        raw = graph.typed_edges(list(e.types))
        # edge-property WHERE: applied directly on the typed edge scan —
        # the predicate reaches the source before any join (for
        # var-length edges it restricts every hop)
        efs = (
            edge_filters_by_clause.get(clause_state["clause"], {}).get(e.name, [])
            if e.name
            else []
        )
        props = edge_prop_cols.get(e.name, []) if e.name else []
        if props and (e.min_hops, e.max_hops) != (1, 1):
            raise ValueError("cannot return properties of a variable-length edge")
        alias_cols = [a for _, a in props]
        dist_alias = dist_alias_by_id.get(id(e))
        # seeding decision first — it is part of the scan's memo identity
        seeded: str | None = None
        seed_key = None
        if (e.min_hops, e.max_hops) != (1, 1):
            if is_constrained(e.src):
                seeded, seed_key = e.src, ("src", *node_sig(e.src))
            elif is_constrained(e.dst):
                seeded, seed_key = e.dst, ("dst", *node_sig(e.dst))
        # Shared sub-pattern memo (the reference's order-insensitive plan
        # signatures, LogicNode.scala:20-31, applied to scans): two pattern
        # edges with the same type set / hop bounds / filters / seed share
        # ONE DataFrame — for var-length edges that is a materialized
        # (checkpointed) closure computed once, not per branch.
        key = (
            tuple(e.types), e.min_hops, e.max_hops,
            tuple(sorted((f.prop, f.op, str(f.value)) for f in efs)),
            tuple(props), seed_key, clause_state["clause"], dist_alias is not None,
            e.undirected,
        )
        if key in scan_memo:
            base = scan_memo[key]
            steps.append(("scan_reuse", tuple(e.types), e.min_hops, e.max_hops))
        else:
            for f in efs:
                raw = raw.filter(lit_cmp(f.op, edge_prop_col(raw, f.prop), f.value))
            if efs:
                steps.append(("edge_filter", e.name, len(efs)))
            base = raw.select(
                "src", "dst", *[edge_prop_col(raw, p).alias(a) for p, a in props]
            )
            if e.undirected:
                # Direction.Both (-[]-): the scan is the symmetrized edge
                # set — each stored edge matches in both orientations.
                # Symmetrizing BEFORE a var-length expansion makes the
                # closure walk the undirected graph, hop by hop.
                base = base.unionByName(
                    base.select(
                        F.col("dst").alias("src"), F.col("src").alias("dst"),
                        *[F.col(a) for a in alias_cols],
                    )
                )
            if (e.min_hops, e.max_hops) != (1, 1):
                # Push the endpoint restriction INTO the iterative
                # expansion: closing over the whole graph and filtering
                # afterwards is the classic scale-killer (full-graph
                # transitive closure at 100 TB). Seed the frontier with the
                # constrained source node set — or, when only the
                # destination is constrained, run the closure over the
                # transposed edges seeded from the destination set
                # (transpose is a column swap, store.py:117-132).
                wd = dist_alias is not None
                if seeded == e.src:
                    base = _var_length_pairs(
                        base, e.min_hops, e.max_hops, sources=node_set(e.src),
                        with_dist=wd,
                    )
                elif seeded == e.dst:
                    t = base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                    closed = _var_length_pairs(
                        t, e.min_hops, e.max_hops, sources=node_set(e.dst),
                        with_dist=wd,
                    )
                    base = closed.select(
                        F.col("dst").alias("src"), F.col("src").alias("dst"),
                        *([F.col("dist")] if wd else []),
                    )
                else:
                    base = _var_length_pairs(base, e.min_hops, e.max_hops, with_dist=wd)
                if seeded is not None:
                    steps.append(("closure_seed", seeded))
            scan_memo[key] = base
        extra = [F.col(a) for a in alias_cols]
        if dist_alias is not None:
            extra.append(F.col("dist").alias(dist_alias))
        if e.src == e.dst:  # self-loop pattern (a)-[:X]->(a)
            df = base.filter(F.col("src") == F.col("dst")).select(
                F.col("src").alias(e.src), *extra
            )
        else:
            df = base.select(F.col("src").alias(e.src), F.col("dst").alias(e.dst), *extra)
        # dict.fromkeys: deduped like a set but iteration order is fixed
        # (src first), so the two commuting semi-joins land in a stable
        # order across runs instead of varying with hash randomization.
        for b in dict.fromkeys((e.src, e.dst)):
            if b == seeded:
                continue  # restriction already applied inside the expansion
            df = constrain(df, b, label_implied=edge_implies_label(e, b))
        return df

    # bindings that appear in no pattern edge: plain label scans, joined in
    # at the end (cartesian across disconnected components is Cypher
    # semantics; the reference only emits connected patterns)
    edge_bindings = {b for e in qg.edges for b in (e.src, e.dst)}
    # carry_required (OPTIONAL-stage demotion): the carried rows are the
    # required set — nothing scans standalone
    required = (
        set() if qg.carry_required else (qg.match_bindings or set(qg.labels))
    )
    isolated = [b for b in qg.labels if b in required and b not in edge_bindings]

    df: DataFrame | None = None
    bound: set[str] = set()

    opt_bindings = {b for g in qg.optionals for e in g for b in (e.src, e.dst)}
    # count(*) counts distinct full-pattern matches — no binding is ever dead
    star = any(it.expr is None for it in qg.items)

    def base_need() -> set[str]:
        # optional groups left-join on their shared bindings later, so those
        # must survive the main chain's projections; returned edge-property
        # columns ride along like bindings (a match with a returned edge
        # value is distinct per value — openCypher's per-edge semantics)
        need = (
            set(item_bindings) | opt_bindings | set(edge_leaf_cols)
            | {a.binding for grp in qg.cross_filters for a in grp}
            | {b for ef in qg.expr_filters
               for b, _ in expr_prop_leaves(ef[0]) + expr_prop_leaves(ef[2])}
            | set(dist_alias_by_idx.values())
        )
        if star:
            need |= set(qg.labels)
        return need

    def build_tree(tree, outer: set[str]) -> DataFrame:
        """Execute a join tree from _choose_join_tree. ``outer`` =
        bindings the rest of the plan (sibling subtrees, later clauses)
        still needs — the tree-shaped generalization of the old loop's
        'bindings of edges not yet joined'. After every node the frame is
        projected to the live bindings and deduplicated (ANY_PAIR
        semantics, see module doc)."""
        nonlocal total_cost, bound
        is_join = isinstance(tree, tuple) and len(tree) == 3 and tree[0] == "J"
        if not is_join:
            e = tree
            est = edge_est(e)
            total_cost += step_cost(est)
            ndf = edge_df(e)
            bound |= set(ndf.columns)
            steps.append(("scan", (e.src, e.dst), e.types, est))
            live = sorted((base_need() | outer) & set(ndf.columns))
            ndf = ndf.select(*live).dropDuplicates(live)
            steps.append(("project_distinct", tuple(live)))
            return ndf
        _, lt, rt = tree
        lbind = {b for x in _subtree_edges(lt) for b in (x.src, x.dst)}
        rbind = {b for x in _subtree_edges(rt) for b in (x.src, x.dst)}
        ldf = build_tree(lt, outer | rbind)
        right_is_leaf = not (isinstance(rt, tuple) and len(rt) == 3 and rt[0] == "J")
        if right_is_leaf:
            # left-deep extension: join the raw edge frame, project after —
            # byte-identical steps to the pre-bushy planner for chain plans
            e = rt
            est = edge_est(e)
            total_cost += step_cost(est)
            ndf = edge_df(e)
            bound |= set(ndf.columns)
            shared = [c for c in ndf.columns if c in ldf.columns]
            if shared:
                out = ldf.join(ndf, on=shared, how="inner")
                steps.append(("expand", (e.src, e.dst), tuple(shared), est))
            else:
                out = ldf.crossJoin(ndf)
                steps.append(("cartesian", (e.src, e.dst), est))
        else:
            # bushy: the right arm is built (and projected) independently,
            # then the two sub-results join on their shared bindings
            rdf = build_tree(rt, outer | lbind)
            shared = [c for c in rdf.columns if c in ldf.columns]
            if shared:
                out = ldf.join(rdf, on=shared, how="inner")
                steps.append(("bushy_join", tuple(shared)))
            else:
                out = ldf.crossJoin(rdf)
                steps.append(("bushy_cartesian", tuple(sorted(rbind))))
        live = sorted((base_need() | outer) & set(out.columns))
        out = out.select(*live).dropDuplicates(live)
        steps.append(("project_distinct", tuple(live)))
        return out

    # an anchored tree pattern expands on the driver (_probe_anchored)
    # into a local relation of distinct matches: no job until a later
    # step (property resolution, aggregation) needs one
    probe_cols = list(dict.fromkeys(
        item_bindings + (sorted(edge_bindings) if star else [])
    ))
    probed = _probe_anchored(graph, qg, probe_cols) if carry is None else None
    if probed is not None:
        probe_ids, hops, index_bytes = probed
        df = graph.spark.createDataFrame(
            pd.DataFrame(probe_ids),
            StructType([StructField(b, LongType()) for b in probe_cols]),
        )
        bound = set(edge_bindings)
        hop_trace = []
        for e, rows in hops:
            est = edge_est(e)
            total_cost += step_cost(est)
            hop_trace.append(((e.src, e.dst), e.types, est, rows))
        steps.append(("probe", tuple(hop_trace), index_bytes))
    elif qg.edges:
        tree, _ = _choose_join_tree(list(qg.edges), edge_est)
        df = build_tree(tree, set())

    for b in isolated:
        # scan the label's id set directly (label-pruned parquet / slim
        # cache) instead of the full union-of-tables node scan plus a
        # semi-join against that same set (round-16): identical id
        # multiset, one scan fewer — this is the hot path for patterns
        # reduced by the tautological-hop elimination above
        ids = graph.node_set(
            qg.labels.get(b),
            filters_by_binding().get(b, ()),
            or_filters_by_binding().get(b, ()),
            qg.extra_labels.get(b, ()),
        )
        scan = ids.withColumnRenamed("id", b).dropDuplicates([b])
        steps.append(("node_scan", b, qg.labels.get(b)))
        df = scan if df is None else df.crossJoin(scan)
        bound.add(b)

    carry_extras: list[str] = []
    if df is None and qg.carry_required and carry is not None:
        # OPTIONAL-stage base (WITH ... OPTIONAL MATCH, extension): there
        # is no required pattern — the carried rows are the required
        # match set, and the optional groups below left-join onto them.
        df = carry
        shared = [c for c in carry.columns if c in qg.labels]
        carry_extras = [c for c in carry.columns if c not in shared]
        bound |= set(shared)
        steps.append(("carry_base", tuple(shared), tuple(carry_extras)))
        carry = None

    assert df is not None, "empty pattern"

    # WITH-pipeline carry (extension): inner-join the previous stage's
    # rows on the shared bindings BEFORE aggregation/optionals, so this
    # stage's aggregates only count matches that survived the carried
    # WHERE — openCypher's row-piping semantics. No shared binding means
    # an explicit cartesian product, as in openCypher.
    if carry is not None:
        shared = [c for c in carry.columns if c in df.columns]
        carry_extras = [c for c in carry.columns if c not in shared]
        if shared:
            df = df.join(carry, on=shared, how="inner")
        else:
            df = df.crossJoin(carry)
        steps.append(("carry_join", tuple(shared), tuple(carry_extras)))

    # Pattern predicates (extension): WHERE (a)-[:T]->(b) is a left-semi
    # join of the match set against the probe pattern projected to the
    # shared bindings; NOT (...) is the left-anti twin. The probe chain
    # reuses edge_df (label constraints, var-length closures, scan memo)
    # and never joins the full probe result into the match — only its
    # distinct shared-binding projection crosses the join.
    for pf_edges, negated in qg.pattern_filters:
        pdf: DataFrame | None = None
        pbound: set[str] = set()
        for e in _choose_join_order(list(pf_edges), edge_est):
            ndf = edge_df(e)
            if pdf is None:
                pdf = ndf
            else:
                shared_p = [c for c in ndf.columns if c in pbound]
                pdf = (
                    pdf.join(ndf, on=shared_p, how="inner")
                    if shared_p else pdf.crossJoin(ndf)
                )
            pbound |= set(ndf.columns)
        shared_pf = sorted(pbound & bound & set(df.columns))
        if not shared_pf:
            raise ValueError("pattern predicate shares no binding with the match")
        probe = pdf.select(*shared_pf).dropDuplicates(shared_pf)
        df = df.join(
            probe, on=shared_pf, how="left_anti" if negated else "left_semi"
        )
        steps.append(
            ("pattern_filter", "anti" if negated else "semi", tuple(shared_pf))
        )

    # Cross-binding WHERE disjunctions (extension): cannot push to any one
    # scan, so they apply once the owning joins have bound every referenced
    # binding — i.e. right after the required chain. Props resolve via one
    # slim join per referenced binding; the filter then drops the temp
    # columns, so only match-surviving rows ever fetch props.
    for grp in qg.cross_filters:
        bs = sorted({a.binding for a in grp})
        if "props" not in graph.nodes.columns:
            raise ValueError("graph nodes carry no props column; WHERE unsupported")
        for b in bs:
            n = graph.payload_rows().select(
                F.col("id").alias(b), F.col("props").alias(f"_cf_{b}")
            )
            df = df.join(n, on=b, how="left")
        acc = None
        for a in grp:
            cc = atom_cmp(a, F.col(f"_cf_{a.binding}"), F.col(a.binding))
            acc = cc if acc is None else (acc | cc)
        df = df.filter(acc).drop(*[f"_cf_{b}" for b in bs])
        steps.append(("cross_filter", tuple(bs), len(grp)))

    # Arithmetic WHERE predicates (extension): evaluated over slim props
    # joins exactly like cross-binding disjunctions — the expression can
    # reference several bindings, so it applies after the required chain.
    for node, op, rhs in qg.expr_filters:
        bs = sorted({b for b, _ in expr_prop_leaves(node) + expr_prop_leaves(rhs)})
        if "props" not in graph.nodes.columns:
            raise ValueError("graph nodes carry no props column; WHERE unsupported")
        for b in bs:
            n = graph.payload_rows().select(
                F.col("id").alias(b), F.col("props").alias(f"_xf_{b}")
            )
            df = df.join(n, on=b, how="left")

        def raw(b, p):
            return F.col(f"_xf_{b}").getItem(p)

        df = df.filter(PRED_OPS[op](expr_col(node, raw), expr_col(rhs, raw))).drop(
            *[f"_xf_{b}" for b in bs]
        )
        steps.append(("expr_filter", tuple(bs), op))

    # OPTIONAL MATCH (extension): each group becomes its own distinct
    # match set, left-joined to the required matches on the shared
    # bindings — the relational reading of openCypher's optional
    # pattern (unmatched rows keep NULL for the group's new bindings).
    # The group is deduplicated to (shared + returned) bindings BEFORE
    # the left join, so optional multiplicity never multiplies the
    # required match set beyond real distinct matches.
    opt_group_nonshared: dict[int, list[str]] = {}
    for gi, group in enumerate(qg.optionals):
        gb = {b for e in group for b in (e.src, e.dst)}
        shared = sorted(gb & bound)
        if not shared:
            raise ValueError(
                "OPTIONAL MATCH pattern must share at least one binding with MATCH"
            )
        later = {b for g2 in qg.optionals[gi + 1:] for e in g2 for b in (e.src, e.dst)}
        galiases = {
            c for e in group if e.name for _, c in edge_prop_cols.get(e.name, ())
        }
        # dist columns of measured optional paths ride the left join
        gdists = {
            opt_dist_alias[(gi, i)]
            for i in range(len(group)) if (gi, i) in opt_dist_alias
        }
        guard: set[str] = set()
        if not gdists and any(
            pn in qg.opt_paths and qg.opt_paths[pn][0] == gi for pn in measured_paths
        ):
            # a fixed-length measured path needs one non-shared column
            # as its NULL-for-unmatched indicator
            nonshared = sorted(gb - set(shared))
            if nonshared:
                guard = {nonshared[0]}
        keep = sorted(
            (gb & (set(item_bindings) | later))
            | set(shared) | galiases | gdists | guard
        )
        opt_group_nonshared[gi] = [c for c in keep if c not in shared]
        clause_state["clause"] = gi + 1  # this group's WHERE scope
        odf: DataFrame | None = None
        obound: set[str] = set()
        for e in _choose_join_order(group, edge_est):
            est = edge_est(e)
            total_cost += step_cost(est)
            ndf = edge_df(e)
            if odf is None:
                odf = ndf
            else:
                oshared = [c for c in ndf.columns if c in obound]
                odf = odf.join(ndf, on=oshared, how="inner") if oshared else odf.crossJoin(ndf)
            obound |= set(ndf.columns)
        odf = odf.select(*keep).dropDuplicates(keep)
        df = df.join(odf, on=shared, how="left")
        bound |= set(keep)
        steps.append(("optional", tuple(shared), tuple(keep)))
    clause_state["clause"] = 0

    # length(p) materializes once every referenced dist column is bound:
    # constants for fixed-hop edges + the min-hop dist of each var edge.
    # An OPTIONAL path (round-7) is NULL for unmatched rows: a var-length
    # dist part is NULL there already; a fixed-only path guards on one of
    # the group's non-shared columns
    for pname in measured_paths:
        opt = pname in qg.opt_paths
        if opt:
            gi, idxs = qg.opt_paths[pname]
            hops = [(qg.optionals[gi][i], opt_dist_alias.get((gi, i))) for i in idxs]
        else:
            hops = [(qg.edges[i], dist_alias_by_idx.get(i)) for i in qg.paths[pname]]
        expr = F.lit(sum(e.min_hops for e, d in hops if d is None)).cast("long")
        for _, d in hops:
            if d is not None:
                expr = expr + F.col(d)
        if opt and all(d is None for _, d in hops):
            gb2 = {b for e in qg.optionals[gi] for b in (e.src, e.dst)}
            guards = [c for c in opt_group_nonshared.get(gi, ()) if c in gb2]
            if not guards:
                raise CypherParseError(
                    "length() of a fixed-length OPTIONAL path whose "
                    "bindings are all shared with MATCH is unsupported"
                )
            expr = F.when(F.col(guards[0]).isNotNull(), expr)
        col = leaf_cols[("length", pname)]
        df = df.withColumn(col, expr)
        steps.append(("opt_path_length" if opt else "path_length", pname, col))

    # with count(*), every bound binding joins the distinct set, not just
    # the grouped/aggregated ones
    star_extra = [b for b in sorted(bound) if b in df.columns] if star else []
    needed = list(dict.fromkeys(
        item_bindings + edge_leaf_cols
        + [leaf_cols[("length", pn)] for pn in measured_paths]
        + star_extra + carry_extras
    ))
    if probed is not None:
        assert needed == probe_cols, (needed, probe_cols)
        out = df  # the probe's rows are distinct already
    else:
        out = df.select(*needed).dropDuplicates(needed)

    # Property resolution (extension): one join back to the nodes payload
    # per binding with property accesses — the Readme.md:66-70 "resolve to
    # payload rows" step, done lazily on the already-distinct match set so
    # the props map is only fetched for surviving ids.
    prop_cols: dict[str, list[tuple[str, str]]] = {}  # binding -> [(prop, column)]
    for n in leaves:
        if n[0] == "prop":
            prop_cols.setdefault(n[1], []).append((n[2], leaf_cols[n]))
    # ORDER BY b.prop (extension): the property resolves with the item
    # leaves, as a hidden sort column dropped after LIMIT. Restricted to
    # returned bindings and non-aggregating queries (else alias the
    # property in RETURN).
    order, ob_cols = [], []
    for i, (key, desc) in enumerate(qg.order_by):
        if isinstance(key, tuple):
            if any(it.agg for it in qg.items):
                raise CypherParseError(
                    "ORDER BY a property with aggregation: return the property "
                    "with an alias and ORDER BY the alias"
                )
            if key[0] not in needed:
                raise CypherParseError(
                    f"ORDER BY property of non-returned binding: {key[0]!r}"
                )
            n = ("prop", *key)
            if n not in leaf_cols:
                leaf_cols[n] = f"_ob_{i}"
                prop_cols.setdefault(key[0], []).append((key[1], leaf_cols[n]))
            key = leaf_cols[n]
            if key not in ob_cols:
                ob_cols.append(key)
        order.append((key, desc))
    for b, cols in prop_cols.items():
        # Resolution is per DISTINCT (id, payload) row (round-9,
        # VERDICT r8 #4): a multi-label node (several LABEL rows, one
        # shared payload) projects its props ONCE per match — openCypher
        # semantics, no fanout. The driver testdata's duplicate
        # lineitem rows (same id, genuinely DISTINCT props; NOTES.md
        # "testdata quirk") survive the payload dedup, so the oracles'
        # per-raw-row aggregation still hash-matches.
        n = graph.payload_rows()
        if probed is not None:
            # fetch only the probed ids' payload: one literal IN list
            # (one JVM call), which Catalyst pushes below the dedupe
            ids = ",".join(map(str, np.unique(probe_ids[b])))
            n = n.filter(F.expr(f"id IN ({ids})") if ids else F.lit(False))
        n = n.select(F.col("id").alias(b), F.col("props").alias(f"_props_{b}"))
        out = out.join(n, on=b, how="left")
        for p, c in cols:
            out = out.withColumn(c, F.col(f"_props_{b}").getItem(p))
        out = out.drop(f"_props_{b}")
        steps.append(("resolve_props", b, tuple(p for p, _ in cols)))
    # labels(b): the per-id label-set lookup, left-joined per binding
    label_leaves = [n for n in leaves if n[0] == "labels"]
    if label_leaves:
        out = _join_label_sets(graph, out, [(n[1], leaf_cols[n]) for n in label_leaves])
        steps.extend(("resolve_labels", n[1]) for n in label_leaves)
    # keys(b)/properties(b): one props-map join per leaf, deduped on (id,
    # payload) like every resolution join (a multi-label node carries
    # one shared payload)
    for n in leaves:
        if n[0] in ("keys", "properties"):
            maps = graph.payload_rows().select(
                F.col("id").alias(n[1]), F.col("props").alias(leaf_cols[n])
            )
            out = out.join(maps, on=n[1], how="left")
            steps.append(("resolve_keys", n[1], n[0] == "properties"))

    # Every item compiles over its leaf columns (item_col) under its
    # alias; the first item of a repeated alias wins. A binding item is
    # its binding column; an aggregate's source stages as _agg_<alias>
    # unless it is a binding column.
    _check_alias_case(it.alias for it in qg.items)
    first: dict[str, ReturnItem] = {}
    for it in qg.items:
        first.setdefault(it.alias, it)
    items = list(first.values())
    cols = [it.alias for it in items]
    keys = [it for it in items if not it.agg]
    aggs = [it for it in items if it.agg]

    def value(node) -> Column:
        return item_col(node, lambda leaf: F.col(leaf_cols[leaf]))

    staged = {it.alias: value(it.expr) for it in keys if it.expr[0] != "var"}
    staged.update({
        f"_agg_{it.alias}": value(it.expr)
        for it in aggs if it.expr is not None and it.expr[0] != "var"
    })
    if staged:
        out = out.withColumns(staged)
    if aggs:
        # aggregates over distinct matches (existence semantics): rows are
        # already distinct over (returned + aggregated bindings); numeric
        # aggs read the string prop (or the staged expression) through
        # num(). count(b.prop) counts non-NULL values (VERDICT r6 #8)
        agg_cols = [
            _agg_col(
                it.agg, it.distinct,
                None if it.expr is None
                else it.expr[1] if it.expr[0] == "var" else f"_agg_{it.alias}",
                it.param,
            ).alias(it.alias)
            for it in aggs
        ]
        group = [it.alias for it in keys] + carry_extras
        out = out.groupBy(*group).agg(*agg_cols) if group else out.agg(*agg_cols)
        steps.append(("aggregate", tuple(it.alias for it in aggs)))
        if keys + aggs != items:
            out = out.select(*cols, *carry_extras)
    else:
        # distinct matches projected to the items; duplicates from shared
        # property values are kept (the match set, not the value set, is
        # what's distinct) unless RETURN DISTINCT asks for the value set.
        # Bindings and path lengths alone are distinct already; bindings
        # alone are the matched columns in item order.
        if staged:
            out = out.select(*cols, *carry_extras, *ob_cols)
        if qg.distinct and any(it.expr[0] not in ("var", "length") for it in items):
            if ob_cols:
                raise CypherParseError(_DISTINCT_PROP_ORDER)
            out = out.dropDuplicates()
            steps.append(("distinct", tuple(cols + carry_extras)))
    out = _order_limit(out, cols, order, ob_cols, qg.skip, qg.limit)
    if order:
        steps.append(("order_by", tuple(qg.order_by)))
    if qg.skip is not None:
        steps.append(("skip", qg.skip))
    if qg.limit is not None:
        steps.append(("limit", qg.limit))
    return PlannedQuery(out, steps, total_cost)


MAX_VAR_HOPS = 10


def _var_length_pairs(
    edges: DataFrame, lo: int, hi: int | None, sources: DataFrame | None = None,
    with_dist: bool = False,
) -> DataFrame:
    """Distinct (src,dst) pairs connected by a directed walk of length in
    [lo, hi] — the variable-length path operator `-[:T*lo..hi]->`
    (extension; bounded iterative expand with per-step distinct, the
    ANY_PAIR trick again so intermediate size is pair-bounded, never
    walk-count-bounded).

    ``sources`` (optional, one ``id`` column) restricts the walk origins:
    the FIRST hop is semi-joined to the source set, so every later
    intermediate is bounded by |reachable-from-sources|, not |graph| —
    the pushed-down form of `(a:Label)-[*]->(x)`.

    ``with_dist`` adds a ``dist`` column = MINIMUM walk length per pair
    (functionally dependent on (src,dst), so it never multiplies rows) —
    the value behind ``length(p)``. In the closure it is free: semi-naive
    delta iteration discovers each pair first at its BFS depth.

    hi=None (bare `*` / `*n..`) runs a delta-iteration transitive
    closure: only newly discovered pairs are re-expanded each round
    (semi-naive evaluation) by the package's one fixpoint driver
    (``checkpointing.fixpoint``: lazy checkpoint + one count per round).
    The loop terminates after at most graph-diameter rounds;
    MAX_CLOSURE_ITERS is a hard error, not a silent cap."""
    e = edges.dropDuplicates(["src", "dst"])
    seed = e
    if sources is not None:
        seed = e.join(
            sources.withColumnRenamed("id", "src"), on="src", how="left_semi"
        )
    if hi is not None:
        if hi > MAX_VAR_HOPS:
            raise ValueError(f"variable-length upper bound {hi} exceeds cap {MAX_VAR_HOPS}")
        walks = [seed]  # exact-k pair sets, k = 1..hi
        for _ in range(2, hi + 1):
            prev = walks[-1].select("src", F.col("dst").alias("mid"))
            step = (
                prev.join(e.select(F.col("src").alias("mid"), "dst"), on="mid")
                .select("src", "dst")
                .dropDuplicates(["src", "dst"])
            )
            walks.append(step)
        if with_dist:
            out = walks[lo - 1].withColumn("dist", F.lit(lo).cast("long"))
            for k, w in enumerate(walks[lo:], start=lo + 1):
                out = out.unionByName(w.withColumn("dist", F.lit(k).cast("long")))
            return out.groupBy("src", "dst").agg(F.min("dist").alias("dist"))
        out = walks[lo - 1]
        for w in walks[lo:]:
            out = out.unionByName(w)
        return out.dropDuplicates(["src", "dst"])

    e = e.cache()
    try:
        # frontier = exact-lo-hop pairs (walk semantics, same as bounded path)
        frontier = seed
        for _ in range(lo - 1):
            frontier = (
                frontier.select("src", F.col("dst").alias("mid"))
                .join(e.select(F.col("src").alias("mid"), "dst"), on="mid")
                .select("src", "dst")
                .dropDuplicates(["src", "dst"])
            )
        if with_dist:
            frontier = frontier.withColumn("dist", F.lit(lo).cast("long"))
        frontier = iter_checkpoint(frontier, eager=False)
        e_next = e.select(F.col("src").alias("mid"), "dst")

        def expand(i, pairs, frontier, _n_pairs, _n_frontier):
            new = (
                frontier.select("src", F.col("dst").alias("mid"))
                .join(e_next, on="mid")
                .select("src", "dst")
                .dropDuplicates(["src", "dst"])
                .join(pairs.select("src", "dst"), on=["src", "dst"], how="left_anti")
            )
            if with_dist:
                # first discovery == BFS depth == minimum walk length
                new = new.withColumn("dist", F.lit(lo + i + 1).cast("long"))
            return new

        return fixpoint(
            expand, lambda _i, pairs, new: pairs.unionByName(new),
            frontier, frontier, MAX_CLOSURE_ITERS,
            f"transitive closure did not converge within {MAX_CLOSURE_ITERS} iterations",
        )
    finally:
        # every retained round is checkpointed (lineage truncated), so
        # the edge cache is not needed after the loop — release it instead
        # of leaking cached blocks across the session's other queries
        e.unpersist()


def _subtree_edges(tree) -> list:
    """Leaves of a join tree in build order (left-to-right)."""
    if isinstance(tree, tuple) and len(tree) == 3 and tree[0] == "J":
        return _subtree_edges(tree[1]) + _subtree_edges(tree[2])
    return [tree]


def _choose_join_tree(edges, edge_est) -> tuple:
    """Join-SHAPE search under the reference cost model: DP over connected
    edge subsets exploring both left-deep extensions and bushy
    two-subtree joins — the reference memo's plan space, where groups are
    keyed by edge set and FilterExpandCommutative re-associates
    (L·R)·F ≡ L·(R·F) (Memo.scala:65-106,
    rules/trans/FilterExpandCommutative.scala:10-36).

    Returns (tree, cost). A tree is a PatternEdge leaf or ("J", l, r);
    cost = Σ 1.2·card over every join output plus the leaf scans
    (Operator.scala:116-148). For fork patterns (two multi-hop arms
    meeting at one binding) building each arm independently then joining
    beats hanging the second arm's edges off the first arm's running
    cardinality — the case a left-deep-only search cannot reach.

    Beyond MAX_EXHAUSTIVE edges: greedy cheapest-connected-first
    left-deep chain (same fallback as _choose_join_order). Disconnected
    patterns plan each connected component's tree, then fold with
    cartesian joins (Cypher comma semantics).
    """
    MAX_EXHAUSTIVE = 7
    if not edges:
        return None, 0.0
    if len(edges) == 1:
        return edges[0], step_cost(max(edge_est(edges[0]), 1e-9))

    # connected components over shared bindings: DP needs a connected set
    comps: list[list] = []
    for e in edges:
        eb = {e.src, e.dst}
        hit = [c for c in comps if any(eb & {x.src, x.dst} for x in c)]
        merged = [e]
        for c in hit:
            merged.extend(c)
            comps.remove(c)
        comps.append(merged)
    if len(comps) > 1:
        # preserve input edge order inside each component for stability;
        # cheapest component anchors the cartesian fold (smallest first,
        # matching the connected case's anchor rule)
        trees = sorted(
            (_choose_join_tree([e for e in edges if e in c], edge_est) for c in comps),
            key=lambda tc: tc[1],
        )
        tree, cost = trees[0]
        for t, c in trees[1:]:
            tree, cost = ("J", tree, t), cost + c  # executor renders crossJoin
        return tree, cost

    if len(edges) > MAX_EXHAUSTIVE:
        order = _choose_join_order(edges, edge_est)
        tree, cost = order[0], step_cost(max(edge_est(order[0]), 1e-9))
        card = max(edge_est(order[0]), 1e-9)
        for e in order[1:]:
            card = max(card * max(edge_est(e), 1e-9), 1.0)
            tree, cost = ("J", tree, e), cost + step_cost(card)
        return tree, cost

    n = len(edges)
    ests = [max(edge_est(e), 1e-9) for e in edges]
    full = (1 << n) - 1
    # bindings per subset, built from the subset's lowest bit + the rest
    binds: dict[int, frozenset] = {}
    for i in range(n):
        binds[1 << i] = frozenset((edges[i].src, edges[i].dst))
    for subset in range(1, full + 1):
        if subset not in binds:
            binds[subset] = binds[subset & -subset] | binds[subset & (subset - 1)]

    # memo: subset -> (cost, output_card, tree); only connected subsets
    # (joinable splits) ever get an entry, mirroring the reference memo's
    # group-per-edge-set identity
    best: dict[int, tuple[float, float, object]] = {
        1 << i: (step_cost(ests[i]), ests[i], edges[i]) for i in range(n)
    }
    for subset in sorted(range(1, full + 1), key=int.bit_count):
        if subset.bit_count() < 2:
            continue
        lowest = subset & -subset
        entry = None
        # canonical split enumeration: A always contains the lowest bit,
        # so each {A, B} partition is scored exactly once (B = subset\A
        # may be a single edge — that transition IS the left-deep step)
        a_mask = (subset - 1) & subset
        while a_mask:
            if a_mask & lowest:
                b_mask = subset ^ a_mask
                a, b = best.get(a_mask), best.get(b_mask)
                if a and b and (binds[a_mask] & binds[b_mask]):
                    card = max(a[1] * b[1], 1.0)
                    cost = a[0] + b[0] + step_cost(card)
                    if entry is None or cost < entry[0]:
                        # left = the side built (and projected) first.
                        # Two leaves: cheaper edge anchors, matching the
                        # old order's smallest-first chain start. A
                        # subtree joins a leaf: subtree left — that IS
                        # the left-deep extension step. Two subtrees:
                        # larger left, small side joins in.
                        a_leaf = not (isinstance(a[2], tuple) and a[2] and a[2][0] == "J")
                        b_leaf = not (isinstance(b[2], tuple) and b[2] and b[2][0] == "J")
                        if a_leaf and b_leaf:
                            l, r = (a, b) if a[1] <= b[1] else (b, a)
                        elif a_leaf != b_leaf:
                            l, r = (a, b) if b_leaf else (b, a)
                        else:
                            l, r = (a, b) if a[1] >= b[1] else (b, a)
                        entry = (cost, card, ("J", l[2], r[2]))
            a_mask = (a_mask - 1) & subset
        if entry is not None:
            best[subset] = entry
    cost, _, tree = best[full]
    return tree, cost


def _choose_join_order(edges, edge_est) -> list:
    """Join-order search under the reference cost model.

    The reference explores the full memo of plan shapes (MemoV2 /
    Columbia cascades, SURVEY §3.1-3.2, §4.1); our plan space is the
    order in which pattern edges join the chain. For ≤ MAX_EXHAUSTIVE
    edges we run a Selinger-style DP over connected edge subsets —
    exact under the cost model (cost = Σ 1.2·card_i, card_i =
    max(card_{i-1} · est_i, 1), Operator.scala:116-148) — and fall back
    to greedy smallest-first beyond that. Subset states double as the
    reference's order-insensitive plan signatures (LogicNode.scala:20-31):
    two orders reaching the same edge set share one memo entry.
    """
    MAX_EXHAUSTIVE = 7
    if len(edges) <= 1:
        return list(edges)
    if len(edges) > MAX_EXHAUSTIVE:
        # greedy: repeatedly take the cheapest edge connected to the chain
        remaining, order, bound = list(edges), [], set()
        while remaining:
            pool = [e for e in remaining if bound and (e.src in bound or e.dst in bound)] or remaining
            nxt = min(pool, key=edge_est)
            remaining.remove(nxt)
            order.append(nxt)
            bound.update((nxt.src, nxt.dst))
        return order

    ests = {i: max(edge_est(e), 1e-9) for i, e in enumerate(edges)}
    n = len(edges)
    full = (1 << n) - 1
    # memo: subset -> (total_cost, running_card, order as tuple of indices)
    best: dict[int, tuple[float, float, tuple[int, ...]]] = {}
    for i in range(n):
        best[1 << i] = (step_cost(ests[i]), ests[i], (i,))
    for subset in sorted(best.keys() | set(range(1, full + 1)), key=int.bit_count):
        if subset not in best:
            continue
        cost, card, order = best[subset]
        bound = {b for i in order for b in (edges[i].src, edges[i].dst)}
        for j in range(n):
            if subset & (1 << j):
                continue
            e = edges[j]
            connected = e.src in bound or e.dst in bound
            # disallow cartesian steps while connected options remain: try
            # connected extensions first; cartesian handled by falling back
            # when nothing is connected
            if not connected and any(
                not (subset & (1 << k)) and (edges[k].src in bound or edges[k].dst in bound)
                for k in range(n)
            ):
                continue
            new_card = max(card * ests[j], 1.0)
            new_cost = cost + step_cost(new_card)
            key = subset | (1 << j)
            if key not in best or new_cost < best[key][0]:
                best[key] = (new_cost, new_card, order + (j,))
    return [edges[i] for i in best[full][2]]


def explain_cypher(
    graph: PropertyGraph,
    query: str,
    params: dict | None = None,
    spark_plan: bool = False,
) -> str:
    """EXPLAIN for the Cypher front-end (round-8): the planner's
    logical step trace — scans (with reuse), label semi-joins, the
    chosen join order (chain vs bushy), optional groups, property
    resolution, aggregation, order/limit — plus the cost-model
    estimate, and optionally Spark's own plan underneath
    (``spark_plan=True``). Compound queries (UNION / leading UNWIND /
    WITH pipelines) explain each segment-planned DataFrame only at the
    Spark level; the single-MATCH form carries the full step trace.

    This is the user-facing twin of the plan-shape tests: the steps
    come from the SAME PlannedQuery.steps channel those tests pin, so
    what EXPLAIN prints is what the planner provably did."""
    if params is not None:
        query = bind_params(query, params)
    lines: list[str] = []
    stmt = parse_statement(query)
    stage = stmt.single_stage()
    if stage is None:
        df = _run_statement(graph, stmt, resolve=False)
        lines.append(
            "compound query (UNION / UNWIND / WITH pipeline): stage-level "
            "step traces are internal; Spark plan reflects the composed job"
        )
        spark_plan = True
    else:
        planned = plan_match(graph, stage_query_graph(*stage))
        df = planned.df
        lines.append(f"estimated cost: {planned.cost:,.1f}")
        for s in planned.steps:
            kind, args = s[0], s[1:]
            if kind == "probe":
                # the driver-side expansion: estimated beside actual rows
                hops, nbytes = args
                lines.append(f"  probe: adjacency index, {nbytes:,} bytes")
                for (src, dst), types, est, rows in hops:
                    lines.append(
                        f"    hop ({src})-[{'|'.join(types)}]->({dst}): "
                        f"estimated rows {est:,.1f}, actual rows {rows:,}"
                    )
                continue
            lines.append(f"  {kind}: " + ", ".join(repr(a) for a in args))
    if spark_plan:
        lines.append("-- spark physical plan --")
        lines.append(df._jdf.queryExecution().simpleString())
    return "\n".join(lines)
