"""Iterative graph algorithms as DataFrame fixpoint loops.

Reference capability (SURVEY §2.6): BFS = frontier `mxm` adjacency over
LOR_LAND (DocSpec.scala:31-53); SSSP = iterate `d ← d min.+ A` until
fixpoint, convergence via isEq (DocSpec.scala:55-101).

Scale notes:
- bfs and sssp on a graph with a driver-side adjacency index
  (``PropertyGraph.edge_index``: a cached graph under INDEX_MAX_BYTES)
  run every round on the driver over numpy arrays, as the reference
  pushes its frontier through in-memory matrices, and return one local
  relation: no Spark job per round. Without the index they run as join
  rounds, where each iteration is one shuffle join keyed on the
  frontier ids and the frontier/visited sets are distinct-keyed
  DataFrames, never collected,
- every Spark frontier loop (those bfs and sssp rounds, components,
  scc, topological_layers, the betweenness forward phase) runs through
  ``checkpointing.fixpoint``: each round's delta is checkpointed lazily
  and counted ONCE — that count is the convergence test and the
  broadcast-size input — and the merged state is checkpointed lazily,
  so plan size stays O(1) across iterations (SURVEY §7.3) at one job
  per round. Fixed-iteration loops truncate every CHECKPOINT_EVERY
  instead (a checkpoint is a full materialization pass; shallow
  lineage is cheaper than paying it each round). Set
  G4S_CHECKPOINT_DIR for reliable checkpoints on a cluster (see
  g4s_spark.checkpointing).
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpointing import MAX_CLOSURE_ITERS, fixpoint, iter_checkpoint
from ..graph.store import EDGE_ROWS, NUMERIC_WEIGHTS, AdjacencyIndex, PropertyGraph

# frontier/visited sets below this row count are broadcast into the expand
# join; beyond it the join shuffles on src. The visited set grows
# monotonically toward the whole reachable set, so an unconditional
# broadcast is an executor-memory bomb at cluster scale — the size check
# is driver-side arithmetic over counts we already have (the checkpointed
# delta sets), so being size-aware costs nothing.
BROADCAST_SET_MAX_ROWS = 1_000_000

def _bc(df: DataFrame, n_rows: int, broadcast: bool | None):
    """broadcast=None -> size-aware (default); True/False -> forced."""
    if broadcast is None:
        broadcast = n_rows <= BROADCAST_SET_MAX_ROWS
    return F.broadcast(df) if broadcast else df


def _cached_typed_edges(
    graph: PropertyGraph,
    edge_types: list[str] | None,
    cols: tuple[str, ...],
    partition_col: str | None = None,
) -> DataFrame:
    """The cached (typed) edge projection every iteration re-joins,
    one registry entry per graph — bfs/sssp on the same graph reuse the
    materialized cache across calls instead of paying the scan+filter
    per call. It reads the weights facet only when ``cols`` carries an
    edge column beyond (src, dst, type).

    ``partition_col`` hash-partitions the cache on that column before
    caching (the _mass_edges trick, round-16): when each iteration
    BROADCASTS the score vector into this table and then aggregates by
    ``partition_col`` (or a superset of grouping keys containing it),
    the cache's partitioning survives the broadcast join and the
    aggregation exchange disappears. Only worth it for loops that
    aggregate the full edge-sized message table per step (pagerank /
    hits / eigenvector / components); bfs/sssp keep the unpartitioned
    cache — their per-iteration exchanges carry only the small frontier
    and pinning the layout made every tiny iteration run MORE tasks
    (round-16, measured: bfs isolated min 1.7 -> 2.4 s)."""
    key = ("typed_edges", tuple(edge_types) if edge_types else None, cols, partition_col)
    reads = EDGE_ROWS if set(cols) - {"src", "dst", "type"} else {"edges"}

    def build():
        e = graph.typed_edges(edge_types).select(*cols)
        if partition_col is not None:
            e = e.repartition(F.col(partition_col))
        return e.cache()

    return graph.derived.get(key, reads, build)


def _driver_rounds(
    index: AdjacencyIndex, start_ids, types, cap: int | None, error: str | None
):
    """``fixpoint``'s semi-naive loop on the driver, over ``index``:
    round ``i`` expands the ids the last round improved, keeps each
    neighbour's least candidate distance (frontier distance + edge
    weight; 1 per edge on an unweighted index) and only the strict
    improvements over the state. A null weight gives a null candidate,
    which only a missing or null distance takes, as the join rounds'
    ``d.dist IS NULL OR c.dist < d.dist`` does. At the ``cap``-th round
    it raises ``RuntimeError(error)``, or returns the truncated state
    with ``error=None``. Returns (ids sorted, distances, null flags)."""
    ids = np.unique(np.asarray(start_ids, np.int64))
    dist = np.zeros(len(ids), NUMERIC_WEIGHTS[index.weight_type or "bigint"])
    null = np.zeros(len(ids), bool)
    frontier = ids, dist, null
    for _ in range(cap) if cap is not None else itertools.count():
        f_ids, f_dist, f_null = frontier
        row, nbr, w, w_null = index.expand(f_ids, types, False)
        cand = f_dist[row] + (1 if w is None else w)
        c_null = f_null[row] if w_null is None else f_null[row] | w_null
        # each neighbour's least candidate: the first of its run when
        # sorted by (neighbour, null, distance)
        order = np.lexsort((cand, c_null, nbr))
        nbr, cand, c_null = nbr[order], cand[order], c_null[order]
        first = np.ones(len(nbr), bool)
        first[1:] = nbr[1:] != nbr[:-1]
        nbr, cand, c_null = nbr[first], cand[first], c_null[first]
        pos = np.searchsorted(ids, nbr)
        at = pos.clip(max=max(len(ids) - 1, 0))
        found = (pos < len(ids)) & (ids[at] == nbr)
        better = ~found | null[at] | (~c_null & (cand < dist[at]))
        if not better.any():
            return ids, dist, null
        nbr, cand, c_null, pos, found = (a[better] for a in (nbr, cand, c_null, pos, found))
        dist[pos[found]], null[pos[found]] = cand[found], c_null[found]
        new = ~found
        ids, dist, null = (
            np.insert(a, pos[new], v[new]) for a, v in ((ids, nbr), (dist, cand), (null, c_null))
        )
        frontier = nbr, cand, c_null
    if error is not None:
        raise RuntimeError(error)
    return ids, dist, null


def _dist_frame(graph: PropertyGraph, state, dist_type: str) -> DataFrame:
    """The (id long, dist) local relation of a driver loop's state."""
    ids, dist, null = state
    col = pd.array(dist)
    col[null] = pd.NA
    return graph.spark.createDataFrame(
        pd.DataFrame({"id": ids, "dist": col}), f"id long, dist {dist_type}"
    )


def bfs(
    graph: PropertyGraph,
    start_ids: list[int],
    max_hops: int | None = None,
    edge_types: list[str] | None = None,
    broadcast_frontier: bool | None = None,
) -> DataFrame:
    """Multi-source BFS: returns (id long, dist long), one row per
    reached id (a start id included once) with the minimum hop count
    from any start node. LOR_LAND frontier push: frontier ⋈ edges →
    distinct new ids not yet visited.

    With the graph's driver-side adjacency index (``edge_index``) every
    round runs on the driver and the result is a local relation.
    Without it the rounds are joins: the edge set is cached once (every
    iteration re-joins it); the frontier/visited sets are broadcast only
    while under BROADCAST_SET_MAX_ROWS (size-aware default; pass
    True/False to force), so the monotonically-growing visited set never
    gets broadcast unboundedly."""
    starts = sorted({int(s) for s in start_ids})
    index = graph.edge_index()
    if index is not None:
        return _dist_frame(graph, _driver_rounds(index, starts, edge_types, max_hops, None), "long")
    spark = graph.spark
    edges = _cached_typed_edges(graph, edge_types, ("src", "dst"))
    visited = spark.createDataFrame([(s, 0) for s in starts], "id long, dist long")

    def expand(_i, visited, frontier, n_visited, n_frontier):
        return (
            _bc(frontier, n_frontier, broadcast_frontier)
            .join(edges, frontier.id == edges.src)
            .select(F.col("dst").alias("id"))
            .dropDuplicates(["id"])
            .join(_bc(visited.select("id"), n_visited, broadcast_frontier), on="id", how="left_anti")
        )

    def merge(i, visited, nxt):
        return visited.unionByName(nxt.withColumn("dist", F.lit(i + 1)))

    n = len(starts)
    return fixpoint(
        expand, merge, visited, visited.select("id"), max_hops, n_state=n, n_delta=n
    )


def sssp(
    graph: PropertyGraph,
    start_ids: list[int],
    max_iters: int = 50,
    edge_types: list[str] | None = None,
    weight_col: str = "weight",
    broadcast_frontier: bool | None = None,
) -> DataFrame:
    """Single/multi-source shortest path over the MIN_PLUS semiring:
    d ← min(d, d ⊕min.+ A) iterated to fixpoint (Bellman-Ford layered
    relaxation). Returns (id long, dist), one row per reached id, with
    ``dist`` of the weight column's type, summed outward from the
    source. Runs on the driver over the weighted adjacency index
    (``edge_index(weight_col)``) when the graph has one, else as join
    rounds with bfs()'s caching/size-aware broadcast strategy. Raises if
    max_iters is hit before the fixpoint (never a silently-truncated
    answer)."""
    error = f"sssp did not converge within {max_iters} iterations; raise max_iters"
    starts = sorted({int(s) for s in start_ids})
    index = graph.edge_index(weight_col)
    if index is not None:
        state = _driver_rounds(index, starts, edge_types, max_iters, error)
        return _dist_frame(graph, state, index.weight_type)
    edges = _cached_typed_edges(graph, edge_types, ("src", "dst", weight_col)).select(
        "src", "dst", F.col(weight_col).alias("w")
    )
    spark = graph.spark
    # distance domain follows the weight type (long weights -> exact long
    # distances for oracle comparison; double weights -> double distances)
    wtype = dict(edges.dtypes)["w"]
    zero = 0.0 if wtype in ("double", "float") else 0
    dist = spark.createDataFrame([(s, zero) for s in starts], f"id long, dist {wtype}")

    def expand(_i, dist, frontier, n_dist, n_frontier):
        candidates = (
            _bc(frontier, n_frontier, broadcast_frontier)
            .join(edges, frontier.id == edges.src)
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )
        # keep only strict improvements over current distances
        return (
            candidates.alias("c")
            .join(_bc(dist, n_dist, broadcast_frontier).alias("d"), on="id", how="left")
            .filter(F.col("d.dist").isNull() | (F.col("c.dist") < F.col("d.dist")))
            .select("id", F.col("c.dist").alias("dist"))
        )

    def merge(_i, dist, improved):
        return dist.join(improved.select("id"), on="id", how="left_anti").unionByName(improved)

    n = len(starts)
    return fixpoint(expand, merge, dist, dist, max_iters, error, n_state=n, n_delta=n)


def reachable(graph: PropertyGraph, start_ids: list[int], edge_types: list[str] | None = None) -> DataFrame:
    """Transitive closure from the start set (ids only)."""
    return bfs(graph, start_ids, None, edge_types).select("id")


def _degree_folded_edges(graph: PropertyGraph) -> DataFrame:
    """(src, dst, deg=outdeg(src)) — the cached message-passing edge
    table shared by pagerank / personalized_pagerank, one registry entry
    per graph: the fold costs one groupBy + join over the full edge
    set, and every subsequent *-pagerank call on the same graph reuses
    the materialized cache instead of rebuilding it."""

    def build():
        edges = graph.edges.select("src", "dst")
        deg = (
            edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            .withColumnRenamed("src", "deg_src")
        )
        return (
            edges.join(deg, edges.src == F.col("deg_src"))
            .select("src", "dst", "deg")
            .cache()
        )

    return graph.derived.get("degree_edges", {"edges"}, build)


# lineage is truncated every CHECKPOINT_EVERY iterations, not every one:
# a checkpoint is a full materialization pass, and a 3-deep join lineage
# is still a small plan — paying one extra pass per iteration for
# depth-1 lineage was pure overhead (measured ~2s of the 3-iteration
# pagerank at sf0.1). Long fixpoint loops still truncate periodically so
# plan size stays O(1).
CHECKPOINT_EVERY = 5


def _mass_edges(graph: PropertyGraph) -> DataFrame:
    """(src, dst, deg, cnt): the degree-folded edge table with the
    source node's multiplicity in the node table attached (multi-labeled
    nodes are one row per label — SURVEY §2.5 — and the dense rank
    vector joined each edge once per label row). A registry entry like
    _degree_folded_edges."""

    def build():
        e2 = _degree_folded_edges(graph)
        cnt = graph.label_nodes(None).groupBy("id").agg(F.count(F.lit(1)).alias("cnt"))
        return (
            e2.join(cnt.withColumnRenamed("id", "cnt_src"), e2.src == F.col("cnt_src"))
            .select("src", "dst", "deg", "cnt")
            # dst-keyed cache (round-16): the pagerank loop aggregates the
            # contributions by dst every iteration; hash-partitioning the
            # cached table once lets that groupBy reuse the cache's
            # partitioning (alias-aware: dst -> id survives the broadcast
            # join + projection), so the per-iteration Exchange disappears
            # while the sparse rank vector broadcasts. Partition count comes
            # from spark.sql.shuffle.partitions (scale-adaptive, not a
            # local[32] constant); the non-broadcast fallback path shuffles
            # on src exactly as before.
            .repartition(F.col("dst"))
            .cache()
        )

    return graph.derived.get("mass_edges", {"labels", "edges"}, build)


def _distinct_node_ids(graph: PropertyGraph) -> DataFrame:
    """Distinct (id) set, cached once per graph (round-17): hits and
    eigenvector re-deduped + re-cached the node-id set per CALL (cache
    fill + unpersist inside each call), so every call re-paid the
    dedup over the nodes union."""
    return graph.derived.get(
        "distinct_node_ids", {"labels"},
        lambda: graph.label_nodes(None).dropDuplicates(["id"]).cache(),
    )


def _distinct_edges(graph: PropertyGraph, partition_col: str = "dst") -> DataFrame:
    """Distinct (src, dst) topology, cached once per graph per
    partition key (round-17): betweenness re-deduped + re-cached the
    full edge union per call. Keyed caches for the same broadcast-join
    partitioning-reuse reason as _sym_edges — betweenness' forward
    phase aggregates by (s, v=dst) off the dst-keyed copy, its backward
    phase by (s, v=u=src) off the src-keyed copy; either way the
    subset-key rule erases the per-layer exchange."""
    return graph.derived.get(
        ("distinct_edges", partition_col), {"edges"},
        lambda: graph.edges.select("src", "dst")
        .dropDuplicates(["src", "dst"])
        .repartition(F.col(partition_col))
        .cache(),
    )


def _distinct_node_count(graph: PropertyGraph) -> int:
    """|distinct ids|, memoized on the graph (round-17) — the broadcast
    size gate for score-vector loops (every loop vector has at most this
    many rows) and eigenvector's 1/N seed."""
    return graph.derived.get(
        "distinct_node_count", {"labels"}, lambda: _distinct_node_ids(graph).count()
    )


def _sym_edges(graph: PropertyGraph) -> DataFrame:
    """Distinct symmetric (src, dst) topology — the undirected view
    connected_components folds per call — cached once per graph
    (round-17, same pattern as _distinct_edges)."""
    def build():
        e = graph.edges.select("src", "dst")
        return (
            e.unionByName(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .dropDuplicates(["src", "dst"])
            # dst-keyed (round-17, the _mass_edges trick): the HashMin
            # loop broadcasts the label vector into this table and
            # aggregates by dst — the cache partitioning survives the
            # broadcast join, so the per-iteration exchange disappears
            .repartition(F.col("dst"))
            .cache()
        )

    return graph.derived.get("sym_edges", {"edges"}, build)


def _node_count(graph: PropertyGraph) -> int:
    """|V| (label rows), a registry entry: every *-pagerank call needs N
    and the count job recurred per call."""
    return graph.derived.get(
        "node_count", {"labels"}, lambda: graph.label_nodes(None).count()
    )


def pagerank(graph: PropertyGraph, iters: int = 3, damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank (simplified: dangling mass dropped — the
    semantics are pinned so the unrolled-SQL oracle matches exactly):

        pr_0(v)   = 1/N
        pr_{t+1}(v) = (1-d)/N + d · Σ_{u→v} pr_t(u)/outdeg(u)

    Returns (id long, pr double). Each iteration is ONE join + one
    aggregation shuffled on dst — the Pregel message-passing pattern as
    plain DataFrames; contributions combine map-side before the shuffle.

    The degree normalization is folded into the edge table once up front
    (src, dst, outdeg), cached: the loop never re-joins the degree table.

    The rank vector is kept SPARSE (round-16): a node that received no
    mass sits at the closed-form constant — 1/N before iteration 1,
    (1-d)/N after (d·0.0 adds nothing in IEEE, so the constant is
    bit-identical to the dense formula). Iteration 1 therefore needs no
    join at all (rank is the uniform literal), and later iterations
    left-join the sparse vector into the cached edge table with the
    constant as the null-fill. This removes the per-iteration
    nodes-union Exchange+Sort+SortMergeJoin the dense form paid to
    re-attach zero-mass nodes (measured in the round-16 plans) — the full
    node set is joined exactly once, after the loop. The sparse vector
    is the broadcast side while N is under BROADCAST_SET_MAX_ROWS
    (size-aware, like bfs/sssp frontiers — at cluster scale the rank
    vector is O(V) and must shuffle instead; the plan then falls back
    to a regular join on the cached, src-keyed edge table).

    Multiset semantics: the node table carries one row per (id, label),
    so a multi-labeled node joined the dense rank vector k times and its
    contribution counted k-fold (the oracle's graph_nodes CTE does the
    same). The sparse form preserves that by folding the multiplicity
    into the cached edge table (cnt column) and weighting each
    contribution cnt·(pr/deg) — the product matches the dense form's
    repeated addition to within one ulp, absorbed by the gate's
    9-decimal rounding like every other summation-order difference."""
    e3 = _mass_edges(graph)
    n = _node_count(graph)
    if iters <= 0:
        return graph.label_nodes(None).select("id", F.lit(1.0 / n).alias("pr"))
    base = (1.0 - damping) / n
    pr = None  # sparse (id, pr); None = uniform 1/N (iteration 0 state)
    default = 1.0 / n  # rank of any node outside the sparse support
    for i in range(iters):
        if pr is None:
            contribs = e3.select(
                F.col("dst").alias("id"),
                (F.col("cnt") * (F.lit(default) / F.col("deg"))).alias("c"),
            )
        else:
            contribs = (
                e3.join(_bc(pr, n, None), pr.id == e3.src, "left")
                .select(
                    F.col("dst").alias("id"),
                    (F.col("cnt")
                     * (F.coalesce(F.col("pr"), F.lit(default)) / F.col("deg"))).alias("c"),
                )
            )
        pr = (
            contribs.groupBy("id")
            .agg(F.sum("c").alias("mass"))
            .select(
                "id",
                (F.lit(base) + F.lit(damping) * F.col("mass")).alias("pr"),
            )
        )
        default = base
        if (i + 1) % CHECKPOINT_EVERY == 0 and i + 1 < iters:
            pr = iter_checkpoint(pr)
    return (
        graph.label_nodes(None)
        .join(pr, on="id", how="left")
        .select("id", F.coalesce(F.col("pr"), F.lit(default)).alias("pr"))
    )


def weighted_pagerank(
    graph: PropertyGraph, iters: int = 3, damping: float = 0.85,
    weight_col: str = "weight",
) -> DataFrame:
    """Edge-weighted PageRank: u's rank mass flows to v proportional to
    w(u,v) / W(u) with W(u) the total outgoing weight —

        pr_{t+1}(v) = (1-d)/N + d · Σ_{u→v} pr_t(u) · w(u,v)/W(u)

    Same Pregel shape and memoized fold as pagerank (the weight-summed
    edge table is one registry entry per graph per weight column, so
    two calls with different weight columns never share a fold); each
    iteration moves only the rank vector."""

    def build():
        edges = graph.edges.select("src", "dst", F.col(weight_col).alias("w"))
        tot = (
            edges.groupBy("src").agg(F.sum("w").alias("wsum"))
            .withColumnRenamed("src", "w_src")
        )
        return (
            edges.join(tot, edges.src == F.col("w_src"))
            .select("src", "dst", "w", "wsum")
            .cache()
        )

    nodes = graph.label_nodes(None).cache()
    e3 = graph.derived.get(("weight_edges", weight_col), EDGE_ROWS, build)
    try:
        n = nodes.count()
        pr = nodes.withColumn("pr", F.lit(1.0 / n))
        for i in range(iters):
            contribs = (
                pr.join(e3, pr.id == e3.src)
                .select(
                    F.col("dst").alias("id"),
                    ((F.col("pr") * F.col("w")) / F.col("wsum")).alias("c"),
                )
                .groupBy("id")
                .agg(F.sum("c").alias("mass"))
            )
            pr = (
                nodes.join(contribs, on="id", how="left")
                .select(
                    "id",
                    (F.lit((1.0 - damping) / n)
                     + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))).alias("pr"),
                )
            )
            if (i + 1) % CHECKPOINT_EVERY == 0 and i + 1 < iters:
                pr = iter_checkpoint(pr)
    finally:
        nodes.unpersist()
    return pr


def personalized_pagerank(
    graph: PropertyGraph, seeds: DataFrame, iters: int = 3, damping: float = 0.85
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: the (1-d) reset mass
    returns to the seed set instead of all nodes —

        pr_0(v)     = 1_{v∈S}/|S|
        pr_{t+1}(v) = (1-d)·1_{v∈S}/|S| + d · Σ_{u→v} pr_t(u)/outdeg(u)

    ``seeds``: one ``id`` column. Same Pregel shape and scale profile as
    pagerank (degree folded into the cached edge table once; one join +
    one dst-keyed aggregation per iteration; lineage truncated); the
    reset vector is a cached per-node column joined in place of the
    uniform constant."""
    nodes = graph.label_nodes(None).cache()
    s = seeds.select("id").dropDuplicates()
    e2 = _degree_folded_edges(graph)
    reset = (
        nodes.join(s.withColumn("_is", F.lit(1.0)), on="id", how="left")
        .select("id", F.coalesce(F.col("_is"), F.lit(0.0)).alias("ind"))
        .cache()
    )
    try:
        ns = s.count()
        if ns == 0:
            raise ValueError("personalized_pagerank needs a non-empty seed set")
        pr = reset.select("id", (F.col("ind") / F.lit(float(ns))).alias("pr"))
        for i in range(iters):
            contribs = (
                pr.join(e2, pr.id == e2.src)
                .select(F.col("dst").alias("id"), (F.col("pr") / F.col("deg")).alias("c"))
                .groupBy("id")
                .agg(F.sum("c").alias("mass"))
            )
            pr = (
                reset.join(contribs, on="id", how="left")
                .select(
                    "id",
                    (
                        F.lit(1.0 - damping) * (F.col("ind") / F.lit(float(ns)))
                        + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
                    ).alias("pr"),
                )
            )
            if (i + 1) % CHECKPOINT_EVERY == 0 and i + 1 < iters:
                pr = iter_checkpoint(pr)
    finally:
        reset.unpersist()
        nodes.unpersist()
    return pr


def _min_labels(edges: DataFrame, labels: DataFrame, n_rows: int, cap: int, error: str) -> DataFrame:
    """HashMin to fixpoint: every node takes the least ``label`` among
    itself and the nodes that reach it along ``edges`` (src -> dst,
    cached dst-keyed). ``labels`` is (id, label), every node's starting
    label; the result has the same shape. The one min-label propagation
    behind connected_components and scc's forward coloring.

    Semi-naive messages (round-17): a node's label can only improve via
    a neighbor whose label improved LAST round (its older message was
    already incorporated), so only the improved set sends. Every table
    here is bounded by ``n_rows`` — one static gate for the broadcasts
    (round-17: unknown-size checkpoint stats forced SortMergeJoin,
    shuffling + sorting the edge table every round; broadcasting the
    delta keeps the dst-partitioned cache layout, so the min
    aggregation needs no exchange either)."""

    updated = None  # the whole vector after the last round, change flag in-row

    def expand(_i, labels, delta, _n_labels, _n_delta):
        nonlocal updated
        nmin = (
            _bc(delta, n_rows, None).join(edges, delta.id == edges.src)
            .select(F.col("dst").alias("id"), F.col("label"))
            .groupBy("id")
            .agg(F.min("label").alias("nmin"))
        )
        # in-row change flag (round-17): the updated vector is stored by
        # the same job as the driver's count, so merge is a projection of
        # its blocks, not one more join (and the vector keeps its
        # partitioning — an anti-join + union would add the delta's
        # partitions every round)
        updated = iter_checkpoint(
            labels.join(_bc(nmin, n_rows, None), on="id", how="left").select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
                (F.col("nmin") < F.col("label")).alias("_chg"),
            ),
            eager=False,
        )
        return updated.filter(F.col("_chg")).select("id", "label")

    def merge(_i, _labels, _improved):
        return updated.drop("_chg")

    return fixpoint(expand, merge, labels, labels, cap, error)


def connected_components(graph: PropertyGraph, max_iters: int = 30) -> DataFrame:
    """Undirected connected components by iterative min-id label
    propagation (HashMin / Pregel style): each node adopts the smallest
    component id among itself and its neighbors until fixpoint. Returns
    (id long, component long). Raises if max_iters is hit before the
    fixpoint — a silently-unconverged labeling is wrong, not approximate
    (e.g. min-id propagation on a path graph longer than max_iters)."""
    labels = graph.label_nodes(None).select("id", F.col("id").alias("label"))
    return _min_labels(
        _sym_edges(graph), labels, _node_count(graph), max_iters,
        f"connected_components did not converge within {max_iters} "
        "iterations; raise max_iters",
    ).withColumnRenamed("label", "component")


def k_core(pairs: DataFrame, k: int, max_iters: int = 30) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly drop nodes
    of degree < k (and their edges) until every surviving node has ≥ k
    neighbors in the surviving subgraph. Input: undirected canonical
    pairs (a < b). Returns (id long, core_deg long) — each member of the
    k-core with its within-core degree.

    Scale shape: each peel is one degree aggregation + two semi-joins on
    the surviving edge set, all keyed on node id; the edge set shrinks
    monotonically, so later iterations cost less. The survivor count
    (needed for convergence anyway) doubles as the lineage-truncation
    materialization. Raises if max_iters peels don't reach the fixpoint
    — a partially-peeled graph is wrong, not approximate."""
    sym = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    )
    cur = iter_checkpoint(sym)
    prev_alive = -1
    for _ in range(max_iters):
        keep = (
            cur.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("src").alias("id"))
        )
        # lazy: the convergence count materializes the checkpoint
        keep = iter_checkpoint(keep, eager=False)
        alive = keep.count()
        if alive == prev_alive:
            break
        if alive == 0:
            cur = cur.limit(0)
            break
        cur = (
            cur.join(keep.withColumnRenamed("id", "src"), on="src", how="left_semi")
            .join(keep.withColumnRenamed("id", "dst"), on="dst", how="left_semi")
        )
        cur = iter_checkpoint(cur)
        prev_alive = alive
    else:
        raise RuntimeError(f"k_core did not converge within {max_iters} peels")
    return (
        cur.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
        .select(F.col("src").alias("id"), "core_deg")
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Triangle count over an undirected edge list given as canonical
    pairs (a < b). Standard 3-way self-join on ordered vertices; the
    (a<b<c) orientation counts each triangle exactly once. Returns a
    single row (n_triangles long)."""
    # the (possibly expensive) pairs lineage feeds three join arms —
    # materialize it once; Spark's exchange reuse does NOT fire across
    # the differently-keyed arms (measured: 3x recompute without this)
    edges = iter_checkpoint(edges)
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, on="y").join(e3, on=["x", "z"])
    return tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def clustering_coefficient(pairs: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient over an undirected graph
    given as canonical pairs (a < b):

        cc(v) = 2 · tri(v) / (deg(v) · (deg(v) − 1)), 0 for deg < 2

    Returns (id, deg, n_tri, cc) — the per-node refinement of
    triangle_count (round-7; GraphBLAS's LCC family).

    Scale: the SAME ordered 3-way self-join as triangle_count (output
    bounded by triangle count, never |V|²), one explode of each
    triangle to its 3 corners, a corner-keyed count, and a degree
    aggregate joined back — every shuffle keyed on a node id. The cc
    expression uses integer products and ONE double division so a SQL
    oracle reproduces it bit-for-bit."""
    # five consumers (three join arms + the degree side) — materialize
    # the pairs lineage once (exchange reuse does not fire across the
    # differently-keyed arms; measured 10 base-table scans without this)
    pairs = iter_checkpoint(pairs)
    e1 = pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = pairs.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = pairs.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, on="y").join(e3, on=["x", "z"])
    corners = tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
    tcnt = corners.groupBy("id").agg(F.count(F.lit(1)).alias("tri"))
    sym = pairs.select(F.col("a").alias("id")).unionByName(
        pairs.select(F.col("b").alias("id"))
    )
    deg = sym.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    t = F.coalesce(F.col("tri"), F.lit(0))
    return deg.join(tcnt, on="id", how="left").select(
        "id",
        F.col("deg").cast("long").alias("deg"),
        t.cast("long").alias("n_tri"),
        F.when(
            F.col("deg") >= 2,
            (F.lit(2) * t).cast("double")
            / (F.col("deg") * (F.col("deg") - F.lit(1))).cast("double"),
        ).otherwise(F.lit(0.0)).alias("cc"),
    )


def degree_assortativity(pairs: DataFrame) -> DataFrame:
    """Degree assortativity (Newman r): the Pearson correlation of
    endpoint degrees over the undirected edge set (canonical pairs
    a < b, each edge contributing both orientations). Positive r =
    hubs link to hubs; negative = hub-leaf (typical of TPC-H-ish
    bipartite-flavored graphs). Returns ONE row
    (n_ends, r) — n_ends = 2·|E|.

    Scale + oracle parity: degrees join onto the directed edge copies
    (two shuffles on node ids), then the correlation comes from
    EXACT integer sums (Σx, Σy, Σxy, Σx², Σy² over long degrees) and
    one closed-form double expression — no streaming variance formula,
    so any SQL engine reproduces the double bit-for-bit. Degenerate
    variance (all degrees equal) yields NULL."""
    pairs = iter_checkpoint(pairs)  # consumed by both orientations
    sym = pairs.select(F.col("a").alias("s"), F.col("b").alias("d")).unionByName(
        pairs.select(F.col("b").alias("s"), F.col("a").alias("d"))
    )
    deg = iter_checkpoint(
        sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    )  # joined twice (src and dst sides)
    ends = (
        sym.join(deg.select(F.col("s"), F.col("deg").alias("dx")), on="s")
        .join(
            deg.select(F.col("s").alias("d"), F.col("deg").alias("dy")), on="d"
        )
        .select("dx", "dy")
    )
    agg = ends.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    # combine in DOUBLE (each factor cast first): n·Σxy-scale products
    # overflow long on huge graphs, and IEEE doubles are identical
    # across engines for the oracle hash
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("n") * d("sxy") - d("sx") * d("sy")
    vx = d("n") * d("sxx") - d("sx") * d("sx")
    vy = d("n") * d("syy") - d("sy") * d("sy")
    return agg.select(
        F.col("n").alias("n_ends"),
        F.when(
            (vx > 0) & (vy > 0), num / F.sqrt(vx) / F.sqrt(vy)
        ).alias("r"),
    )


def closeness_centrality(
    graph, sources: list[int], weighted: bool = False
) -> DataFrame:
    """Closeness centrality of a seed set (round-8): one row
    (closeness, n_reachable) where closeness = (r−1)/Σdist over the r
    reachable nodes (Bavelas; the Wasserman–Faust disconnected
    correction is the caller's multiply by (r−1)/(n−1)). Same shape as
    harmonic centrality — ONE aggregation over the BFS fixpoint, so
    batched seed sets share the frontier machinery at scale.
    ``weighted`` swaps the hop-count BFS for the min-plus SSSP
    fixpoint (edge weights as distances) — same aggregation."""
    d = (sssp if weighted else bfs)(graph, sources).filter(F.col("dist") > 0)
    return d.agg(
        F.when(
            F.sum("dist") > 0,
            F.count(F.lit(1)).cast("double") / F.sum("dist"),
        ).alias("closeness"),
        F.count(F.lit(1)).cast("long").alias("n_reachable"),
    )


def harmonic_centrality(
    graph, sources: list[int], weighted: bool = False
) -> DataFrame:
    """Harmonic centrality of a seed set: Σ 1/dist over reachable
    nodes — the disconnected-robust centrality (Boldi–Vigna). One
    aggregation over the BFS (or, ``weighted``, min-plus SSSP)
    fixpoint, like closeness."""
    d = (sssp if weighted else bfs)(graph, sources).filter(F.col("dist") > 0)
    return d.agg(
        F.sum(F.lit(1.0) / F.col("dist")).alias("harmonic"),
        F.count(F.lit(1)).cast("long").alias("n_reachable"),
    )


def label_assortativity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Degree assortativity stratified by endpoint labels (round-8,
    VERDICT r7 #7): for each (src_label, dst_label) stratum of the
    DIRECTED edge set, the Pearson correlation of total endpoint
    degrees — which label pairs wire hub-to-hub vs hub-to-leaf.
    ``edges``: (src, dst); ``labels``: (id, label) — a multi-label node
    contributes one end per label row (the triplet-stats contract,
    graph/stats.py). Returns (src_label, dst_label, n_edges, r);
    strata with degenerate variance (all degrees equal on either side,
    e.g. every Nation->Region stratum) yield NULL r.

    Scale shape: same as degree_assortativity — total degree from one
    groupBy over the symmetrized ends, two degree joins + two label
    joins onto the edge table (label side broadcastable: |labels| ~
    |V| slim rows, and the per-node degree join shuffles on node id),
    then EXACT integer sums per stratum and one closed-form double, so
    any SQL engine reproduces the hash bit-for-bit."""
    edges = iter_checkpoint(edges.select("src", "dst"))
    sym = edges.select(F.col("src").alias("s")).unionByName(
        edges.select(F.col("dst").alias("s"))
    )
    deg = iter_checkpoint(sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg")))
    # label MEMBERSHIP is a set: duplicate (id, label) node rows must
    # not fan the edge join out (the driver testdata carries duplicate
    # lineitem ids)
    lab = labels.select("id", "label").dropDuplicates(["id", "label"])
    ends = (
        edges
        .join(deg.select(F.col("s").alias("src"), F.col("deg").alias("dx")), on="src")
        .join(deg.select(F.col("s").alias("dst"), F.col("deg").alias("dy")), on="dst")
        .join(
            lab.select(F.col("id").alias("src"), F.col("label").alias("src_label")),
            on="src",
        )
        .join(
            lab.select(F.col("id").alias("dst"), F.col("label").alias("dst_label")),
            on="dst",
        )
    )
    agg = ends.groupBy("src_label", "dst_label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("n") * d("sxy") - d("sx") * d("sy")
    vx = d("n") * d("sxx") - d("sx") * d("sx")
    vy = d("n") * d("syy") - d("sy") * d("sy")
    return agg.select(
        "src_label",
        "dst_label",
        F.col("n").alias("n_edges"),
        F.when((vx > 0) & (vy > 0), num / F.sqrt(vx) / F.sqrt(vy)).alias("r"),
    )


def _hub_guard_filter(inv: DataFrame, deg_col: str, cap: int, fn: str) -> DataFrame:
    """Executor-side hub-degree guard shared by the co-neighborhood
    family (VERDICT r14 #2 — the sibling of semantic_dedup's
    max_cell_rows, dedup.py): the inverted-index self-join on `nb`
    plans Σ_w deg(w)² candidate pairs, so ONE power-law hub of degree
    10⁶ turns an exact-at-TPC-H operator into a 10¹²-pair stage at
    100 TB. The guard is a row-wise when/raise_error over the degree
    column ALREADY attached to the index rows, read by a filter so
    column pruning cannot drop it and every index row is checked —
    no extra aggregation, no broadcast of a |V|-row table (that
    broadcast would itself be the scale bug). On trip: fail loudly
    naming the hub, pointing at the mitigations (drop or
    hash-truncate hub neighborhoods to top-k before calling — hubs
    dominate Jaccard/RA denominators anyway, so top-k truncation is
    the standard DeepWalk/link-prediction fallback)."""
    ok = (
        F.when(F.col(deg_col) <= F.lit(int(cap)), F.lit(1))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"{fn}: neighbor "),
                    F.col("nb").cast("string"),
                    F.lit(" has degree "),
                    F.col(deg_col).cast("string"),
                    F.lit(
                        f" (max_neighbor_degree={int(cap)}): the"
                        " co-neighborhood self-join would plan deg²"
                        " candidate pairs for this hub — drop or"
                        " hash-truncate hub neighborhoods to top-k"
                        " first, or raise max_neighbor_degree"
                    ),
                )
            )
        )
    )
    return inv.filter(ok >= 1)


def neighborhood_jaccard(
    pairs: DataFrame,
    threshold: float = 0.3,
    min_shared: int = 1,
    max_neighbor_degree: int | None = 65536,
) -> DataFrame:
    """Link-prediction feature: Jaccard similarity of node neighborhoods
    over an undirected graph given as canonical pairs (a < b) —
    |N(x) ∩ N(y)| / |N(x) ∪ N(y)| for candidate pairs sharing ≥
    min_shared neighbors. High-Jaccard non-edges are link candidates.

    Scale shape: the inverted-index trick (the same as n-gram Jaccard
    over documents): explode to (neighbor, node), self-join on the
    neighbor key to count shared neighbors — candidates are bounded by
    co-neighborhood, never |V|²; degrees join back (map-side broadcast
    under AQE) and the ratio is one row-wise expression.

    ``max_neighbor_degree`` (default 65536 ≈ 2^31 candidate pairs per
    hub, the same budget as semantic_dedup's max_cell_rows): any
    neighbor whose degree exceeds it fails the job loudly instead of
    silently planning a deg² pair stage — see _hub_guard_filter. The
    guard's degree join keys on ``nb``, the SAME key the self-join
    shuffles on, so the exchange is reused. ``None`` disables it."""
    pairs = iter_checkpoint(pairs)  # feeds the index AND the degree side
    sym = (
        pairs.select(F.col("a").alias("n"), F.col("b").alias("x"))
        .unionByName(pairs.select(F.col("b").alias("n"), F.col("a").alias("x")))
    )
    deg = sym.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    # sym: (n, x) = "x is a neighbor of n"; invert: for each neighbor x,
    # the nodes n it connects — pairs of n sharing an x are candidates
    inv = sym.select(F.col("x").alias("nb"), F.col("n").alias("node"))
    if max_neighbor_degree is not None:
        nbdeg = deg.select(F.col("n").alias("nb"), F.col("deg").alias("_nb_deg"))
        inv = _hub_guard_filter(
            inv.join(nbdeg, on="nb"),
            "_nb_deg",
            max_neighbor_degree,
            "neighborhood_jaccard",
        ).drop("_nb_deg")
    shared = (
        inv.alias("l").join(inv.alias("r"), on="nb")
        .filter(F.col("l.node") < F.col("r.node"))
        .groupBy(F.col("l.node").alias("x"), F.col("r.node").alias("y"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    out = (
        shared
        .join(deg.select(F.col("n").alias("x"), F.col("deg").alias("dx")), on="x")
        .join(deg.select(F.col("n").alias("y"), F.col("deg").alias("dy")), on="y")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("dx") + F.col("dy") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select(
        "x", "y", F.col("shared").cast("long").alias("shared"), "jaccard"
    )


def common_neighbor_scores(
    pairs: DataFrame,
    index: str = "resource_allocation",
    min_shared: int = 1,
    max_neighbor_degree: int | None = 65536,
) -> DataFrame:
    """Weighted common-neighbor link-prediction indexes over an
    undirected graph given as canonical pairs (a < b) — the family
    neighborhood_jaccard belongs to, with per-shared-neighbor weights:

    - ``'common'``: |N(x) ∩ N(y)| (plain count)
    - ``'resource_allocation'``: Σ_{w ∈ N(x)∩N(y)} 1/deg(w)
      (Zhou/Lü/Zhang 2009 — one exact IEEE division per neighbor, so a
      SQL oracle reproduces scores bit-for-bit)
    - ``'adamic_adar'``: Σ 1/ln(deg(w)) (Adamic/Adar 2003 — ln differs
      in the last ulp across engines; round before cross-engine
      comparison)

    A shared neighbor w of a pair x ≠ y is adjacent to both, so
    deg(w) >= 2 and both 1/deg and 1/ln(deg) are well-defined.

    Scale shape: the same inverted-index join as neighborhood_jaccard,
    with the weight attached to the index rows by ONE degree equi-join
    BEFORE the self-join — the pair aggregation is then a plain
    map-side-combinable sum, candidates bounded by co-neighborhood,
    never |V|².

    ``max_neighbor_degree`` (default 65536, same budget as
    neighborhood_jaccard / semantic_dedup's max_cell_rows): a hub
    neighbor above it fails the job loudly instead of planning deg²
    pairs — see _hub_guard_filter. FREE here: the degree is already
    joined onto the index rows for the weight, so the guard is one
    row-wise expression, no extra join or aggregation. ``None``
    disables it."""
    weights = {
        "common": F.lit(1.0),
        "resource_allocation": 1.0 / F.col("nb_deg"),
        "adamic_adar": 1.0 / F.log(F.col("nb_deg")),
    }
    if index not in weights:
        raise ValueError(f"index must be one of {sorted(weights)}, got {index!r}")
    # defensive normalization (ADVICE r11): duplicate rows or
    # (b,a)-mirrored rows would silently inflate deg(w) and every
    # weighted score — not just duplicate output rows. Canonicalize
    # each edge to (min, max) and dedup, matching random_walks'
    # defensive dropDuplicates on its edge input.
    pairs = (
        pairs.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .filter(F.col("a") < F.col("b"))  # drop self-loops too
        .dropDuplicates(["a", "b"])
    )
    pairs = iter_checkpoint(pairs)
    sym = (
        pairs.select(F.col("a").alias("n"), F.col("b").alias("x"))
        .unionByName(pairs.select(F.col("b").alias("n"), F.col("a").alias("x")))
    )
    deg = sym.groupBy("n").agg(F.count(F.lit(1)).alias("nb_deg"))
    inv = (
        sym.select(F.col("x").alias("nb"), F.col("n").alias("node"))
        .join(deg.withColumnRenamed("n", "nb"), on="nb")
        .withColumn("w", weights[index].cast("double"))
    )
    if max_neighbor_degree is not None:
        inv = _hub_guard_filter(
            inv, "nb_deg", max_neighbor_degree, "common_neighbor_scores"
        )
    out = (
        inv.alias("l")
        .join(inv.alias("r"), on="nb")
        .filter(F.col("l.node") < F.col("r.node"))
        .groupBy(F.col("l.node").alias("x"), F.col("r.node").alias("y"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("shared"),
            F.sum(F.col("l.w")).alias("score"),
        )
        .filter(F.col("shared") >= min_shared)
    )
    return out.select("x", "y", "shared", "score")


def random_walks(
    edges: DataFrame,
    length: int = 3,
    walks_per_node: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Deterministic "random" walks over a directed edge set — the
    DeepWalk / node2vec corpus-generation step (Perozzi et al. 2014):
    one walk (``walks_per_node`` replicas) starts at every distinct
    source node; at step t the walk at node u moves to the out-neighbor
    v minimizing md5(seed:start:rep:t:v) — a keyed pseudo-random draw
    that is reproducible across engines (md5 is identical in Spark,
    DuckDB, and hashlib), independent of partitioning, and different
    per (walk, step). Dead ends truncate the walk. Returns
    (start, rep, step, node) with step 0..length.

    Scale shape: each step is ONE frontier⋈edges equi-join on the
    current node + ONE min_by groupBy per walk — the pagerank-iteration
    shuffle shape; state is one row per live walk, never a neighbor
    list. ``length`` bounds the job count; the md5 draw keeps the
    operator deterministic under AQE re-planning and retries (no
    rand(), no monotonically_increasing_id)."""
    if length < 1:
        raise ValueError("length must be >= 1")
    if walks_per_node < 1:
        raise ValueError("walks_per_node must be >= 1")
    e = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    e = iter_checkpoint(e)
    starts = (
        e.select(F.col("src").alias("start"))
        .dropDuplicates(["start"])
        .crossJoin(
            # replica index via a literal sequence — tiny, broadcast
            e.sparkSession.range(walks_per_node).select(
                F.col("id").cast("long").alias("rep")
            )
        )
    )
    frontier = starts.withColumn("node", F.col("start"))
    out = frontier.withColumn("step", F.lit(0).cast("long"))
    for t in range(1, length + 1):
        cand = frontier.join(e, frontier.node == e.src).select(
            "start", "rep", F.col("dst")
        )
        key = F.md5(
            F.concat_ws(
                ":",
                F.lit(str(seed)),
                F.col("start").cast("string"),
                F.col("rep").cast("string"),
                F.lit(str(t)),
                F.col("dst").cast("string"),
            )
        )
        frontier = (
            cand.groupBy("start", "rep")
            .agg(F.min_by(F.col("dst"), key).alias("node"))
        )
        frontier = iter_checkpoint(frontier)
        out = out.unionByName(
            frontier.withColumn("step", F.lit(t).cast("long"))
        )
    return out.select("start", "rep", "step", "node")


def label_propagation(pairs: DataFrame, iters: int = 3) -> DataFrame:
    """Synchronous label propagation over an undirected pair graph —
    the cheap community-detection baseline. Every node starts with its
    own id as label; each round a node adopts the most frequent label
    among its neighbors, ties broken by the SMALLEST label (the
    deterministic variant: asynchronous/random-tie LPA is not
    reproducible across engines or runs, so it cannot be oracle-gated).
    Nodes with no neighbors in a round keep their previous label. Fixed
    iteration count; returns (id, lbl).

    ``pairs``: undirected (a, b) edge list, each pair once.

    Scale: per round one join of the label vector onto the symmetrized
    edges (shuffle on dst), one (id, lbl) count aggregate, and one
    per-id top-1 window — every shuffle keyed on node id, never a
    global sort; lineage truncated every CHECKPOINT_EVERY rounds like
    the other fixpoints (pagerank/sssp)."""
    from pyspark.sql import Window

    sym = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .dropDuplicates(["src", "dst"])
        .cache()
    )
    labels = sym.select(F.col("src").alias("id")).dropDuplicates().select(
        "id", F.col("id").alias("lbl")
    )
    try:
        for i in range(iters):
            nb = sym.join(
                labels.select(F.col("id").alias("dst"), "lbl"), on="dst"
            ).select(F.col("src").alias("id"), "lbl")
            counts = nb.groupBy("id", "lbl").agg(F.count(F.lit(1)).alias("c"))
            w = Window.partitionBy("id").orderBy(F.col("c").desc(), F.col("lbl").asc())
            best = (
                counts.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("id", F.col("lbl").alias("new_lbl"))
            )
            labels = (
                labels.withColumnRenamed("lbl", "old")
                .join(best, on="id", how="left")
                .select("id", F.coalesce("new_lbl", "old").alias("lbl"))
            )
            if (i + 1) % CHECKPOINT_EVERY == 0 and i + 1 < iters:
                labels = iter_checkpoint(labels)
    finally:
        sym.unpersist()
    return labels


def hits(graph: PropertyGraph, iters: int = 3) -> DataFrame:
    """HITS hubs & authorities (Kleinberg): fixed-iteration mutual
    recursion with L2 normalization after every half-step —

        auth_{t+1}(v) = Σ_{u→v} hub_t(u)      (then a / ||a||₂)
        hub_{t+1}(u)  = Σ_{u→v} auth_{t+1}(v) (then h / ||h||₂)

    Returns (id, hub, auth); nodes with no in-edges get auth 0, no
    out-edges hub 0. Deterministic up to float-summation order — gates
    round to 9 decimals like pagerank.

    Scale (round-17 rewrite, the pagerank sparse-vector treatment): the
    loop carries the score vector SPARSE — only nodes on the message
    support, never the full node set — and the vector is size-gated
    broadcast into the edge join, so the dst- (resp. src-) partitioned
    edge cache's layout survives the join and the aggregation needs no
    exchange: per half-step ONE zero-exchange job. The old form LEFT-
    JOINED the full node set onto every half-step aggregate to assign
    zeros, and because the checkpointed vector has unknown size stats
    the planner ran SortMergeJoin — two exchanges + sorts of node- and
    edge-sized tables per half-step (measured 38.7 s isolated at
    sf0.1). Zeros are attached ONCE after the
    loop. Equivalence is exact, not approximate: from hub_0 = 1
    everywhere, every score on the support is strictly positive, the
    sparse support IS the nonzero support, and a node outside it (no
    in-/out-edges) never contributes a message term — same doubles,
    same rows. The L2 norm is a one-row aggregate over the (already
    sparse) half-step table, broadcast-cross-joined onto the vector
    (VERDICT r11 #6: no driver collect inside the loop)."""
    edges_by_dst = _cached_typed_edges(graph, None, ("src", "dst"), "dst")
    edges_by_src = _cached_typed_edges(graph, None, ("src", "dst"), "src")
    # graph-lifetime memo (round-17): the per-call dedup+cache+unpersist
    # of the node-id set re-paid the nodes-union scan every call
    nodes = _distinct_node_ids(graph)
    n = _distinct_node_count(graph)
    hub = nodes.withColumn("s", F.lit(1.0))
    auth = None
    for i in range(iters):
        # materialize each half-step aggregate ONCE (VERDICT r6 #2):
        # it is consumed twice — by the norm aggregate and by the next
        # half-step's join — and without the checkpoint the
        # join+aggregate lineage would execute twice per half-step.
        # |vector| <= |V|, so the size gate reuses the node count.
        a_raw = iter_checkpoint(
            _bc(hub, n, None).join(edges_by_dst, hub.id == edges_by_dst.src)
            .select(F.col("dst").alias("id"), F.col("s"))
            .groupBy("id").agg(F.sum("s").alias("s"))
        )
        # norm as a broadcast 1-row frame: executor-side, NULL/0 -> 1
        a_norm = a_raw.agg(
            F.coalesce(
                F.nullif(F.sqrt(F.sum(F.col("s") * F.col("s"))), F.lit(0.0)),
                F.lit(1.0),
            ).alias("_norm")
        )
        auth = a_raw.crossJoin(F.broadcast(a_norm)).select(
            "id", (F.col("s") / F.col("_norm")).alias("s")
        )
        h_raw = iter_checkpoint(
            _bc(auth, n, None).join(edges_by_src, auth.id == edges_by_src.dst)
            .select(F.col("src").alias("id"), F.col("s"))
            .groupBy("id").agg(F.sum("s").alias("s"))
        )
        h_norm = h_raw.agg(
            F.coalesce(
                F.nullif(F.sqrt(F.sum(F.col("s") * F.col("s"))), F.lit(0.0)),
                F.lit(1.0),
            ).alias("_norm")
        )
        hub = h_raw.crossJoin(F.broadcast(h_norm)).select(
            "id", (F.col("s") / F.col("_norm")).alias("s")
        )
        # (no periodic checkpoint needed: both half-step aggregates are
        # checkpointed every iteration, so vector lineage depth is O(1))
    # single final attach: zeros for no-in-edge (auth) / no-out-edge
    # (hub) nodes assigned in ONE pass over the cached node set
    return (
        nodes.join(_bc(hub, n, None).withColumnRenamed("s", "_h"), on="id", how="left")
        .join(_bc(auth, n, None).withColumnRenamed("s", "_a"), on="id", how="left")
        .select(
            "id",
            F.coalesce(F.col("_h"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("_a"), F.lit(0.0)).alias("auth"),
        )
    )


def strongly_connected_components(
    edges: DataFrame, max_iters: int = 30
) -> DataFrame:
    """Exact SCC over a DIRECTED edge set by forward-coloring +
    backward-confinement (the distributed "coloring" algorithm —
    Orzan's SCC decomposition, the standard Pregel/GraphX formulation;
    the reference has no directed-component operator, so this extends
    the algorithm family like k-core/LPA). Returns (id, scc) with
    scc = the component's minimum member id.

    Per peel round over the still-unassigned subgraph:
    (1) forward min-id fixpoint: color[v] = min id that reaches v;
    (2) from each color root (id == color) walk the REVERSED edges
        confined to same-color nodes — a node v is reached iff v
        reaches its root through nodes of the same color, and color
        equality already means the root reaches v, so the reached set
        is EXACTLY the root's SCC (any intermediate node of a v->root
        path lies in the same SCC, hence same color — confinement
        loses nothing);
    (3) assign those nodes, drop them, repeat. Every color class peels
    its root's SCC each round, so rounds are bounded by the depth of
    the condensation DAG, not by the SCC count.

    Scale shape: each inner step is one shuffle on dst (forward) or
    src (backward) plus a semi/anti join — the BFS/HashMin shape every
    fixpoint here uses; all three loops run through the fixpoint driver
    (lineage cut per round) and the subgraph restriction is two
    semi-joins, so 100 TB of edges never re-materializes more than the
    active subgraph."""
    e = edges.select("src", "dst").dropDuplicates(["src", "dst"]).cache()
    nodes = iter_checkpoint(
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .dropDuplicates(["id"]),
        eager=False,
    )
    # every per-round state table (color / frontier / reach / remaining)
    # is bounded by the unassigned node count — one up-front count and
    # the driver's assigned count gate all the broadcasts below
    # (round-17: the unknown-size checkpoint stats forced SortMergeJoin
    # inside BOTH inner fixpoints, paying exchange+sort barriers on
    # every tiny iteration of a latency-bound loop; with the gate the
    # non-broadcast fallback is byte-identical to the old plan)
    n_nodes = nodes.count()

    def peel(_i, assigned, _delta, n_assigned, _n_delta):
        n_left = n_nodes - n_assigned  # exact: every node is assigned once
        if n_left == 0:
            return assigned.limit(0)
        remaining = iter_checkpoint(
            nodes.join(_bc(assigned.select("id"), n_assigned, None), on="id", how="left_anti"),
            eager=False,
        )
        sub = (
            e.join(
                _bc(remaining.select(F.col("id").alias("src")), n_left, None),
                on="src", how="left_semi",
            ).join(
                _bc(remaining.select(F.col("id").alias("dst")), n_left, None),
                on="dst", how="left_semi",
            )
            # dst-keyed: the forward fixpoint broadcasts color into
            # this table and min-aggregates by dst every iteration —
            # the cache layout makes that a zero-exchange job
            .repartition(F.col("dst"))
        ).cache()
        # (1) forward min-id coloring to fixpoint
        color = _min_labels(
            sub, remaining.select("id", F.col("id").alias("label")), n_left,
            MAX_CLOSURE_ITERS,
            f"scc coloring did not converge within {MAX_CLOSURE_ITERS} iterations",
        )

        # (2) backward confinement: semi-naive frontier from the roots
        def walk_back(_j, reach, frontier, _n_reach, _n_frontier):
            return (
                _bc(frontier, n_left, None).join(sub, frontier.id == sub.dst)
                .select(F.col("src").alias("id"), F.col("label"))
                .dropDuplicates(["id", "label"])
                .join(_bc(color, n_left, None), on=["id", "label"], how="left_semi")
                .join(_bc(reach, n_left, None), on=["id"], how="left_anti")
            )

        roots = color.filter(F.col("id") == F.col("label"))
        reach = fixpoint(
            walk_back,
            lambda _j, reach, step: reach.unionByName(step),
            roots, roots, MAX_CLOSURE_ITERS,
            f"scc backward walk did not converge within {MAX_CLOSURE_ITERS} iterations",
        )
        sub.unpersist()
        return reach.select("id", F.col("label").alias("scc"))

    # (3) one peel per round until every node is assigned: the cap is
    # max_iters PEELS, plus the round that finds nothing left — a run
    # whose condensation depth EQUALS max_iters peels everything on the
    # last allowed round (round-9, ADVICE r8)
    empty = edges.sparkSession.createDataFrame([], "id long, scc long")
    try:
        return fixpoint(
            peel, lambda _i, assigned, scc: assigned.unionByName(scc),
            empty, empty, max_iters + 1,
            f"scc did not peel every component within {max_iters} rounds; "
            "raise max_iters",
        )
    finally:
        e.unpersist()


def eigenvector_centrality(
    graph: PropertyGraph, iters: int = 10
) -> DataFrame:
    """Fixed-iteration eigenvector centrality by power iteration on the
    IN-edge sum (Bonacich): x_{t+1}(v) = Σ_{u->v} x_t(u), L1-normalized
    each step (the normalization order is pinned — sum first, divide
    after — so an unrolled-SQL oracle reproduces the doubles exactly up
    to the usual aggregation-order rounding). Isolated/no-inlink nodes
    decay to 0, per the standard definition on directed graphs. Returns
    (id long, ec double).

    Scale shape (round-17 rewrite, same sparse-vector treatment as hits
    / pagerank): the loop carries the vector SPARSE (support = nodes
    with at least one in-edge after step 1 — a node outside it is
    exactly 0.0 and contributes exactly-zero message terms, so dropping
    its rows is an IEEE no-op: fl(x + 0.0) = x), size-gated broadcast
    into the dst-partitioned edge cache, zero-exchange aggregation per
    iteration, zeros attached ONCE after the loop. The old form
    left-joined the full node set every iteration and the unknown-size
    checkpoint stats forced SortMergeJoin (two exchanges + sorts per
    step)."""
    # graph-lifetime memos (round-17): nodes/edges/count were re-cached
    # and re-counted per call (and unpersisted on exit), so every call
    # re-paid the dedup, the edge projection fill, and the count job
    nodes = _distinct_node_ids(graph)
    e = _cached_typed_edges(graph, None, ("src", "dst"), "dst")
    n = _distinct_node_count(graph)
    x = nodes.withColumn("ec", F.lit(1.0 / n))
    for i in range(iters):
        # |x| <= |V|: the broadcast size gate reuses the node count
        msgs = iter_checkpoint(
            _bc(x, n, None).join(e, x.id == e.src)
            .select(F.col("dst").alias("id"), F.col("ec"))
            .groupBy("id")
            .agg(F.sum("ec").alias("m"))
        )
        # L1 norm as a broadcast 1-row frame (VERDICT r11 #6: no
        # driver collect inside the loop). A zero/NULL total means
        # no cycles feed back and every score already hit 0 — the
        # all-zero vector is a fixpoint, so dividing by 1 and
        # continuing reproduces the old early-break's result
        # without the driver round-trip. Summing the sparse support
        # equals summing the dense vector: the dropped terms are
        # exactly 0.0.
        total = msgs.agg(
            F.coalesce(
                F.nullif(F.sum("m"), F.lit(0.0)), F.lit(1.0)
            ).alias("_norm")
        )
        # (no periodic checkpoint needed: the pre-norm msgs table is
        # materialized every iteration above — it feeds BOTH the norm
        # aggregate and the normalized vector, and truncates lineage)
        x = msgs.crossJoin(F.broadcast(total)).select(
            "id", (F.col("m") / F.col("_norm")).alias("ec")
        )
    # single final attach: nodes never reached by a message are 0.0
    return nodes.join(_bc(x, n, None), on="id", how="left").select(
        "id", F.coalesce(F.col("ec"), F.lit(0.0)).alias("ec")
    )


def condensation(edges: DataFrame, max_iters: int = 30) -> DataFrame:
    """The SCC-contracted quotient graph (condensation): each strongly
    connected component becomes one node (its min member id), every
    cross-component edge becomes one distinct (src_scc, dst_scc) edge.
    The result is a DAG by construction — the standard preprocessing
    step before topological layering / dependency scheduling. Returns
    (src long, dst long) over component ids.

    Scale shape: SCC (see strongly_connected_components) + two
    id-keyed joins of the slim (id, scc) map onto the edge list + one
    distinct — nothing beyond the SCC cost."""
    scc = strongly_connected_components(edges, max_iters=max_iters)
    e = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    return (
        e.join(scc.withColumnRenamed("id", "src").withColumnRenamed("scc", "_s"), on="src")
        .join(scc.withColumnRenamed("id", "dst").withColumnRenamed("scc", "_d"), on="dst")
        .filter(F.col("_s") != F.col("_d"))
        .select(F.col("_s").alias("src"), F.col("_d").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )


def topological_layers(edges: DataFrame, max_iters: int = 64) -> DataFrame:
    """Longest-path layering of a DAG: layer(v) = 0 for sources,
    else 1 + max(layer of predecessors) — the canonical dependency-
    scheduling order (run condensation() first if the graph may have
    cycles; a cycle here raises rather than looping forever). Returns
    (id long, layer long).

    Scale shape: semi-naive max-propagation — each round relaxes only
    edges out of last round's changed set (one src-keyed join + one
    dst-keyed max aggregate), lineage cut per round; rounds = DAG
    depth."""
    e = (
        edges.select("src", "dst")
        .dropDuplicates(["src", "dst"])
        # dst-keyed: the relaxation broadcasts the delta into this table
        # and max-aggregates by dst — zero-exchange round (round-17)
        .repartition(F.col("dst"))
        .cache()
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .dropDuplicates(["id"])
    )
    try:
        layer = iter_checkpoint(nodes.withColumn("layer", F.lit(0).cast("long")), eager=False)
        # all per-round state is bounded by the node count — one up-front
        # count gates the broadcasts (round-17, same rationale as scc)
        n_nodes = layer.count()

        def expand(_i, layer, delta, _n_layer, _n_delta):
            cand = (
                _bc(delta, n_nodes, None).join(e, delta.id == e.src)
                .select(F.col("dst").alias("id"), (F.col("layer") + 1).alias("l"))
                .groupBy("id")
                .agg(F.max("l").alias("l"))
            )
            return (
                cand.join(_bc(layer, n_nodes, None), on="id")
                .filter(F.col("l") > F.col("layer"))
                .select("id", F.col("l").alias("layer"))
            )

        def merge(_i, layer, improved):
            return layer.join(
                _bc(improved.select("id"), n_nodes, None), on="id", how="left_anti"
            ).unionByName(improved)

        return fixpoint(
            expand, merge, layer, layer, max_iters,
            f"topological_layers exceeded {max_iters} rounds — the input "
            "has a cycle (or a longer critical path; raise max_iters). "
            "Run condensation() first for a general directed graph.",
        )
    finally:
        e.unpersist()


def k_truss(edges: DataFrame, k: int, max_iters: int = 30) -> DataFrame:
    """The k-truss: the maximal subgraph in which every edge closes at
    least k-2 triangles WITHIN the subgraph (undirected; Cohen 2008) —
    the edge-level cohesion peel that pairs with node-level k_core.
    Input edges are symmetrized; the result is the canonical (src <
    dst) surviving edge set.

    Each round: per-edge support = |N(src) ∩ N(dst)| by the standard
    wedge join (edge ⋈ adjacency on src, semi-join the (dst, neighbor)
    pair back against adjacency — the triangle_count shape, bounded by
    wedge count, never |V|²), then drop edges under k-2 and repeat
    until stable. Rounds are peel depth; lineage cut per round; ONE
    count() action per round — the previous edge count is carried in
    the loop, not recomputed (VERDICT r10 #3)."""
    if k < 3:
        raise ValueError("k_truss needs k >= 3 (k-2 triangle support)")
    e = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    e = iter_checkpoint(e)
    prev_count = e.count()
    for _ in range(max_iters):
        adj = e.select(F.col("a").alias("u"), F.col("b").alias("w")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("w"))
        )
        wedges = e.join(
            adj.withColumnRenamed("u", "a").withColumnRenamed("w", "x"), on="a"
        ).filter(F.col("x") != F.col("b"))
        closed = wedges.join(
            adj.select(F.col("u").alias("b"), F.col("w").alias("x")),
            on=["b", "x"],
            how="left_semi",
        )
        support = closed.groupBy("a", "b").agg(F.count(F.lit(1)).alias("_sup"))
        kept = (
            e.join(support, on=["a", "b"], how="left")
            .filter(F.coalesce(F.col("_sup"), F.lit(0)) >= k - 2)
            .select("a", "b")
        )
        kept = iter_checkpoint(kept)
        n_kept = kept.count()
        if n_kept == prev_count or n_kept == 0:
            return kept.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        e, prev_count = kept, n_kept
    raise RuntimeError(
        f"k_truss did not stabilize within {max_iters} peel rounds; "
        "raise max_iters"
    )


def betweenness_centrality(
    graph: PropertyGraph,
    sources: list[int] | None = None,
    max_depth: int = MAX_CLOSURE_ITERS,
    max_exact_nodes: int = 10_000,
) -> DataFrame:
    """Directed betweenness centrality by BATCHED multi-source Brandes
    (Brandes 2001; the standard Pregel-style batching): every source's
    BFS runs in the SAME DataFrame keyed by (s, v), so the layer count
    — not the source count — bounds the number of Spark jobs.

    ``sources=None`` runs every node as a source (exact betweenness):
    state is keyed (s, v) — O(|V| x reached) pairs, quadratic on a
    connected graph — so this mode REFUSES graphs above
    ``max_exact_nodes`` nodes rather than shipping the blow-up
    silently into a pipeline. At 100 TB pass a seed SAMPLE: sampled-
    source Brandes is the standard approximation (estimate scales by
    n/|S|), and the per-layer shuffles are keyed on (s, v) pairs so
    added sources widen the shuffle rather than adding rounds.

    Forward phase per layer d: frontier ⋈ edges, path counts sigma
    accumulate map-side (sum per (s, dst)); a node joins the layer the
    first time any path reaches it (BFS shortest-path DAG). Backward
    phase walks layers deepest-first: dependency
    delta(u) += sigma(u)/sigma(w) · (1 + delta(w)) over DAG edges
    u(d-1) -> w(d). Returns (id long, bc double) with the endpoints-
    excluded convention (sources contribute dependencies, not scores).
    """
    # graph-lifetime memo (round-17): the distinct topology was re-deduped
    # and re-cached per call (and unpersisted on exit). dst-keyed: the
    # forward phase broadcasts the layer into this table and aggregates
    # by (s, v=dst) — HashPartitioning on dst is a subset of the grouping
    # keys, so the cache layout satisfies the aggregation and the
    # per-layer exchange disappears (the r16 subset-key rule).
    e = _distinct_edges(graph)
    spark = graph.spark
    if sources is None:
        seeds = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .dropDuplicates(["id"])
            .select(F.col("id").alias("s"))
        )
        n_nodes = seeds.count()
        if n_nodes > max_exact_nodes:
            raise ValueError(
                f"betweenness_centrality(sources=None) is exact all-sources "
                f"Brandes — O(|V| x reached) state — and the graph has "
                f"{n_nodes} nodes (> max_exact_nodes={max_exact_nodes}). "
                f"Pass a sampled `sources` list (estimates scale by "
                f"n/|sources|) or raise max_exact_nodes explicitly."
            )
    else:
        seeds = spark.createDataFrame([(int(x),) for x in sources], "s long")
    # size-gated broadcasts in both phases (round-17: unknown-size
    # checkpoint stats forced SortMergeJoin, shuffling + re-sorting the
    # edge cache once per LAYER). The forward phase gates on the
    # driver's exact frontier / visited counts; the backward phase on
    # the static |S| x |V| bound of every per-layer table.
    n_state = (
        n_nodes * n_nodes
        if sources is None
        else len(sources) * _node_count(graph)
    )
    layer0 = iter_checkpoint(
        seeds.select("s", F.col("s").alias("v"), F.lit(1.0).alias("sigma")), eager=False
    )
    layers = [layer0]  # layers[d]: (s, v, sigma) at distance d

    def expand(_d, visited, frontier, n_visited, n_frontier):
        return (
            _bc(frontier, n_frontier, None).join(e, frontier.v == e.src)
            .select("s", F.col("dst").alias("v"), "sigma")
            .groupBy("s", "v")
            .agg(F.sum("sigma").alias("sigma"))
            .join(_bc(visited, n_visited, None), on=["s", "v"], how="left_anti")
        )

    def merge(_d, visited, nxt):
        layers.append(nxt)
        return visited.unionByName(nxt.select("s", "v"))

    n_seeds = n_nodes if sources is None else len(sources)
    fixpoint(
        expand, merge, layer0.select("s", "v"), layer0, max_depth,
        f"betweenness forward phase exceeded {max_depth} layers; raise max_depth",
        n_state=n_seeds, n_delta=n_seeds,
    )
    # backward accumulation, deepest layer first
    delta_next: DataFrame | None = None  # (s, v, delta) at layer d+1... current deepest processed
    acc: DataFrame | None = None  # accumulated per-(s,v) dependency
    for d in range(len(layers) - 1, 0, -1):
        w = layers[d].select(
            "s", F.col("v").alias("w"), F.col("sigma").alias("sig_w")
        )
        if delta_next is not None:
            w = w.join(
                _bc(delta_next.select("s", F.col("v").alias("w"), "delta"), n_state, None),
                on=["s", "w"],
                how="left",
            ).select(
                "s", "w", "sig_w",
                F.coalesce(F.col("delta"), F.lit(0.0)).alias("delta"),
            )
        else:
            w = w.select("s", "w", "sig_w", F.lit(0.0).alias("delta"))
        u = layers[d - 1].select(
            "s", F.col("v").alias("u"), F.col("sigma").alias("sig_u")
        )
        # src-keyed cache copy: the broadcast-u join preserves its
        # partitioning and the (s, v=u=src) aggregation below needs no
        # exchange (subset-key rule, round-17)
        e_src = _distinct_edges(graph, "src")
        contrib = (
            _bc(u, n_state, None).join(e_src, u.u == e_src.src)
            .select("s", "u", "sig_u", F.col("dst").alias("w"))
            .join(_bc(w, n_state, None), on=["s", "w"])
            .select(
                "s", F.col("u").alias("v"),
                (
                    F.col("sig_u") / F.col("sig_w")
                    * (F.lit(1.0) + F.col("delta"))
                ).alias("c"),
            )
            .groupBy("s", "v")
            .agg(F.sum("c").alias("delta"))
        )
        delta_next = iter_checkpoint(contrib)
        # sources' own dependencies are not betweenness scores
        scored = delta_next.filter(F.col("v") != F.col("s"))
        acc = (
            scored if acc is None
            else iter_checkpoint(acc.unionByName(scored))
        )
    if acc is None:
        return seeds.select(F.col("s").alias("id")).select(
            "id", F.lit(0.0).alias("bc")
        ).limit(0)
    return acc.groupBy(F.col("v").alias("id")).agg(
        F.sum("delta").alias("bc")
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """Directed-graph reciprocity: the fraction of edges whose reverse
    edge also exists (1.0 = symmetric graph, 0.0 = no mutual pairs).
    One self-semi-join on the swapped key + exact counts — one row
    (n_edges, n_mutual, reciprocity)."""
    e = edges.select("src", "dst").filter(
        F.col("src") != F.col("dst")
    ).dropDuplicates(["src", "dst"])
    mutual = e.join(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        on=["src", "dst"], how="left_semi",
    )
    return e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        mutual.agg(F.count(F.lit(1)).alias("n_mutual"))
    ).select(
        "n_edges", "n_mutual",
        (F.col("n_mutual") / F.col("n_edges")).alias("reciprocity"),
    )
