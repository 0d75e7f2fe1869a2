"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2 (or
a north-star extension); ``oracle_sql()`` carries the exactly-equivalent
DuckDB SQL. Column names and rounding are aligned pairwise — the driver
hash-compares values after sorting columns by name.

Query groups:
- cypher_*       pattern-match pipeline (parser -> cost-based planner ->
                 join chain with existence semantics)   [SURVEY §2.1/2.2]
- graph_*        iterative algorithms (BFS / min-plus SSSP fixpoints)
                 with recursive-CTE oracles             [SURVEY §2.6]
- mxm_*/ewise_*/reduce_*  grblas kernel surface on lineitem-derived
                 sparse matrices                        [SURVEY §2.3]
- rel_*          relational analytics (Catalyst-native aggregates /
                 windows — capability superset)
- text_*/dedup_*/ann_*/multimodal_*/events_*  north-star training-data
                 pipeline operators (BASELINE.json:6)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from g4s_spark.functions import dedup as D
from g4s_spark.functions import pipeline as PL
from g4s_spark.functions import relational as REL
from g4s_spark.functions.rounding import pround
from g4s_spark.functions import multimodal as MM
from g4s_spark.functions import sampling as SM
from g4s_spark.functions import similarity as S
from g4s_spark.functions import text as TX
from g4s_spark.graph import build_graph
from g4s_spark.memo import session_memo
from g4s_spark.graph.tpch import (
    CUSTOMER_OFF,
    EDGES_SQL_CTE,
    LINEITEM_OFF,
    NATION_OFF,
    NODES_SQL_CTE,
    ORDER_OFF,
    PART_OFF,
    REGION_OFF,
    SUPPLIER_OFF,
)
from g4s_spark.functions.temporal import asof_join, range_join
from g4s_spark.operators import (
    betweenness_centrality,
    bfs,
    closeness_centrality,
    common_neighbor_scores,
    condensation,
    connected_components,
    eigenvector_centrality,
    harmonic_centrality,
    hits,
    k_core,
    k_truss,
    reciprocity,
    neighbor_agg,
    label_propagation,
    neighborhood_jaccard,
    topological_layers,
    weighted_pagerank,
    pagerank,
    personalized_pagerank,
    sssp,
    strongly_connected_components,
    triangle_count,
)
from g4s_spark.plans import (
    run_cypher,
    run_cypher_create,
    run_cypher_merge,
    run_cypher_set,
)
from g4s_spark.sources import load_table, load_tables
from g4s_spark import streaming as EV
from g4s_spark.streaming import session_counts, session_window_counts

BFS_START = CUSTOMER_OFF + 1  # customer c_custkey=1


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full Cypher pipeline (parse -> cost-based plan -> join
    chain) on the graph-ized sf0.001 testdata."""
    g = build_graph(spark, "/root/testdata/sf0.001")
    return run_cypher(
        g, "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:HAS_ITEM]->(l:Lineitem) RETURN c, o, l"
    )


# --------------------------------------------------------------------------
# query implementations
# --------------------------------------------------------------------------

def _cypher(q: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return run_cypher(build_graph(spark, sf_dir), q)

    return run


def _q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bfs(build_graph(spark, sf_dir), [BFS_START]).select("id", "dist")


def _q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sssp(build_graph(spark, sf_dir), [BFS_START]).select("id", "dist")


def _q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    pr = pagerank(build_graph(spark, sf_dir), iters=3)
    return pr.select("id", pround(F.col("pr"), 9).alias("pr"))


def _q_graph_link_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link candidates over the co-purchase
    projection (dense neighborhoods dilute the union: 0.08 keeps the
    top ~2k candidate pairs at sf0.01)."""
    out = neighborhood_jaccard(_copurchase_pairs(spark, sf_dir), threshold=0.08)
    return out.select("x", "y", "shared", pround(F.col("jaccard"), 6).alias("jaccard"))


def _q_graph_resource_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction (Zhou/Lü/Zhang 2009) over
    the co-purchase projection: Σ 1/deg(w) across shared neighbors —
    neighborhood_jaccard's inverted-index join with a 1/deg(nb) weight
    attached BEFORE the self-join, so the pair aggregation stays a
    map-side-combinable sum. Exact rational per term (one IEEE
    division), rounded like graph_harmonic's 1/d sums. min_shared=22
    keeps the top ~900 candidate pairs at sf0.01 (max shared there
    is 32)."""
    out = common_neighbor_scores(
        _copurchase_pairs(spark, sf_dir), index="resource_allocation", min_shared=22
    )
    return out.select("x", "y", "shared", pround(F.col("score"), 6).alias("score"))


def _q_graph_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality of the BFS seed: sum over reachable nodes of
    1/dist — a single aggregation over the BFS fixpoint, the per-node
    centrality primitive (run per seed set; at scale, batched seeds
    share the frontier machinery)."""
    d = bfs(build_graph(spark, sf_dir), [BFS_START]).filter(F.col("dist") > 0)
    return d.agg(
        pround(F.sum(F.lit(1.0) / F.col("dist")), 9).alias("harmonic"),
        F.count(F.lit(1)).cast("long").alias("n_reachable"),
    )


def _q_graph_wpagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-weighted PageRank over the TPC-H graph (weights 1-4)."""
    pr = weighted_pagerank(build_graph(spark, sf_dir), iters=3)
    return pr.select("id", pround(F.col("pr"), 9).alias("pr"))


def _q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded at the Supplier nodes."""
    g = build_graph(spark, sf_dir)
    seeds = g.nodes.filter(F.col("label") == "Supplier").select("id")
    pr = personalized_pagerank(g, seeds, iters=3)
    return pr.select("id", pround(F.col("pr"), 9).alias("pr"))


def _q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return connected_components(build_graph(spark, sf_dir))


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical co-purchase pair set (a < b: parts sharing an
    order), memoized per session (round-17): seven gates (jaccard /
    resource_alloc / triangles / assortativity / clustering / lpa /
    kcore) each re-ran the lineitem self-join + distinct per call. At
    100 TB it is a materialized projection table maintained alongside
    the graph."""

    def build():
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        l1 = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("a"))
        l2 = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("b"))
        return (
            l1.join(l2, on="o")
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .dropDuplicates(["a", "b"])
            .cache()
        )

    return session_memo(spark).get(("copurchase_pairs", sf_dir), (), build)


def _q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_count(_copurchase_pairs(spark, sf_dir))


def _q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the co-purchase graph (round-7):
    exact integer sums -> one closed-form double, rounded to 9."""
    from g4s_spark.operators import degree_assortativity

    out = degree_assortativity(_copurchase_pairs(spark, sf_dir))
    return out.withColumn("r", pround(F.col("r"), 9))


def _q_graph_assort_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """By-label assortativity (round-8): Newman r per (srcLabel,
    dstLabel) stratum of the directed TPC-H graph — the triplet-stats
    join shape over exact integer sums."""
    from g4s_spark.operators import label_assortativity

    g = build_graph(spark, sf_dir)
    out = label_assortativity(g.edges, g.nodes)
    return out.withColumn("r", pround(F.col("r"), 9))


def _q_graph_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the co-purchase graph
    (round-7): integer tri/deg counts + ONE double division, rounded to
    9 decimals for the hash like the other ratio gates."""
    from g4s_spark.operators import clustering_coefficient

    cc = clustering_coefficient(_copurchase_pairs(spark, sf_dir))
    return cc.withColumn("cc", pround(F.col("cc"), 9))


def _q_graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree histogram — the two-level aggregation every degree-
    distribution / power-law diagnostic runs (first groupBy shuffles on
    src, second on the tiny degree domain)."""
    g = build_graph(spark, sf_dir)
    return (
        g.edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        .groupBy("deg").agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.col("deg").cast("long").alias("deg"),
                F.col("n_nodes").cast("long").alias("n_nodes"))
    )


def _q_graph_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation (3 rounds) over the
    co-purchase projection — the community-detection baseline; min-label
    tie-break makes it oracle-checkable (random-tie LPA is not)."""
    out = label_propagation(_copurchase_pairs(spark, sf_dir), iters=3)
    return out.select(
        F.col("id").cast("long").alias("id"), F.col("lbl").cast("long").alias("lbl")
    )



def _q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities, 3 iterations over the full TPC-H graph;
    scores rounded at 9 decimals (absorbs float-summation-order ulps,
    same treatment as graph_pagerank)."""
    out = hits(build_graph(spark, sf_dir), iters=3)
    return out.select(
        "id",
        pround(F.col("hub"), 9).alias("hub"),
        pround(F.col("auth"), 9).alias("auth"),
    )


def _q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80-core of the co-purchase projection (non-trivial at sf0.01:
    peels ~7% of parts over ~6 iterations)."""
    return k_core(_copurchase_pairs(spark, sf_dir), k=80)


# Explicit partition count for the mxm input exchanges: a BARE
# repartition(keys) is AQE-coalescible, and the compressed-size
# estimate shrank these CPU-heavy aggregations to 6 tasks with one
# straggler (the r5 bench bimodality, 4.8-17.2 s). An explicit N pins
# the exchange: 2 waves on 32 cores, measured stable 2.1-2.2 s vs
# 4.3-8.4 s AQE-coalesced at sf0.1. Cluster deployments scale this
# with the executor count (it's the same knob as shuffle.partitions).
MXM_PARTITIONS = 64


def _li_matrices(spark: SparkSession, sf_dir: str):
    from g4s_spark.grblas import Matrix

    # the testdata parquet is a single row group, so a bare scan is ONE
    # task — an explicit repartition on the group keys moves the whole
    # aggregation off that serial task and satisfies the groupBy's
    # distribution requirement (no second shuffle). Measured ~2x on the
    # mxm gates at sf0.1; at cluster scale the writer should emit
    # many row groups and this becomes a no-op-cost hash exchange.
    # repartition on the ROW key alone (round-16): HashPartitioning on a
    # subset of the grouping keys satisfies the aggregation's
    # ClusteredDistribution, so groupBy(row, col) still runs without a
    # second exchange — and, because the partitioning survives the
    # broadcast-hash join inside mxm, the final groupBy(i, j) / the
    # reduce_rows groupBy(i) reuse it too: the 2.4M-row post-join
    # exchange disappears from the mxm gates and reduce_rows becomes
    # single-shuffle (round-16 plans, before vs after). b keys on l_partkey =
    # mxm's join key k, so at scales where b stops broadcasting the join
    # needs no b-side exchange either. Sum order changes are immaterial:
    # l_quantity is integer-valued (checked all SFs), so every sum and
    # product is exact in double regardless of grouping.
    li = load_table(spark, sf_dir, "lineitem")
    a = Matrix.from_df(
        li.select("l_orderkey", "l_partkey", "l_quantity")
        .repartition(MXM_PARTITIONS, "l_orderkey")
        .groupBy("l_orderkey", "l_partkey").agg(F.sum("l_quantity").alias("v")),
        "l_orderkey", "l_partkey", "v",
    )
    b = Matrix.from_df(
        li.select("l_partkey", "l_suppkey", "l_quantity")
        .repartition(MXM_PARTITIONS, "l_partkey")
        .groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("v")),
        "l_partkey", "l_suppkey", "v",
    )
    return li, a, b


def _q_mxm_plus_times(spark, sf_dir):
    from g4s_spark.grblas import PLUS_TIMES, mxm

    _, a, b = _li_matrices(spark, sf_dir)
    return mxm(a, b, PLUS_TIMES).df.select("i", "j", pround(F.col("v"), 2).alias("v"))


def _q_mxm_any_pair(spark, sf_dir):
    from g4s_spark.grblas import ANY_PAIR, mxm

    _, a, b = _li_matrices(spark, sf_dir)
    return mxm(a, b, ANY_PAIR).df.select("i", "j", "v")



def _q_mxm_kron(spark, sf_dir):
    """Kronecker product of the order-part quantity matrix with a 2x2
    motif — every stored entry expands into the motif's pattern
    (grblas.kron; GxB_kron family, beyond the reference's mxm/ewise)."""
    from g4s_spark.grblas import Matrix, kron

    _, a, _ = _li_matrices(spark, sf_dir)
    motif = Matrix.from_tuples(
        spark, [(0, 0, 1.0), (0, 1, 2.0), (1, 1, 3.0)], 2, 2, vtype="double"
    )
    c = kron(a, motif)
    return c.df.select("i", "j", pround(F.col("v"), 2).alias("v"))


def _split_matrices(spark, sf_dir):
    from g4s_spark.grblas import Matrix

    li = load_table(spark, sf_dir, "lineitem")
    # BOTH keys here, unlike _li_matrices: the ewise join on (i, j) only
    # skips its exchanges when the children are co-partitioned on the
    # FULL join key set (spark.sql.requireAllClusterKeysForCoPartition —
    # joins don't get the subset rule aggregations get; a row-key-only
    # repartition re-introduced two Exchange+Sort pairs, measured r16)
    early = Matrix.from_df(
        li.filter(F.col("l_shipdate") < "1998-01-01")
        .select("l_orderkey", "l_partkey", "l_quantity")
        .repartition(MXM_PARTITIONS, "l_orderkey", "l_partkey")
        .groupBy("l_orderkey", "l_partkey").agg(F.sum("l_quantity").alias("v")),
        "l_orderkey", "l_partkey", "v",
    )
    late = Matrix.from_df(
        li.filter(F.col("l_shipdate") >= "1998-01-01")
        .select("l_orderkey", "l_partkey", "l_quantity")
        .repartition(MXM_PARTITIONS, "l_orderkey", "l_partkey")
        .groupBy("l_orderkey", "l_partkey").agg(F.sum("l_quantity").alias("v")),
        "l_orderkey", "l_partkey", "v",
    )
    return early, late


def _q_ewise_union(spark, sf_dir):
    from g4s_spark.grblas import ewise_union

    early, late = _split_matrices(spark, sf_dir)
    return ewise_union(early, late, "plus").df.select("i", "j", pround(F.col("v"), 2).alias("v"))


def _q_ewise_intersect(spark, sf_dir):
    from g4s_spark.grblas import ewise_intersect

    early, late = _split_matrices(spark, sf_dir)
    return ewise_intersect(early, late, "min").df.select("i", "j", pround(F.col("v"), 2).alias("v"))


def _q_reduce_rows(spark, sf_dir):
    from g4s_spark.grblas import reduce_rows

    _, a, _ = _li_matrices(spark, sf_dir)
    return reduce_rows(a, "plus").df.select("i", pround(F.col("v"), 2).alias("v"))


def _q_reduce_cols_transpose(spark, sf_dir):
    from g4s_spark.grblas import reduce_rows

    _, a, _ = _li_matrices(spark, sf_dir)
    # column reduce expressed through transpose (MatrixOps.scala:20-44 +
    # GrBMatrix.scala:56-65): reduce_rows(Aᵀ)
    return reduce_rows(a.transpose(), "max").df.select("i", pround(F.col("v"), 2).alias("v"))


def _q_mxm_masked(spark, sf_dir):
    from g4s_spark.grblas import PLUS_TIMES, Matrix, mxm

    li, a, b = _li_matrices(spark, sf_dir)
    # mask = direct (order, supplier) incidence: keep only products where
    # the order already bought from that supplier (mask as semi-join,
    # MatrixOps.scala mask parameter)
    mask = Matrix.from_df(
        li.select("l_orderkey", "l_suppkey").dropDuplicates(), "l_orderkey", "l_suppkey", None
    )
    return mxm(a, b, PLUS_TIMES, mask=mask).df.select(
        "i", "j", pround(F.col("v"), 2).alias("v")
    )


def _q_extract_strided(spark, sf_dir):
    from g4s_spark.grblas import extract

    _, a, _ = _li_matrices(spark, sf_dir)
    # GxB_STRIDE: every 3rd orderkey in [100, 499], re-based to 0,1,2,...
    sub = extract(a, (100, 499, 3), None)
    return sub.df.select("i", "j", pround(F.col("v"), 2).alias("v"))


def _qty_matrix(spark, sf_dir):
    """The order x part quantity matrix (same fixture as _li_matrices'
    `a`, minus the bench-tuned repartition — the selection-algebra gates
    below are filters/projections, not joins)."""
    from g4s_spark.grblas import Matrix

    li = load_table(spark, sf_dir, "lineitem")
    return Matrix.from_df(
        li.groupBy("l_orderkey", "l_partkey").agg(F.sum("l_quantity").alias("v")),
        "l_orderkey", "l_partkey", "v",
    )


def _q_grb_select_apply_reduce(spark, sf_dir):
    """GrB select -> apply -> reduce composed (round-12 debut; closes the
    last pytest-only SURVEY §2.3 kernel rows — MatrixOps.scala:46-106):
    keep the upper triangle (orderkey <= partkey) with quantity sums
    > 25, negate (ainv), then row-reduce with plus — exact
    integer-valued arithmetic, so the oracle is bit-stable."""
    from g4s_spark.grblas import apply, reduce_rows, select

    a = _qty_matrix(spark, sf_dir)
    t = select(select(a, "triu"), "gt", 25.0)
    t = apply(t, "ainv")
    out = reduce_rows(t, "plus")
    return out.df.select("i", pround(F.col("v"), 2).alias("v"))


def _q_grb_assign_extract(spark, sf_dir):
    """GrB extract/assign roundtrip across the selection algebra
    (round-12 debut, MatrixOps.scala:46-106): sub = -A[1..100, 1..100]
    (re-based to 0), assigned into rows 101..200 x cols 1..100 of A
    (anti-join out the region, re-map the sub positions), then extract
    rows 90..210 spanning the seam (untouched 90..100, the assigned
    block, untouched 201..210), re-based again."""
    from g4s_spark.grblas import apply, assign, extract

    a = _qty_matrix(spark, sf_dir)
    sub = apply(extract(a, (1, 100), (1, 100)), "ainv")
    b = assign(a, sub, (101, 200), (1, 100))
    out = extract(b, (90, 210), None)
    return out.df.select("i", "j", pround(F.col("v"), 2).alias("v"))


def _q_vxm_masked(spark, sf_dir):
    from g4s_spark.grblas import PLUS_TIMES, Matrix, Vector, vxm

    _, a, _ = _li_matrices(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    # x = indicator vector over early orders; y = x ⊕.⊗ A sums quantities
    # per part across those orders; mask keeps only large parts — the
    # reference's mask parameter on the vector kernels (MatrixOps.scala)
    x = Vector(
        orders.filter(F.col("o_orderdate") < "1997-06-01")
        .select(F.col("o_orderkey").cast("long").alias("i"), F.lit(1).cast("long").alias("v")),
        -1,
    )
    mask = Vector(
        part.filter(F.col("p_size") >= 25)
        .select(F.col("p_partkey").cast("long").alias("i"), F.lit(True).alias("v")),
        -1,
    )
    y = vxm(x, a, PLUS_TIMES, mask=mask)
    return y.df.select("i", pround(F.col("v"), 2).alias("v"))


def _q_rel_q1(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            pround(F.sum("l_quantity"), 2).alias("sum_qty"),
            pround(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            pround(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_rel_top_orders(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    rev = (
        t["lineitem"].join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )
    return rev


def _q_rel_supplier_rank(spark, sf_dir):
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    rev = (
        t["lineitem"].join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_nationkey")
        .agg(pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    w = Window.partitionBy("s_nationkey").orderBy(F.col("revenue").desc(), F.col("s_suppkey").asc())
    return rev.withColumn("rnk", F.row_number().over(w).cast("long")).select(
        "s_nationkey", "s_suppkey", "revenue", "rnk"
    )


def _q_rel_q3_shipping(spark, sf_dir):
    """TPC-H Q3 shape, deviating from canon: the testdata orders schema
    carries no o_shippriority column, so the query groups by
    o_orderpriority instead (key kept as rel_q3_shipping for continuity
    with earlier rounds' correctness/bench history)."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < "1996-06-30")
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > "1996-06-30")
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def _q_rel_q5_local_volume(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    # customer and supplier in the SAME nation (TPC-H Q5 shape); nation is
    # a broadcast dim, the big joins shuffle on the fact keys
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def _q_rel_q10_returns(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returned items per customer,
    top 20. Facts shuffle on their join keys; nation broadcasts."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"].filter(F.col("l_returnflag") == "R")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(pround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            F.col("c_custkey").cast("long").alias("custkey"), F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"), "revenue",
        )
    )


def _q_rel_q4_priority(spark, sf_dir):
    """TPC-H Q4 shape — EXISTS rewritten as a left-semi join: orders
    counted per priority when at least one of their items was returned.
    The semi-join keeps the orders side un-multiplied (no distinct needed)
    and the flagged item set is projected to the join key only before the
    shuffle. (Adapted predicate: this dataset has no commit/receipt
    dates, so 'returned item' plays Q4's late-delivery role.)"""
    t = load_tables(spark, sf_dir)
    flagged = (
        t["lineitem"].filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        t["orders"]
        .join(flagged, on="o_orderkey", how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .select(F.col("o_orderpriority").alias("priority"), "n_orders")
    )


def _q_rel_q12_priority_class(spark, sf_dir):
    """TPC-H Q12 shape — CASE-bucketed aggregation: per line status, how
    many 1995-shipped items belong to urgent/high orders vs the rest.
    The CASE folds into the partial aggregate (map-side combine), so the
    shuffle carries two longs per group. (Adapted: l_linestatus stands in
    for the missing l_shipmode.)"""
    t = load_tables(spark, sf_dir)
    high = (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1))
        .otherwise(F.lit(0))
    )
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).cast("long").alias("high_line_count"),
            F.sum(1 - high).cast("long").alias("low_line_count"),
        )
        .select(F.col("l_linestatus").alias("linestatus"), "high_line_count", "low_line_count")
    )


def _q_events_sliding(spark, sf_dir):
    """Sliding windows: each event lands in two 1-hour windows 30 min
    apart — the streaming-native overlap shape; batch twin here."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def _q_text_tokens(spark, sf_dir):
    return TX.token_count(load_table(spark, sf_dir, "documents"))


def _q_text_token_bpe(spark, sf_dir):
    """GPT-2-style pre-token counts (token_count mode='bpe'): the
    lookahead-free pattern evaluates identically in Java regex and
    DuckDB's RE2 (cross-checked round-11; whitespace as an explicit
    class because Python/Java \\s includes \\x0B and RE2's does not —
    round-12 review)."""
    return TX.token_count(load_table(spark, sf_dir, "documents"), mode="bpe")


def _q_text_quality(spark, sf_dir):
    return TX.quality_score(load_table(spark, sf_dir, "documents"))


def _q_text_lang(spark, sf_dir):
    return TX.lang_id(load_table(spark, sf_dir, "documents"))


def _q_text_fp(spark, sf_dir):
    return TX.fingerprint(load_table(spark, sf_dir, "documents"))


def _q_dedup_exact(spark, sf_dir):
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


def _q_dedup_jaccard(spark, sf_dir):
    return D.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.3, materialize=True)


def _q_dedup_minhash(spark, sf_dir):
    """LSH pairs against the persistent per-session bucket index
    (round-8, VERDICT r7 #5): the load->shingle->k×md5 fill is paid
    once per corpus and shared by every minhash consumer; the query
    itself is the bucket self-join + pair dedup."""
    return D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), materialize=True, use_cache=True
    )


def _q_dedup_simhash(spark, sf_dir):
    return D.simhash(load_table(spark, sf_dir, "documents"))


def _q_dedup_embedding_lsh(spark, sf_dir):
    return D.embedding_near_dups_lsh(load_table(spark, sf_dir, "embeddings"), threshold=0.4)


def _q_ann_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _q_ann_lsh(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return S.lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _q_cypher_multilabel(spark, sf_dir):
    """Multi-label pattern (c:Customer:Premium): multi-labeled nodes are
    several (id, label) rows; the planner intersects the label id sets.
    Premium = customers with acctbal > 5000."""
    from g4s_spark.graph import PropertyGraph

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cid = (F.lit(CUSTOMER_OFF) + F.col("c_custkey")).cast("long")
    oid = (F.lit(ORDER_OFF) + F.col("o_orderkey")).cast("long")
    nodes = (
        customer.select(cid.alias("id"), F.lit("Customer").alias("label"))
        .unionByName(
            customer.filter(F.col("c_acctbal") > 5000)
            .select(cid.alias("id"), F.lit("Premium").alias("label"))
        )
        .unionByName(orders.select(oid.alias("id"), F.lit("Order").alias("label")))
    )
    edges = orders.select(
        (F.lit(CUSTOMER_OFF) + F.col("o_custkey")).cast("long").alias("src"),
        oid.alias("dst"),
        F.lit("PLACED").alias("type"),
    )
    g = PropertyGraph(nodes, edges, spark)
    return run_cypher(g, "MATCH (c:Customer:Premium)-[:PLACED]->(o:Order) RETURN c, o")


def _q_ann_ivf_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _q_rel_q6(spark, sf_dir):
    """TPC-H Q6 shape (forecast revenue change): pure filter + aggregate,
    the pushdown-everything baseline — every predicate reaches the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.03) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(pround(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


def _q_multimodal_frames(spark, sf_dir):
    media = MM.to_media(load_table(spark, sf_dir, "documents"))
    frames = MM.frame_sample_stub(media, every_n=2)
    # digest over the hex encoding: DuckDB has no BLOB substring, so the
    # oracle slices hex(media) instead — hex is byte-aligned, so the two
    # framings are identical
    return frames.select(
        "doc_id", "frame_no", F.md5(F.hex(F.col("frame"))).alias("frame_digest")
    )


def _q_multimodal_meta(spark, sf_dir):
    # metadata-only consumers stay on built-in column ops (no Python in
    # the plan); extract_features (mapInPandas) is only for real decodes
    media = MM.to_media(load_table(spark, sf_dir, "documents"))
    return MM.media_metadata(media)


def _q_events_sessions(spark, sf_dir):
    return session_counts(load_table(spark, sf_dir, "events"))


def _q_events_session_window(spark, sf_dir):
    return session_window_counts(load_table(spark, sf_dir, "events"))


def _q_cypher_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect() rendered as a canonical comma-joined string: the engine
    returns a sorted-distinct ARRAY column (deterministic), but the
    driver's pandas canonicalizer cannot sort/hash list cells, so the
    gate projects the scalar rendering; the array-returning API stays
    covered in tests/test_cypher.py (and the no-array-columns contract
    test keeps future gates scalar)."""
    df = run_cypher(
        build_graph(spark, sf_dir),
        "MATCH (n:Nation)-[:IN_REGION]->(r:Region) RETURN r, collect(n) AS nations",
    )
    return df.withColumn(
        "nations",
        F.array_join(F.transform("nations", lambda x: x.cast("string")), ","),
    )


def _q_cypher_set_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET with an expression RHS applied, then read back through the
    normal query path (round-7): the new property is computed
    engine-side from the node's OWN props (`c.acctbal / 100 + 5`); the
    gate casts the stored string back to double so both engines hash
    the same IEEE value."""
    from g4s_spark.plans import run_cypher_set

    g2 = run_cypher_set(
        build_graph(spark, sf_dir),
        "MATCH (c:Customer) WHERE c.acctbal >= 9000 "
        "SET c.bonus = c.acctbal / 100 + 5",
    )
    df = run_cypher(
        g2,
        "MATCH (c:Customer) WHERE c.acctbal >= 9000 RETURN c, c.bonus AS bonus",
    )
    return df.withColumn("bonus", F.col("bonus").cast("double"))




def _q_cypher_set_edge_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge SET with an expression RHS (round-8, VERDICT r7 #3):
    `SET e.weight = e.weight * 2 + 1` rewrites only the matched orders'
    HAS_ITEM weights via the broadcast upsert; the read-back aggregates
    over ALL orders, so both rewritten and untouched edges are checked."""
    from g4s_spark.plans import run_cypher_set

    g2 = run_cypher_set(
        build_graph(spark, sf_dir),
        "MATCH (o:Order)-[e:HAS_ITEM]->(l:Lineitem) "
        "WHERE o.totalprice >= 450000 SET e.weight = e.weight * 2 + 1",
    )
    return run_cypher(
        g2,
        "MATCH (o:Order)-[e:HAS_ITEM]->(l:Lineitem) RETURN o, sum(e.weight) AS total_w",
    )


def _q_cypher_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[DETACH] DELETE statement (round-8): NATION_7's customers and
    their incident edges vanish; the read-back groups the surviving
    customers per nation (NATION_7 keeps suppliers but loses its
    customer row entirely)."""
    from g4s_spark.plans import run_cypher_delete

    g2 = run_cypher_delete(
        build_graph(spark, sf_dir),
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
        "WHERE n.name = 'NATION_7' DETACH DELETE c",
    )
    return run_cypher(
        g2, "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) RETURN n, count(c) AS n_cust"
    )


def _q_cypher_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REMOVE statement (round-8): rich customers lose mktsegment; the
    read-back's coalesce shows 'GONE' exactly where the key was
    dropped (absent property IS NULL)."""
    from g4s_spark.plans import run_cypher_remove

    g2 = run_cypher_remove(
        build_graph(spark, sf_dir),
        "MATCH (c:Customer) WHERE c.acctbal >= 9000 REMOVE c.mktsegment",
    )
    return run_cypher(
        g2, "MATCH (c:Customer) RETURN c, coalesce(c.mktsegment, 'GONE') AS seg"
    )


def _rel(name: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return REL.run(name, spark, sf_dir)

    return run


# --- round-8 session-2 debuts (register now, window in r9) -----------------

def _dirty_docs(df: DataFrame) -> DataFrame:
    """The synthetic documents carry no PII / control chars / space runs
    (verified: zero regex hits corpus-wide), so the hygiene gates append
    a deterministic doc_id-derived dirty suffix — one email, one phone,
    one IPv4, a control char and double-space runs — built by the same
    string expression in the oracle. The operators under test then do
    real, per-row-distinct work."""
    return df.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\x01 Contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com  or +1 (415) 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7\tend  ."),
        ).alias("text"),
    )


def _q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.redact_pii(_dirty_docs(load_table(spark, sf_dir, "documents")))


def _q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.normalize_text(_dirty_docs(load_table(spark, sf_dir, "documents")))


def _q_dedup_vs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-batch dedup probing the PRE-BUILT persistent bucket index
    (minhash_bucket_table) instead of re-shingling the corpus — the
    durable-index twin of dedup_incremental (same oracle result by
    construction; the point is the index path executes)."""
    docs = load_table(spark, sf_dir, "documents")
    idx = D.minhash_bucket_table(docs.filter(F.col("doc_id") < 250))
    return D.dedup_against_index(
        docs.filter(F.col("doc_id") >= 250), idx
    ).select("doc_id", "lang", "source")


def _ps_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived directed part<->supplier graph graph_scc /
    graph_condense / graph_layers gate on: every lineitem contributes
    part -> supplier; returned items ('R' flag, first line only)
    contribute the reverse supplier -> part edge, creating real
    multi-node SCCs (the TPC-H relationship graph itself is acyclic;
    all-'R' back-edges would collapse everything into ONE giant SCC —
    first-line-only keeps a giant SCC plus ~480 satellites and a real
    condensation DAG). Memoized per session (round-17): five gates
    (scc / condense / layers / random_walks / hop fixtures) re-scanned
    lineitem and re-unioned the edge list per call."""

    def build():
        li = load_table(spark, sf_dir, "lineitem")
        pid = (F.lit(PART_OFF) + F.col("l_partkey")).cast("long")
        sid = (F.lit(SUPPLIER_OFF) + F.col("l_suppkey")).cast("long")
        fwd = li.select(pid.alias("src"), sid.alias("dst"))
        back = li.filter(
            (F.col("l_returnflag") == "R") & (F.col("l_linenumber") == 1)
        ).select(sid.alias("src"), pid.alias("dst"))
        return fwd.unionByName(back).cache()

    return session_memo(spark).get(("ps_edges", sf_dir), (), build)


def _q_graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC over the derived part<->supplier graph (see _ps_edges)."""
    return strongly_connected_components(_ps_edges(spark, sf_dir))


def _q_graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-keyed walks (DeepWalk-style corpus generation)
    over the part->supplier digraph (the graph_scc fixture): 3 steps
    from every source node, one walk per node. Each step draws
    arg_min(md5('seed:start:rep:t:dst')) over the out-neighbors — md5
    is byte-identical across Spark, DuckDB, and hashlib, so the oracle
    unrolls the same three draws. Round-15 debut (staged + verified in
    the round-15 staging queue on the final r14 tree)."""
    from g4s_spark.operators import random_walks

    return random_walks(_ps_edges(spark, sf_dir), length=3, walks_per_node=1, seed=42)


DSIR_BUCKETS = 8192


def _q_pipeline_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    hashed-unigram bucket distributions of the target corpus (lang='en'
    documents) vs the raw corpus, then per-document log-importance
    scores — high scores = most target-like. The md5 bucketing is
    byte-identical across Spark/DuckDB so the oracle reproduces the
    full computation; ln is the single transcendental, rounded at the
    gate boundary (6 decimals, like graph_harmonic). Round-16 debut
    (staged + oracle-verified in the round-16 staging queue on the final r15
    tree)."""
    from g4s_spark.functions.pipeline import dsir_log_weights

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    w = dsir_log_weights(docs, target, n_buckets=DSIR_BUCKETS)
    return w.select(
        "doc_id",
        "n_feat",
        (F.floor(F.col("log_weight") * 1000000 + F.lit(0.5)) / 1000000).alias(
            "log_weight"
        ),
    )


# --- round-9 debuts (staged + oracle-verified in r8, the round-9 staging queue) ----

EIG_ITERS = 3
BC_DEPTH = 8  # TPC-H depth from the customer seed is 6; 2 spare layers
# (an insufficient oracle depth cannot silently pass: the hash differs)


def _q_graph_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality over exactly the graph the EDGES_SQL_CTE
    oracle walks: node set = edge endpoints (an isolated node would
    score 0 on the Spark side but be absent from the oracle's rows)."""
    from g4s_spark.graph import PropertyGraph

    g = build_graph(spark, sf_dir)
    # the endpoints graph is an entry of the cached base graph's derived
    # registry (round-17): a fresh PropertyGraph per call defeated the
    # operator's graph-lifetime memos (nodes/edges/count re-cached per call)
    def endpoints_graph():
        endpoints = (
            g.edges.select(F.col("src").alias("id"))
            .unionByName(g.edges.select(F.col("dst").alias("id")))
            .dropDuplicates(["id"])
        )
        return PropertyGraph(endpoints, g.edges, spark)

    eg = g.derived.get("endpoints_graph", {"edges"}, endpoints_graph)
    ec = eigenvector_centrality(eg, iters=EIG_ITERS)
    return ec.select("id", pround(F.col("ec"), 9).alias("ec"))


def _q_graph_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source betweenness from the BFS seed (batched Brandes with
    |S| = 1 — the oracle unrolls the layered recurrence)."""
    bc = betweenness_centrality(build_graph(spark, sf_dir), sources=[BFS_START])
    return bc.select("id", pround(F.col("bc"), 9).alias("bc"))


def _q_cypher_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE then read back: two literal nodes (ids from next_id — the
    max node id is lineitem's, so the oracle computes the same ids from
    max(l_orderkey*8 + l_linenumber)) and VIP_OF edges created per
    matched pair."""
    g = build_graph(spark, sf_dir)
    g2 = run_cypher_create(
        g, "CREATE (x:Hub {name: 'h1', tier: 1}), (y:Hub {name: 'h2'})"
    )
    g3 = run_cypher_create(
        g2,
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
        "WHERE n.name = 'NATION_1' CREATE (c)-[:VIP_OF]->(n)",
    )
    return run_cypher(
        g3,
        "MATCH (h:Hub) RETURN h, h.name AS name "
        "UNION ALL MATCH (c)-[:VIP_OF]->(n) RETURN c AS h, n.name AS name",
    )


def _q_cypher_set_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET c:VIP for rich customers, read back through the new label.
    (Historical: this gate was staged binding-only because resolution
    used to fan out per label row; since the round-9 payload_rows fix a
    two-label node resolves props once — see cypher_multilabel_props,
    which pins exactly that.)"""
    g2 = run_cypher_set(
        build_graph(spark, sf_dir),
        "MATCH (c:Customer) WHERE c.acctbal >= 9000 SET c:VIP",
    )
    return run_cypher(
        g2, "MATCH (v:VIP)-[:FROM_NATION]->(n:Nation) RETURN v, n"
    )


def _q_cypher_merge_on_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with BOTH verb arms exercised at the driver (round-9,
    VERDICT r8 #6): the first merge creates every qualifying VIP_OF
    edge with the ON CREATE weight (2); the second merge matches them
    all and ON MATCH SET bumps each weight to 3 — the read-back proves
    the ON MATCH branch executed (a create-only re-run would read 2)."""
    g = build_graph(spark, sf_dir)
    stmt = (
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) WHERE c.acctbal >= 9800 "
        "MERGE (c)-[r:VIP_OF]->(n) "
        "ON CREATE SET r.weight = 2 ON MATCH SET r.weight = r.weight + 1"
    )
    g2 = run_cypher_merge(run_cypher_merge(g, stmt), stmt)
    return run_cypher(
        g2, "MATCH (c:Customer)-[v:VIP_OF]->(n:Nation) RETURN c, n, v.weight AS w"
    )


def _q_cypher_multilabel_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-label nodes project props WITHOUT fanout (round-9, VERDICT
    r8 #4): Premium customers carry a second label row sharing the SAME
    payload — property resolution dedupes on (id, payload)
    (store.payload_rows), so the match yields exactly one row per
    (premium customer, nation) pair, openCypher semantics. A fanout
    regression doubles the row count and the hash gate fails."""
    from g4s_spark.graph import PropertyGraph

    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cid = (F.lit(CUSTOMER_OFF) + F.col("c_custkey")).cast("long")
    cprops = F.create_map(
        F.lit("name"), F.col("c_name").cast("string"),
        F.lit("acctbal"), F.col("c_acctbal").cast("string"),
    )
    nodes = (
        customer.select(
            cid.alias("id"), F.lit("Customer").alias("label"), cprops.alias("props")
        )
        .unionByName(
            customer.filter(F.col("c_acctbal") > 5000).select(
                cid.alias("id"), F.lit("Premium").alias("label"),
                cprops.alias("props"),
            )
        )
        .unionByName(
            nation.select(
                (F.lit(NATION_OFF) + F.col("n_nationkey")).cast("long").alias("id"),
                F.lit("Nation").alias("label"),
                F.create_map(F.lit("name"), F.col("n_name")).alias("props"),
            )
        )
    )
    edges = customer.select(
        cid.alias("src"),
        (F.lit(NATION_OFF) + F.col("c_nationkey")).cast("long").alias("dst"),
        F.lit("FROM_NATION").alias("type"),
    )
    g = PropertyGraph(nodes, edges, spark)
    return run_cypher(
        g,
        "MATCH (c:Customer:Premium)-[:FROM_NATION]->(n:Nation) "
        "RETURN c, c.name AS cname, n.name AS nname",
    )


def _q_graph_closeness_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted closeness of the BFS seed (round-9, VERDICT r8 #8): the
    min-plus SSSP fixpoint supplies the distances — the weighted
    centrality path's first driver row."""
    out = closeness_centrality(
        build_graph(spark, sf_dir), [BFS_START], weighted=True
    )
    return out.select(
        pround(F.col("closeness"), 9).alias("closeness"), "n_reachable"
    )


def _q_cypher_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stDev/stDevP + percentileCont/percentileDisc aggregates (round-8).
    Percentiles are cross-engine exact (sort-based interpolation matches
    DuckDB quantile_cont/_disc bit-for-bit — NOTES.md r5); stddev is
    co-moment accumulation-order dependent, so both sides round to 4."""
    out = run_cypher(
        build_graph(spark, sf_dir),
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
        "RETURN n, stDev(c.acctbal) AS sd, stDevP(c.acctbal) AS sdp, "
        "percentileCont(c.acctbal, 0.5) AS med, "
        "percentileDisc(c.acctbal, 0.9) AS p90",
    )
    return out.select(
        "n",
        pround(F.col("sd"), 4).alias("sd"),
        pround(F.col("sdp"), 4).alias("sdp"),
        "med",
        "p90",
    )


def _q_cypher_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT value aggregates in plan_match (round-8 — previously
    parsed-and-ignored). Double sums are addition-order dependent across
    engines, so sum/avg round (2/6); counts are exact."""
    out = run_cypher(
        build_graph(spark, sf_dir),
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
        "RETURN n, count(DISTINCT c.mktsegment) AS n_seg, "
        "sum(DISTINCT c.acctbal) AS s_bal, avg(DISTINCT c.acctbal) AS a_bal",
    )
    return out.select(
        "n",
        "n_seg",
        pround(F.col("s_bal"), 2).alias("s_bal"),
        pround(F.col("a_bal"), 6).alias("a_bal"),
    )


# --- round-10 debuts (staged + oracle-verified in r9, the round-10 staging queue) --

# second Brandes source: another customer seed keeps the oracle's walk
# depth at the customer-graph depth (a supplier seed would add layers)
BC_SRC2 = CUSTOMER_OFF + 2


def _q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each click event picks the user's latest purchase
    at-or-before it (backward inclusive). The right side pre-aggregates
    to one row per (user, ts) — max(value) — so the match is
    deterministic; the oracle is DuckDB's NATIVE ASOF LEFT JOIN."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    out = asof_join(clicks, purchases, on="user_id")
    return out.select("event_id", "user_id", "ts", "ts_r", "pvalue_r")


def _q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join: clicks landing inside any same-user error
    window [error_ts, error_ts + 30 min] — the interval-containment
    join, candidates pruned by (user, hour-bucket) equality before the
    exact BETWEEN."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    windows = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"),
    )
    out = range_join(clicks, windows, on="user_id", bucket_s=3600)
    return out.select("click_id", "user_id", "error_id")


def _q_events_range_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events_range_join fixture routed through the STREAMING twin
    (round-13 debut, staged+verified in r11-r12 in the round-13 staging queue):
    clicks arrive as an availableNow file stream, each micro-batch
    range-joins the static same-user error windows, results land in a
    parquet sink and are read back — so the driver value-hashes the
    streaming path against the exact batch oracle (stream==batch at the
    driver, not just in pytest).

    The sink/checkpoint live under a per-(sf, PID) temp root wiped at
    gate start: deterministic within a process so same-process reruns
    never double-append into the hash, PID-scoped so two concurrent
    runs against the same sf_dir cannot delete each other's live
    sink/checkpoint mid-drain (ADVICE r12). The nanosAsLong conf matches
    what load_table pins session-wide on every call."""
    import hashlib
    import os
    import shutil
    import tempfile

    from g4s_spark.sources.tables import normalize_ts
    from g4s_spark.streaming import range_enrich_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file stream source wants a DIRECTORY; glob-filter it down to
    # the one events file so sibling tables never enter the stream
    ev = normalize_ts(
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir),
        ["ts"],
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    windows = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            "user_id",
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"),
        )
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tmp = tempfile.gettempdir()
    base = f"{tmp}/g4s_range_stream_{tag}_{os.getpid()}"
    shutil.rmtree(base, ignore_errors=True)
    # reap sibling sink/checkpoint roots left by EXITED driver processes
    # (ADVICE r13: the success path never removed its own root, so every
    # past driver run leaked one per sf). A sibling whose PID is dead
    # cannot have a live query appending — safe to sweep; live PIDs are
    # left alone so concurrent runs still cannot delete each other's
    # sink mid-drain (the ADVICE r12 property this layout exists for).
    import re as _re

    for d in os.listdir(tmp):
        m = _re.match(rf"g4s_range_stream_{tag}_(\d+)$", d)
        if not m or int(m.group(1)) == os.getpid():
            continue
        if not os.path.exists(f"/proc/{m.group(1)}"):
            shutil.rmtree(f"{tmp}/{d}", ignore_errors=True)
    out_dir = f"{base}/out"

    def sink(df: DataFrame, _batch_id: int) -> None:
        df.select("click_id", "user_id", "error_id").write.mode(
            "append"
        ).parquet(out_dir)

    q = range_enrich_stream(
        clicks, windows, sink, f"{base}/chk", on="user_id", bucket_s=3600
    )
    if not q.awaitTermination(600):
        # a timed-out drain would otherwise fall through to reading a
        # PARTIAL sink (with the query still appending behind the read)
        # and report as a hash mismatch instead of a timeout
        q.stop()
        raise RuntimeError(
            "events_range_stream: availableNow drain did not finish "
            "within 600s; partial sink discarded"
        )
    return spark.read.parquet(out_dir).select("click_id", "user_id", "error_id")


def _q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup survivors (round-13 debut;
    arXiv:2303.09540): coarse IVF-cell clustering (the seeded
    ivf_assign_sql-reproducible assignment) then within-cell cosine
    pruning, keep-lowest-id. threshold=0.3 on the synthetic embeddings
    prunes 181/500 rows at sf0.01 — the gate exercises the drop path,
    not just the passthrough."""
    emb = load_table(spark, sf_dir, "embeddings")
    return D.semantic_dedup(emb, threshold=0.3)


def _q_text_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary train + encode roundtrip: top-50 vocab over the corpus,
    every document encoded to ordered vocab ids (OOV -> -1); ids render
    comma-joined (gates cannot emit array columns)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = TX.build_vocab(docs, size=50)
    enc = TX.encode_docs(docs, vocab)
    return enc.select(
        "doc_id",
        F.array_join(F.transform(F.col("ids"), lambda i: i.cast("string")), ",")
        .alias("ids"),
        "n_tokens",
        "n_unk",
    )


def _q_ann_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF (round-9, nprobe=2): each query scans its two
    nearest coarse cells; the corpus stays single-assigned."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, nprobe=2)


def _q_graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-truss of the co-purchase part graph (every edge closes >= 3
    triangles within the surviving subgraph). Converges in 4 peel
    rounds at sf0.01 (python replica); the oracle unrolls 5 — the peel
    is idempotent at its fixpoint, and an INSUFFICIENT depth cannot
    silently pass (the hash would differ)."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        li.alias("l1")
        .join(
            li.alias("l2"),
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
        )
        .select(
            F.col("l1.l_partkey").alias("src"),
            F.col("l2.l_partkey").alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
    )
    return k_truss(pairs, k=5)


def _q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (rational idf — bit-exact)."""
    return TX.tfidf_keywords(load_table(spark, sf_dir, "documents"), k=3)


def _q_text_bigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained bigram-LM rarity signal; integer counts + exact
    rationals only, so no rounding anywhere."""
    return TX.bigram_rarity(
        load_table(spark, sf_dir, "documents"), threshold=2e-4
    )


def _q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the derived part<->supplier digraph (the graph_scc
    fixture): share of edges whose reverse edge exists."""
    li = load_table(spark, sf_dir, "lineitem")
    pid = (F.lit(PART_OFF) + F.col("l_partkey")).cast("long")
    sid = (F.lit(SUPPLIER_OFF) + F.col("l_suppkey")).cast("long")
    fwd = li.select(pid.alias("src"), sid.alias("dst"))
    back = li.filter(
        (F.col("l_returnflag") == "R") & (F.col("l_linenumber") == 1)
    ).select(sid.alias("src"), pid.alias("dst"))
    out = reciprocity(fwd.unionByName(back))
    return out.select(
        "n_edges", "n_mutual", pround(F.col("reciprocity"), 9).alias("r")
    )


def _q_graph_harmonic_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted harmonic centrality of the BFS seed: min-plus SSSP
    distances feeding the sum-of-reciprocals aggregate."""
    out = harmonic_centrality(
        build_graph(spark, sf_dir), [BFS_START], weighted=True
    )
    return out.select(
        pround(F.col("harmonic"), 9).alias("harmonic"), "n_reachable"
    )


def _q_graph_betweenness_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED Brandes (|S| = 2): per-source sigma/delta keyed (s, v) in
    one frontier — the scale path betweenness_centrality documents; the
    oracle sums two independent single-source unrolls."""
    bc = betweenness_centrality(
        build_graph(spark, sf_dir), sources=[BFS_START, BC_SRC2]
    )
    return bc.select("id", pround(F.col("bc"), 9).alias("bc"))


def _q_cypher_topk_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by aggregate alias: ORDER BY the count with a deterministic
    binding tie-break, then LIMIT — the grouped-top-k planner path."""
    return run_cypher(
        build_graph(spark, sf_dir),
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "RETURN c, count(o) AS n ORDER BY n DESC, c ASC LIMIT 10",
    )


def _q_cypher_merge_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-form MERGE run twice (idempotent: one Hub node exists), read
    back with its ON CREATE property; ids via next_id like
    cypher_create."""
    g = build_graph(spark, sf_dir)
    stmt = "MERGE (x:Hub {name: 'h1'}) ON CREATE SET x.tier = 9"
    g2 = run_cypher_merge(run_cypher_merge(g, stmt), stmt)
    return run_cypher(
        g2, "MATCH (h:Hub) RETURN h, h.name AS name, h.tier AS tier"
    )


# --- round-11 debuts (staged + oracle-verified in r10, the round-11 staging queue) -

def _asof_clicks_purchases(spark: SparkSession, sf_dir: str):
    """The events_asof fixture shared by the direction gates: clicks as
    the point stream, purchases pre-aggregated to one row per
    (user, ts) so the match is deterministic."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    return clicks, purchases


def _q_events_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: each click picks the user's EARLIEST purchase
    at-or-after it; the oracle is DuckDB's native ASOF LEFT JOIN with
    the inequality flipped (c.ts <= p.ts)."""
    clicks, purchases = _asof_clicks_purchases(spark, sf_dir)
    out = asof_join(clicks, purchases, on="user_id", direction="forward")
    return out.select("event_id", "user_id", "ts", "ts_r", "pvalue_r")


def _q_events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of: closer of the backward/forward candidates, exact
    ties to backward (pandas tie-break). The oracle ranks all same-user
    purchases by |delta| with the backward-first tie-break."""
    clicks, purchases = _asof_clicks_purchases(spark, sf_dir)
    out = asof_join(clicks, purchases, on="user_id", direction="nearest")
    return out.select("event_id", "user_id", "ts", "ts_r", "pvalue_r")


def _q_events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of with a 1-hour tolerance: a match staler than the
    budget nulls out but the click row survives (left-outer) — the
    tolerance is measured against the MATCHED row's timestamp."""
    clicks, purchases = _asof_clicks_purchases(spark, sf_dir)
    out = asof_join(clicks, purchases, on="user_id", tolerance_s=3600)
    return out.select("event_id", "user_id", "ts", "ts_r", "pvalue_r")


def _q_graph_neighbor_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style 2-hop neighbor aggregation (round-10,
    operators/features.py) on the part<->supplier digraph (the
    graph_scc fixture): hop 1 sums each node's out-neighbors' balance
    feature; hop 2 sums the hop-1 SUMMARIES (layered ego aggregation,
    not the flat 2-hop multiset). Feature = s_acctbal on suppliers,
    p_retailprice on parts."""
    li = load_table(spark, sf_dir, "lineitem")
    pid = (F.lit(PART_OFF) + F.col("l_partkey")).cast("long")
    sid = (F.lit(SUPPLIER_OFF) + F.col("l_suppkey")).cast("long")
    fwd = li.select(pid.alias("src"), sid.alias("dst"))
    back = li.filter(
        (F.col("l_returnflag") == "R") & (F.col("l_linenumber") == 1)
    ).select(sid.alias("src"), pid.alias("dst"))
    edges = fwd.unionByName(back).dropDuplicates(["src", "dst"])
    sup = load_table(spark, sf_dir, "supplier").select(
        (F.lit(SUPPLIER_OFF) + F.col("s_suppkey")).cast("long").alias("id"),
        F.col("s_acctbal").cast("double").alias("bal"),
    )
    prt = load_table(spark, sf_dir, "part").select(
        (F.lit(PART_OFF) + F.col("p_partkey")).cast("long").alias("id"),
        F.col("p_retailprice").cast("double").alias("bal"),
    )
    out = neighbor_agg(edges, sup.unionByName(prt), agg="sum", hops=2)
    return out.select("id", pround(F.col("bal"), 2).alias("bal2"))


def _q_cypher_deep_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep semi-naive closure (VERDICT r9 #9): per-customer order
    CHAINS (orders linked in (o_orderdate, o_orderkey) sequence) give
    walk depths of 15-40 levels — far past the ~6 the TPC-H relation
    graph reaches — so length(p) over [:NEXT*] exercises the
    MAX_CLOSURE_ITERS=64 iteration guard well into its range; an early
    bail-out could not silently pass (the deepest pairs would vanish
    and the hash would differ)."""
    from pyspark.sql.window import Window

    from g4s_spark.graph import PropertyGraph

    orders = load_table(spark, sf_dir, "orders")
    seq = orders.select(
        (F.lit(ORDER_OFF) + F.col("o_orderkey")).cast("long").alias("id"),
        "o_custkey",
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
        .alias("rn"),
    )
    a, b = seq.alias("a"), seq.alias("b")
    edges = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("b.rn") == F.col("a.rn") + 1),
    ).select(
        F.col("a.id").alias("src"),
        F.col("b.id").alias("dst"),
        F.lit("NEXT").alias("type"),
    )
    nodes = seq.select("id", F.lit("Order").alias("label"))
    g = PropertyGraph(nodes, edges, spark)
    return run_cypher(
        g, "MATCH p = (a:Order)-[:NEXT*]->(b:Order) RETURN a, b, length(p) AS len"
    )


def _q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection (round-10,
    dedup.select_canonical): MinHash-LSH clusters over the corpus, then
    ONE surviving row per cluster — longest document wins, ties to the
    lowest doc id. The oracle wraps the dedup_clusters SQL twin with
    the same argmax."""
    docs = load_table(spark, sf_dir, "documents")
    cl = D.dedup_clusters(docs)
    out = D.select_canonical(
        docs.select("doc_id", "source", "n_chars"), cl, score_col="n_chars"
    )
    return out.select("doc_id", "cluster", "source", "n_chars")


# --- driver-window rotation ----------------------------------------------
# The correctness driver checks the FIRST 50 dict entries only.
# Round-16 composition (drafted in NOTES.md at r15 close, lifted
# verbatim): the 1 round-16 debut (pipeline_dsir — DSIR hashed-unigram
# importance weights, Xie 2023; staged + oracle-verified on final r15
# code in the round-16 staging queue), the 42 forced last-green-r12 gates
# (the 4-round staleness budget), and the 7 oldest last-seen-r13 rows
# by first appearance. Registry 191 → 192 — back AT the D=2 trip-wire
# (text_vocab retired r15); from here every debut pairs with a
# genuine-subsumption retirement (RETIRED_GATES.json policy;
# candidates pre-staged in NOTES.md). Rotation history lives in
# WINDOW_LEDGER.json (append-only; rounds with a published CORRECTNESS
# artifact are digest-pinned); tests/test_entry_contract.py enforces
# the budget. Everything at 51+ is green in the local full check
# (scripts/check_correctness.py).
_WINDOW_ORDER = [
    # round-16 debut (in the round-16 staging queue, oracle-verified)
    "pipeline_dsir",
    # the 42 forced last-green-r12 gates (contract test fails without them)
    "ann_ivf_topk", "cypher_concat", "cypher_distinct_agg",
    "cypher_exists", "cypher_id_where", "cypher_introspect",
    "cypher_not_exists", "cypher_optional_agg", "cypher_prop_agg",
    "cypher_stats_agg", "cypher_union", "cypher_unwind",
    "cypher_where_regex", "cypher_with_having", "dedup_clusters",
    "dedup_embedding_lsh", "dedup_vs_index", "events_anomalies",
    "events_enrich", "events_session_window", "graph_assort_label",
    "grb_assign_extract", "grb_select_apply_reduce",
    "rel_q11_important_stock", "rel_q12_priority_class",
    "rel_q13_order_dist", "rel_q15_top_supplier",
    "rel_q16_supplier_cnt", "rel_q17_small_qty", "rel_q18_large_orders",
    "rel_q19_disjunctive", "rel_q20_part_share", "rel_q21_waiting",
    "rel_q22_idle_cust", "rel_q2_min_cost", "rel_q4_priority",
    "rel_q7_volume", "rel_q8_market_share", "rel_q9_profit",
    "text_decontaminate", "text_normalize", "text_redact_pii",
    # 7 oldest last-seen-r13 rows (first-appearance order)
    "cypher_varlength", "dedup_ngram_jaccard", "events_sessionize",
    "ewise_intersect_min", "ewise_union_plus", "graph_bfs",
    "graph_pagerank",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = _queries_unordered()
    ordered = {k: base.pop(k) for k in _WINDOW_ORDER}
    ordered.update(base)
    return ordered


def _queries_unordered() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # TPC-H operator-matrix completion (round 5): each keeps its
        # namesake's execution shape on the adapted schema — see
        # g4s_spark/functions/relational.py docstrings.
        "rel_q2_min_cost": _rel("rel_q2_min_cost"),
        "rel_quantiles": _rel("rel_quantiles"),
        "rel_q7_volume": _rel("rel_q7_volume"),
        "rel_q8_market_share": _rel("rel_q8_market_share"),
        "rel_q9_profit": _rel("rel_q9_profit"),
        "rel_q11_important_stock": _rel("rel_q11_important_stock"),
        "rel_q13_order_dist": _rel("rel_q13_order_dist"),
        "rel_q14_promo": _rel("rel_q14_promo"),
        "rel_q15_top_supplier": _rel("rel_q15_top_supplier"),
        "rel_q16_supplier_cnt": _rel("rel_q16_supplier_cnt"),
        "rel_q17_small_qty": _rel("rel_q17_small_qty"),
        "rel_q18_large_orders": _rel("rel_q18_large_orders"),
        "rel_q19_disjunctive": _rel("rel_q19_disjunctive"),
        "rel_q20_part_share": _rel("rel_q20_part_share"),
        "rel_q21_waiting": _rel("rel_q21_waiting"),
        "rel_q22_idle_cust": _rel("rel_q22_idle_cust"),
        # LLM-pipeline additions (round 5): Gopher-style repetition
        # signals, benchmark decontamination, rational-idf BM25 ranking
        "text_repetition": lambda spark, sf_dir: TX.repetition_stats(
            load_table(spark, sf_dir, "documents")
        ),
        "text_decontaminate": lambda spark, sf_dir: TX.decontaminate(
            load_table(spark, sf_dir, "documents").filter(F.col("source") != "src19"),
            load_table(spark, sf_dir, "documents").filter(F.col("source") == "src19"),
            n=4,
        ),
        "text_bm25": lambda spark, sf_dir: TX.bm25_score(
            load_table(spark, sf_dir, "documents"), ["spark", "table", "query"]
        ),
        # text_vocab retired round-15 (subsumed by text_encode — same
        # build_vocab path, only the size literal differs;
        # RETIRED_GATES.json)
        # streaming twins with batch oracles (round-5 extensions)
        "graph_kcore": _q_graph_kcore,
        "graph_lpa": _q_graph_lpa,
        "graph_hits": _q_graph_hits,
        "graph_degree_hist": _q_graph_degree_hist,
        "graph_wpagerank": _q_graph_wpagerank,
        "graph_harmonic": _q_graph_harmonic,
        "graph_link_jaccard": _q_graph_link_jaccard,
        "graph_resource_alloc": _q_graph_resource_alloc,
        "events_enrich": lambda spark, sf_dir: EV.enrich_events(
            load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
        ),
        "events_trending": lambda spark, sf_dir: EV.trending_topk(
            load_table(spark, sf_dir, "events"), k=3
        ),
        "events_anomalies": lambda spark, sf_dir: EV.window_anomalies(
            load_table(spark, sf_dir, "events"), z_threshold=2.0
        ),
        "events_json_props": lambda spark, sf_dir: EV.extract_props(
            load_table(spark, sf_dir, "events")
        ),
        # arithmetic RETURN expressions (round-5 extension): the TPC-H
        # revenue shape expressed in Cypher
        "cypher_expr_revenue": _cypher(
            "MATCH (o:Order)-[:HAS_ITEM]->(l:Lineitem) "
            "RETURN o, sum(l.extendedprice * (1 - l.discount)) AS rev"
        ),
        "cypher_expr_return": _cypher(
            "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
            "WHERE n.name = 'NATION_2' RETURN c, c.acctbal / 2 + 10 AS half"
        ),
        "cypher_case_priority": _cypher(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "RETURN c, sum(CASE WHEN o.orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS urgent"
        ),
        "cypher_string_fns": _cypher(
            "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
            "WHERE n.name = 'NATION_3' "
            "RETURN toLower(c.mktsegment) AS seg, count(c) AS n_cust"
        ),
        "cypher_expr_cross": _cypher(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WHERE o.totalprice / 100 > c.acctbal RETURN c, o"
        ),
        "cypher_expr_where": _cypher(
            "MATCH (o:Order)-[:HAS_ITEM]->(l:Lineitem) "
            "WHERE l.extendedprice * (1 - l.discount) > 90000 RETURN o, l"
        ),
        # set queries + row generators (round-5 extensions)
        "cypher_union": _cypher(
            "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
            "WHERE n.name = 'NATION_1' RETURN c "
            "UNION MATCH (c:Customer) WHERE c.acctbal >= 9000 RETURN c"
        ),
        "cypher_unwind": _cypher(
            "UNWIND [1, 2, 3] AS k "
            "MATCH (n:Nation)-[:IN_REGION]->(r:Region) RETURN r, k"
        ),
        # (driver-window ordering lives in _WINDOW_ORDER above; this dict's
        # literal order only decides positions 51+)
        "cypher_undirected": _cypher(
            "MATCH (x)-[:IN_REGION|FROM_NATION]-(n:Nation) RETURN x, n"
        ),
        # WITH pipelines (round-5 extension): aggregate -> HAVING -> re-match
        "cypher_with_having": _cypher(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WITH c, count(o) AS n_orders WHERE n_orders >= 20 "
            "MATCH (c)-[:FROM_NATION]->(n:Nation) "
            "RETURN n, count(c) AS big_customers"
        ),
        # (cypher_with_chain retired round-10 — subsumed by
        # cypher_with_having: same WITH-aggregate + HAVING planner path
        # plus a re-match stage; RETIRED_GATES.json)
        # round-7 extensions: OPTIONAL MATCH as a WITH stage (unmatched
        # carried rows keep count 0), SET with an expression RHS, and
        # count(b.prop) counting non-NULL property values (suppliers
        # have no mktsegment, so the two counts genuinely differ)
        "cypher_with_optional": _cypher(
            "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
            "WHERE n.name = 'NATION_3' "
            "WITH c OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
            "RETURN c, count(o) AS n_orders"
        ),
        "cypher_set_expr": _q_cypher_set_expr,
        # round-8: MERGE statement (match-or-create + ON CREATE SET),
        # run twice to prove idempotence before the read-back
        # (cypher_merge retired round-10 — byte-identical MATCH/MERGE
        # statement and double-run fixture as cypher_merge_on_match,
        # which adds the ON MATCH SET arm; RETIRED_GATES.json)
        # round-8: expression RHS on edge SET (the r7 node/edge SET
        # asymmetry closed), read back over all orders
        "cypher_set_edge_expr": _q_cypher_set_edge_expr,
        # round-8: the remaining mutation verbs as statements
        "cypher_delete": _q_cypher_delete,
        "cypher_remove": _q_cypher_remove,
        # round-8: aggregates over the OPTIONAL binding's props — the
        # clause-scoped WHERE empties some matched groups, whose sum
        # folds to 0 and count to 0 (openCypher), min stays NULL
        "cypher_optional_agg": _cypher(
            "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
            "WHERE n.name = 'NATION_5' "
            "WITH c OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
            "WHERE o.totalprice >= 300000 "
            "RETURN c, sum(o.totalprice) AS s, count(o) AS n_big, "
            "min(o.totalprice) AS mn"
        ),
        "cypher_count_prop": _cypher(
            "MATCH (x)-[:FROM_NATION]->(n:Nation) "
            "RETURN n, count(x) AS n_src, count(x.mktsegment) AS n_cust"
        ),
        # IS NULL picks exactly the suppliers out of the mixed
        # FROM_NATION sources (customers carry mktsegment)
        "cypher_where_isnull": _cypher(
            "MATCH (x)-[:FROM_NATION]->(n:Nation) "
            "WHERE x.mktsegment IS NULL RETURN n, count(x) AS n_sup"
        ),
        # coalesce() fills the suppliers' missing mktsegment
        "cypher_coalesce": _cypher(
            "MATCH (x)-[:FROM_NATION]->(n:Nation) "
            "RETURN x, coalesce(x.mktsegment, 'NONE') AS seg"
        ),
        # round-6 extensions: arithmetic in the final RETURN after WITH,
        # and UNWIND over a collected list (the `WITH collect(x) AS xs
        # UNWIND xs` idiom — planner.py _unwind_column / expr_col)
        "cypher_with_expr": _cypher(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WITH c, count(o) AS n_orders WHERE n_orders >= 15 "
            "RETURN c, n_orders * 2 + 1 AS n2"
        ),
        "cypher_unwind_collected": _cypher(
            "MATCH (n:Nation)-[:IN_REGION]->(r:Region) "
            "WITH r, collect(n) AS ns UNWIND ns AS x RETURN r, x"
        ),
        # aggregate-of-aggregate via carry-only stage: TPC-H Q13's
        # count-of-counts expressed in Cypher (planner._run_carry_stage)
        "cypher_agg_of_agg": _cypher(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WITH c, count(o) AS n_orders "
            "WITH n_orders, count(c) AS n_cust RETURN n_orders, n_cust"
        ),
        "cypher_shortest_path": _cypher(
            "MATCH p = shortestPath((s:Supplier)-[*]->(x)) "
            "RETURN s, x, length(p) AS len"
        ),
        "cypher_collect": _q_cypher_collect,
        "cypher_edge_agg": _cypher(
            "MATCH (o:Order)-[e:HAS_ITEM]->(l:Lineitem) "
            "RETURN o, sum(e.weight) AS total_w, max(e.weight) AS max_w"
        ),
        "graph_ppr": _q_graph_ppr,
        "cypher_skip_limit": _cypher(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.acctbal >= 5000 "
            "RETURN o ORDER BY o DESC SKIP 10 LIMIT 20"
        ),
        # ORDER BY over a non-returned property (round-6): numeric-cast
        # sort key + raw-string secondary + binding tiebreak, helper
        # column dropped after LIMIT
        "cypher_orderby_prop": _cypher(
            "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
            "WHERE n.name = 'NATION_7' "
            "RETURN c ORDER BY c.acctbal DESC, c ASC LIMIT 15"
        ),
        "cypher_where_in": _cypher(
            "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
            "WHERE n.name IN ['NATION_4', 'NATION_13'] RETURN c, n"
        ),
        "cypher_where_string_fns": _cypher(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WHERE c.mktsegment STARTS WITH 'BUI' AND c.name ENDS WITH '1' "
            "AND o.orderpriority CONTAINS 'URG' RETURN c, o"
        ),
        # scalar functions around props in WHERE (round-6): pushed into
        # the node-set scans like plain predicates
        "cypher_where_fn": _cypher(
            "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
            "WHERE toLower(c.mktsegment) = 'building' AND size(n.name) >= 9 "
            "RETURN c, n"
        ),
        # pattern predicates: existence semi-join / negation anti-join
        "cypher_edge_where": _cypher(
            "MATCH (o:Order)-[e:HAS_ITEM]->(l:Lineitem) "
            "WHERE e.weight >= 3 RETURN o, l, e.weight AS w"
        ),
        "cypher_optional_where": _cypher(
            "MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
            "WHERE o.orderpriority = '1-URGENT' RETURN c, o"
        ),
        "cypher_where_or": _cypher(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WHERE c.acctbal >= 5000 OR c.mktsegment = 'BUILDING' RETURN o"
        ),
        "cypher_where_cross": _cypher(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WHERE c.acctbal >= 9000 OR o.totalprice >= 200000 RETURN c, o"
        ),
        "cypher_multilabel": _q_cypher_multilabel,
        "cypher_path_length": _cypher(
            "MATCH p = (c:Customer)-[*]->(x) RETURN c, x, length(p) AS len"
        ),
        # iterative algorithms (SURVEY §2.6)
        "cypher_exists": _cypher(
            "MATCH (p:Part) WHERE (p)<-[:OF_PART]-(:Lineitem) RETURN p"
        ),
        "cypher_not_exists": _cypher(
            "MATCH (x) WHERE NOT (x)-[]->() RETURN x"
        ),
        # training-data selection/layout (round-5 extension)
        "sample_deterministic": lambda spark, sf_dir: SM.deterministic_sample(
            load_table(spark, sf_dir, "documents"), 0.25, seed=3
        ).select("doc_id", "lang", "source"),
        "sample_stratified": lambda spark, sf_dir: SM.stratified_sample(
            load_table(spark, sf_dir, "documents"),
            {"src0": 0.8, "src1": 0.2},
            strata_col="source",
            default_rate=0.5,
            seed=3,
        ).select("doc_id", "source"),
        "pack_sequences": lambda spark, sf_dir: SM.pack_sequences(
            load_table(spark, sf_dir, "documents"), budget_tokens=512, n_shards=4
        ),
        # engine-reproducible global shuffle order (round-6): ranked on
        # (md5(seed:key), key), computed shard-parallel
        "sample_shuffle": lambda spark, sf_dir: SM.deterministic_shuffle(
            load_table(spark, sf_dir, "documents").select("doc_id"), seed=7
        ),
        # context-window chunking (round-6): whitespace-token windows
        # with overlap, trailing no-new-token starts dropped
        "chunk_documents": lambda spark, sf_dir: SM.chunk_documents(
            load_table(spark, sf_dir, "documents"), chunk_tokens=64, overlap=8
        ),
        # contamination audit (round-6): near-dup pair counts per
        # unordered source pair over the banded MinHash join
        "dedup_cross_source": lambda spark, sf_dir: D.cross_source_overlap(
            load_table(spark, sf_dir, "documents")
        ),
        "knn_join": lambda spark, sf_dir: S.knn_join_lsh(
            load_table(spark, sf_dir, "embeddings"), k=3
        ),
        "events_followups": lambda spark, sf_dir: EV.event_followups(
            load_table(spark, sf_dir, "events"), within_min=10
        ),
        # funnel conversion report (round-6): greedy earliest-chain
        # per user, strictly time-ordered steps
        "events_funnel": lambda spark, sf_dir: EV.funnel(
            load_table(spark, sf_dir, "events")
        ),
        "rel_q4_priority": _q_rel_q4_priority,
        "rel_q12_priority_class": _q_rel_q12_priority_class,
        "pipeline_corpus_report": lambda spark, sf_dir: PL.corpus_report(
            load_table(spark, sf_dir, "documents")
        ),
        # round-7: mix design from a token budget (rates) and the
        # deterministic sampler that applies it (kept doc set)
        "pipeline_token_rates": lambda spark, sf_dir: PL.token_budget_rates(
            load_table(spark, sf_dir, "documents"),
            weights={"src1": 1.0, "src2": 8.0, "src3": 1.0},
            total_tokens=4000,
        ),
        "pipeline_token_budget": lambda spark, sf_dir: PL.apply_token_budget(
            load_table(spark, sf_dir, "documents"),
            weights={"src1": 1.0, "src2": 8.0, "src3": 1.0},
            total_tokens=4000,
            seed=11,
        ).select("doc_id", "source"),
        "pipeline_pretrain_mix": lambda spark, sf_dir: PL.pretrain_mix(
            load_table(spark, sf_dir, "documents"),
            min_quality=0.5,
            langs=("en", "und"),
            rates={"src0": 1.0, "src1": 0.3},
            default_rate=0.7,
            budget_tokens=512,
            n_shards=4,
            sample_seed=7,
        ),
        "dedup_clusters": lambda spark, sf_dir: D.dedup_clusters(
            load_table(spark, sf_dir, "documents")
        ),
        "dedup_incremental": lambda spark, sf_dir: D.dedup_against(
            load_table(spark, sf_dir, "documents").filter(F.col("doc_id") >= 250),
            load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 250),
        ).select("doc_id", "lang", "source"),
        "ann_ivf_topk": _q_ann_ivf_topk,
        "ann_hard_negatives": lambda spark, sf_dir: S.hard_negatives(
            load_table(spark, sf_dir, "embeddings"),
            load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10),
            k=5, min_sim=0.1, max_sim=0.7,
        ),
        "multimodal_frames": _q_multimodal_frames,
        "events_session_window": _q_events_session_window,
        "events_sliding_window": _q_events_sliding,
        "ann_lsh_topk": _q_ann_lsh,
        "dedup_embedding_lsh": _q_dedup_embedding_lsh,
        # rest of the round-4 additions / LLM-pipeline block
        "multimodal_meta": _q_multimodal_meta,
        # (cypher_count_star / cypher_where_numeric retired round-9;
        # events_window_agg retired round-10 — tumbling F.window is the
        # slide-free special case events_sliding_window exercises —
        # RETIRED_GATES.json records the subsuming live gates)
        "events_sessionize": _q_events_sessions,
        # cypher pattern matching (SURVEY §2.1/2.2)
        "cypher_1hop": _cypher("MATCH (c:Customer)-[:PLACED]->(o:Order) RETURN o"),
        "cypher_2hop_reverse": _cypher(
            "MATCH (p:Part)<-[:OF_PART]-(l:Lineitem)-[:BY_SUPP]->(s:Supplier) RETURN s"
        ),
        "cypher_multi_return": _cypher(
            "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:HAS_ITEM]->(l:Lineitem) RETURN c, o, l"
        ),
        "cypher_fork": _cypher(
            "MATCH (o:Order)-[:HAS_ITEM]->(l:Lineitem)-[:OF_PART]->(p:Part), "
            "(l)-[:BY_SUPP]->(s:Supplier) RETURN l"
        ),
        "cypher_multitype": _cypher("MATCH (x)-[:IN_REGION|FROM_NATION]->(n) RETURN n"),
        "cypher_untyped": _cypher("MATCH (n:Nation)-[]->(r) RETURN r"),
        # extensions beyond the reference surface: WHERE / ORDER BY /
        # LIMIT / count() aggregates
        "cypher_varlength": _cypher(
            "MATCH (c:Customer)-[:PLACED|HAS_ITEM*1..2]->(x) RETURN c, x"
        ),
        "cypher_count_groups": _cypher(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) RETURN c, count(o) AS n_orders"
        ),
        "cypher_prop_agg": _cypher(
            "MATCH (o:Order)-[:HAS_ITEM]->(l:Lineitem) "
            "RETURN o.orderpriority AS prio, sum(l.quantity) AS sum_qty, "
            "avg(l.quantity) AS avg_qty, min(l.quantity) AS min_qty, "
            "max(l.quantity) AS max_qty, count(l) AS n_items"
        ),
        # (cypher_optional retired round-10 — subsumed by
        # cypher_optional_where: same left-outer OPTIONAL MATCH path
        # plus the optional-side predicate; RETIRED_GATES.json)
        "cypher_closure": _cypher("MATCH (c:Customer)-[*]->(x) RETURN c, x"),
        "graph_bfs": _q_graph_bfs,
        "graph_sssp": _q_graph_sssp,
        "graph_pagerank": _q_graph_pagerank,
        "graph_components": _q_graph_components,
        "graph_triangles": _q_graph_triangles,
        "graph_clustering": _q_graph_clustering,
        "graph_assortativity": _q_graph_assortativity,
        "graph_assort_label": _q_graph_assort_label,
        # grblas kernels (SURVEY §2.3)
        "mxm_plus_times": _q_mxm_plus_times,
        "mxm_kron": _q_mxm_kron,
        "mxm_any_pair": _q_mxm_any_pair,
        "mxm_masked": _q_mxm_masked,
        "ewise_union_plus": _q_ewise_union,
        "ewise_intersect_min": _q_ewise_intersect,
        "reduce_rows_plus": _q_reduce_rows,
        "reduce_cols_max": _q_reduce_cols_transpose,
        # (extract_submatrix retired round-12 — its (range, All)
        # selection is run verbatim inside grb_assign_extract's
        # roundtrip, which adds assign + a second extract + apply on
        # the same _apply_selection path; extract_strided stays for
        # the stride/backwards arm. RETIRED_GATES.json)
        "extract_strided": _q_extract_strided,
        "grb_select_apply_reduce": _q_grb_select_apply_reduce,
        "grb_assign_extract": _q_grb_assign_extract,
        "vxm_masked": _q_vxm_masked,
        # relational analytics
        "rel_q1_pricing": _q_rel_q1,
        "rel_top_orders": _q_rel_top_orders,
        "rel_supplier_rank": _q_rel_supplier_rank,
        "rel_q3_shipping": _q_rel_q3_shipping,
        "rel_q5_local_volume": _q_rel_q5_local_volume,
        "rel_q6_forecast": _q_rel_q6,
        "rel_q10_returns": _q_rel_q10_returns,
        # text analysis
        "text_token_count": _q_text_tokens,
        "text_token_bpe": _q_text_token_bpe,
        "text_quality": _q_text_quality,
        "text_lang_id": _q_text_lang,
        "text_fingerprint": _q_text_fp,
        "text_doc_freq": lambda spark, sf_dir: TX.doc_frequency(
            load_table(spark, sf_dir, "documents")
        ),
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_dedup_jaccard,
        "dedup_minhash_lsh": _q_dedup_minhash,
        "dedup_simhash": _q_dedup_simhash,
        # (dedup_embedding retired round-12 — the crossJoin pair
        # generator was the one gated cartesian product, VERDICT r11
        # "What's wrong" #1; dedup_embedding_lsh verifies candidates with
        # the identical exact-cosine expression and is the documented
        # scale path. embedding_near_dups stays as the pytest recall
        # baseline; RETIRED_GATES.json)
        "ann_topk": _q_ann_topk,
        # (ann_ivf_cells retired round-12 — ivf_assign is a bare select
        # of ivf_cell_expr, which ann_ivf_topk evaluates verbatim on
        # corpus AND queries before the cell join + exact ranking;
        # ann_ivf_nprobe keeps the multi-probe arm. RETIRED_GATES.json)
        "pipeline_curate": lambda spark, sf_dir: PL.curate_corpus(
            load_table(spark, sf_dir, "documents"), min_quality=0.5, langs=("en", "und")
        ),
        # (graph_closeness retired round-11 — byte-identical
        # `(sssp|bfs)(...).filter(dist>0).agg(...)` body as
        # graph_harmonic save the final scalar aggregate expression;
        # the weighted twins stay separately gated — RETIRED_GATES.json)
        # round-8 session-2: graph-introspection fns + =~ regex WHERE
        "cypher_introspect": _cypher(
            "MATCH (x)-[e:FROM_NATION]->(n:Nation) "
            "RETURN id(n) AS nid, labels(x) AS lx, type(e) AS t, "
            "count(x) AS cnt"
        ),
        "cypher_where_regex": _cypher(
            "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
            "WHERE n.name =~ 'NATION_1[0-9]' RETURN n, count(c) AS n_cust"
        ),
        "text_redact_pii": _q_text_redact_pii,
        "text_normalize": _q_text_normalize,
        "dedup_vs_index": _q_dedup_vs_index,
        "cypher_stats_agg": _q_cypher_stats_agg,
        "cypher_distinct_agg": _q_cypher_distinct_agg,
        # line-level (RefinedWeb/CCNet) boilerplate dedup: the synthetic
        # docs have no newlines, so the gate segments on a literal
        # " the " separator — 43 segments repeat across >= 2 docs at
        # sf0.01, so the operator does real removal work
        "dedup_lines": lambda spark, sf_dir: TX.dedup_lines(
            load_table(spark, sf_dir, "documents"), sep=" the ", min_docs=2
        ),
        "graph_scc": _q_graph_scc,
        "graph_random_walks": _q_graph_random_walks,
        "pipeline_dsir": _q_pipeline_dsir,
        # round-9 debuts: the 11 gates staged + oracle-verified in r8
        # (the round-9 staging queue) plus the MERGE ON MATCH SET and
        # weighted-closeness driver rows (VERDICT r8 #6/#8)
        "graph_eigenvector": _q_graph_eigenvector,
        "graph_betweenness": _q_graph_betweenness,
        "cypher_create": _q_cypher_create,
        "cypher_set_label": _q_cypher_set_label,
        "cypher_merge_on_match": _q_cypher_merge_on_match,
        "cypher_multilabel_props": _q_cypher_multilabel_props,
        "graph_closeness_weighted": _q_graph_closeness_weighted,
        "graph_condense": lambda spark, sf_dir: condensation(
            _ps_edges(spark, sf_dir)
        ),
        "graph_layers": lambda spark, sf_dir: topological_layers(
            condensation(_ps_edges(spark, sf_dir))
        ),
        "sample_split": lambda spark, sf_dir: SM.split_corpus(
            load_table(spark, sf_dir, "documents"),
            {"train": 0.8, "val": 0.1, "test": 0.1},
        ).select("doc_id", "source", "split"),
        "cypher_keys": lambda spark, sf_dir: run_cypher(
            build_graph(spark, sf_dir),
            "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
            "RETURN c, keys(c) AS kc, properties(n) AS ps",
        ),
        "sample_weighted": lambda spark, sf_dir: SM.weighted_sample(
            load_table(spark, sf_dir, "documents").withColumn(
                "q", F.least(F.col("n_chars") / 2000.0, F.lit(1.0))
            ),
            "q",
        ).select("doc_id", "source"),
        "dedup_kmv": lambda spark, sf_dir: D.kmv_distinct(
            load_table(spark, sf_dir, "documents"), "text", ["source"], k=16
        ).withColumn("estimate", pround(F.col("estimate"), 6)),
        "dedup_lines_index": lambda spark, sf_dir: TX.dedup_lines_against(
            load_table(spark, sf_dir, "documents").filter(F.col("doc_id") >= 250),
            TX.common_lines(
                load_table(spark, sf_dir, "documents").filter(
                    F.col("doc_id") < 250
                ),
                sep=" the ", min_docs=2,
            ),
            sep=" the ",
        ),
        # string concatenation + id() point lookups (round-8 session-2)
        "cypher_concat": _cypher(
            "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
            "RETURN c, n.name + '/' + c.mktsegment AS tag"
        ),
        "cypher_id_where": _cypher(
            f"MATCH (c:Customer)-[:PLACED]->(o:Order) "
            f"WHERE id(c) <= {CUSTOMER_OFF + 50} "
            f"RETURN c, count(o) AS n_orders"
        ),
        # round-10 debuts: staged + oracle-verified in r9
        # (the round-10 staging queue) — temporal joins, vocab encode,
        # multi-probe IVF, k-truss, TF-IDF, bigram rarity, reciprocity,
        # weighted harmonic, batched multi-source Brandes, grouped
        # top-k, node-form MERGE
        "events_asof": _q_events_asof,
        "events_range_join": _q_events_range_join,
        "text_encode": _q_text_encode,
        "ann_ivf_nprobe": _q_ann_ivf_nprobe,
        "graph_ktruss": _q_graph_ktruss,
        "text_tfidf": _q_text_tfidf,
        "text_bigram_rarity": _q_text_bigram_rarity,
        "graph_reciprocity": _q_graph_reciprocity,
        "graph_harmonic_weighted": _q_graph_harmonic_weighted,
        "graph_betweenness_multi": _q_graph_betweenness_multi,
        "cypher_topk_agg": _q_cypher_topk_agg,
        "cypher_merge_node": _q_cypher_merge_node,
        # round-11 debuts: staged + oracle-verified in r10
        # (the round-11 staging queue) — the asof direction/tolerance surface,
        # GraphSAGE neighbor aggregation, the deep-closure Cypher gate,
        # and quality-aware canonical dedup selection
        "events_asof_forward": _q_events_asof_forward,
        "events_asof_nearest": _q_events_asof_nearest,
        "events_asof_tolerance": _q_events_asof_tolerance,
        "graph_neighbor_agg": _q_graph_neighbor_agg,
        "cypher_deep_chain": _q_cypher_deep_chain,
        "dedup_canonical": _q_dedup_canonical,
        # round-13 debuts: staged + oracle-verified in r11/r12
        # (the round-13 staging queue) — the streaming range-join twin drained
        # at the driver, and SemDeDup semantic deduplication
        "events_range_stream": _q_events_range_stream,
        "dedup_semantic": _q_dedup_semantic,
    }


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------

_CID = f"CAST({CUSTOMER_OFF} + c_custkey AS BIGINT)"
_OID = f"CAST({ORDER_OFF} + o_orderkey AS BIGINT)"

# shared fixture CTE for the events_asof direction/tolerance oracles
_CLICKS_PURCHASES_SQL = """
    clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id, ts, max(value) AS pvalue
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
"""
_LID = f"CAST({LINEITEM_OFF} + l_orderkey*8 + l_linenumber AS BIGINT)"
_PID = f"CAST({PART_OFF} + l_partkey AS BIGINT)"
_SID = f"CAST({SUPPLIER_OFF} + l_suppkey AS BIGINT)"

_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"
# DSIR hashed-unigram bucket: the exact key string sampling._md5_bucket
# builds ('0:' salt prefix), md5 being byte-identical across engines
_DSIR_BUCKET = (
    "CAST(('0x' || substr(md5('0:' || tok), 1, 8)) AS BIGINT) % "
    + str(DSIR_BUCKETS)
)

# PII / normalization regexes shared verbatim with functions/text.py
# (portable subset: no lookaround, identical in Java regex and RE2;
# DuckDB single-quoted strings keep backslashes literal)
_PII_EM = TX.PII_PATTERNS["email"]
_PII_IP = TX.PII_PATTERNS["ipv4"]
_PII_PH = TX.PII_PATTERNS["phone"]
_CTRL_RE = r"[\x00-\x08\x0b-\x1f\x7f]"
_RUNS_RE = r"[ \t]{2,}"

# deterministic dirty-text twin of __spark_entry__._dirty_docs (the
# synthetic docs have zero PII/control/run hits, so the hygiene gates
# append a doc_id-derived suffix on BOTH engines)
_DIRTY_DOCS = (
    "SELECT doc_id, text || chr(1) || ' Contact: user' || "
    "CAST(doc_id AS VARCHAR) || '@example.com  or +1 (415) 555-01' || "
    "lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' ip 10.0.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.7' || chr(9) || 'end  .' AS text "
    "FROM documents"
)
_STOPLIST = "['" + "','".join(TX.STOPWORDS) + "']"

_SHINGLES = """
    toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') t FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
           FROM toks, unnest(generate_series(1, len(t)-2)) AS u(i)
           WHERE len(t) >= 3)
"""

def _cos_explicit(a: str, b: str, dim: int = 64) -> str:
    """Cosine as an explicit left-assoc double sum — bit-identical to
    similarity.cosine_expr's sequential F.aggregate fold (list_dot_product
    on FLOAT[] would accumulate in float32)."""
    def dot(x: str, y: str) -> str:
        return " + ".join(
            f"CAST({x}[{i}] AS DOUBLE) * CAST({y}[{i}] AS DOUBLE)"
            for i in range(1, dim + 1)
        )
    return f"(({dot(a, b)}) / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})))"



# (list_dot_product cosine retired: on FLOAT[] DuckDB accumulates in
# float32, which can flip a pround/threshold boundary vs Spark's double
# fold — every oracle now uses _cos_explicit, bit-identical by
# construction. See NOTES.md "FLOAT[] cosine trap".)


def _lang_score(words: list[str]) -> str:
    lst = "['" + "','".join(words) + "']"
    return f"len(list_filter({_TOKS}, x -> list_contains({lst}, x)))"


def _ppr_oracle(seed_sql: str, iters: int = 3, d: float = 0.85) -> str:
    """Unrolled personalized PageRank matching operators.
    personalized_pagerank exactly: pr0 = ind/|S|;
    pr_{t+1} = (1-d)·ind/|S| + d·Σ pr_t(u)/outdeg(u)."""
    prev = "pr0"
    its = []
    for t in range(1, iters + 1):
        its.append(f"""
            it{t} AS (
                SELECT r.id, (1 - {d}) * r.ind / c.n + {d} * COALESCE(s.mass, 0) AS pr
                FROM r CROSS JOIN cnt c
                LEFT JOIN (
                    SELECT e.dst AS id, sum(p.pr / dg.deg) AS mass
                    FROM {prev} p
                    JOIN graph_edges e ON p.id = e.src
                    JOIN deg dg ON dg.src = p.id
                    GROUP BY e.dst
                ) s ON s.id = r.id
            )""")
        prev = f"it{t}"
    return f"""
        WITH {NODES_SQL_CTE.strip()}, {EDGES_SQL_CTE.strip()},
        seeds AS ({seed_sql}),
        cnt AS (SELECT count(*) AS n FROM seeds),
        deg AS (SELECT src, count(*) AS deg FROM graph_edges GROUP BY src),
        r AS (
            SELECT gn.id,
                   CASE WHEN gn.id IN (SELECT id FROM seeds) THEN 1.0 ELSE 0.0 END AS ind
            FROM graph_nodes gn
        ),
        pr0 AS (SELECT r.id, r.ind / c.n AS pr FROM r CROSS JOIN cnt c),
        {",".join(its)}
        SELECT id, floor(pr * 1000000000 + 0.5) / 1000000000 AS pr FROM {prev}
    """



def _hits_oracle(iters: int = 3) -> str:
    """Unrolled HITS twin of operators.hits: same half-step order, same
    L2 normalization (nullif guards the all-zero norm), same 9-decimal
    portable rounding."""
    its = []
    prev_h = "h0"
    for t in range(1, iters + 1):
        its.append(f"""
        a{t}r AS MATERIALIZED (
            SELECT e.dst AS id, sum(h.s) AS s FROM graph_edges e
            JOIN {prev_h} h ON e.src = h.id GROUP BY e.dst
        ),
        a{t} AS MATERIALIZED (
            SELECT n.id, coalesce(r.s, 0.0) /
                   (SELECT coalesce(nullif(sqrt(sum(s * s)), 0.0), 1.0) FROM a{t}r) AS s
            FROM nids n LEFT JOIN a{t}r r ON n.id = r.id
        ),
        h{t}r AS MATERIALIZED (
            SELECT e.src AS id, sum(a.s) AS s FROM graph_edges e
            JOIN a{t} a ON e.dst = a.id GROUP BY e.src
        ),
        h{t} AS MATERIALIZED (
            SELECT n.id, coalesce(r.s, 0.0) /
                   (SELECT coalesce(nullif(sqrt(sum(s * s)), 0.0), 1.0) FROM h{t}r) AS s
            FROM nids n LEFT JOIN h{t}r r ON n.id = r.id
        )""")
        prev_h = f"h{t}"
    return f"""
        WITH {NODES_SQL_CTE.strip()}, {EDGES_SQL_CTE.strip()},
        nids AS (SELECT DISTINCT id FROM graph_nodes),
        h0 AS (SELECT id, 1.0 AS s FROM nids),
        {",".join(its)}
        SELECT n.id,
               floor(h.s * 1000000000 + 0.5) / 1000000000 AS hub,
               floor(a.s * 1000000000 + 0.5) / 1000000000 AS auth
        FROM nids n JOIN h{iters} h ON n.id = h.id JOIN a{iters} a ON n.id = a.id
    """


def _lpa_oracle(iters: int = 3) -> str:
    """Unrolled synchronous LPA matching operators.label_propagation:
    per round every node takes the most frequent neighbor label, ties
    to the smallest label (row_number over count DESC, lbl ASC)."""
    its = []
    prev = "l0"
    for t in range(1, iters + 1):
        its.append(f"""
            l{t} AS MATERIALIZED (
                SELECT l.id, coalesce(b.nl, l.lbl) AS lbl
                FROM {prev} l LEFT JOIN (
                    SELECT id, nl FROM (
                        SELECT e.src AS id, x.lbl AS nl,
                               row_number() OVER (
                                   PARTITION BY e.src
                                   ORDER BY count(*) DESC, x.lbl ASC) AS rn
                        FROM e0 e JOIN {prev} x ON e.dst = x.id
                        GROUP BY e.src, x.lbl
                    ) WHERE rn = 1
                ) b ON l.id = b.id
            )""")
        prev = f"l{t}"
    return f"""
        WITH pairs AS (
            SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
            FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
            WHERE l1.l_partkey < l2.l_partkey
        ),
        e0 AS MATERIALIZED (
            SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs
        ),
        l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM e0),
        {",".join(its)}
        SELECT CAST(id AS BIGINT) AS id, CAST(lbl AS BIGINT) AS lbl FROM {prev}
    """


def _kcore_oracle(k: int, iters: int = 12) -> str:
    """Unrolled peeling matching operators.k_core exactly: each level
    keeps edges whose BOTH endpoints have degree >= k at the previous
    level. The fixpoint is unique, so any unroll depth >= the
    convergence depth (6 at sf0.01 for k=80) yields identical output;
    MATERIALIZED stops the per-level double reference from exploding."""
    prev = "e0"
    its = []
    for t in range(1, iters + 1):
        its.append(f"""
            e{t} AS MATERIALIZED (
                SELECT e.src, e.dst FROM {prev} e
                SEMI JOIN (SELECT src FROM {prev} GROUP BY src
                           HAVING count(*) >= {k}) ks ON e.src = ks.src
                SEMI JOIN (SELECT src FROM {prev} GROUP BY src
                           HAVING count(*) >= {k}) kd ON e.dst = kd.src
            )""")
        prev = f"e{t}"
    return f"""
        WITH pairs AS (
            SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
            FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
            WHERE l1.l_partkey < l2.l_partkey
        ),
        e0 AS MATERIALIZED (
            SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs
        ),
        {",".join(its)}
        SELECT src AS id, CAST(count(*) AS BIGINT) AS core_deg
        FROM {prev} GROUP BY 1
    """


def _bm25_oracle(terms: list[str], k1: float = 1.2, b: float = 0.75) -> str:
    """SQL twin of text.bm25_score with the identical expression tree —
    literals via repr() so both engines parse the same doubles, and the
    same left-assoc evaluation order so the doubles match bit-for-bit."""
    tf_defs = ", ".join(
        f"CAST(len(list_filter(t, x -> x = '{t}')) AS DOUBLE) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_defs = ", ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
        for i in range(len(terms))
    )
    k1p1, one_minus_b = repr(k1 + 1), repr(1 - b)
    term_exprs = [
        f"(((((N - df_{i}) + 0.5) / (df_{i} + 0.5)) * tf_{i}) * {k1p1}"
        f" / (tf_{i} + {repr(k1)} * ({one_minus_b} + (({repr(b)} * dl) / avgdl))))"
        for i in range(len(terms))
    ]
    score = " + ".join(term_exprs)
    return f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        per AS (
            SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, {tf_defs} FROM toks
        ),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS N, avg(dl) AS avgdl, {df_defs}
            FROM per
        )
        SELECT doc_id, floor(({score}) * 1000000 + 0.5) / 1000000 AS bm25
        FROM per CROSS JOIN stats
    """


def _wpagerank_oracle(iters: int = 3, d: float = 0.85) -> str:
    """Unrolled edge-weighted PageRank matching operators.
    weighted_pagerank exactly: mass(v) = Σ (pr(u)·w(u,v)) / W(u)."""
    prev = "pr0"
    its = []
    for t in range(1, iters + 1):
        its.append(f"""
            it{t} AS (
                SELECT gn.id, (1 - {d}) / c.n + {d} * COALESCE(s.mass, 0) AS pr
                FROM graph_nodes gn CROSS JOIN cnt c
                LEFT JOIN (
                    SELECT e.dst AS id, sum((p.pr * e.weight) / ws.wsum) AS mass
                    FROM {prev} p
                    JOIN graph_edges e ON p.id = e.src
                    JOIN wsum ws ON ws.src = p.id
                    GROUP BY e.dst
                ) s ON s.id = gn.id
            )""")
        prev = f"it{t}"
    return f"""
        WITH {NODES_SQL_CTE.strip()}, {EDGES_SQL_CTE.strip()},
        cnt AS (SELECT count(*) AS n FROM graph_nodes),
        wsum AS (SELECT src, sum(weight) AS wsum FROM graph_edges GROUP BY src),
        pr0 AS (SELECT gn.id, 1.0 / c.n AS pr FROM graph_nodes gn CROSS JOIN cnt c),
        {",".join(its)}
        SELECT id, floor(pr * 1000000000 + 0.5) / 1000000000 AS pr FROM {prev}
    """


def _pagerank_oracle(iters: int = 3, d: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank matching operators.pagerank
    exactly: pr0 = 1/N; pr_{t+1} = (1-d)/N + d·Σ pr_t(u)/outdeg(u)."""
    prev = "pr0"
    its = []
    for t in range(1, iters + 1):
        its.append(f"""
            it{t} AS (
                SELECT gn.id, (1 - {d}) / c.n + {d} * COALESCE(s.mass, 0) AS pr
                FROM graph_nodes gn CROSS JOIN cnt c
                LEFT JOIN (
                    SELECT e.dst AS id, sum(p.pr / dg.deg) AS mass
                    FROM {prev} p
                    JOIN graph_edges e ON p.id = e.src
                    JOIN deg dg ON dg.src = p.id
                    GROUP BY e.dst
                ) s ON s.id = gn.id
            )""")
        prev = f"it{t}"
    return f"""
        WITH {NODES_SQL_CTE.strip()}, {EDGES_SQL_CTE.strip()},
        cnt AS (SELECT count(*) AS n FROM graph_nodes),
        deg AS (SELECT src, count(*) AS deg FROM graph_edges GROUP BY src),
        pr0 AS (SELECT gn.id, 1.0 / c.n AS pr FROM graph_nodes gn CROSS JOIN cnt c),
        {",".join(its)}
        SELECT id, floor(pr * 1000000000 + 0.5) / 1000000000 AS pr FROM {prev}
    """


def _dedup_clusters_oracle(minhash_aggs: str, band_rows: str, iters: int = 30) -> str:
    """Min-id propagation over the MinHash-LSH pair graph (the SQL twin of
    functions.dedup.dedup_clusters): pairs -> symmetric edge set ->
    unrolled HashMin like _components_oracle -> singletons appended."""
    prev = "k0"
    its = []
    for t in range(1, iters + 1):
        its.append(f"""
            k{t} AS MATERIALIZED (
                SELECT n.id, least(n.comp, COALESCE(m.nmin, n.comp)) AS comp
                FROM {prev} n
                LEFT JOIN (
                    SELECT s.dst AS id, min(c.comp) AS nmin
                    FROM {prev} c JOIN psym s ON s.src = c.id
                    GROUP BY s.dst
                ) m ON m.id = n.id
            )""")
        prev = f"k{t}"
    return f"""
        WITH {_SHINGLES},
        sig AS (SELECT doc_id, {minhash_aggs} FROM sh GROUP BY doc_id),
        bands AS ({band_rows}),
        pr AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key
            WHERE l.doc_id < r.doc_id
        ),
        psym AS MATERIALIZED (
            SELECT a AS src, b AS dst FROM pr UNION SELECT b, a FROM pr
        ),
        k0 AS (SELECT DISTINCT src AS id, src AS comp FROM psym),
        {",".join(its)}
        SELECT id AS doc_id, CAST(comp AS BIGINT) AS cluster FROM {prev}
        UNION ALL
        SELECT doc_id, CAST(doc_id AS BIGINT) AS cluster FROM documents
        WHERE doc_id NOT IN (SELECT id FROM k0)
    """


def _components_oracle(iters: int = 30) -> str:
    """Unrolled HashMin min-id propagation matching
    operators.connected_components exactly: comp_0 = id;
    comp_{t+1}(v) = min(comp_t(v), min over undirected neighbors u of
    comp_t(u)). The Spark loop iterates to fixpoint; the HashMin fixpoint
    is unique (per-component min id), so any unroll depth ≥ the graph's
    convergence depth produces identical output. Depth 30 matches the
    Spark side's max_iters=30 bound — a component deeper than the old
    10-level unroll no longer makes the oracle spuriously wrong."""
    prev = "c0"
    its = []
    # MATERIALIZED: each level references the previous twice; left to the
    # inliner that doubles per level (2^iters scans of the base tables →
    # fd exhaustion). Materializing evaluates each level exactly once.
    for t in range(1, iters + 1):
        its.append(f"""
            c{t} AS MATERIALIZED (
                SELECT n.id,
                       least(n.comp, COALESCE(m.nmin, n.comp)) AS comp
                FROM {prev} n
                LEFT JOIN (
                    SELECT s.dst AS id, min(c.comp) AS nmin
                    FROM {prev} c JOIN sym s ON s.src = c.id
                    GROUP BY s.dst
                ) m ON m.id = n.id
            )""")
        prev = f"c{t}"
    return f"""
        WITH {NODES_SQL_CTE.strip()}, {EDGES_SQL_CTE.strip()},
        sym AS MATERIALIZED (
            SELECT src, dst FROM graph_edges
            UNION
            SELECT dst, src FROM graph_edges
        ),
        c0 AS MATERIALIZED (SELECT id, id AS comp FROM graph_nodes),
        {",".join(its)}
        SELECT id, comp AS component FROM {prev}
    """


# --- round-9 debut oracle helpers (lifted from the round-9 staging queue) -------

# SCC + condensed-edge CTE shared by graph_condense / graph_layers —
# identical to the graph_scc oracle's closure construction
_SCC_CTES = f"""
    e AS (
        SELECT DISTINCT CAST({PART_OFF} + l_partkey AS BIGINT) AS src,
               CAST({SUPPLIER_OFF} + l_suppkey AS BIGINT) AS dst
        FROM lineitem
        UNION
        SELECT DISTINCT CAST({SUPPLIER_OFF} + l_suppkey AS BIGINT),
               CAST({PART_OFF} + l_partkey AS BIGINT)
        FROM lineitem WHERE l_returnflag = 'R' AND l_linenumber = 1
    ),
    nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
    reach(a, b) AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b
    ),
    mutual AS (
        SELECT r1.a AS id, r1.b AS m
        FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
    ),
    scc AS (
        SELECT n.id, least(n.id, coalesce(min(m.m), n.id)) AS scc
        FROM nodes n LEFT JOIN mutual m ON m.id = n.id
        GROUP BY n.id
    ),
    cond AS (
        SELECT DISTINCT s1.scc AS src, s2.scc AS dst
        FROM e JOIN scc s1 ON s1.id = e.src JOIN scc s2 ON s2.id = e.dst
        WHERE s1.scc <> s2.scc
    )
"""


def _eig_oracle(iters: int) -> str:
    ctes = [
        f"WITH RECURSIVE {EDGES_SQL_CTE.strip().rstrip()}",
        # explicit DISTINCT: under WITH RECURSIVE DuckDB gives the
        # base-UNION-step form special treatment and the dedup is lost
        "graph_nodes AS (SELECT DISTINCT id FROM (SELECT src AS id "
        "FROM graph_edges UNION ALL SELECT dst FROM graph_edges))",
        "x0 AS (SELECT id, 1.0 / (SELECT count(*) FROM graph_nodes) AS ec "
        "FROM graph_nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"m{i} AS (SELECT e.dst AS id, sum(x{i-1}.ec) AS m "
            f"FROM x{i-1} JOIN graph_edges e ON e.src = x{i-1}.id GROUP BY e.dst)"
        )
        ctes.append(
            f"x{i} AS (SELECT g.id, "
            f"coalesce(m.m, 0) / (SELECT sum(m) FROM m{i}) AS ec "
            f"FROM graph_nodes g LEFT JOIN m{i} m ON m.id = g.id)"
        )
    return (
        ",\n".join(ctes)
        + f"\nSELECT id, floor(ec * 1000000000 + 0.5) / 1000000000 AS ec FROM x{iters}"
    )


def _bc_oracle(depth: int) -> str:
    """Single-source Brandes unrolled over a BFS dist table: the
    recursive walk (same shape as the harmonic oracle) assigns layers,
    sigma accumulates forward along dist-increasing edges, and the
    dependency recurrence walks layers deepest-first. Rounded to 9
    like the other double aggregates. Oracle planning cost grows ~3x
    per layer — depth 12 was minutes, 8 is ~5 s; an insufficient depth
    cannot silently pass: the hash gate would differ."""
    edges_cte = EDGES_SQL_CTE.strip().rstrip().replace(
        "AS (", "AS MATERIALIZED (", 1
    )
    ctes = [
        f"WITH RECURSIVE {edges_cte}",
        f"""walk(id, d) AS (
            SELECT CAST({BFS_START} AS BIGINT), CAST(0 AS BIGINT)
            UNION ALL
            SELECT e.dst, w.d + 1
            FROM walk w JOIN graph_edges e ON e.src = w.id
            WHERE w.d < {depth}
        )""",
        "dist AS MATERIALIZED (SELECT id, min(d) AS d FROM walk GROUP BY id)",
        # DISTINCT: the Spark side walks the deduped (src, dst) edge
        # set (duplicate lineitem rows duplicate edges in the raw CTE)
        "dag AS MATERIALIZED ("
        " SELECT DISTINCT e.src, e.dst, ds.d AS dsrc FROM graph_edges e"
        " JOIN dist ds ON ds.id = e.src JOIN dist dd ON dd.id = e.dst"
        " AND dd.d = ds.d + 1)",
        f"d0 AS (SELECT CAST({BFS_START} AS BIGINT) AS id, 1.0 AS sigma)",
    ]
    for i in range(1, depth + 1):
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT g.dst AS id, sum(s.sigma) AS sigma "
            f"FROM d{i-1} s JOIN dag g ON g.src = s.id AND g.dsrc = {i-1} "
            f"GROUP BY g.dst)"
        )
    ctes.append(f"delta{depth} AS (SELECT id, 0.0 AS delta FROM d{depth})")
    for i in range(depth - 1, -1, -1):
        ctes.append(
            f"delta{i} AS MATERIALIZED ("
            f"SELECT u.id, sum(u.sigma / w.sigma * (1.0 + coalesce(dl.delta, 0.0))) AS delta "
            f"FROM d{i} u JOIN dag g ON g.src = u.id AND g.dsrc = {i} "
            f"JOIN d{i+1} w ON w.id = g.dst "
            f"LEFT JOIN delta{i+1} dl ON dl.id = w.id "
            f"GROUP BY u.id)"
        )
    alldelta = " UNION ALL ".join(
        f"SELECT id, delta FROM delta{i}" for i in range(1, depth + 1)
    )
    return (
        ",\n".join(ctes)
        + "\nSELECT id, floor(sum(delta) * 1000000000 + 0.5) / 1000000000 AS bc"
        + f"\nFROM ({alldelta}) GROUP BY id"
    )


def _bc_oracle_multi(depth: int, srcs: list[int]) -> str:
    """Sum of independent single-source Brandes unrolls (same recurrence
    as _bc_oracle, suffixed per source) — the batched multi-source gate's
    oracle."""
    edges_cte = EDGES_SQL_CTE.strip().rstrip().replace(
        "AS (", "AS MATERIALIZED (", 1
    )
    ctes = [f"WITH RECURSIVE {edges_cte}"]
    selects = []
    for si, src in enumerate(srcs):
        s = f"s{si}"
        ctes.append(
            f"""walk_{s}(id, d) AS (
                SELECT CAST({src} AS BIGINT), CAST(0 AS BIGINT)
                UNION ALL
                SELECT e.dst, w.d + 1
                FROM walk_{s} w JOIN graph_edges e ON e.src = w.id
                WHERE w.d < {depth}
            )"""
        )
        ctes.append(
            f"dist_{s} AS MATERIALIZED (SELECT id, min(d) AS d "
            f"FROM walk_{s} GROUP BY id)"
        )
        ctes.append(
            f"dag_{s} AS MATERIALIZED ("
            f" SELECT DISTINCT e.src, e.dst, ds.d AS dsrc FROM graph_edges e"
            f" JOIN dist_{s} ds ON ds.id = e.src"
            f" JOIN dist_{s} dd ON dd.id = e.dst AND dd.d = ds.d + 1)"
        )
        ctes.append(
            f"d0_{s} AS (SELECT CAST({src} AS BIGINT) AS id, 1.0 AS sigma)"
        )
        for i in range(1, depth + 1):
            ctes.append(
                f"d{i}_{s} AS MATERIALIZED (SELECT g.dst AS id, "
                f"sum(x.sigma) AS sigma "
                f"FROM d{i-1}_{s} x JOIN dag_{s} g ON g.src = x.id "
                f"AND g.dsrc = {i-1} GROUP BY g.dst)"
            )
        ctes.append(
            f"delta{depth}_{s} AS (SELECT id, 0.0 AS delta FROM d{depth}_{s})"
        )
        for i in range(depth - 1, -1, -1):
            ctes.append(
                f"delta{i}_{s} AS MATERIALIZED ("
                f"SELECT u.id, sum(u.sigma / w.sigma * "
                f"(1.0 + coalesce(dl.delta, 0.0))) AS delta "
                f"FROM d{i}_{s} u JOIN dag_{s} g ON g.src = u.id "
                f"AND g.dsrc = {i} "
                f"JOIN d{i+1}_{s} w ON w.id = g.dst "
                f"LEFT JOIN delta{i+1}_{s} dl ON dl.id = w.id "
                f"GROUP BY u.id)"
            )
        selects += [
            f"SELECT id, delta FROM delta{i}_{s}"
            for i in range(1, depth + 1)
        ]
    alldelta = " UNION ALL ".join(selects)
    return (
        ",\n".join(ctes)
        + "\nSELECT id, floor(sum(delta) * 1000000000 + 0.5) / 1000000000"
        + f" AS bc\nFROM ({alldelta}) GROUP BY id"
    )


def _ktruss_oracle(k: int, rounds: int) -> str:
    """Unrolled k-truss peel: per round, per-edge support = the
    common-neighbor count via two adjacency joins (triangle_count's
    wedge shape), keep support >= k-2. MATERIALIZED so each level
    evaluates once; the peel is idempotent at its fixpoint, so an
    over-unroll is safe and an under-unroll cannot silently pass."""
    ctes = [
        """e0 AS MATERIALIZED (
            SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
            FROM lineitem l1 JOIN lineitem l2
              ON l1.l_orderkey = l2.l_orderkey
             AND l1.l_partkey < l2.l_partkey
        )"""
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(
            f"""adj{p} AS MATERIALIZED (
                SELECT a AS u, b AS w FROM e{p}
                UNION ALL SELECT b, a FROM e{p}
            )"""
        )
        ctes.append(
            f"""sup{i} AS MATERIALIZED (
                SELECT e.a, e.b, count(*) AS s
                FROM e{p} e
                JOIN adj{p} n1 ON n1.u = e.a
                JOIN adj{p} n2 ON n2.u = e.b AND n2.w = n1.w
                GROUP BY e.a, e.b
            )"""
        )
        ctes.append(
            f"""e{i} AS MATERIALIZED (
                SELECT s.a, s.b FROM sup{i} s WHERE s.s >= {k - 2}
            )"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT a AS src, b AS dst FROM e{rounds}"
    )


def _ann_ivf_nprobe_oracle(nprobe: int = 2, k: int = 5) -> str:
    """Multi-probe IVF oracle: queries score against every corpus vector
    single-assigned to any of their nprobe nearest coarse cells (the
    same centroid literals similarity.ivf_assign_sql emits)."""

    def cos(a: str, b: str, dim: int = 64) -> str:
        def dot(x: str, y: str) -> str:
            return " + ".join(
                f"CAST({x}[{i}] AS DOUBLE) * CAST({y}[{i}] AS DOUBLE)"
                for i in range(1, dim + 1)
            )
        return f"(({dot(a, b)}) / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})))"

    probes_sql = S.ivf_assign_sql(nprobe=nprobe)
    return f"""
        WITH cells AS ({S.ivf_assign_sql()}),
        probes AS ({probes_sql}),
        q AS (
            SELECT p.vec_id AS q_id, e.embedding AS qv, p.cell
            FROM probes p JOIN embeddings e USING (vec_id)
            WHERE p.vec_id < 10
        ),
        scored AS (
            SELECT q.q_id, c2.vec_id AS n_id,
                   {cos('q.qv', 'ne.embedding')} AS cos
            FROM q
            JOIN cells c2 ON c2.cell = q.cell
            JOIN embeddings ne ON ne.vec_id = c2.vec_id
            WHERE c2.vec_id != q.q_id
        ),
        ranked AS (
            SELECT q_id, n_id, cos,
                   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
            FROM scored
        )
        SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank,
               floor(cos * 10000 + 0.5) / 10000 AS cos
        FROM ranked WHERE rank <= {k}
    """


_SPLIT_BUCKET = (
    "CAST('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"
)
# thresholds replicate split_corpus's float ACCUMULATION exactly
# (0.1 + 0.8 = 0.9000000000000001 — int() of that is not int(0.9 * SPACE))
_SPLIT_T1 = int(0.1 * SM._SAMPLE_SPACE)
_SPLIT_T2 = int((0.1 + 0.8) * SM._SAMPLE_SPACE)


def oracle_sql() -> dict[str, str]:
    minhash_aggs = ", ".join(
        f"min(md5(shingle || '#{s}')) AS h{s}" for s in range(D.MINHASH_K)
    )
    rows = D.MINHASH_K // D.MINHASH_BANDS
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, md5(h{bi*rows} || h{bi*rows+1} || h{bi*rows+2}) AS key FROM sig"
        for bi in range(D.MINHASH_BANDS)
    )
    lang_cases = " ".join(
        f"WHEN {_lang_score(w)} = best THEN '{lang}'" for lang, w in TX.LANG_MARKERS.items()
    )
    lang_best = "greatest(" + ", ".join(_lang_score(w) for w in TX.LANG_MARKERS.values()) + ")"

    curate_sql = f"""
            WITH q AS (
                SELECT doc_id,
                       floor((0.4 * least(n_tokens / 100.0, 1.0)
                           + 0.3 * (1.0 - CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0.0 END)
                           + 0.3 * least((CASE WHEN n_tokens > 0 THEN tok_chars * 1.0 / n_tokens ELSE 0.0 END) / 8.0, 1.0)) * 10000 + 0.5) / 10000 AS quality
                FROM (
                    SELECT doc_id,
                           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                           CAST(len(list_filter({_TOKS}, x -> list_contains({_STOPLIST}, x))) AS BIGINT) AS n_stop,
                           CAST(list_aggregate(list_transform({_TOKS}, x -> len(x)), 'sum') AS BIGINT) AS tok_chars
                    FROM documents
                ) t
            ),
            l AS (
                SELECT doc_id, CASE WHEN best <= 0 THEN 'und' {lang_cases} END AS pred_lang
                FROM (SELECT doc_id, text, {lang_best} AS best FROM documents) s
            ),
            reps AS (
                SELECT doc_id FROM ({_dedup_clusters_oracle(minhash_aggs, band_rows)}) c
                WHERE c.cluster = c.doc_id
            )
            SELECT d.doc_id, l.pred_lang, q.quality
            FROM documents d
            JOIN q USING (doc_id) JOIN l USING (doc_id) JOIN reps USING (doc_id)
            WHERE q.quality >= 0.5 AND l.pred_lang IN ('en', 'und')
        """

    return {
        "cypher_1hop": f"""
            SELECT DISTINCT {_OID} AS o
            FROM orders JOIN customer ON o_custkey = c_custkey
        """,
        "cypher_2hop_reverse": f"""
            SELECT DISTINCT {_SID} AS s
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
        """,
        "cypher_multi_return": f"""
            SELECT DISTINCT {_CID} AS c, {_OID} AS o, {_LID} AS l
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "cypher_fork": f"""
            SELECT DISTINCT {_LID} AS l
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
        """,
        # undirected hop = symmetrized edge set around the labeled endpoint
        "cypher_undirected": f"""
            WITH {EDGES_SQL_CTE.strip()},
            sym AS (
                SELECT src, dst, type FROM graph_edges
                UNION ALL
                SELECT dst, src, type FROM graph_edges
            )
            SELECT DISTINCT s.src AS x, s.dst AS n
            FROM sym s
            JOIN nation ni ON s.dst = CAST({NATION_OFF} + ni.n_nationkey AS BIGINT)
            WHERE s.type IN ('IN_REGION', 'FROM_NATION')
        """,
        # WITH pipeline: per-customer order count -> HAVING >= 20 -> the
        # surviving customers regrouped by nation (distinct-match counts,
        # the engine's existence semantics)
        "cypher_with_having": f"""
            SELECT CAST({NATION_OFF} + c_nationkey AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS big_customers
            FROM customer
            JOIN (
                SELECT o_custkey FROM orders
                GROUP BY o_custkey
                HAVING count(DISTINCT o_orderkey) >= 20
            ) b ON c_custkey = b.o_custkey
            GROUP BY c_nationkey
        """,
        # round-7: OPTIONAL MATCH as a WITH stage — unmatched customers
        # keep count 0 through the left join
        "cypher_with_optional": f"""
            SELECT {_CID} AS c,
                   CAST(count(o_orderkey) AS BIGINT) AS n_orders
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            LEFT JOIN orders ON o_custkey = c_custkey
            WHERE n_name = 'NATION_3'
            GROUP BY c_custkey
        """,
        # round-7: SET expression RHS — the oracle computes the same
        # expression directly over the base table
        "cypher_set_expr": f"""
            SELECT {_CID} AS c, CAST(c_acctbal / 100 + 5 AS DOUBLE) AS bonus
            FROM customer WHERE c_acctbal >= 9000
        """,
        # round-8: MERGE creates one VIP_OF edge per qualifying
        # round-8: edge SET expression RHS — matched orders' HAS_ITEM
        # weights (l_linenumber) become w*2+1, the rest keep theirs; the
        # coalesce(double, long) upsert makes every weight DOUBLE
        "cypher_set_edge_expr": f"""
            SELECT CAST({ORDER_OFF} + l_orderkey AS BIGINT) AS o,
                   CAST(sum(CASE WHEN o_totalprice >= 450000
                                 THEN l_linenumber * 2 + 1
                                 ELSE l_linenumber END) AS DOUBLE) AS total_w
            FROM (SELECT DISTINCT l_orderkey, l_linenumber, o_totalprice
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
            GROUP BY l_orderkey
        """,
        # round-8: OPTIONAL-binding prop aggregates — LEFT JOIN with the
        # optional stage's clause-scoped predicate folded into the join
        # value; empty groups: sum -> 0, count -> 0, min -> NULL
        "cypher_optional_agg": f"""
            SELECT {_CID} AS c,
                   CAST(coalesce(sum(CASE WHEN o_totalprice >= 300000
                                          THEN o_totalprice END), 0) AS DOUBLE) AS s,
                   CAST(count(CASE WHEN o_totalprice >= 300000
                                   THEN 1 END) AS BIGINT) AS n_big,
                   CAST(min(CASE WHEN o_totalprice >= 300000
                                 THEN o_totalprice END) AS DOUBLE) AS mn
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            LEFT JOIN orders ON o_custkey = c_custkey
            WHERE n_name = 'NATION_5'
            GROUP BY c_custkey
        """,
        # round-8: DETACH DELETE removes NATION_7's customers (their
        # FROM_NATION/PLACED edges cascade); surviving customers group
        # per nation
        "cypher_delete": f"""
            SELECT CAST({NATION_OFF} + c_nationkey AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_cust
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE n_name <> 'NATION_7'
            GROUP BY c_nationkey
        """,
        # round-8: REMOVE drops mktsegment where acctbal >= 9000; the
        # coalesce default shows exactly there
        "cypher_remove": f"""
            SELECT {_CID} AS c,
                   CASE WHEN c_acctbal >= 9000 THEN 'GONE'
                        ELSE c_mktsegment END AS seg
            FROM customer
        """,
        # round-7: count(b.prop) counts non-NULL property values only
        # (suppliers carry no mktsegment prop)
        "cypher_count_prop": f"""
            SELECT CAST({NATION_OFF} + nk AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_src,
                   CAST(count(seg) AS BIGINT) AS n_cust
            FROM (
                SELECT c_nationkey AS nk, c_mktsegment AS seg FROM customer
                UNION ALL
                SELECT s_nationkey AS nk, NULL AS seg FROM supplier
            ) GROUP BY nk
        """,
        # round-7: IS NULL == property absent -> the supplier half of
        # the FROM_NATION sources
        "cypher_where_isnull": f"""
            SELECT CAST({NATION_OFF} + s_nationkey AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_sup
            FROM supplier GROUP BY s_nationkey
        """,
        "cypher_coalesce": f"""
            SELECT {_CID} AS x, c_mktsegment AS seg FROM customer
            UNION ALL
            SELECT CAST({SUPPLIER_OFF} + s_suppkey AS BIGINT) AS x, 'NONE' AS seg
            FROM supplier
        """,
        # final-RETURN arithmetic evaluates carried columns as doubles
        "cypher_with_expr": f"""
            SELECT {_CID} AS c,
                   CAST(count(DISTINCT {_OID}) * 2 + 1 AS DOUBLE) AS n2
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY {_CID}
            HAVING count(DISTINCT {_OID}) >= 15
        """,
        # count-of-counts: distinct orders per customer, then customers
        # per order-count (engine: carry-only second aggregation)
        "cypher_agg_of_agg": f"""
            SELECT n_orders, CAST(count(*) AS BIGINT) AS n_cust FROM (
                SELECT c_custkey,
                       CAST(count(DISTINCT {_OID}) AS BIGINT) AS n_orders
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY c_custkey
            ) GROUP BY n_orders
        """,
        # collect() is the sorted-distinct list; UNWIND it back = the
        # distinct (region, nation) pairs
        "cypher_unwind_collected": f"""
            SELECT DISTINCT CAST({REGION_OFF} + n_regionkey AS BIGINT) AS r,
                   CAST({NATION_OFF} + n_nationkey AS BIGINT) AS x
            FROM nation
        """,
        # edge-property aggregates over HAS_ITEM weight (= l_linenumber).
        # DISTINCT first: the synthetic lineitem carries duplicate
        # (orderkey, linenumber) rows, which collapse to ONE graph edge —
        # aggregates run over the distinct match set
        "cypher_edge_agg": f"""
            SELECT CAST({ORDER_OFF} + l_orderkey AS BIGINT) AS o,
                   CAST(sum(l_linenumber) AS DOUBLE) AS total_w,
                   CAST(max(l_linenumber) AS DOUBLE) AS max_w
            FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)
            GROUP BY l_orderkey
        """,
        "cypher_skip_limit": f"""
            SELECT DISTINCT {_OID} AS o
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_acctbal >= 5000
            ORDER BY o DESC
            LIMIT 20 OFFSET 10
        """,
        "cypher_where_fn": f"""
            SELECT DISTINCT {_CID} AS c,
                   CAST({NATION_OFF} + c_nationkey AS BIGINT) AS n
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE lower(c_mktsegment) = 'building' AND length(n_name) >= 9
        """,
        # top-15 by acctbal (numeric sort of the string prop), binding
        # tiebreak keeps the cutoff deterministic
        "cypher_orderby_prop": f"""
            SELECT c FROM (
                SELECT DISTINCT {_CID} AS c, c_acctbal
                FROM customer JOIN nation ON c_nationkey = n_nationkey
                WHERE n_name = 'NATION_7'
            )
            ORDER BY CAST(c_acctbal AS DOUBLE) DESC, c ASC
            LIMIT 15
        """,
        # greedy chain: each step takes the user's earliest occurrence
        # strictly after the previous step's chosen timestamp
        "events_funnel": """
            WITH s1 AS (
                SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id
            ),
            s2 AS (
                SELECT e.user_id, min(e.ts) AS t2 FROM events e
                JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id
            ),
            s3 AS (
                SELECT e.user_id, min(e.ts) AS t3 FROM events e
                JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id
            )
            SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
                   CAST(count(*) AS BIGINT) AS n_users FROM s1
            UNION ALL SELECT 2, 'click', count(*) FROM s2
            UNION ALL SELECT 3, 'purchase', count(*) FROM s3
        """,
        "cypher_where_in": f"""
            SELECT DISTINCT {_CID} AS c,
                   CAST({NATION_OFF} + c_nationkey AS BIGINT) AS n
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE n_name IN ('NATION_4', 'NATION_13')
        """,
        "cypher_where_string_fns": f"""
            SELECT DISTINCT {_CID} AS c, {_OID} AS o
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment LIKE 'BUI%' AND c_name LIKE '%1'
              AND o_orderpriority LIKE '%URG%'
        """,
        # collect() = sorted distinct value list (deterministic reading),
        # rendered comma-joined so the driver can hash it (list cells are
        # unhashable in its pandas canonicalizer)
        "cypher_collect": f"""
            SELECT CAST({REGION_OFF} + n_regionkey AS BIGINT) AS r,
                   array_to_string(
                       list_sort(list(DISTINCT CAST({NATION_OFF} + n_nationkey AS BIGINT))),
                       ',') AS nations
            FROM nation GROUP BY n_regionkey
        """,
        "cypher_exists": f"""
            SELECT CAST({PART_OFF} + p_partkey AS BIGINT) AS p FROM part
            WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
        """,
        # graph sinks: the region nodes are the only ones with no out-edges
        "cypher_not_exists": f"""
            WITH {NODES_SQL_CTE.strip()}, {EDGES_SQL_CTE.strip()}
            SELECT id AS x FROM graph_nodes
            WHERE id NOT IN (SELECT src FROM graph_edges)
        """,
        # shortestPath == min-hop reachability under distinct-match
        # semantics (same walk CTE as cypher_path_length, Supplier seeds)
        "cypher_shortest_path": f"""
            WITH RECURSIVE {EDGES_SQL_CTE.strip().rstrip()},
            walk(src, dst, d) AS (
                SELECT e.src, e.dst, 1 FROM graph_edges e
                JOIN supplier ON e.src = CAST({SUPPLIER_OFF} + s_suppkey AS BIGINT)
                UNION
                SELECT w.src, e.dst, w.d + 1
                FROM walk w JOIN graph_edges e ON e.src = w.dst
            )
            SELECT src AS s, dst AS x, CAST(min(d) AS BIGINT) AS len
            FROM walk GROUP BY src, dst
        """,
        # per-user follow-up pairs within 10 minutes (stream-stream join twin)
        "events_followups": """
            SELECT e1.user_id, e1.event_id AS a, e2.event_id AS b
            FROM events e1 JOIN events e2
            ON e1.user_id = e2.user_id
               AND e2.ts > e1.ts
               AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
        """,
        "rel_q4_priority": """
            SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n_orders
            FROM orders
            WHERE o_orderkey IN (
                SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
            )
            GROUP BY o_orderpriority
        """,
        "rel_q12_priority_class": """
            SELECT l_linestatus AS linestatus,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate < TIMESTAMP '1996-01-01'
            GROUP BY l_linestatus
        """,
        # k-NN self-join over the LSH band buckets (knn_join_lsh).
        # Cosine via an explicit left-to-right double sum: DuckDB's
        # list_dot_product on FLOAT[] accumulates in float32, which
        # disagrees with Spark's double fold at rounding boundaries
        "knn_join": f"""
            WITH bk AS {S.sign_lsh_bands_sql()},
            cand AS (
                SELECT DISTINCT q.vec_id AS q_id, e.vec_id AS n_id
                FROM bk q JOIN bk e USING (band, key) WHERE e.vec_id != q.vec_id
            ),
            scored AS (
                SELECT c.q_id, c.n_id,
                       {_cos_explicit('qe.embedding', 'ne.embedding')} AS cos
                FROM cand c
                JOIN embeddings qe ON qe.vec_id = c.q_id
                JOIN embeddings ne ON ne.vec_id = c.n_id
            ),
            ranked AS (
                SELECT q_id, n_id, cos,
                       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
                FROM scored
            )
            SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank,
                   floor(cos * 10000 + 0.5) / 10000 AS cos
            FROM ranked WHERE rank <= 3
        """,
        # deterministic md5-prefix sampling — bit-identical across engines
        "sample_deterministic": f"""
            SELECT doc_id, lang, source FROM documents
            WHERE CAST('0x' || substr(md5('3:' || CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) < {SM.sample_threshold(0.25)}
        """,
        "sample_stratified": f"""
            SELECT doc_id, source FROM documents
            WHERE CAST('0x' || substr(md5('3:' || CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT)
                < CASE source
                    WHEN 'src0' THEN {SM.sample_threshold(0.8)}
                    WHEN 'src1' THEN {SM.sample_threshold(0.2)}
                    ELSE {SM.sample_threshold(0.5)}
                  END
        """,
        "pack_sequences": """
            WITH t AS (
                SELECT doc_id,
                       CAST('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8)
                            AS BIGINT) % 4 AS shard,
                       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                            AS BIGINT) AS n_tokens
                FROM documents
            )
            SELECT doc_id, shard, n_tokens,
                   CAST(FLOOR((SUM(n_tokens) OVER w - n_tokens) / 512) AS BIGINT)
                       AS seq_id,
                   CAST((SUM(n_tokens) OVER w - n_tokens) % 512 AS BIGINT)
                       AS seq_offset
            FROM t
            WINDOW w AS (PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        # global rank over (md5-prefix hash, key) — the sharded two-phase
        # Spark rank collapses to one window here
        "sample_shuffle": """
            SELECT doc_id,
                   CAST(row_number() OVER (
                       ORDER BY CAST('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 8)
                                     AS BIGINT) ASC,
                                doc_id ASC) - 1 AS BIGINT) AS shuffle_pos
            FROM documents
        """,
        # chunk_tokens=64, overlap=8 -> stride 56; chunk adds new tokens
        # iff start=0 or start+overlap < n
        "chunk_documents": """
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS t FROM documents
            ), starts AS (
                SELECT doc_id, t, unnest(range(0, len(t), 56)) AS s FROM toks
            )
            SELECT doc_id, CAST(s / 56 AS BIGINT) AS chunk_id,
                   array_to_string(list_slice(t, s + 1, s + 64), ' ') AS chunk_text,
                   CAST(least(64, len(t) - s) AS BIGINT) AS n_tokens
            FROM starts WHERE s = 0 OR s + 8 < len(t)
        """,
        "cypher_multitype": f"""
            SELECT DISTINCT n FROM (
                SELECT CAST({REGION_OFF} + n_regionkey AS BIGINT) AS n FROM nation
                UNION ALL
                SELECT CAST({NATION_OFF} + c_nationkey AS BIGINT) FROM customer
                UNION ALL
                SELECT CAST({NATION_OFF} + s_nationkey AS BIGINT) FROM supplier
            )
        """,
        "cypher_untyped": f"""
            SELECT DISTINCT CAST({REGION_OFF} + n_regionkey AS BIGINT) AS r FROM nation
        """,
        "cypher_varlength": f"""
            WITH {EDGES_SQL_CTE.strip()},
            e AS (SELECT src, dst FROM graph_edges WHERE type IN ('PLACED', 'HAS_ITEM')),
            cust AS (SELECT {_CID} AS c FROM customer)
            SELECT DISTINCT c, x FROM (
                SELECT cust.c, e1.dst AS x
                FROM cust JOIN e e1 ON e1.src = cust.c
                UNION ALL
                SELECT cust.c, e2.dst
                FROM cust JOIN e e1 ON e1.src = cust.c JOIN e e2 ON e2.src = e1.dst
            )
        """,
        "cypher_prop_agg": """
            SELECT o_orderpriority AS prio, sum(l_quantity) AS sum_qty,
                   avg(l_quantity) AS avg_qty, min(l_quantity) AS min_qty,
                   max(l_quantity) AS max_qty, count(*) AS n_items
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """,
        "cypher_closure": f"""
            WITH RECURSIVE {EDGES_SQL_CTE.strip().rstrip()},
            reach(src, dst) AS (
                SELECT src, dst FROM graph_edges
                UNION
                SELECT r.src, e.dst FROM reach r JOIN graph_edges e ON e.src = r.dst
            )
            SELECT DISTINCT r.src AS c, r.dst AS x
            FROM reach r JOIN customer ON r.src = {_CID}
        """,
        "cypher_count_groups": f"""
            SELECT c, CAST(count(*) AS BIGINT) AS n_orders FROM (
                SELECT DISTINCT {_CID} AS c, {_OID} AS o
                FROM orders JOIN customer ON o_custkey = c_custkey
            ) GROUP BY c
        """,
        "cypher_edge_where": f"""
            SELECT DISTINCT CAST({ORDER_OFF} + l_orderkey AS BIGINT) AS o,
                   {_LID} AS l, CAST(l_linenumber AS BIGINT) AS w
            FROM lineitem WHERE l_linenumber >= 3
        """,
        "cypher_optional_where": f"""
            SELECT DISTINCT {_CID} AS c, CAST({ORDER_OFF} + o_orderkey AS BIGINT) AS o
            FROM customer LEFT JOIN orders
              ON o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
        """,
        "cypher_where_or": f"""
            SELECT DISTINCT {_OID} AS o
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_acctbal >= 5000 OR c_mktsegment = 'BUILDING'
        """,
        "cypher_where_cross": f"""
            SELECT DISTINCT {_CID} AS c, {_OID} AS o
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_acctbal >= 9000 OR o_totalprice >= 200000
        """,
        "cypher_multilabel": f"""
            SELECT DISTINCT {_CID} AS c, {_OID} AS o
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_acctbal > 5000
        """,
        "cypher_path_length": f"""
            WITH RECURSIVE {EDGES_SQL_CTE.strip().rstrip()},
            walk(src, dst, d) AS (
                SELECT e.src, e.dst, 1 FROM graph_edges e
                JOIN customer ON e.src = {_CID}
                UNION
                SELECT w.src, e.dst, w.d + 1
                FROM walk w JOIN graph_edges e ON e.src = w.dst
            )
            SELECT src AS c, dst AS x, CAST(min(d) AS BIGINT) AS len
            FROM walk GROUP BY src, dst
        """,
        "graph_bfs": f"""
            WITH RECURSIVE {EDGES_SQL_CTE.strip().rstrip()},
            walk(id, d) AS (
                SELECT CAST({BFS_START} AS BIGINT), CAST(0 AS BIGINT)
                UNION ALL
                SELECT e.dst, w.d + 1
                FROM walk w JOIN graph_edges e ON e.src = w.id
                WHERE w.d < 12
            )
            SELECT id, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY id
        """,
        "graph_sssp": f"""
            WITH RECURSIVE {EDGES_SQL_CTE.strip().rstrip()},
            walk(id, d) AS (
                SELECT CAST({BFS_START} AS BIGINT), CAST(0 AS BIGINT)
                UNION ALL
                SELECT e.dst, w.d + e.weight
                FROM walk w JOIN graph_edges e ON e.src = w.id
                WHERE w.d < 100
            )
            SELECT id, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY id
        """,
        "graph_pagerank": _pagerank_oracle(),
        "graph_ppr": _ppr_oracle(
            f"SELECT CAST({SUPPLIER_OFF} + s_suppkey AS BIGINT) AS id FROM supplier"
        ),
        "graph_components": _components_oracle(),
        "graph_triangles": """
            WITH pairs AS (
                SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
                FROM lineitem l1 JOIN lineitem l2
                  ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
            )
            SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM pairs e1
            JOIN pairs e2 ON e1.b = e2.a
            JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
        """,
        "graph_assortativity": """
            WITH pairs AS (
                SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
                FROM lineitem l1 JOIN lineitem l2
                  ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
            ),
            sym AS (
                SELECT a AS s, b AS d FROM pairs
                UNION ALL SELECT b AS s, a AS d FROM pairs
            ),
            deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY s),
            ends AS (
                SELECT dx.deg AS x, dy.deg AS y
                FROM sym JOIN deg dx ON sym.s = dx.s JOIN deg dy ON sym.d = dy.s
            ),
            agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                       CAST(sum(x * y) AS BIGINT) AS sxy,
                       CAST(sum(x * x) AS BIGINT) AS sxx,
                       CAST(sum(y * y) AS BIGINT) AS syy
                FROM ends
            )
            SELECT n AS n_ends,
                   floor((CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                               AND  (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                          THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                               / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                               / sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                          END) * 1000000000 + 0.5) / 1000000000 AS r
            FROM agg
        """,
        # round-8: Newman r per (srcLabel, dstLabel) stratum over the
        # directed TPC-H graph; labels recovered from the id offsets
        "graph_assort_label": f"""
            WITH {EDGES_SQL_CTE.strip()},
            deg AS (
                SELECT s, CAST(count(*) AS BIGINT) AS deg FROM (
                    SELECT src AS s FROM graph_edges
                    UNION ALL SELECT dst AS s FROM graph_edges
                ) GROUP BY s
            ),
            lbl(bucket, label) AS (
                VALUES (1, 'Region'), (2, 'Nation'), (3, 'Customer'),
                       (4, 'Supplier'), (5, 'Part'), (6, 'Order'),
                       (7, 'Lineitem')
            ),
            ends AS (
                SELECT ls.label AS src_label, ld.label AS dst_label,
                       dx.deg AS x, dy.deg AS y
                FROM graph_edges e
                JOIN deg dx ON e.src = dx.s
                JOIN deg dy ON e.dst = dy.s
                JOIN lbl ls ON CAST(floor(e.src / 1000000000000) AS INT) = ls.bucket
                JOIN lbl ld ON CAST(floor(e.dst / 1000000000000) AS INT) = ld.bucket
            ),
            agg AS (
                SELECT src_label, dst_label,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                       CAST(sum(x * y) AS BIGINT) AS sxy,
                       CAST(sum(x * x) AS BIGINT) AS sxx,
                       CAST(sum(y * y) AS BIGINT) AS syy
                FROM ends GROUP BY src_label, dst_label
            )
            SELECT src_label, dst_label, n AS n_edges,
                   floor((CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                               AND  (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                          THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                               / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                               / sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                          END) * 1000000000 + 0.5) / 1000000000 AS r
            FROM agg
        """,
        "graph_clustering": """
            WITH pairs AS (
                SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
                FROM lineitem l1 JOIN lineitem l2
                  ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
            ),
            tri AS (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM pairs e1
                JOIN pairs e2 ON e1.b = e2.a
                JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
            ),
            corners AS (
                SELECT x AS id FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri
            ),
            tcnt AS (SELECT id, count(*) AS tri FROM corners GROUP BY id),
            deg AS (
                SELECT id, count(*) AS deg FROM (
                    SELECT a AS id FROM pairs UNION ALL SELECT b FROM pairs
                ) GROUP BY id
            )
            SELECT d.id, CAST(d.deg AS BIGINT) AS deg,
                   CAST(COALESCE(t.tri, 0) AS BIGINT) AS n_tri,
                   floor((CASE WHEN d.deg >= 2
                          THEN CAST(2 * COALESCE(t.tri, 0) AS DOUBLE)
                               / CAST(d.deg * (d.deg - 1) AS DOUBLE)
                          ELSE 0.0 END) * 1000000000 + 0.5) / 1000000000 AS cc
            FROM deg d LEFT JOIN tcnt t ON d.id = t.id
        """,
        "mxm_plus_times": """
            WITH a AS (SELECT l_orderkey AS i, l_partkey AS k, sum(l_quantity) AS v
                       FROM lineitem GROUP BY 1, 2),
                 b AS (SELECT l_partkey AS k, l_suppkey AS j, sum(l_quantity) AS v
                       FROM lineitem GROUP BY 1, 2)
            SELECT a.i, b.j, floor(sum(a.v * b.v) * 100 + 0.5) / 100 AS v
            FROM a JOIN b USING (k) GROUP BY a.i, b.j
        """,
        "mxm_kron": """
            WITH a AS (SELECT l_orderkey AS i, l_partkey AS j, sum(l_quantity) AS v
                       FROM lineitem GROUP BY 1, 2),
                 b(i, j, v) AS (VALUES (0, 0, 1.0), (0, 1, 2.0), (1, 1, 3.0))
            SELECT a.i * 2 + b.i AS i, a.j * 2 + b.j AS j,
                   floor((a.v * b.v) * 100 + 0.5) / 100 AS v
            FROM a, b
        """,
        "mxm_any_pair": """
            WITH a AS (SELECT DISTINCT l_orderkey AS i, l_partkey AS k FROM lineitem),
                 b AS (SELECT DISTINCT l_partkey AS k, l_suppkey AS j FROM lineitem)
            SELECT DISTINCT a.i, b.j, TRUE AS v FROM a JOIN b USING (k)
        """,
        "mxm_masked": """
            WITH a AS (SELECT l_orderkey AS i, l_partkey AS k, sum(l_quantity) AS v
                       FROM lineitem GROUP BY 1, 2),
                 b AS (SELECT l_partkey AS k, l_suppkey AS j, sum(l_quantity) AS v
                       FROM lineitem GROUP BY 1, 2),
                 m AS (SELECT DISTINCT l_orderkey AS i, l_suppkey AS j FROM lineitem)
            SELECT p.i, p.j, p.v FROM (
                SELECT a.i, b.j, floor(sum(a.v * b.v) * 100 + 0.5) / 100 AS v
                FROM a JOIN b USING (k) GROUP BY a.i, b.j
            ) p SEMI JOIN m ON p.i = m.i AND p.j = m.j
        """,
        "ewise_union_plus": """
            WITH e AS (SELECT l_orderkey AS i, l_partkey AS j, sum(l_quantity) AS v
                       FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01' GROUP BY 1, 2),
                 l AS (SELECT l_orderkey AS i, l_partkey AS j, sum(l_quantity) AS v
                       FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01' GROUP BY 1, 2)
            SELECT COALESCE(e.i, l.i) AS i, COALESCE(e.j, l.j) AS j,
                   floor((CASE WHEN e.v IS NULL THEN l.v
                              WHEN l.v IS NULL THEN e.v
                              ELSE e.v + l.v END) * 100 + 0.5) / 100 AS v
            FROM e FULL OUTER JOIN l ON e.i = l.i AND e.j = l.j
        """,
        "ewise_intersect_min": """
            WITH e AS (SELECT l_orderkey AS i, l_partkey AS j, sum(l_quantity) AS v
                       FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01' GROUP BY 1, 2),
                 l AS (SELECT l_orderkey AS i, l_partkey AS j, sum(l_quantity) AS v
                       FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01' GROUP BY 1, 2)
            SELECT e.i, e.j, floor(least(e.v, l.v) * 100 + 0.5) / 100 AS v
            FROM e JOIN l ON e.i = l.i AND e.j = l.j
        """,
        "reduce_rows_plus": """
            WITH a AS (SELECT l_orderkey AS i, l_partkey AS k, sum(l_quantity) AS v
                       FROM lineitem GROUP BY 1, 2)
            SELECT i, floor(sum(v) * 100 + 0.5) / 100 AS v FROM a GROUP BY i
        """,
        "reduce_cols_max": """
            WITH a AS (SELECT l_orderkey AS i, l_partkey AS k, sum(l_quantity) AS v
                       FROM lineitem GROUP BY 1, 2)
            SELECT k AS i, floor(max(v) * 100 + 0.5) / 100 AS v FROM a GROUP BY k
        """,
        "extract_strided": """
            WITH a AS (SELECT l_orderkey AS i, l_partkey AS k, sum(l_quantity) AS v
                       FROM lineitem GROUP BY 1, 2)
            SELECT CAST((i - 100) / 3 AS BIGINT) AS i, CAST(k AS BIGINT) AS j,
                   floor(v * 100 + 0.5) / 100 AS v
            FROM a WHERE i BETWEEN 100 AND 499 AND (i - 100) % 3 = 0
        """,
        "grb_select_apply_reduce": """
            WITH a AS (SELECT l_orderkey AS i, l_partkey AS j, sum(l_quantity) AS v
                       FROM lineitem GROUP BY 1, 2)
            SELECT i, floor(sum(-v) * 100 + 0.5) / 100 AS v
            FROM a WHERE i <= j AND v > 25 GROUP BY i
        """,
        "grb_assign_extract": """
            WITH a AS (SELECT l_orderkey AS i, l_partkey AS j, sum(l_quantity) AS v
                       FROM lineitem GROUP BY 1, 2),
            sub AS (
                SELECT i - 1 AS i, j - 1 AS j, -v AS v
                FROM a WHERE i BETWEEN 1 AND 100 AND j BETWEEN 1 AND 100
            ),
            b AS (
                SELECT i, j, v FROM a
                WHERE NOT (i BETWEEN 101 AND 200 AND j BETWEEN 1 AND 100)
                UNION ALL
                SELECT i + 101, j + 1, v FROM sub
            )
            SELECT i - 90 AS i, j, floor(v * 100 + 0.5) / 100 AS v
            FROM b WHERE i BETWEEN 90 AND 210
        """,
        "vxm_masked": """
            WITH x AS (SELECT o_orderkey AS k, CAST(1 AS BIGINT) AS xv
                       FROM orders WHERE o_orderdate < TIMESTAMP '1997-06-01'),
                 a AS (SELECT l_orderkey AS k, l_partkey AS j, sum(l_quantity) AS v
                       FROM lineitem GROUP BY 1, 2),
                 y AS (SELECT a.j AS i, sum(x.xv * a.v) AS v
                       FROM a JOIN x USING (k) GROUP BY a.j)
            SELECT y.i, floor(y.v * 100 + 0.5) / 100 AS v
            FROM y SEMI JOIN (SELECT p_partkey FROM part WHERE p_size >= 25) m
              ON y.i = m.p_partkey
        """,
        "rel_q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty,
                   floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS sum_base_price,
                   floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS sum_disc_price,
                   floor(avg(l_quantity) * 10000 + 0.5) / 10000 AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "rel_top_orders": """
            SELECT o_orderkey, o_orderpriority,
                   floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderkey, o_orderpriority
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "rel_supplier_rank": """
            WITH rev AS (
                SELECT s_nationkey, s_suppkey,
                       floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
                FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                GROUP BY s_nationkey, s_suppkey
            )
            SELECT s_nationkey, s_suppkey, revenue,
                   CAST(row_number() OVER (PARTITION BY s_nationkey
                        ORDER BY revenue DESC, s_suppkey ASC) AS BIGINT) AS rnk
            FROM rev
        """,
        "rel_q3_shipping": """
            SELECT l_orderkey, o_orderpriority,
                   floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1996-06-30'
              AND l_shipdate > TIMESTAMP '1996-06-30'
            GROUP BY l_orderkey, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "rel_q5_local_volume": """
            SELECT n_name,
                   floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "rel_q2_min_cost": """
            WITH supp_eu AS (
                SELECT s_suppkey, s_name, n_name
                FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
            ),
            cost AS (
                SELECT l_partkey AS partkey, p_type AS ptype,
                       s_suppkey AS suppkey, s_name AS sname, n_name AS nname,
                       avg(l_extendedprice / l_quantity) AS unit_cost
                FROM lineitem
                JOIN part ON l_partkey = p_partkey AND p_size >= 30
                JOIN supp_eu ON l_suppkey = s_suppkey
                WHERE l_quantity > 0
                GROUP BY 1, 2, 3, 4, 5
            )
            SELECT partkey, ptype, suppkey, sname, nname,
                   floor(unit_cost * 10000 + 0.5) / 10000 AS unit_cost
            FROM (SELECT *, min(unit_cost) OVER (PARTITION BY partkey) AS mc FROM cost)
            WHERE unit_cost = mc
        """,
        "rel_q7_volume": """
            SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
               OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
            GROUP BY 1, 2, 3
        """,
        "rel_q8_market_share": """
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   floor(sum(CASE WHEN sn.n_name = 'NATION_3'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                         / sum(l_extendedprice * (1 - l_discount)) * 1000000 + 0.5)
                       / 1000000 AS mkt_share
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            SEMI JOIN (
                SELECT c_custkey FROM customer
                JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
            ) ac ON o_custkey = ac.c_custkey
            GROUP BY 1
        """,
        "rel_q9_profit": """
            SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   floor(sum(l_extendedprice * (1 - l_discount)
                             - 0.5 * p_retailprice * l_quantity) * 1 + 0.5) / 1
                       AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1, 2
        """,
        "rel_q11_important_stock": """
            WITH value AS (
                SELECT l_partkey AS partkey, sum(l_extendedprice) AS val
                FROM lineitem
                SEMI JOIN (
                    SELECT s_suppkey FROM supplier
                    JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_0'
                ) s ON l_suppkey = s.s_suppkey
                GROUP BY 1
            )
            SELECT partkey, floor(val * 100 + 0.5) / 100 AS val
            FROM value
            WHERE val > (SELECT sum(val) * 0.001 FROM value)
        """,
        "rel_q13_order_dist": """
            SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
            FROM (
                SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
                FROM customer
                LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
                           WHERE o_orderpriority <> '1-URGENT') o
                  ON c_custkey = o.o_custkey
                GROUP BY c_custkey
            )
            GROUP BY c_count
        """,
        "rel_q14_promo": """
            SELECT floor(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                          THEN l_extendedprice * (1 - l_discount)
                                          ELSE 0.0 END)
                         / sum(l_extendedprice * (1 - l_discount)) * 1000000 + 0.5)
                       / 1000000 AS promo_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
        """,
        "rel_q15_top_supplier": """
            WITH rev AS (
                SELECT l_suppkey,
                       floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100
                           AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1996-04-01'
                GROUP BY 1
            )
            SELECT l_suppkey AS suppkey, s_name AS sname, total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        """,
        "rel_q16_supplier_cnt": """
            SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
                   CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand NOT IN ('Brand#1', 'Brand#2')
              AND p_size IN (1, 4, 9, 16, 25, 36, 49)
            GROUP BY 1, 2, 3
        """,
        "rel_q17_small_qty": """
            WITH li AS (
                SELECT l_partkey, l_quantity, l_extendedprice
                FROM lineitem
                SEMI JOIN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#3') p
                  ON l_partkey = p.p_partkey
            ),
            avg_q AS (
                SELECT l_partkey AS ak, avg(l_quantity) * 0.5 AS cutoff
                FROM li GROUP BY 1
            )
            SELECT floor(sum(l_extendedprice) / 7.0 * 100 + 0.5) / 100 AS avg_yearly
            FROM li JOIN avg_q ON l_partkey = ak
            WHERE l_quantity < cutoff
        """,
        "rel_q18_large_orders": """
            SELECT c_name AS cname, c_custkey AS custkey, o_orderkey AS orderkey,
                   o_totalprice AS totalprice,
                   floor(sum_qty * 100 + 0.5) / 100 AS sum_qty
            FROM (
                SELECT l_orderkey, sum(l_quantity) AS sum_qty
                FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250
            ) big
            JOIN orders ON o_orderkey = big.l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY totalprice DESC, orderkey ASC
            LIMIT 100
        """,
        "rel_q19_disjunctive": """
            SELECT floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100
                       AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#10' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "rel_q20_part_share": """
            WITH li96 AS (
                SELECT l_partkey, l_suppkey, l_quantity
                FROM lineitem
                SEMI JOIN (SELECT p_partkey FROM part WHERE p_size = 1) p
                  ON l_partkey = p.p_partkey
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1997-01-01'
            ),
            per_part AS (
                SELECT l_partkey AS tk, sum(l_quantity) * 0.5 AS half_qty
                FROM li96 GROUP BY 1
            ),
            heavy AS (
                SELECT DISTINCT s.l_suppkey
                FROM (SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
                      FROM li96 GROUP BY 1, 2) s
                JOIN per_part ON s.l_partkey = tk
                WHERE supp_qty > half_qty
            )
            SELECT s_suppkey AS suppkey, s_name AS sname
            FROM supplier
            SEMI JOIN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_0') n
              ON s_nationkey = n.n_nationkey
            SEMI JOIN heavy ON s_suppkey = heavy.l_suppkey
        """,
        "rel_q21_waiting": """
            WITH os AS (
                SELECT l_orderkey, l_suppkey,
                       max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
                FROM lineitem GROUP BY 1, 2
            ),
            multi AS (
                SELECT l_orderkey, count(*) AS n_supp, sum(ret) AS n_ret
                FROM os GROUP BY 1
            )
            SELECT s_suppkey AS suppkey, s_name AS sname,
                   CAST(count(*) AS BIGINT) AS numwait
            FROM os
            SEMI JOIN (SELECT l_orderkey FROM multi
                       WHERE n_supp >= 2 AND n_ret = 1) m
              ON os.l_orderkey = m.l_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            SEMI JOIN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_0') n
              ON s_nationkey = n.n_nationkey
            WHERE ret = 1
            GROUP BY 1, 2
        """,
        "rel_q22_idle_cust": """
            SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
                   CAST(count(*) AS BIGINT) AS numcust,
                   floor(sum(c_acctbal) * 100 + 0.5) / 100 AS totacctbal
            FROM customer
            ANTI JOIN (SELECT o_custkey FROM orders
                       WHERE o_orderdate >= TIMESTAMP '2000-01-01') o
              ON c_custkey = o.o_custkey
            WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
            GROUP BY 1
        """,
        "dedup_incremental": f"""
            WITH {_SHINGLES},
            sig AS (SELECT doc_id, {{minhash_aggs}} FROM sh GROUP BY doc_id),
            bands AS ({{band_rows}}),
            dup AS (
                SELECT DISTINCT n.doc_id FROM bands n
                SEMI JOIN (SELECT DISTINCT band, key FROM bands WHERE doc_id < 250) c
                  ON n.band = c.band AND n.key = c.key
                WHERE n.doc_id >= 250
            )
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM dup)
        """.format(minhash_aggs=minhash_aggs, band_rows=band_rows),
        "text_repetition": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            base AS (
                SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                       CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct
                FROM toks
            ),
            tokc AS (
                SELECT doc_id, u.g, count(*) AS c
                FROM toks, unnest(t) AS u(g) GROUP BY 1, 2
            ),
            toptok AS (SELECT doc_id, max(c) AS top_tok FROM tokc GROUP BY 1),
            bic AS (
                SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g, count(*) AS c
                FROM toks, unnest(generate_series(1, len(t)-1)) AS u(i)
                WHERE len(t) >= 2
                GROUP BY 1, 2
            ),
            topbi AS (SELECT doc_id, max(c) AS top_bi FROM bic GROUP BY 1)
            SELECT b.doc_id, b.n_tokens,
                   floor((CASE WHEN n_tokens > 0 THEN n_distinct * 1.0 / n_tokens ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS distinct_ratio,
                   floor((CASE WHEN n_tokens > 0 THEN COALESCE(top_tok, 0) * 1.0 / n_tokens ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS top_token_ratio,
                   floor((CASE WHEN n_tokens > 1 THEN COALESCE(top_bi, 0) * 1.0 / (n_tokens - 1) ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS top_bigram_ratio
            FROM base b
            LEFT JOIN toptok USING (doc_id)
            LEFT JOIN topbi USING (doc_id)
        """,
        "text_decontaminate": f"""
            WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
            g AS (
                SELECT doc_id, source, array_to_string(t[i:i+3], ' ') AS g
                FROM toks, unnest(generate_series(1, len(t)-3)) AS u(i)
                WHERE len(t) >= 4
            ),
            bench AS (SELECT DISTINCT g FROM g WHERE source = 'src19'),
            hits AS (
                SELECT DISTINCT doc_id FROM g
                WHERE source <> 'src19' AND g IN (SELECT g FROM bench)
            )
            SELECT doc_id, doc_id IN (SELECT doc_id FROM hits) AS contaminated
            FROM documents WHERE source <> 'src19'
        """,
        "text_bm25": _bm25_oracle(["spark", "table", "query"]),
        "rel_quantiles": """
            SELECT l_returnflag AS returnflag,
                   quantile_cont(l_extendedprice, 0.5) AS p50,
                   quantile_cont(l_extendedprice, 0.9) AS p90,
                   floor(stddev_samp(l_extendedprice) * 10000 + 0.5) / 10000 AS sd_price,
                   floor(corr(l_quantity, l_extendedprice) * 1000000 + 0.5) / 1000000 AS corr_qty_price
            FROM lineitem GROUP BY 1
        """,
        "graph_kcore": _kcore_oracle(80),
        "graph_lpa": _lpa_oracle(3),
        "graph_hits": _hits_oracle(3),
        "graph_wpagerank": _wpagerank_oracle(),
        "graph_harmonic": f"""
            WITH RECURSIVE {EDGES_SQL_CTE.strip().rstrip()},
            walk(id, d) AS (
                SELECT CAST({BFS_START} AS BIGINT), CAST(0 AS BIGINT)
                UNION ALL
                SELECT e.dst, w.d + 1
                FROM walk w JOIN graph_edges e ON e.src = w.id
                WHERE w.d < 12
            ),
            dist AS (SELECT id, min(d) AS d FROM walk GROUP BY id)
            SELECT floor(sum(1.0 / d) * 1000000000 + 0.5) / 1000000000 AS harmonic,
                   CAST(count(*) AS BIGINT) AS n_reachable
            FROM dist WHERE d > 0
        """,
        # the jaccard oracle's inverted-index join with a 1/deg(nb)
        # weight attached to the index rows (explicit DOUBLE so DuckDB
        # does not fall into DECIMAL arithmetic)
        "graph_resource_alloc": """
            WITH pairs AS (
                SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
                FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
                WHERE l1.l_partkey < l2.l_partkey
            ),
            sym AS (SELECT a AS n, b AS x FROM pairs UNION ALL SELECT b, a FROM pairs),
            deg AS (SELECT n, count(*) AS deg FROM sym GROUP BY 1),
            inv AS (
                SELECT sym.x AS nb, sym.n AS node,
                       CAST(1 AS DOUBLE) / d.deg AS w
                FROM sym JOIN deg d ON d.n = sym.x
            )
            SELECT l.node AS x, r.node AS y, CAST(count(*) AS BIGINT) AS shared,
                   floor(sum(l.w) * 1000000 + 0.5) / 1000000 AS score
            FROM inv l JOIN inv r ON l.nb = r.nb AND l.node < r.node
            GROUP BY 1, 2 HAVING count(*) >= 22
        """,
        "graph_link_jaccard": """
            WITH pairs AS (
                SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
                FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
                WHERE l1.l_partkey < l2.l_partkey
            ),
            sym AS (SELECT a AS n, b AS x FROM pairs UNION ALL SELECT b, a FROM pairs),
            inv AS (SELECT x AS nb, n AS node FROM sym),
            shared AS (
                SELECT l.node AS x, r.node AS y, CAST(count(*) AS BIGINT) AS shared
                FROM inv l JOIN inv r ON l.nb = r.nb AND l.node < r.node
                GROUP BY 1, 2
            ),
            deg AS (SELECT n, count(*) AS deg FROM sym GROUP BY 1)
            SELECT x, y, shared,
                   floor((shared * 1.0 / (dx.deg + dy.deg - shared)) * 1000000 + 0.5) / 1000000 AS jaccard
            FROM shared s
            JOIN deg dx ON dx.n = s.x
            JOIN deg dy ON dy.n = s.y
            WHERE shared * 1.0 / (dx.deg + dy.deg - shared) >= 0.08
        """,
        "graph_degree_hist": f"""
            WITH {EDGES_SQL_CTE.strip()},
            deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
                    FROM graph_edges GROUP BY 1)
            SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY 1
        """,
        "events_enrich": """
            SELECT event_id, user_id, event_type,
                   c_mktsegment AS segment, CAST(c_nationkey AS BIGINT) AS nationkey
            FROM events JOIN customer ON user_id = c_custkey
        """,
        "events_trending": """
            WITH counts AS (
                SELECT date_trunc('hour', ts) AS window_start, event_type,
                       count(*) AS n
                FROM events GROUP BY 1, 2
            )
            SELECT window_start, event_type, n, rnk FROM (
                SELECT *, CAST(row_number() OVER (
                    PARTITION BY window_start ORDER BY n DESC, event_type ASC
                ) AS BIGINT) AS rnk
                FROM counts
            ) WHERE rnk <= 3
        """,
        "events_anomalies": """
            WITH counts AS (
                SELECT date_trunc('hour', ts) AS window_start, event_type,
                       CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2
            ),
            stats AS (
                SELECT event_type, avg(n) AS mean_n, stddev_samp(n) AS sd_n
                FROM counts GROUP BY 1
            )
            SELECT window_start, c.event_type, n,
                   floor(((n - mean_n) / sd_n) * 10000 + 0.5) / 10000 AS z
            FROM counts c JOIN stats s ON c.event_type = s.event_type
            WHERE sd_n > 0 AND abs((n - mean_n) / sd_n) >= 2.0
        """,
        "events_json_props": """
            SELECT event_type,
                   CAST(count(k) AS BIGINT) AS n_with_k,
                   CAST(sum(k) AS BIGINT) AS sum_k,
                   CAST(min(k) AS BIGINT) AS min_k,
                   CAST(max(k) AS BIGINT) AS max_k
            FROM (SELECT event_type,
                         CAST(json_extract(props, '$.k') AS INT) AS k
                  FROM events)
            GROUP BY 1
        """,
        "cypher_expr_revenue": f"""
            SELECT CAST({ORDER_OFF} + l_orderkey AS BIGINT) AS o,
                   sum(l_extendedprice * (1 - l_discount)) AS rev
            FROM lineitem GROUP BY 1
        """,
        "cypher_expr_return": f"""
            SELECT {_CID} AS c, c_acctbal / 2 + 10 AS half
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE n_name = 'NATION_2'
        """,
        "cypher_case_priority": f"""
            SELECT {_CID} AS c,
                   CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                            THEN 1 ELSE 0 END) AS DOUBLE) AS urgent
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """,
        "cypher_string_fns": f"""
            SELECT lower(c_mktsegment) AS seg,
                   CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_cust
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
            GROUP BY 1
        """,
        "cypher_expr_cross": f"""
            SELECT DISTINCT {_CID} AS c, {_OID} AS o
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE o_totalprice / 100 > c_acctbal
        """,
        "cypher_expr_where": f"""
            SELECT DISTINCT CAST({ORDER_OFF} + l_orderkey AS BIGINT) AS o, {_LID} AS l
            FROM lineitem
            WHERE l_extendedprice * (1 - l_discount) > 90000
        """,
        "cypher_union": f"""
            SELECT {_CID} AS c
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE n_name = 'NATION_1'
            UNION
            SELECT {_CID} AS c FROM customer WHERE c_acctbal >= 9000
        """,
        "cypher_unwind": f"""
            SELECT DISTINCT CAST({REGION_OFF} + n_regionkey AS BIGINT) AS r,
                   CAST(k AS BIGINT) AS k
            FROM nation, (VALUES (1), (2), (3)) t(k)
        """,
        "text_token_count": f"""
            SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
        """,
        # same pattern, same engine semantics — whitespace as an
        # EXPLICIT class because Python/Java \\s includes \\x0B and
        # RE2's does not (round-12 review; re-verified identical across
        # all three engines on \\x0B/\\x1c-bearing inputs)
        "text_token_bpe": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(
                       text,
                       ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\f\r]+|[ \t\n\f\r]+'
                   )) AS BIGINT) AS n_tokens
            FROM documents
        """,
        # exact-integer sums + one double division + interpolated
        # percentile — engine-reproducible without rounding
        "pipeline_corpus_report": f"""
            WITH t AS (
                SELECT source, CAST(len({_TOKS}) AS BIGINT) AS nt,
                       CAST(length(text) AS BIGINT) AS nc
                FROM documents
            )
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(nt) AS BIGINT) AS total_tokens,
                   CAST(sum(nc) AS BIGINT) AS total_chars,
                   CAST(sum(nt) AS DOUBLE) / count(*) AS mean_tokens,
                   quantile_cont(nt, 0.5) AS median_tokens,
                   CAST(min(nt) AS BIGINT) AS min_tokens,
                   CAST(max(nt) AS BIGINT) AS max_tokens
            FROM t GROUP BY source
        """,
        # round-7 mix design: target = total * weight/Σweights as the
        # SAME double ops the engine runs (ints × double division);
        # rate = min(1, target/available) over the exact token sums
        "pipeline_token_rates": f"""
            WITH avail AS (
                SELECT source, CAST(sum(len({_TOKS})) AS BIGINT) AS available_tokens
                FROM documents WHERE source IN ('src1', 'src2', 'src3')
                GROUP BY source
            ), w(source, wt) AS (VALUES ('src1', 1.0), ('src2', 8.0), ('src3', 1.0))
            SELECT a.source, a.available_tokens,
                   CAST(4000 * (CAST(wt AS DOUBLE) / CAST(10.0 AS DOUBLE)) AS DOUBLE) AS target_tokens,
                   LEAST(CAST(1.0 AS DOUBLE),
                         CAST(4000 * (CAST(wt AS DOUBLE) / CAST(10.0 AS DOUBLE)) AS DOUBLE)
                         / CAST(a.available_tokens AS DOUBLE)) AS rate
            FROM avail a JOIN w ON a.source = w.source
        """,
        # the sampler threshold is floor(rate * 16^8) over the identical
        # IEEE rate, so the kept set matches the engine bit-for-bit
        "pipeline_token_budget": f"""
            WITH avail AS (
                SELECT source, CAST(sum(len({_TOKS})) AS BIGINT) AS available_tokens
                FROM documents WHERE source IN ('src1', 'src2', 'src3')
                GROUP BY source
            ), w(source, wt) AS (VALUES ('src1', 1.0), ('src2', 8.0), ('src3', 1.0)),
            r AS (
                SELECT a.source,
                       LEAST(CAST(1.0 AS DOUBLE),
                             CAST(4000 * (CAST(wt AS DOUBLE) / CAST(10.0 AS DOUBLE)) AS DOUBLE)
                             / CAST(a.available_tokens AS DOUBLE)) AS rate
                FROM avail a JOIN w ON a.source = w.source
            )
            SELECT d.doc_id, d.source
            FROM documents d JOIN r ON d.source = r.source
            WHERE CAST('0x' || substr(md5('11:' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                  < CAST(FLOOR(rate * 4294967296.0) AS BIGINT)
        """,
        "text_quality": f"""
            WITH t AS (
                SELECT doc_id,
                       CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                       CAST(len(list_filter({_TOKS}, x -> list_contains({_STOPLIST}, x))) AS BIGINT) AS n_stop,
                       CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
                       CAST(list_aggregate(list_transform({_TOKS}, x -> len(x)), 'sum') AS BIGINT) AS tok_chars
                FROM documents
            )
            SELECT doc_id, n_tokens, n_punct,
                   floor((CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0.0 END) * 10000 + 0.5) / 10000 AS stop_ratio,
                   floor((CASE WHEN n_tokens > 0 THEN tok_chars * 1.0 / n_tokens ELSE 0.0 END) * 10000 + 0.5) / 10000 AS mean_tok_len,
                   floor((0.4 * least(n_tokens / 100.0, 1.0)
                       + 0.3 * (1.0 - CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0.0 END)
                       + 0.3 * least((CASE WHEN n_tokens > 0 THEN tok_chars * 1.0 / n_tokens ELSE 0.0 END) / 8.0, 1.0)) * 10000 + 0.5) / 10000 AS quality
            FROM t
        """,
        "text_lang_id": f"""
            WITH s AS (SELECT doc_id, text, {lang_best} AS best FROM documents)
            SELECT doc_id, CASE WHEN best <= 0 THEN 'und' {lang_cases} END AS pred_lang
            FROM s
        """,
        "text_fingerprint": f"""
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fp
            FROM documents
        """,
        "pipeline_curate": curate_sql,
        # curate -> stratified sample -> pack: the training-mix manifest
        "pipeline_pretrain_mix": f"""
            WITH kept AS (
                SELECT doc_id FROM ({curate_sql})
            ),
            sampled AS (
                SELECT d.doc_id, d.text
                FROM documents d JOIN kept USING (doc_id)
                WHERE CAST('0x' || substr(md5('7:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
                           AS BIGINT)
                    < CASE d.source
                        WHEN 'src0' THEN {SM.sample_threshold(1.0)}
                        WHEN 'src1' THEN {SM.sample_threshold(0.3)}
                        ELSE {SM.sample_threshold(0.7)}
                      END
            ),
            t AS (
                SELECT doc_id,
                       CAST('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8)
                            AS BIGINT) % 4 AS shard,
                       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                            AS BIGINT) AS n_tokens
                FROM sampled
            )
            SELECT doc_id, shard, n_tokens,
                   CAST(FLOOR((SUM(n_tokens) OVER w - n_tokens) / 512) AS BIGINT)
                       AS seq_id,
                   CAST((SUM(n_tokens) OVER w - n_tokens) % 512 AS BIGINT)
                       AS seq_offset
            FROM t
            WINDOW w AS (PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        # round-16 debut: DSIR importance weights — the oracle rebuilds
        # the SAME hashed-unigram bucket distributions (md5 bucketing is
        # byte-identical across engines), the add-1-smoothed log-ratio
        # per bucket, and the per-document score sum; ln is the single
        # transcendental, rounded at the gate boundary like
        # graph_harmonic
        "pipeline_dsir": f"""
            WITH raw_tok AS (
                SELECT doc_id, u.tok
                FROM (SELECT doc_id, {_TOKS} AS ts FROM documents),
                unnest(ts) AS u(tok)
            ),
            tgt_tok AS (
                SELECT u.tok
                FROM (SELECT {_TOKS} AS ts FROM documents WHERE lang = 'en'),
                unnest(ts) AS u(tok)
            ),
            rawb AS (SELECT {_DSIR_BUCKET} AS bucket, count(*) AS r_n
                     FROM raw_tok GROUP BY 1),
            tgtb AS (SELECT {_DSIR_BUCKET} AS bucket, count(*) AS t_n
                     FROM tgt_tok GROUP BY 1),
            rt AS (SELECT sum(r_n) AS rt FROM rawb),
            tt AS (SELECT sum(t_n) AS tt FROM tgtb),
            ratio AS (
                SELECT rawb.bucket,
                       ln((coalesce(t_n, 0) + 1.0) / (tt + {DSIR_BUCKETS}.0))
                       - ln((r_n + 1.0) / (rt + {DSIR_BUCKETS}.0)) AS lr
                FROM rawb LEFT JOIN tgtb ON rawb.bucket = tgtb.bucket, rt, tt
            ),
            docb AS (
                SELECT doc_id, {_DSIR_BUCKET} AS bucket, count(*) AS c
                FROM raw_tok GROUP BY 1, 2
            )
            SELECT d.doc_id, CAST(sum(c) AS BIGINT) AS n_feat,
                   floor(sum(c * lr) * 1000000 + 0.5) / 1000000 AS log_weight
            FROM docb d JOIN ratio r ON d.bucket = r.bucket
            GROUP BY 1
        """,
        "text_doc_freq": f"""
            WITH tok AS (
                SELECT DISTINCT doc_id, unnest({_TOKS}) AS token FROM documents
            ),
            n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
            SELECT token, count(*) AS df,
                   floor(count(*) * 1.0 / n.n * 1000000 + 0.5) / 1000000 AS df_ratio
            FROM tok, n
            GROUP BY token, n.n
            HAVING count(*) >= 2
        """,
        "dedup_exact": """
            SELECT md5(text) AS digest, min(doc_id) AS rep_id, count(*) AS n_dups
            FROM documents GROUP BY md5(text)
        """,
        "dedup_ngram_jaccard": f"""
            WITH {_SHINGLES},
            sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT a, b, floor((n * 1.0 / (za.c + zb.c - n)) * 10000 + 0.5) / 10000 AS jaccard
            FROM inter JOIN sz za ON a = za.doc_id JOIN sz zb ON b = zb.doc_id
            WHERE n * 1.0 / (za.c + zb.c - n) >= 0.3
        """,
        "dedup_clusters": _dedup_clusters_oracle(minhash_aggs, band_rows),
        "dedup_minhash_lsh": f"""
            WITH {_SHINGLES},
            sig AS (SELECT doc_id, {minhash_aggs} FROM sh GROUP BY doc_id),
            bands AS ({band_rows})
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key
            WHERE l.doc_id < r.doc_id
        """,
        # leakage matrix: the minhash pair query joined back to sources
        "dedup_cross_source": f"""
            WITH {_SHINGLES},
            sig AS (SELECT doc_id, {minhash_aggs} FROM sh GROUP BY doc_id),
            bands AS ({band_rows}),
            pairs AS (
                SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key
                WHERE l.doc_id < r.doc_id
            )
            SELECT least(da.source, db.source) AS src_a,
                   greatest(da.source, db.source) AS src_b,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM pairs
            JOIN documents da ON pairs.a = da.doc_id
            JOIN documents db ON pairs.b = db.doc_id
            GROUP BY 1, 2
        """,
        "dedup_simhash": f"""
            WITH tok AS (
                SELECT DISTINCT doc_id, unnest({_TOKS}) AS tok FROM documents
            ),
            h AS (SELECT doc_id, substring(md5(tok), 1, 4) AS h4 FROM tok),
            pos AS (
                SELECT doc_id, h4, p FROM h, unnest(generate_series(0, 15)) AS g(p)
            ),
            bits AS (
                SELECT doc_id, p,
                       CAST(floor((strpos('0123456789abcdef', substring(h4, CAST(floor(p/4) AS INTEGER) + 1, 1)) - 1)
                            / (CASE WHEN p % 4 = 0 THEN 8 WHEN p % 4 = 1 THEN 4
                                    WHEN p % 4 = 2 THEN 2 ELSE 1 END)) AS BIGINT) % 2 AS bit
                FROM pos
            ),
            votes AS (SELECT doc_id, p, sum(bit * 2 - 1) AS v FROM bits GROUP BY doc_id, p)
            SELECT doc_id,
                   CAST(sum(CASE WHEN v > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
            FROM votes GROUP BY doc_id
        """,
        "dedup_embedding_lsh": f"""
            WITH bk AS {S.sign_lsh_bands_sql()},
            cand AS (
                SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
                FROM bk l JOIN bk r ON l.band = r.band AND l.key = r.key
                     AND l.vec_id < r.vec_id
            )
            SELECT c.a, c.b,
                   floor(({_cos_explicit('ea.embedding', 'eb.embedding')}) * 10000 + 0.5) / 10000 AS cos
            FROM cand c
            JOIN embeddings ea ON ea.vec_id = c.a
            JOIN embeddings eb ON eb.vec_id = c.b
            WHERE {_cos_explicit('ea.embedding', 'eb.embedding')} >= 0.4
        """,
        "ann_topk": f"""
            WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
            scored AS (
                SELECT q.q_id, e.vec_id AS n_id,
                       {_cos_explicit('q.qv', 'e.embedding')} AS cos
                FROM q JOIN embeddings e ON e.vec_id != q.q_id
            ),
            ranked AS (
                SELECT q_id, n_id, cos,
                       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
                FROM scored
            )
            SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, floor(cos * 10000 + 0.5) / 10000 AS cos
            FROM ranked WHERE rank <= 5
        """,
        "ann_lsh_topk": f"""
            WITH bk AS {S.sign_lsh_bands_sql()},
            q AS (SELECT vec_id AS q_id, band, key FROM bk WHERE vec_id < 10),
            cand AS (
                SELECT DISTINCT q.q_id, e.vec_id AS n_id
                FROM q JOIN bk e USING (band, key) WHERE e.vec_id != q.q_id
            ),
            scored AS (
                SELECT c.q_id, c.n_id,
                       {_cos_explicit('qe.embedding', 'ne.embedding')} AS cos
                FROM cand c
                JOIN embeddings qe ON qe.vec_id = c.q_id
                JOIN embeddings ne ON ne.vec_id = c.n_id
            ),
            ranked AS (
                SELECT q_id, n_id, cos,
                       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
                FROM scored
            )
            SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, floor(cos * 10000 + 0.5) / 10000 AS cos
            FROM ranked WHERE rank <= 5
        """,
        "ann_hard_negatives": f"""
            WITH bk AS {S.sign_lsh_bands_sql()},
            q AS (SELECT vec_id AS q_id, band, key FROM bk WHERE vec_id < 10),
            cand AS (
                SELECT DISTINCT q.q_id, e.vec_id AS n_id
                FROM q JOIN bk e USING (band, key) WHERE e.vec_id != q.q_id
            ),
            scored AS (
                SELECT c.q_id, c.n_id,
                       {_cos_explicit('qe.embedding', 'ne.embedding')} AS cos
                FROM cand c
                JOIN embeddings qe ON qe.vec_id = c.q_id
                JOIN embeddings ne ON ne.vec_id = c.n_id
            ),
            banded AS (SELECT * FROM scored WHERE cos >= 0.1 AND cos < 0.7),
            ranked AS (
                SELECT q_id, n_id, cos,
                       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
                FROM banded
            )
            SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank,
                   floor(cos * 10000 + 0.5) / 10000 AS cos
            FROM ranked WHERE rank <= 5
        """,
        "ann_ivf_topk": f"""
            WITH cells AS ({S.ivf_assign_sql()}),
            q AS (
                SELECT c.vec_id AS q_id, e.embedding AS qv, c.cell
                FROM cells c JOIN embeddings e USING (vec_id)
                WHERE c.vec_id < 10
            ),
            scored AS (
                SELECT q.q_id, c2.vec_id AS n_id,
                       {_cos_explicit('q.qv', 'ne.embedding')} AS cos
                FROM q
                JOIN cells c2 ON c2.cell = q.cell
                JOIN embeddings ne ON ne.vec_id = c2.vec_id
                WHERE c2.vec_id != q.q_id
            ),
            ranked AS (
                SELECT q_id, n_id, cos,
                       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
                FROM scored
            )
            SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, floor(cos * 10000 + 0.5) / 10000 AS cos
            FROM ranked WHERE rank <= 5
        """,
        "rel_q6_forecast": """
            SELECT floor(sum(l_extendedprice * l_discount) * 100 + 0.5) / 100 AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24
        """,
        "rel_q10_returns": """
            SELECT CAST(c_custkey AS BIGINT) AS custkey, c_name AS name,
                   n_name AS nation,
                   floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, custkey ASC
            LIMIT 20
        """,
        "events_sliding_window": """
            WITH w AS (
                SELECT ts, event_type,
                       unnest([
                           TIMESTAMP '1970-01-01' + INTERVAL 1 SECOND * CAST(floor(epoch(ts) / 1800) * 1800 - 1800 AS BIGINT),
                           TIMESTAMP '1970-01-01' + INTERVAL 1 SECOND * CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)
                       ]) AS window_start
                FROM events
            )
            SELECT window_start, event_type, count(*) AS n
            FROM w
            WHERE epoch(ts) - epoch(window_start) < 3600
            GROUP BY window_start, event_type
        """,
        "multimodal_frames": """
            WITH m AS (
                SELECT doc_id, encode(text) AS media, octet_length(encode(text)) AS n_bytes
                FROM documents
            ),
            ix AS (
                SELECT doc_id, hex(media) AS mhex,
                       unnest(generate_series(0, CAST(floor(n_bytes / 64) AS BIGINT))) AS frame_no
                FROM m
            ),
            fr AS (
                SELECT doc_id, frame_no,
                       substring(mhex, CAST(frame_no * 128 + 1 AS INTEGER), 128) AS fhex
                FROM ix
            )
            SELECT doc_id, CAST(frame_no AS INTEGER) AS frame_no, md5(fhex) AS frame_digest
            FROM fr WHERE frame_no % 2 = 0
        """,
        "multimodal_meta": """
            SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   md5(text) AS digest
            FROM documents
        """,
        "events_session_window": """
            WITH g AS (
                SELECT user_id, ts,
                       CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                                 OVER (PARTITION BY user_id ORDER BY ts) > 30 * 60000
                            OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                            THEN 1 ELSE 0 END AS new_session
                FROM events
            ),
            s AS (
                SELECT user_id, ts,
                       sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
                FROM g
            )
            SELECT user_id, min(ts) AS t_start, count(*) AS n_events
            FROM s GROUP BY user_id, session_id
        """,
        "events_sessionize": """
            WITH g AS (
                SELECT user_id, ts,
                       CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                                 OVER (PARTITION BY user_id ORDER BY ts) > 30 * 60000
                            OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                            THEN 1 ELSE 0 END AS new_session
                FROM events
            ),
            s AS (
                SELECT user_id,
                       sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
                FROM g
            )
            SELECT user_id, CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM s GROUP BY user_id
        """,
        # round-8 session-2 debuts
        # (graph_closeness retired round-11 — subsumed by graph_harmonic,
        # the byte-identical BFS fixpoint + one-row scalar aggregate;
        # RETIRED_GATES.json)
        "text_redact_pii": f"""
            WITH dirty AS ({_DIRTY_DOCS})
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(text,
                       '{_PII_EM}', '<EMAIL>', 'g'),
                       '{_PII_IP}', '<IPV4>', 'g'),
                       '{_PII_PH}', '<PHONE>', 'g') AS redacted,
                   CAST(len(regexp_extract_all(text, '{_PII_EM}')) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(regexp_replace(regexp_replace(text,
                       '{_PII_EM}', '<EMAIL>', 'g'),
                       '{_PII_IP}', '<IPV4>', 'g'), '{_PII_PH}')) AS BIGINT) AS n_phone,
                   CAST(len(regexp_extract_all(regexp_replace(text,
                       '{_PII_EM}', '<EMAIL>', 'g'), '{_PII_IP}')) AS BIGINT) AS n_ipv4
            FROM dirty
        """,
        "text_normalize": f"""
            WITH dirty AS ({_DIRTY_DOCS})
            SELECT doc_id,
                   trim(regexp_replace(regexp_replace(text, '{_CTRL_RE}', '', 'g'),
                        '{_RUNS_RE}', ' ', 'g')) AS text,
                   CAST(len(regexp_extract_all(text, '{_CTRL_RE}')) AS BIGINT) AS n_control,
                   CAST(len(regexp_extract_all(text, '{_RUNS_RE}')) AS BIGINT) AS n_collapsed
            FROM dirty
        """,
        # identical result to dedup_incremental by construction — the
        # Spark side differs (probes the persistent bucket index)
        "dedup_vs_index": f"""
            WITH {_SHINGLES},
            sig AS (SELECT doc_id, {{minhash_aggs}} FROM sh GROUP BY doc_id),
            bands AS ({{band_rows}}),
            dup AS (
                SELECT DISTINCT n.doc_id FROM bands n
                SEMI JOIN (SELECT DISTINCT band, key FROM bands WHERE doc_id < 250) c
                  ON n.band = c.band AND n.key = c.key
                WHERE n.doc_id >= 250
            )
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM dup)
        """.format(minhash_aggs=minhash_aggs, band_rows=band_rows),
        "cypher_stats_agg": f"""
            SELECT CAST({NATION_OFF} + n_nationkey AS BIGINT) AS n,
                   floor(stddev_samp(CAST(c_acctbal AS DOUBLE)) * 10000 + 0.5) / 10000 AS sd,
                   floor(stddev_pop(CAST(c_acctbal AS DOUBLE)) * 10000 + 0.5) / 10000 AS sdp,
                   quantile_cont(CAST(c_acctbal AS DOUBLE), 0.5) AS med,
                   quantile_disc(CAST(c_acctbal AS DOUBLE), 0.9) AS p90
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1
        """,
        "cypher_concat": f"""
            SELECT {_CID} AS c, n_name || '/' || c_mktsegment AS tag
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        """,
        "cypher_id_where": f"""
            SELECT {_CID} AS c, count(*) AS n_orders
            FROM customer JOIN orders ON o_custkey = c_custkey
            WHERE c_custkey <= 50
            GROUP BY 1
        """,
        # exact SCC oracle: pairwise transitive closure (fine at sf0.01's
        # ~2.1k derived nodes; the Spark side never materializes pairs)
        "graph_scc": f"""
            WITH RECURSIVE e AS (
                SELECT DISTINCT CAST({PART_OFF} + l_partkey AS BIGINT) AS src,
                       CAST({SUPPLIER_OFF} + l_suppkey AS BIGINT) AS dst
                FROM lineitem
                UNION
                SELECT DISTINCT CAST({SUPPLIER_OFF} + l_suppkey AS BIGINT),
                       CAST({PART_OFF} + l_partkey AS BIGINT)
                FROM lineitem
                WHERE l_returnflag = 'R' AND l_linenumber = 1
            ),
            nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
            reach(a, b) AS (
                SELECT src, dst FROM e
                UNION
                SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b
            ),
            mutual AS (
                SELECT r1.a AS id, r1.b AS m
                FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
            )
            SELECT n.id, least(n.id, coalesce(min(m.m), n.id)) AS scc
            FROM nodes n LEFT JOIN mutual m ON m.id = n.id
            GROUP BY n.id
        """,
        # round-15 debut: three unrolled arg_min(md5) draw steps over
        # the part->supplier digraph — the exact per-step key string
        # Spark's concat_ws builds: 'seed:start:rep:t:dst' with longs
        # rendered bare (md5 is byte-identical across engines)
        "graph_random_walks": f"""
            WITH e AS MATERIALIZED (
                SELECT DISTINCT CAST({PART_OFF} + l_partkey AS BIGINT) AS src,
                       CAST({SUPPLIER_OFF} + l_suppkey AS BIGINT) AS dst
                FROM lineitem
                UNION
                SELECT DISTINCT CAST({SUPPLIER_OFF} + l_suppkey AS BIGINT),
                       CAST({PART_OFF} + l_partkey AS BIGINT)
                FROM lineitem WHERE l_returnflag = 'R' AND l_linenumber = 1
            ),
            w0 AS (SELECT DISTINCT src AS start, src AS node FROM e),
            s1 AS (
                SELECT w.start,
                       arg_min(e.dst, md5('42:' || CAST(w.start AS VARCHAR)
                                          || ':0:1:' || CAST(e.dst AS VARCHAR)))
                       AS node
                FROM w0 w JOIN e ON e.src = w.node GROUP BY w.start
            ),
            s2 AS (
                SELECT w.start,
                       arg_min(e.dst, md5('42:' || CAST(w.start AS VARCHAR)
                                          || ':0:2:' || CAST(e.dst AS VARCHAR)))
                       AS node
                FROM s1 w JOIN e ON e.src = w.node GROUP BY w.start
            ),
            s3 AS (
                SELECT w.start,
                       arg_min(e.dst, md5('42:' || CAST(w.start AS VARCHAR)
                                          || ':0:3:' || CAST(e.dst AS VARCHAR)))
                       AS node
                FROM s2 w JOIN e ON e.src = w.node GROUP BY w.start
            )
            SELECT start, CAST(0 AS BIGINT) AS rep,
                   CAST(0 AS BIGINT) AS step, node FROM w0
            UNION ALL SELECT start, 0, 1, node FROM s1
            UNION ALL SELECT start, 0, 2, node FROM s2
            UNION ALL SELECT start, 0, 3, node FROM s3
        """,
        # round-9 debuts (oracle-verified while staged in r8)
        "graph_eigenvector": _eig_oracle(EIG_ITERS),
        "graph_betweenness": _bc_oracle(BC_DEPTH),
        "cypher_create": f"""
            WITH mx AS (
                SELECT CAST({LINEITEM_OFF} AS BIGINT)
                       + max(l_orderkey * 8 + l_linenumber) AS m
                FROM lineitem
            )
            SELECT m + 1 AS h, 'h1' AS name FROM mx
            UNION ALL SELECT m + 2, 'h2' FROM mx
            UNION ALL
            SELECT CAST({CUSTOMER_OFF} + c_custkey AS BIGINT), n_name
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE n_name = 'NATION_1'
        """,
        "cypher_set_label": f"""
            SELECT CAST({CUSTOMER_OFF} + c_custkey AS BIGINT) AS v,
                   CAST({NATION_OFF} + c_nationkey AS BIGINT) AS n
            FROM customer WHERE CAST(c_acctbal AS DOUBLE) >= 9000
        """,
        # round-9: two-label nodes share ONE payload — resolution
        # dedupes on (id, payload), so exactly one row per match
        "cypher_multilabel_props": f"""
            SELECT {_CID} AS c, c_name AS cname, n_name AS nname
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE CAST(c_acctbal AS DOUBLE) > 5000
        """,
        # round-9: both MERGE arms — first run ON CREATE SET weight 2,
        # second run matches everything and ON MATCH SET bumps to 3
        "cypher_merge_on_match": f"""
            SELECT {_CID} AS c,
                   CAST({NATION_OFF} + c_nationkey AS BIGINT) AS n,
                   CAST(3 AS DOUBLE) AS w
            FROM customer WHERE c_acctbal >= 9800
        """,
        # round-9: weighted closeness — the min-plus walk of the
        # graph_sssp oracle feeding the closeness aggregation
        "graph_closeness_weighted": f"""
            WITH RECURSIVE {EDGES_SQL_CTE.strip().rstrip()},
            walk(id, d) AS (
                SELECT CAST({BFS_START} AS BIGINT), CAST(0 AS BIGINT)
                UNION ALL
                SELECT e.dst, w.d + e.weight
                FROM walk w JOIN graph_edges e ON e.src = w.id
                WHERE w.d < 100
            ),
            dist AS (SELECT id, min(d) AS d FROM walk GROUP BY id)
            SELECT floor(count(*) * 1.0 / sum(d) * 1000000000 + 0.5)
                       / 1000000000 AS closeness,
                   CAST(count(*) AS BIGINT) AS n_reachable
            FROM dist WHERE d > 0
        """,
        "graph_condense": f"""
            WITH RECURSIVE {_SCC_CTES.strip()}
            SELECT src, dst FROM cond
        """,
        "graph_layers": f"""
            WITH RECURSIVE {_SCC_CTES.strip()},
            cnodes AS (SELECT src AS id FROM cond UNION SELECT dst FROM cond),
            walk(id, d) AS (
                SELECT id, CAST(0 AS BIGINT) FROM cnodes
                WHERE id NOT IN (SELECT dst FROM cond)
                UNION ALL
                SELECT c.dst, w.d + 1 FROM walk w JOIN cond c ON c.src = w.id
            )
            SELECT id, max(d) AS layer FROM walk GROUP BY id
        """,
        # sorted split names (test, train, val) with cumulative
        # thresholds 0.1 / 0.9 — the exact interval arithmetic
        # split_corpus performs
        "sample_split": f"""
            SELECT doc_id, source,
                   CASE WHEN {_SPLIT_BUCKET} < {_SPLIT_T1} THEN 'test'
                        WHEN {_SPLIT_BUCKET} < {_SPLIT_T2} THEN 'train'
                        ELSE 'val' END AS split
            FROM documents
        """,
        "sample_weighted": f"""
            SELECT doc_id, source FROM documents
            WHERE CAST('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT)
                  < least(n_chars / 2000.0, 1.0) * 4294967296.0
        """,
        "dedup_kmv": f"""
            WITH hashed AS (
                SELECT DISTINCT source,
                       CAST(CAST('0x' || substr(md5('0:' || text), 1, 15) AS BIGINT)
                            AS DOUBLE) / 1152921504606846976.0 AS h
                FROM documents
            ),
            topk AS (
                SELECT source, h,
                       row_number() OVER (PARTITION BY source ORDER BY h) AS rn
                FROM hashed
            )
            SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
                   floor((CASE WHEN count(*) < 16 THEN CAST(count(*) AS DOUBLE)
                               ELSE 15.0 / max(h) END) * 1000000 + 0.5) / 1000000
                       AS estimate
            FROM topk WHERE rn <= 16 GROUP BY source
        """,
        "cypher_keys": f"""
            SELECT CAST({CUSTOMER_OFF} + c_custkey AS BIGINT) AS c,
                   'acctbal,mktsegment,name' AS kc,
                   'name=' || n_name AS ps
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        """,
        "dedup_lines_index": """
            WITH ls AS (SELECT doc_id, string_split(text, ' the ') AS l FROM documents),
            lines AS (
                SELECT doc_id, i AS pos, l[i] AS line
                FROM ls, unnest(generate_series(1, len(l))) AS u(i)
            ),
            common AS (
                SELECT line FROM lines
                WHERE doc_id < 250 AND trim(line) <> ''
                GROUP BY line
                HAVING count(DISTINCT doc_id) >= 2
            ),
            kept AS (
                SELECT doc_id, pos, line FROM lines
                WHERE doc_id >= 250 AND line NOT IN (SELECT line FROM common)
            )
            SELECT doc_id,
                   string_agg(line, ' the ' ORDER BY pos) AS text,
                   CAST(count(*) AS BIGINT) AS n_kept
            FROM kept GROUP BY doc_id
        """,
        "dedup_lines": """
            WITH ls AS (SELECT doc_id, string_split(text, ' the ') AS l FROM documents),
            lines AS (
                SELECT doc_id, i AS pos, l[i] AS line
                FROM ls, unnest(generate_series(1, len(l))) AS u(i)
            ),
            common AS (
                SELECT line FROM lines WHERE trim(line) <> ''
                GROUP BY line
                HAVING count(DISTINCT doc_id) >= 2
            ),
            kept AS (
                SELECT doc_id, pos, line FROM lines
                WHERE line NOT IN (SELECT line FROM common)
            ),
            tot AS (SELECT doc_id, count(*) AS total FROM lines GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(string_agg(k.line, ' the ' ORDER BY k.pos), '') AS text,
                   CAST(count(k.line) AS BIGINT) AS n_kept,
                   CAST(t.total - count(k.line) AS BIGINT) AS n_removed
            FROM documents d JOIN tot t USING (doc_id)
            LEFT JOIN kept k USING (doc_id)
            GROUP BY d.doc_id, t.total
        """,
        "cypher_introspect": f"""
            SELECT CAST({NATION_OFF} + n_nationkey AS BIGINT) AS nid,
                   'Customer' AS lx, 'FROM_NATION' AS t,
                   count(*) AS cnt
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1
            UNION ALL
            SELECT CAST({NATION_OFF} + n_nationkey AS BIGINT) AS nid,
                   'Supplier' AS lx, 'FROM_NATION' AS t,
                   count(*) AS cnt
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            GROUP BY 1
        """,
        "cypher_where_regex": f"""
            SELECT CAST({NATION_OFF} + n_nationkey AS BIGINT) AS n,
                   count(*) AS n_cust
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE regexp_full_match(n_name, 'NATION_1[0-9]')
            GROUP BY 1
        """,
        "cypher_distinct_agg": f"""
            SELECT CAST({NATION_OFF} + n_nationkey AS BIGINT) AS n,
                   CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_seg,
                   floor(sum(DISTINCT CAST(c_acctbal AS DOUBLE)) * 100 + 0.5) / 100 AS s_bal,
                   floor(avg(DISTINCT CAST(c_acctbal AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS a_bal
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1
        """,
        # --- round-10 debuts ---------------------------------------------
        # DuckDB's native ASOF LEFT JOIN is the independent oracle for
        # the union-and-carry-forward Spark formulation
        "events_asof": """
            WITH clicks AS (
                SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
            ),
            purchases AS (
                SELECT user_id, ts, max(value) AS pvalue
                FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
            )
            SELECT c.event_id, c.user_id, c.ts,
                   p.ts AS ts_r, p.pvalue AS pvalue_r
            FROM clicks c ASOF LEFT JOIN purchases p
              ON c.user_id = p.user_id AND c.ts >= p.ts
        """,
        # plain inequality join: the unbucketed ground truth the bucketed
        # band join must reproduce exactly
        "events_range_join": """
            SELECT c.event_id AS click_id, c.user_id, e.event_id AS error_id
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'click') c
            JOIN (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'error') e
              ON c.user_id = e.user_id
             AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 30 MINUTE
        """,
        # IDENTICAL to the batch events_range_join oracle: the streaming
        # drain must reproduce the batch result bit-for-bit
        "events_range_stream": """
            SELECT c.event_id AS click_id, c.user_id, e.event_id AS error_id
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'click') c
            JOIN (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'error') e
              ON c.user_id = e.user_id
             AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 30 MINUTE
        """,
        # same seeded-projection cell assignment as ivf_assign_sql (plan
        # literals both sides), pairwise cosine via list_dot_product with
        # the identical left-to-right accumulation order Spark's
        # F.aggregate uses — bit-stable, like the dedup_embedding_lsh gate
        "dedup_semantic": f"""
            WITH cells AS ({S.ivf_assign_sql()}),
            c AS (
                SELECT e.vec_id AS id, e.embedding AS v, cells.cell
                FROM embeddings e JOIN cells USING (vec_id)
            ),
            drop AS (
                SELECT DISTINCT r.id
                FROM c l JOIN c r ON l.cell = r.cell AND l.id < r.id
                WHERE list_dot_product(l.v, r.v)
                      / (sqrt(list_dot_product(l.v, l.v))
                         * sqrt(list_dot_product(r.v, r.v)))
                      >= 0.3
            )
            SELECT c.id AS vec_id, c.cell FROM c ANTI JOIN drop ON c.id = drop.id
        """,
        # vocab ids: count desc, token asc, id 0 = most frequent, top 50,
        # min_count 2 (build_vocab defaults); OOV encodes as -1
        "text_encode": f"""
            WITH vocab AS (
                SELECT token, vocab_id FROM (
                    SELECT token, count,
                           CAST(row_number() OVER (ORDER BY count DESC, token ASC) - 1
                                AS BIGINT) AS vocab_id
                    FROM (
                        SELECT u.token, CAST(count(*) AS BIGINT) AS count
                        FROM (SELECT {_TOKS} AS t FROM documents), unnest(t) AS u(token)
                        GROUP BY 1
                    ) c WHERE count >= 2
                ) WHERE vocab_id < 50
            ),
            toks AS (
                SELECT doc_id, t[i] AS token, i AS pos
                FROM (SELECT doc_id, {_TOKS} AS t FROM documents),
                     unnest(generate_series(1, len(t))) AS u(i)
            ),
            enc AS (
                SELECT toks.doc_id, toks.pos,
                       coalesce(v.vocab_id, -1) AS tid
                FROM toks LEFT JOIN vocab v USING (token)
            ),
            agg AS (
                SELECT doc_id,
                       string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS ids,
                       CAST(count(*) AS BIGINT) AS n_tokens,
                       CAST(sum(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
                FROM enc GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(a.ids, '') AS ids,
                   coalesce(a.n_tokens, 0) AS n_tokens,
                   coalesce(a.n_unk, 0) AS n_unk
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "ann_ivf_nprobe": _ann_ivf_nprobe_oracle(),
        "graph_ktruss": _ktruss_oracle(5, 5),
        # rational idf (N+1)/(df+1); rank ties broken by token text. The
        # arithmetic shape (tf * (ratio)) matches tfidf_keywords exactly.
        "text_tfidf": f"""
            WITH toks AS (
                SELECT doc_id, u.token
                FROM (SELECT doc_id, {_TOKS} AS t FROM documents), unnest(t) AS u(token)
            ),
            tf AS (
                SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY 1, 2
            ),
            dfreq AS (
                SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
            ),
            n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.token,
                       CAST(tf.tf AS DOUBLE) * ((n.n + 1.0) / (dfreq.df + 1.0)) AS score
                FROM tf JOIN dfreq USING (token), n
            )
            SELECT doc_id, token, rank, score FROM (
                SELECT doc_id, token, score,
                       CAST(row_number() OVER (
                           PARTITION BY doc_id ORDER BY score DESC, token ASC
                       ) AS BIGINT) AS rank
                FROM scored
            ) WHERE rank <= 3
        """,
        # Laplace-smoothed p(w2|w1) over the corpus's own bigrams; counts
        # and one rational per bigram — bit-exact, no rounding
        "text_bigram_rarity": f"""
            WITH toks AS (
                SELECT doc_id, t[i] AS w1, i AS pos
                FROM (SELECT doc_id, {_TOKS} AS t FROM documents),
                     unnest(generate_series(1, len(t))) AS u(i)
            ),
            bigr AS (
                SELECT doc_id, w1,
                       lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
                FROM toks
            ),
            big AS (SELECT doc_id, w1, w2 FROM bigr WHERE w2 IS NOT NULL),
            c12 AS (
                SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                FROM big GROUP BY 1, 2
            ),
            c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM big GROUP BY 1),
            v AS (
                SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM (
                    SELECT w1 AS t FROM big UNION ALL SELECT w2 FROM big
                )
            ),
            p AS (
                SELECT big.doc_id,
                       (c12.c12 + 1.0) / (c1.c1 + v.v + 0.0) AS p
                FROM big JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(CASE WHEN p < 2e-4 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
                   CAST(sum(CASE WHEN p < 2e-4 THEN 1 ELSE 0 END) AS DOUBLE)
                       / count(*) AS rare_ratio,
                   min(p) AS min_p
            FROM p GROUP BY doc_id
        """,
        "graph_reciprocity": f"""
            WITH e AS (
                SELECT DISTINCT CAST({PART_OFF} + l_partkey AS BIGINT) AS src,
                       CAST({SUPPLIER_OFF} + l_suppkey AS BIGINT) AS dst
                FROM lineitem
                UNION
                SELECT DISTINCT CAST({SUPPLIER_OFF} + l_suppkey AS BIGINT),
                       CAST({PART_OFF} + l_partkey AS BIGINT)
                FROM lineitem WHERE l_returnflag = 'R' AND l_linenumber = 1
            )
            SELECT CAST(count(*) AS BIGINT) AS n_edges,
                   CAST(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_mutual,
                   floor(CAST(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
                              AS DOUBLE) / count(*) * 1000000000 + 0.5)
                       / 1000000000 AS r
            FROM e LEFT JOIN e r ON r.src = e.dst AND r.dst = e.src
        """,
        "graph_harmonic_weighted": f"""
            WITH RECURSIVE {EDGES_SQL_CTE.strip().rstrip()},
            walk(id, d) AS (
                SELECT CAST({BFS_START} AS BIGINT), CAST(0 AS BIGINT)
                UNION ALL
                SELECT e.dst, w.d + e.weight
                FROM walk w JOIN graph_edges e ON e.src = w.id
                WHERE w.d < 100
            ),
            dist AS (SELECT id, min(d) AS d FROM walk GROUP BY id)
            SELECT floor(sum(1.0 / d) * 1000000000 + 0.5) / 1000000000 AS harmonic,
                   CAST(count(*) AS BIGINT) AS n_reachable
            FROM dist WHERE d > 0
        """,
        "graph_betweenness_multi": _bc_oracle_multi(
            BC_DEPTH, [BFS_START, BC_SRC2]
        ),
        "cypher_topk_agg": f"""
            SELECT c, n FROM (
                SELECT CAST({CUSTOMER_OFF} + c_custkey AS BIGINT) AS c,
                       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n
                FROM customer JOIN orders ON o_custkey = c_custkey
                GROUP BY 1
            ) ORDER BY n DESC, c ASC LIMIT 10
        """,
        "cypher_merge_node": f"""
            SELECT CAST({LINEITEM_OFF} AS BIGINT)
                   + max(l_orderkey * 8 + l_linenumber) + 1 AS h,
                   'h1' AS name, '9' AS tier
            FROM lineitem
        """,
        # round-11 debuts (staged + verified in r10, the round-11 staging queue)
        # native ASOF with the flipped inequality: smallest p.ts >= c.ts
        "events_asof_forward": f"""
            WITH {_CLICKS_PURCHASES_SQL}
            SELECT c.event_id, c.user_id, c.ts,
                   p.ts AS ts_r, p.pvalue AS pvalue_r
            FROM clicks c ASOF LEFT JOIN purchases p
              ON c.user_id = p.user_id AND c.ts <= p.ts
        """,
        # nearest: rank every same-user candidate by |delta|; the
        # tie-break (p.ts ASC) selects the backward candidate on an
        # exact tie — the pandas merge_asof convention Spark follows
        "events_asof_nearest": f"""
            WITH {_CLICKS_PURCHASES_SQL}
            SELECT event_id, user_id, ts, ts_r, pvalue_r FROM (
                SELECT c.event_id, c.user_id, c.ts,
                       p.ts AS ts_r, p.pvalue AS pvalue_r,
                       row_number() OVER (
                           PARTITION BY c.event_id
                           ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)) ASC,
                                    p.ts ASC
                       ) AS rnk
                FROM clicks c LEFT JOIN purchases p ON c.user_id = p.user_id
            ) WHERE rnk = 1
        """,
        # backward + tolerance: the native ASOF picks the latest-at-or-
        # before row, then a stale match (> 1 h) nulls out while the
        # click row survives — asof_join's left-outer tolerance semantics
        "events_asof_tolerance": f"""
            WITH {_CLICKS_PURCHASES_SQL}
            SELECT c.event_id, c.user_id, c.ts,
                   CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= 3600000000
                        THEN p.ts END AS ts_r,
                   CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= 3600000000
                        THEN p.pvalue END AS pvalue_r
            FROM clicks c ASOF LEFT JOIN purchases p
              ON c.user_id = p.user_id AND c.ts >= p.ts
        """,
        # two unrolled hop CTEs: hop 2 aggregates hop-1 aggregates (the
        # layered ego-summary semantics neighbor_agg documents)
        "graph_neighbor_agg": f"""
            WITH e AS MATERIALIZED (
                SELECT DISTINCT CAST({PART_OFF} + l_partkey AS BIGINT) AS src,
                       CAST({SUPPLIER_OFF} + l_suppkey AS BIGINT) AS dst
                FROM lineitem
                UNION
                SELECT DISTINCT CAST({SUPPLIER_OFF} + l_suppkey AS BIGINT),
                       CAST({PART_OFF} + l_partkey AS BIGINT)
                FROM lineitem WHERE l_returnflag = 'R' AND l_linenumber = 1
            ),
            f0 AS (
                SELECT CAST({SUPPLIER_OFF} + s_suppkey AS BIGINT) AS id,
                       CAST(s_acctbal AS DOUBLE) AS bal
                FROM supplier
                UNION ALL
                SELECT CAST({PART_OFF} + p_partkey AS BIGINT),
                       CAST(p_retailprice AS DOUBLE)
                FROM part
            ),
            f1 AS MATERIALIZED (
                SELECT e.src AS id, sum(f0.bal) AS bal
                FROM e JOIN f0 ON f0.id = e.dst GROUP BY e.src
            ),
            f2 AS (
                SELECT e.src AS id, sum(f1.bal) AS bal
                FROM e JOIN f1 ON f1.id = e.dst GROUP BY e.src
            )
            SELECT id, floor(bal * 100 + 0.5) / 100 AS bal2 FROM f2
        """,
        # acyclic per-customer chains: every (a, b) pair has EXACTLY one
        # walk, so length(p) is the plain recursion depth — no min needed
        "cypher_deep_chain": f"""
            WITH RECURSIVE seq AS (
                SELECT CAST({ORDER_OFF} + o_orderkey AS BIGINT) AS id,
                       o_custkey,
                       row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey
                       ) AS rn
                FROM orders
            ),
            chain AS MATERIALIZED (
                SELECT a.id AS src, b.id AS dst
                FROM seq a JOIN seq b
                  ON a.o_custkey = b.o_custkey AND b.rn = a.rn + 1
            ),
            walk(src, dst, d) AS (
                SELECT src, dst, CAST(1 AS BIGINT) FROM chain
                UNION ALL
                SELECT w.src, c.dst, w.d + 1
                FROM walk w JOIN chain c ON c.src = w.dst
            )
            SELECT src AS a, dst AS b, d AS len FROM walk
        """,
        # the live dedup_clusters twin wrapped with the quality argmax:
        # per cluster keep max n_chars, ties -> min doc_id
        "dedup_canonical": f"""
            WITH cl AS ({_dedup_clusters_oracle(minhash_aggs, band_rows)}),
            j AS (
                SELECT d.doc_id, cl.cluster, d.source, d.n_chars
                FROM documents d JOIN cl USING (doc_id)
            )
            SELECT doc_id, cluster, source, n_chars FROM (
                SELECT j.*, row_number() OVER (
                    PARTITION BY cluster ORDER BY n_chars DESC, doc_id ASC
                ) AS rk FROM j
            ) WHERE rk = 1
        """,
    }
