"""Graph-ize the TPC-H-ish driver testdata (FIXTURES.md §4).

Node ids are deterministic integer arithmetic over the table keys so the
DuckDB oracle SQL can reproduce them exactly:

    id(Region r)    = 1e12*1 + r_regionkey
    id(Nation n)    = 1e12*2 + n_nationkey
    id(Customer c)  = 1e12*3 + c_custkey
    id(Supplier s)  = 1e12*4 + s_suppkey
    id(Part p)      = 1e12*5 + p_partkey
    id(Order o)     = 1e12*6 + o_orderkey
    id(Lineitem l)  = 1e12*7 + l_orderkey*8 + l_linenumber   (linenumber ≤ 7)

Edge types (direction matches the reference's directed-only model):
    IN_REGION    nation   -> region      weight 4
    FROM_NATION  customer -> nation      weight 3
    FROM_NATION  supplier -> nation      weight 3
    PLACED       customer -> order       weight 1
    HAS_ITEM     order    -> lineitem    weight l_linenumber
    OF_PART      lineitem -> part        weight 1
    BY_SUPP      lineitem -> supplier    weight 2

Integer weights keep min-plus SSSP sums exact (float-order-independent)
for hash comparison against the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import session_memo
from .store import PropertyGraph

OFF = 1_000_000_000_000
REGION_OFF = OFF * 1
NATION_OFF = OFF * 2
CUSTOMER_OFF = OFF * 3
SUPPLIER_OFF = OFF * 4
PART_OFF = OFF * 5
ORDER_OFF = OFF * 6
LINEITEM_OFF = OFF * 7

# the seven testdata tables the graph is built from (not events,
# documents or embeddings)
GRAPH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

# SQL fragments reused by oracle builders (__spark_entry__.py)
SQL_IDS = {
    "Region": f"CAST({REGION_OFF} + r_regionkey AS BIGINT)",
    "Nation": f"CAST({NATION_OFF} + n_nationkey AS BIGINT)",
    "Customer": f"CAST({CUSTOMER_OFF} + c_custkey AS BIGINT)",
    "Supplier": f"CAST({SUPPLIER_OFF} + s_suppkey AS BIGINT)",
    "Part": f"CAST({PART_OFF} + p_partkey AS BIGINT)",
    "Order": f"CAST({ORDER_OFF} + o_orderkey AS BIGINT)",
    "Lineitem": f"CAST({LINEITEM_OFF} + l_orderkey*8 + l_linenumber AS BIGINT)",
}


def _id(col, offset: int):
    return (F.lit(offset) + F.col(col).cast("long")).cast("long")


def build_graph(spark: SparkSession, sf_dir: str, tables: dict[str, DataFrame] | None = None) -> PropertyGraph:
    """The TPC-H graph of ``sf_dir``. Without ``tables`` it is built and
    cached once per Spark application (memo.session_memo): every query
    in a session shares the materialized nodes/edges instead of
    re-unioning 7 parquet scans."""
    if tables is not None:
        return _build_graph_uncached(spark, sf_dir, tables)
    return session_memo(spark).get(
        ("graph", sf_dir), (), lambda: _build_graph_uncached(spark, sf_dir).cache()
    )


def _build_graph_uncached(spark: SparkSession, sf_dir: str, tables: dict[str, DataFrame] | None = None) -> PropertyGraph:
    if tables is None:
        from ..sources import load_table

        tables = {t: load_table(spark, sf_dir, t) for t in GRAPH_TABLES}
    region, nation = tables["region"], tables["nation"]
    customer, supplier = tables["customer"], tables["supplier"]
    part, orders, lineitem = tables["part"], tables["orders"], tables["lineitem"]

    li_id = (F.lit(LINEITEM_OFF) + F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long")

    def props(**cols):
        """string-keyed property map; doubles round-trip exactly through
        Double.toString so numeric predicates stay exact."""
        pairs = []
        for k, c in cols.items():
            pairs += [F.lit(k), F.col(c).cast("string")]
        return F.create_map(*pairs)

    nodes = (
        region.select(_id("r_regionkey", REGION_OFF).alias("id"), F.lit("Region").alias("label"),
                      props(name="r_name").alias("props"))
        .unionByName(nation.select(_id("n_nationkey", NATION_OFF).alias("id"), F.lit("Nation").alias("label"),
                                   props(name="n_name").alias("props")))
        .unionByName(customer.select(_id("c_custkey", CUSTOMER_OFF).alias("id"), F.lit("Customer").alias("label"),
                                     props(name="c_name", acctbal="c_acctbal", mktsegment="c_mktsegment").alias("props")))
        .unionByName(supplier.select(_id("s_suppkey", SUPPLIER_OFF).alias("id"), F.lit("Supplier").alias("label"),
                                     props(name="s_name", acctbal="s_acctbal").alias("props")))
        .unionByName(part.select(_id("p_partkey", PART_OFF).alias("id"), F.lit("Part").alias("label"),
                                 props(name="p_name", brand="p_brand", type="p_type", size="p_size",
                                       retailprice="p_retailprice").alias("props")))
        .unionByName(orders.select(_id("o_orderkey", ORDER_OFF).alias("id"), F.lit("Order").alias("label"),
                                   props(orderstatus="o_orderstatus", totalprice="o_totalprice",
                                         orderpriority="o_orderpriority").alias("props")))
        .unionByName(lineitem.select(li_id.alias("id"), F.lit("Lineitem").alias("label"),
                                     props(quantity="l_quantity", extendedprice="l_extendedprice",
                                           discount="l_discount", returnflag="l_returnflag").alias("props")))
    )

    def e(df, src, dst, tpe, weight):
        return df.select(
            src.alias("src"), dst.alias("dst"), F.lit(tpe).alias("type"), weight.cast("long").alias("weight")
        )

    edges = (
        e(nation, _id("n_nationkey", NATION_OFF), _id("n_regionkey", REGION_OFF), "IN_REGION", F.lit(4))
        .unionByName(e(customer, _id("c_custkey", CUSTOMER_OFF), _id("c_nationkey", NATION_OFF), "FROM_NATION", F.lit(3)))
        .unionByName(e(supplier, _id("s_suppkey", SUPPLIER_OFF), _id("s_nationkey", NATION_OFF), "FROM_NATION", F.lit(3)))
        .unionByName(e(orders, _id("o_custkey", CUSTOMER_OFF), _id("o_orderkey", ORDER_OFF), "PLACED", F.lit(1)))
        .unionByName(e(lineitem, _id("l_orderkey", ORDER_OFF), li_id, "HAS_ITEM", F.col("l_linenumber")))
        .unionByName(e(lineitem, li_id, _id("l_partkey", PART_OFF), "OF_PART", F.lit(1)))
        .unionByName(e(lineitem, li_id, _id("l_suppkey", SUPPLIER_OFF), "BY_SUPP", F.lit(2)))
    )
    return PropertyGraph(nodes, edges, spark)


NODES_SQL_CTE = f"""
    graph_nodes(id) AS (
        SELECT CAST({REGION_OFF} + r_regionkey AS BIGINT) FROM region
        UNION ALL SELECT CAST({NATION_OFF} + n_nationkey AS BIGINT) FROM nation
        UNION ALL SELECT CAST({CUSTOMER_OFF} + c_custkey AS BIGINT) FROM customer
        UNION ALL SELECT CAST({SUPPLIER_OFF} + s_suppkey AS BIGINT) FROM supplier
        UNION ALL SELECT CAST({PART_OFF} + p_partkey AS BIGINT) FROM part
        UNION ALL SELECT CAST({ORDER_OFF} + o_orderkey AS BIGINT) FROM orders
        UNION ALL SELECT CAST({LINEITEM_OFF} + l_orderkey*8 + l_linenumber AS BIGINT) FROM lineitem
    )
"""

# Oracle-side: the same edge list as a DuckDB CTE, for recursive BFS/SSSP
# oracles. Matches build_graph exactly.
EDGES_SQL_CTE = f"""
    graph_edges(src, dst, type, weight) AS (
        SELECT {SQL_IDS['Nation']},
               CAST({REGION_OFF} + n_regionkey AS BIGINT), 'IN_REGION', CAST(4 AS BIGINT) FROM nation
        UNION ALL
        SELECT {SQL_IDS['Customer']}, CAST({NATION_OFF} + c_nationkey AS BIGINT), 'FROM_NATION', 3 FROM customer
        UNION ALL
        SELECT {SQL_IDS['Supplier']}, CAST({NATION_OFF} + s_nationkey AS BIGINT), 'FROM_NATION', 3 FROM supplier
        UNION ALL
        SELECT CAST({CUSTOMER_OFF} + o_custkey AS BIGINT), {SQL_IDS['Order']}, 'PLACED', 1 FROM orders
        UNION ALL
        SELECT CAST({ORDER_OFF} + l_orderkey AS BIGINT), {SQL_IDS['Lineitem']}, 'HAS_ITEM', CAST(l_linenumber AS BIGINT) FROM lineitem
        UNION ALL
        SELECT {SQL_IDS['Lineitem']}, CAST({PART_OFF} + l_partkey AS BIGINT), 'OF_PART', 1 FROM lineitem
        UNION ALL
        SELECT {SQL_IDS['Lineitem']}, CAST({SUPPLIER_OFF} + l_suppkey AS BIGINT), 'BY_SUPP', 2 FROM lineitem
    )
"""
