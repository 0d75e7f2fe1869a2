"""Graph persistence with the scale-oriented physical layout (SCALE.md):

- nodes partitioned by label  -> label scans become partition pruning
- edges partitioned by type, bucketed+sorted by src -> expand joins from a
  frontier co-locate on the bucket column without shuffling the edge side
- optional dst-bucketed second copy of edges — the physical analogue of
  the reference's eagerly maintained transpose matrices
  (ConcurrentDirectedGraph.scala:145-148): pay write amplification once,
  traverse either direction without a shuffle.

Bucketing requires saveAsTable (bucket metadata lives in the catalog);
partition-only layout works with plain parquet paths.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from ..graph.stats import stats_from_dict, stats_to_dict
from ..graph.store import PropertyGraph


def write_graph(g: PropertyGraph, path: str, with_stats: bool = True) -> None:
    """Partition-pruned parquet layout (path-based, catalog-free).

    ``with_stats`` (default, round-8) also ANALYZEs the graph —
    label/type cards and the exact (srcLabel, type, dstLabel) triplet
    counts the cost model prefers — into <path>/stats.json, so a
    read_graph'ed graph plans with a warm cost model instead of paying
    the stats scan per session (the StatsStore-at-rest the reference
    keeps only in memory, StatsStore.scala:111-255). Written via temp +
    os.replace (the snapshot manifests' atomic-commit discipline)."""
    g.nodes.write.mode("overwrite").partitionBy("label").parquet(f"{path}/nodes")
    g.edges.write.mode("overwrite").partitionBy("type").parquet(f"{path}/edges")
    if with_stats:
        tmp = f"{path}/stats.json.tmp"
        with open(tmp, "w") as fh:
            json.dump(stats_to_dict(g.stats), fh)
        os.replace(tmp, f"{path}/stats.json")


def read_graph(spark: SparkSession, path: str) -> PropertyGraph:
    """Read a write_graph layout back. Partition columns return last in
    read order, so the canonical (id, label, ...) / (src, dst, type,
    ...) order is restored explicitly; a stats.json (see write_graph)
    pre-warms the planner's cost model."""
    nodes = spark.read.parquet(f"{path}/nodes")
    nodes = nodes.select(
        "id", "label", *[c for c in nodes.columns if c not in ("id", "label")]
    )
    edges = spark.read.parquet(f"{path}/edges")
    edges = edges.select(
        "src", "dst", "type",
        *[c for c in edges.columns if c not in ("src", "dst", "type")],
    )
    g = PropertyGraph(nodes, edges, spark)
    stats_path = f"{path}/stats.json"
    if os.path.exists(stats_path):
        with open(stats_path) as fh:
            g.stats = stats_from_dict(json.load(fh))
    return g


def write_graph_bucketed(
    g: PropertyGraph,
    name: str,
    n_buckets: int = 32,
    with_transpose_copy: bool = False,
) -> None:
    """Catalog tables `<name>_nodes` / `<name>_edges` with src-bucketing
    (and optionally `<name>_edges_t` bucketed by dst)."""
    g.nodes.write.mode("overwrite").format("parquet").partitionBy("label").saveAsTable(
        f"{name}_nodes"
    )
    (
        g.edges.write.mode("overwrite").format("parquet")
        .bucketBy(n_buckets, "src").sortBy("src")
        .saveAsTable(f"{name}_edges")
    )
    if with_transpose_copy:
        (
            g.edges.write.mode("overwrite").format("parquet")
            .bucketBy(n_buckets, "dst").sortBy("dst")
            .saveAsTable(f"{name}_edges_t")
        )


def read_graph_bucketed(spark: SparkSession, name: str) -> PropertyGraph:
    return PropertyGraph(
        spark.table(f"{name}_nodes"), spark.table(f"{name}_edges"), spark
    )


def compact_parquet(
    spark: SparkSession, path: str, target_files: int = 8
) -> int:
    """Compact a small-file parquet directory (the debt the streaming
    edge-ingest sink accrues: one file per micro-batch) into
    ``target_files`` files. Write-then-swap: the compacted copy lands in
    a sibling directory, then replaces the original. The swap is two
    renames, NOT atomic: a crash between them is rolled back by the
    except-restore below, but a hard kill inside the window can leave
    the table under ``<path>__compact_old`` for manual restore. Both
    renames assume one filesystem (shutil.move across filesystems
    degrades to copy+delete). Returns the row count (the invariant the
    caller should assert).

    At cluster scale this is the same job, pointed at object storage;
    prefer running it between ingest windows so no writer races the
    swap (or use a table format with atomic commits)."""
    df = spark.read.parquet(path)
    n = df.count()
    swap_rewrite(df, path, target_files)
    return n


def swap_rewrite(df: "DataFrame", path: str, target_files: int = 8) -> None:
    """Write ``df`` (typically derived from reading ``path``) to a
    sibling directory, then swap it into ``path``. See compact_parquet
    for the atomicity caveats (two renames, except-restore on failure,
    same-filesystem assumption). The tmp write materializes the read
    BEFORE the original moves, so self-referencing rewrites are safe."""
    import shutil

    tmp = path.rstrip("/") + "__compact_tmp"
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + "__compact_old"
    shutil.move(path, old)
    try:
        shutil.move(tmp, path)
    except BaseException:
        # a cross-filesystem move degrades to copy+delete and can leave
        # a partial `path` behind; clear it or the restore itself fails
        # and both copies are stranded (ADVICE r6)
        shutil.rmtree(path, ignore_errors=True)
        shutil.move(old, path)  # restore the original before re-raising
        raise
    shutil.rmtree(old)
