"""BFS over the kernel surface — the reference's own idiom.

Reference (DocSpec.scala:31-53): one BFS step is the frontier vector
pushed across the adjacency with ``vxm`` over LOR_LAND, with the visited
set excluded by a COMPLEMENTED MASK — not a post-hoc anti-join bolted on
outside the kernel. Here the mask parameter threads through ``vxm``
(matrix.py), so the exclusion is part of the kernel call, and physically
it plans as a left-anti join on the vector index (shuffle-free when the
frontier is broadcastable).

The production BFS is ``operators/algorithms.py``'s ``bfs``: rounds on
the driver's adjacency index when the graph has one, else join rounds
with a size-aware broadcast; this one exists to prove kernel-parity:
BFS is expressible purely in GraphBLAS calls. It and the join rounds
run through the package's one fixpoint driver
(``checkpointing.fixpoint``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..checkpointing import fixpoint

from .matrix import Matrix, Vector, vxm
from .semiring import LOR_LAND

MAX_BFS_ITERS = 1024


def bfs_levels(adj: Matrix, start_ids: list[int]) -> Vector:
    """Levels vector (i -> hop distance, start = 0) via iterated
    complemented-mask ``vxm``:

        frontier' = frontier ⊕.⊗ A   ⟨mask = ¬levels⟩

    over LOR_LAND — each round discovers exactly the unvisited vertices
    adjacent to the frontier."""
    spark = adj.df.sparkSession
    n = adj.nrows
    levels = spark.createDataFrame([(int(s), 0) for s in start_ids], "i long, v long")
    frontier = spark.createDataFrame([(int(s), True) for s in start_ids], "i long, v boolean")

    def expand(_i, levels, frontier, _n_levels, _n_frontier):
        return vxm(
            Vector(frontier, n), adj, LOR_LAND, mask=Vector(levels, n), mask_complement=True
        ).df

    def merge(i, levels, nxt):
        return levels.unionByName(nxt.select("i", F.lit(i + 1).cast("long").alias("v")))

    return Vector(
        fixpoint(
            expand, merge, levels, frontier, MAX_BFS_ITERS,
            f"bfs_levels did not converge within {MAX_BFS_ITERS} iterations",
        ),
        n,
    )
