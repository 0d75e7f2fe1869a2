"""Lineage truncation and the one semi-naive fixpoint driver.

Every Spark frontier loop in the package (the join rounds of bfs and
sssp, the Cypher closure, ``bfs_levels``, components, scc, layering,
the betweenness forward phase) runs through :func:`fixpoint`: expand
the last delta, drop what the state already holds, merge, stop when
the delta is empty. The
driver owns the checkpoint policy, the convergence count, the
broadcast-size counts and the iteration cap; a loop supplies only its
``expand`` and ``merge`` plans.

``localCheckpoint`` stores blocks on executors — fastest, and correct in
local mode, but a lost executor loses its blocks and the job cannot
recompute them (lineage is gone). On a real cluster, set
``G4S_CHECKPOINT_DIR`` to a reliable path (HDFS/S3) and every iterative
loop in the package switches to reliable ``checkpoint()`` backed by that
directory; executor loss then just re-reads the checkpoint files
(SCALE.md 'Known scale limits').
"""

from __future__ import annotations

import itertools
import os
from typing import Callable

from pyspark.sql import DataFrame

ENV_VAR = "G4S_CHECKPOINT_DIR"

# round bound of the convergence-tested loops (closure, scc's inner
# walks, betweenness depth): hitting it raises rather than returning a
# silently-unconverged result
MAX_CLOSURE_ITERS = 64


def iter_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage between loop iterations.

    local (default) or reliable (``G4S_CHECKPOINT_DIR`` set) — one knob
    covering every iterative operator, per VERDICT r4 #5."""
    ckdir = os.environ.get(ENV_VAR)
    if ckdir:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() != ckdir:
            sc.setCheckpointDir(ckdir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def fixpoint(
    expand: Callable[[int, DataFrame, DataFrame, int, int], DataFrame],
    merge: Callable[[int, DataFrame, DataFrame], DataFrame],
    state: DataFrame,
    delta: DataFrame,
    cap: int | None = None,
    error: str | None = None,
    n_state: int = 0,
    n_delta: int = 0,
) -> DataFrame:
    """Run a semi-naive loop to its fixpoint and return the final state.

    Round ``i`` (0-based) plans ``new = expand(i, state, delta, n_state,
    n_delta)`` — the rows the last delta derives that ``state`` does not
    already hold — marks it for a lazy checkpoint and counts it: ONE
    action per round (round-16), since the count materializes the
    checkpoint and later consumers read the stored blocks (an eager
    checkpoint runs its own job before the count). A zero count is
    convergence. Otherwise ``state = merge(i, state, new)`` is marked
    lazily too (it materializes inside the next round's join), ``new``
    becomes the delta and ``n_state`` grows by its count — an upper
    bound on the state's size for the loops whose merge replaces rows.
    ``n_state``/``n_delta`` (the initial sizes) exist for the size-aware
    broadcast gates; loops without one leave them at 0.

    ``cap`` bounds the rounds (None: run to convergence). At the cap the
    loop raises ``RuntimeError(error)``, or, with ``error=None``,
    returns the truncated state (``bfs(max_hops=k)``)."""
    for i in range(cap) if cap is not None else itertools.count():
        new = iter_checkpoint(expand(i, state, delta, n_state, n_delta), eager=False)
        n_new = new.count()
        if n_new == 0:
            return state
        state = iter_checkpoint(merge(i, state, new), eager=False)
        delta, n_delta = new, n_new
        n_state += n_new
    if error is not None:
        raise RuntimeError(error)
    return state
