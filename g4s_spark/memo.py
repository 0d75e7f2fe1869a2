"""The package's memos: one registry class, two owners.

- ``PropertyGraph.derived``: what a graph computes from its own tables
  (stats, cached projections, edge folds). Entries declare the graph
  FACETS they read, so a write's result keeps what it did not change.
- ``session_memo(spark)``: what outlives one call within a Spark
  application (the built TPC-H graph, table plans, the dedup and ANN
  indexes, the entry's fixture projections). Its entries read no facet.
  The process keeps the memo of the current application only.

The reference ties every native object it builds to one owner's
lifetime (``GrBMatrix.scala:176-186``, ``Operator.scala:411-421``);
here ``Derived.uncache()`` is that owner's release.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

# Facets a derived entry reads and a write changes: labels = the
# (id, label) rows, props = the node payload maps, edges = the
# (src, dst, type) rows, weights = every other edge column.
FACETS = frozenset({"labels", "props", "edges", "weights"})


def _entry(reads, value) -> tuple:
    reads = frozenset(reads)
    if not reads <= FACETS:
        raise ValueError(f"unknown graph facets {sorted(reads - FACETS)}")
    return reads, value


class Derived:
    """Registry of derived state; the reference keeps a graph's
    (per-label matrices, transposes, StatsStore counters) in the graph
    object (ConcurrentDirectedGraph.scala:29-41). An entry is a key, the
    FACETS it reads, and a value built on first use. A write's result
    inherits every entry that reads none of the facets it changed."""

    def __init__(self, entries: dict | None = None):
        self._entries: dict = entries if entries is not None else {}

    def get(self, key, reads, build):
        # threads racing on a first use may each build; setdefault
        # keeps the first, so every caller gets the same value
        entry = self._entries.get(key)
        if entry is None:
            entry = self._entries.setdefault(key, _entry(reads, build()))
        return entry[1]

    def put(self, key, reads, value) -> None:
        self._entries[key] = _entry(reads, value)

    def peek(self, key):
        """The entry for ``key`` if it is built, else None."""
        return self._entries.get(key, (None, None))[1]

    def __contains__(self, key) -> bool:
        return key in self._entries

    def __iter__(self):
        return iter(list(self._entries))

    def inherit(self, changed) -> "Derived":
        return Derived({k: e for k, e in list(self._entries.items()) if not e[0] & changed})

    def uncache(self) -> None:
        """Unpersist every DataFrame entry, uncache every graph entry,
        and drop both; other values stay."""
        for k, (_, v) in list(self._entries.items()):
            if isinstance(v, DataFrame):
                v.unpersist()
            elif hasattr(v, "uncache"):
                v.uncache()
            else:
                continue
            del self._entries[k]


_session: tuple[str | None, Derived] = (None, Derived())
_session_lock = threading.Lock()


def session_memo(spark: SparkSession) -> Derived:
    """The memo of ``spark``'s application. A new applicationId drops
    the previous application's memo: its frames died with its context."""
    global _session
    app = spark.sparkContext.applicationId
    if _session[0] != app:
        with _session_lock:
            if _session[0] != app:
                _session = (app, Derived())
    return _session[1]


def plan_memo(name: str, df: DataFrame, params: tuple, build) -> DataFrame:
    """``build()`` persisted once per (name, plan of ``df``, params) in
    the session memo: two loads of the same parquet share one entry.
    A streaming plan, which persist() refuses, is built unpersisted on
    every call."""
    if df.isStreaming:
        return build()
    key = (name, df.semanticHash(), *params)
    return session_memo(df.sparkSession).get(key, (), lambda: build().persist())
