"""Label/type statistics for the cost-based planner.

Reference: NaiveStatsStore maintains write-time counters for node labels,
edge types and (srcLabel, edgeType, dstLabel) triplets
(g4s-optimizer/.../optim/StatsStore.scala:111-255); selectivity = label
count / total (:179-189). GraphStats.compute recomputes them from the
(id, label) rows and the edge topology in three collects, and the graph
keeps the result driver-side as a derived entry — the reference
snapshots stats per query the same way (GraphDB.scala:23-27).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class GraphStats:
    # Node counts describe DISTINCT (id, label) rows: a duplicated node
    # row counts once, so these are counts of the ids a label scan
    # matches (every match set is deduped).
    node_count: int
    edge_count: int
    # label -> distinct ids carrying it
    label_counts: dict[str, int] = field(default_factory=dict)
    # type -> edge rows (parallel edges each count)
    type_counts: dict[str, int] = field(default_factory=dict)
    # (srcLabel, edgeType, dstLabel) -> edge count — the reference's
    # triplet counters (StatsStore.scala:141-170,210-253); exact expand
    # cardinalities for label-constrained hops where independent
    # selectivities mis-estimate (e.g. a type that connects several label
    # pairs). The edges join the distinct (id, label) rows, so an edge
    # counts once per (src label, dst label) pair and a duplicated node
    # row does not count it twice. Empty dict = unknown (planner falls
    # back to independence).
    triplet_counts: dict[tuple[str, str, str], int] = field(default_factory=dict)
    # (type, side) -> distinct endpoint count, side 0 = src, 2 = dst.
    # Raw countDistinct over the edge table (danglers included) — only
    # sound for the planner's tautological-hop elimination when combined
    # with the edge-coverage test, which fails whenever a dangling edge
    # of the type exists (a dangling edge contributes no triplet row, so
    # coverage < type count). Empty dict = unknown -> no elimination.
    endpoint_counts: dict[tuple[str, int], int] = field(default_factory=dict)
    # True when no node id carries two different labels. The planner's
    # label-implied semi-join skip is only sound under this invariant: with
    # multi-label nodes the two-sided triplet join counts an edge once per
    # label *pair*, so a side-sum over triplet_counts can equal type_card
    # without every edge's endpoint carrying the label (a 2-label endpoint
    # plus a dangling edge cancel exactly). None = unknown -> no skip.
    single_label: bool | None = None

    @staticmethod
    def compute(nodes: DataFrame, edges: DataFrame) -> "GraphStats":
        """The stats of ``nodes``' distinct (id, label) rows and of
        ``edges``, in three collects: the label set of each id, the
        counts of each edge type, and the triplet join. Reads only the
        id and label columns of ``nodes``."""
        lab = nodes.select("id", "label")
        labels = lab.groupBy("id").agg(F.collect_set("label").alias("ls"))
        lc: dict[str, int] = {}
        one_label = True
        for r in (
            labels.select(F.explode("ls").alias("label"), (F.size("ls") > 1).alias("multi"))
            .groupBy("label")
            .agg(F.count("*").alias("n"), F.max("multi").alias("multi"))
            .collect()
        ):
            lc[r.label] = int(r.n)
            one_label = one_label and not r.multi
        tc: dict[str, int] = {}
        ep: dict[tuple[str, int], int] = {}
        for r in (
            edges.groupBy("type")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("src").alias("ns"),
                F.countDistinct("dst").alias("nd"),
            )
            .collect()
        ):
            tc[r.type] = int(r.n)
            ep[(r.type, 0)] = int(r.ns)
            ep[(r.type, 2)] = int(r.nd)
        # (id,label) resolution joins shuffle on src/dst; AQE broadcasts
        # the distinct label rows when they are small enough
        rows = lab.distinct()
        trip = (
            edges.select("src", "dst", "type")
            .join(rows.select(F.col("id").alias("src"), F.col("label").alias("sl")), on="src")
            .join(rows.select(F.col("id").alias("dst"), F.col("label").alias("dl")), on="dst")
            .groupBy("sl", "type", "dl")
            .count()
        )
        tpc = {(r.sl, r.type, r.dl): r["count"] for r in trip.collect()}
        return GraphStats(
            sum(lc.values()), sum(tc.values()), lc, tc, tpc, ep, one_label
        )

    # selectivity (StatsStore.scala:179-189)
    def node_sel(self, label: str | None) -> float:
        if label is None or self.node_count == 0:
            return 1.0
        return self.label_counts.get(label, 0) / self.node_count

    def label_card(self, label: str | None) -> int:
        if label is None:
            return self.node_count
        return self.label_counts.get(label, 0)

    def type_card(self, types: list[str] | None) -> int:
        if not types:
            return self.edge_count
        return sum(self.type_counts.get(t, 0) for t in types)

    def triplet_card(
        self, src_label: str | None, types: list[str] | None, dst_label: str | None
    ) -> int | None:
        """Exact edge count matching (srcLabel, type, dstLabel) constraints
        (None = wildcard), the directional estimate of StatsStore.scala:
        141-170,210-253. None when triplet stats are unavailable or no
        label constrains the hop (type_card already answers that)."""
        if not self.triplet_counts or (src_label is None and dst_label is None):
            return None
        tset = set(types) if types else None
        total = 0
        for (sl, t, dl), c in self.triplet_counts.items():
            if src_label is not None and sl != src_label:
                continue
            if dst_label is not None and dl != dst_label:
                continue
            if tset is not None and t not in tset:
                continue
            total += c
        return total


# ---- WHERE-predicate selectivity (extension beyond the reference's
# label-frequency model; SURVEY §4.2 lists selectivity as the
# optimizer's whole signal — histograms extend it to predicates) ----
#
# Equi-width histograms over the numeric reading of one value column.
# The graph keeps one per (label, prop) and per (edge types, prop) as
# entries of its derived registry (PropertyGraph.node_histogram /
# edge_histogram): building one is an ANALYZE-style aggregation job at
# plan time, paid once per graph version and dropped by a write that
# changes what it reads.

HIST_BUCKETS = 32


def histogram(base: DataFrame, v: Column):
    """``(lo, hi, n, nd, counts)`` over the rows of ``base``: the numeric
    range, count and bucket counts of ``v`` read as a double, and the
    approximate distinct count of ``v`` itself."""
    from .store import num  # store imports this module

    # unparsable values read as NULL and fall out of the numeric
    # histogram (their distinct count still informs equality)
    vn = num(v)
    row = base.agg(
        F.min(vn).alias("lo"), F.max(vn).alias("hi"),
        F.count(vn).alias("n"), F.approx_count_distinct(v).alias("nd"),
    ).collect()[0]
    nd = max(int(row["nd"]), 1)
    if row["n"] == 0 or row["lo"] is None:
        return (None, None, 0, nd, None)
    lo, hi, n = float(row["lo"]), float(row["hi"]), int(row["n"])
    counts = [0] * HIST_BUCKETS
    if hi > lo:
        b = F.least(
            F.lit(HIST_BUCKETS - 1),
            F.floor((vn - lo) / (hi - lo) * HIST_BUCKETS).cast("int"),
        )
        for r in base.filter(vn.isNotNull()).groupBy(b.alias("b")).count().collect():
            if r["b"] is not None:
                counts[int(r["b"])] = int(r["count"])
    else:
        counts[0] = n
    return (lo, hi, n, nd, counts)


def hist_sel(h, op: str, value) -> float | None:
    """Estimated fraction of rows satisfying ``<op> value`` under
    histogram ``h``. None = unknown (planner keeps its upper bound).
    A float ``value`` compares the numeric reading (lit_cmp), whose
    ranges interpolate the buckets. Equality uses 1/approx-distinct;
    string ops beyond (=, <>) are unestimated."""
    if h is None:
        return None
    lo, hi, n, nd, counts = h
    if not isinstance(value, float):
        if op == "=":
            return 1.0 / nd
        if op in ("<>", "!="):
            return 1.0 - 1.0 / nd
        return None
    if counts is None:
        return None
    x = float(value)
    if op == "=":
        return 1.0 / nd
    if op in ("<>", "!="):
        return 1.0 - 1.0 / nd
    if hi <= lo:
        below = 1.0 if lo <= x else 0.0
    else:
        width = (hi - lo) / len(counts)
        mass = 0.0
        for i, c in enumerate(counts):
            b_lo = lo + i * width
            b_hi = b_lo + width
            if b_hi <= x:
                mass += c
            elif b_lo < x:
                mass += c * (x - b_lo) / width
        below = mass / n
    if op in ("<", "<="):
        return max(min(below, 1.0), 1.0 / n)
    if op in (">", ">="):
        return max(min(1.0 - below, 1.0), 1.0 / n)
    return None


def stats_to_dict(s: "GraphStats") -> dict:
    """JSON-safe rendering (triplet keys join on \\x1f — labels/types
    are identifiers, so the separator cannot collide)."""
    return {
        "node_count": s.node_count,
        "edge_count": s.edge_count,
        "label_counts": s.label_counts,
        "type_counts": s.type_counts,
        "triplet_counts": {
            "\x1f".join(k): v for k, v in s.triplet_counts.items()
        },
        "endpoint_counts": {
            f"{t}\x1f{side}": v for (t, side), v in s.endpoint_counts.items()
        },
        "single_label": s.single_label,
    }


def stats_from_dict(d: dict) -> "GraphStats":
    return GraphStats(
        d["node_count"],
        d["edge_count"],
        dict(d.get("label_counts", {})),
        dict(d.get("type_counts", {})),
        {tuple(k.split("\x1f")): v for k, v in d.get("triplet_counts", {}).items()},
        {
            (k.split("\x1f")[0], int(k.split("\x1f")[1])): v
            for k, v in d.get("endpoint_counts", {}).items()
        },
        d.get("single_label"),
    )
