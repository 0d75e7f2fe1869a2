"""Property graph store: nodes/edges DataFrames + label statistics.

Reference: ConcurrentDirectedGraph (g4s-matrix-graph/.../graph/
ConcurrentDirectedGraph.scala:29-41) keeps one boolean matrix per node
label / edge type plus eagerly-maintained transposes, and a payload
DataStore (DataStore.scala:9-92). Here:

- ``nodes(id: long, label: string, props: map<string,string>)`` — the
  per-label "diagonal matrix" is just ``nodes.filter(label == L)``,
- ``edges(src: long, dst: long, type: string, weight: double,
  props: map)`` — the transpose is a column swap (free), so unlike the
  reference we never materialize it as a table (SURVEY §1.3); only the
  driver-side adjacency index of anchored reads and of bfs/sssp keeps
  both directions,
- label/type statistics for the cost-based planner come from one
  function, ``GraphStats.compute``, over the distinct (id, label) rows
  and the edges, and are cached driver-side, mirroring StatsStore
  (g4s-optimizer/.../optim/StatsStore.scala:111-255),
- everything computed FROM the tables (stats, the slim projection,
  payload dedups, the operators' edge folds and counts) lives in one
  per-graph registry, ``PropertyGraph.derived`` (see memo.Derived).

At 100 TB the nodes/edges tables are parquet, partitioned/bucketed by
label (resp. type, src) so a label scan is partition-pruned and an expand
join is co-located. Locally they're in-memory DataFrames; the API is the
same.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import FACETS, Derived
from .stats import GraphStats, histogram

PRED_OPS = {
    "=": lambda c, v: c == v,
    "<>": lambda c, v: c != v,
    "!=": lambda c, v: c != v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    # openCypher string predicates (extension)
    "starts_with": lambda c, v: c.startswith(v),
    "ends_with": lambda c, v: c.endswith(v),
    "contains": lambda c, v: c.contains(v),
    # IS [NOT] NULL (round-7): missing map key == NULL property
    "is_null": lambda c, v: c.isNull(),
    "is_not_null": lambda c, v: c.isNotNull(),
    # =~ regex (round-8): the parser pre-anchors the pattern
    # (openCypher's =~ is a full match; regexp alone is partial).
    # regexp_like accepts the lit() Column cond() passes (rlike is
    # str-only)
    "regex": lambda c, v: F.regexp_like(c, v if isinstance(v, Column) else F.lit(v)),
    # negated string/regex predicates (round-16, WHERE NOT <atom>): the
    # SQL-3VL `~` keeps NULL NULL, so a NULL property drops the row
    # under NOT exactly as it does un-negated — openCypher parity
    "not_starts_with": lambda c, v: ~c.startswith(v),
    "not_ends_with": lambda c, v: ~c.endswith(v),
    "not_contains": lambda c, v: ~c.contains(v),
    "not_regex": lambda c, v: ~F.regexp_like(
        c, v if isinstance(v, Column) else F.lit(v)
    ),
}


def num(c: Column) -> Column:
    """The numeric reading of a value: ``c`` as a double, NULL where it
    does not read as one. Properties are strings, so every numeric
    context (arithmetic, numeric aggregates, comparisons against a
    number, sort keys, histograms, toFloat) reads them through this one
    function; under ANSI mode a plain cast of one non-numeric value
    would fail the whole job."""
    return c.try_cast("double")


def lit_cmp(op: str, c: Column, value) -> Column:
    """``c <op> literal``, compared as the literal's Python type says: a
    float compares num(c), an int (an id() literal) compares the long id
    column uncast so ids stay exact, a string (or None, IS NULL) compares
    the raw value."""
    return PRED_OPS[op](num(c) if isinstance(value, float) else c, F.lit(value))


def atom_cmp(f, props: Column, ident: Column) -> Column:
    """A node's WHERE atom (parser.PropFilter) over its ``props`` map and
    ``ident`` id column: an id() atom compares the id, any other its
    property, through the atom's scalar function if it has one."""
    from ..cypher.parser import ID_PROP

    if f.prop == ID_PROP:
        return lit_cmp(f.op, ident, f.value)
    c = props.getItem(f.prop)
    return lit_cmp(f.op, c if f.fn is None else apply_scalar_fn(f.fn, c), f.value)


def apply_scalar_fn(spec: str, c: "F.Column") -> "F.Column":
    """Evaluate an encoded scalar-function spec over a property column —
    shared by WHERE pushdown (node_set) and RETURN projection (a
    ReturnItem's "sfn" node). Spec = fn name, optionally with
    US-separated args: ``substring\\x1f<start>[\\x1f<len>]`` (0-based
    per openCypher; Spark's substring is 1-based), ``replace\\x1f<search>
    \\x1f<repl>``, ``left/right\\x1f<n>``, or a bare
    toLower/toUpper/trim/size/reverse."""
    parts = spec.split("\x1f")
    fn, args = parts[0], parts[1:]
    simple = {
        "tolower": F.lower, "toupper": F.upper, "trim": F.trim,
        "size": F.length, "reverse": F.reverse,
        # conversions (round-8): props are stored as strings; toFloat is
        # the double read every numeric context uses, toInteger
        # truncates toward zero per openCypher (toInteger('4.9') = 4),
        # toString is the stored rendering itself. Each returns NULL for
        # non-convertible input (num), like openCypher.
        "tofloat": lambda col: num(col.cast("string")),
        "tointeger": lambda col: num(col.cast("string")).cast("long"),
        "tostring": lambda col: col.cast("string"),
    }
    if fn in simple:
        return simple[fn](c)
    if fn == "substring":
        start = int(args[0]) + 1
        length = int(args[1]) if len(args) > 1 and args[1] != "" else (1 << 30)
        return F.substring(c, start, length)
    if fn == "replace":
        return F.replace(c, F.lit(args[0]), F.lit(args[1]))
    if fn == "left":
        return F.substring(c, 1, int(args[0]))
    if fn == "right":
        n = int(args[0])
        # openCypher right() of a shorter string is the whole string;
        # Spark's negative-start substring skips strings shorter than n
        return F.when(F.length(c) <= n, c).otherwise(F.substring(c, -n, n))
    raise ValueError(f"unknown scalar function spec: {spec!r}")


# The driver-side indexes (PropertyGraph.adjacency) are built from the
# cached tables only, and each only while its arrays stay under this
# budget: (key, neighbour) int64 pairs out and in are 32 B per edge, and
# a weighted index adds an 8 B weight and a 1 B null flag per direction;
# the label index holds at most 16 B per (id, label) row (the row's id
# under its label and among all ids).
INDEX_MAX_BYTES = 256 << 20
INDEX_BYTES_PER_EDGE = 32
INDEX_BYTES_PER_WEIGHT = 18
INDEX_BYTES_PER_NODE = 16
# the weight columns a weighted index holds: Spark type -> numpy dtype
NUMERIC_WEIGHTS = {
    "tinyint": np.int8, "smallint": np.int16, "int": np.int32,
    "bigint": np.int64, "float": np.float32, "double": np.float64,
}

_NO_IDS = np.empty(0, np.int64)


class AdjacencyIndex:
    """A graph's edge topology held on the driver: per edge type and
    direction, the (key, neighbour) id pairs sorted by key, and on a
    weighted index each edge's weight and null flag in the same order.
    It is a CSR whose row pointers come from binary search, so ids need
    not be dense. The reference keeps the same per-type matrix and its
    transpose in memory (ConcurrentDirectedGraph.scala:30-35); here a
    frontier of a few ids costs two searches per type, not a job."""

    def __init__(self, pairs: dict, weight_type: str | None = None):
        # (type, reverse) -> (sorted keys, neighbours[, weights, nulls])
        # in key order; weight_type is the weight column's Spark type
        # (None: unweighted)
        self.pairs = pairs
        self.weight_type = weight_type
        self.nbytes = sum(a.nbytes for arrays in pairs.values() for a in arrays)

    @staticmethod
    def build(edges: DataFrame, weight_col: str | None = None) -> "AdjacencyIndex | None":
        """One collect of the (src, dst, type[, weight_col]) columns;
        None when the edge count puts the arrays over INDEX_MAX_BYTES,
        or when ``weight_col`` is not one of NUMERIC_WEIGHTS."""
        cols = [F.col("src"), F.col("dst"), F.col("type")]
        per_edge, weight_type = INDEX_BYTES_PER_EDGE, None
        if weight_col is not None:
            weight_type = edges.select(weight_col).dtypes[0][1]
            if weight_type not in NUMERIC_WEIGHTS:
                return None
            w = F.col(weight_col)
            cols += [F.coalesce(w, F.lit(0)).alias("w"), w.isNull().alias("w_null")]
            per_edge += INDEX_BYTES_PER_WEIGHT
        if edges.count() * per_edge > INDEX_MAX_BYTES:
            return None
        pdf = edges.select(*cols).toPandas()
        src = pdf["src"].to_numpy(np.int64)
        dst = pdf["dst"].to_numpy(np.int64)
        extra = ()
        if weight_col is not None:
            extra = (pdf["w"].to_numpy(NUMERIC_WEIGHTS[weight_type]), pdf["w_null"].to_numpy(bool))
        pairs = {}
        for t, rows in pdf.groupby("type", dropna=False).indices.items():
            for reverse, keys, nbrs in ((False, src, dst), (True, dst, src)):
                arrays = (keys[rows], nbrs[rows], *(a[rows] for a in extra))
                # parallel edges order by weight, so equal tables give
                # equal indexes whatever order the collect returned
                order = np.lexsort(arrays[::-1])
                pairs[(t, reverse)] = tuple(a[order] for a in arrays)
        return AdjacencyIndex(pairs, weight_type)

    def expand(self, ids: np.ndarray, types, reverse: bool, cap: int | None = None):
        """The edges leaving ``ids`` over ``types`` (every type when
        empty), followed against their direction when ``reverse``:
        ``(row, nbr, weight, null)`` arrays, ``row`` indexing ``ids``;
        ``weight`` and ``null`` are None on an unweighted index. None
        when there would be more than ``cap`` of them: the range lengths
        give the count before any row is built."""
        spans, total = [], 0
        for (t, rev), (keys, *cols) in self.pairs.items():
            if rev != reverse or (types and t not in types):
                continue
            lo = np.searchsorted(keys, ids, "left")
            n = np.searchsorted(keys, ids, "right") - lo
            total += int(n.sum())
            if cap is not None and total > cap:
                return None
            spans.append((lo, n, cols))
        # each id's range [lo, lo + n) laid end to end
        picks = [np.arange(n.sum()) + np.repeat(lo - np.cumsum(n) + n, n) for lo, n, _ in spans]
        spans = [
            (np.repeat(np.arange(len(ids)), n), *(c[pick] for c in cols))
            for pick, (_, n, cols) in zip(picks, spans)
        ]
        empty = [_NO_IDS, _NO_IDS]
        if self.weight_type is not None:
            empty += [np.empty(0, NUMERIC_WEIGHTS[self.weight_type]), np.empty(0, bool)]
        out = tuple(np.concatenate([e, *(span[j] for span in spans)]) for j, e in enumerate(empty))
        return out if self.weight_type is not None else (*out, None, None)

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, AdjacencyIndex)
            and self.weight_type == other.weight_type
            and self.pairs.keys() == other.pairs.keys()
            and all(
                np.array_equal(a, b)
                for k in self.pairs
                for a, b in zip(self.pairs[k], other.pairs[k])
            )
        )


class LabelIndex:
    """A graph's (id, label) rows held on the driver: the sorted ids of
    each label, and of every node for an unlabeled check."""

    def __init__(self, by_label: dict):
        self.by_label = by_label
        self.all_ids = np.unique(np.concatenate([_NO_IDS, *by_label.values()]))
        self.nbytes = self.all_ids.nbytes + sum(a.nbytes for a in by_label.values())

    @staticmethod
    def build(slim: DataFrame) -> "LabelIndex | None":
        """One collect of the (id, label) rows; None when their count
        puts the arrays over INDEX_MAX_BYTES."""
        if slim.count() * INDEX_BYTES_PER_NODE > INDEX_MAX_BYTES:
            return None
        pdf = slim.select("id", "label").toPandas()
        ids = pdf["id"].to_numpy(np.int64)
        return LabelIndex({
            label: np.unique(ids[rows])
            for label, rows in pdf.groupby("label").indices.items()
        })

    def has(self, ids: np.ndarray, label: str | None) -> np.ndarray:
        """Mask of the ``ids`` that carry ``label`` (any label: None)."""
        known = self.all_ids if label is None else self.by_label.get(label, _NO_IDS)
        if not len(known):
            return np.zeros(len(ids), bool)
        pos = np.searchsorted(known, ids).clip(max=len(known) - 1)
        return known[pos] == ids

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, LabelIndex)
            and self.by_label.keys() == other.by_label.keys()
            and all(np.array_equal(v, other.by_label[k]) for k, v in self.by_label.items())
        )


# the memo.FACETS a write changes
NODE_ROWS = frozenset({"labels", "props"})  # changed by adding/dropping node rows
EDGE_ROWS = frozenset({"edges", "weights"})  # changed by adding/dropping edge rows
STATS_READS = frozenset({"labels", "edges"})


class PropertyGraph:
    def __init__(self, nodes: DataFrame, edges: DataFrame, spark: SparkSession | None = None):
        """nodes: (id long, label string, ...props); edges: (src long,
        dst long, type string[, weight])."""
        self.spark = spark or nodes.sparkSession
        self.nodes = nodes
        self.edges = edges
        self.derived = Derived()

    def _write(self, nodes: DataFrame, edges: DataFrame, changed) -> "PropertyGraph":
        """A write's result; ``changed`` = the facets the write changed."""
        g = PropertyGraph(nodes, edges, self.spark)
        g.derived = self.derived.inherit(changed)
        return g

    # -- construction / mutation (ConcurrentDirectedGraph.scala:109-153) --

    @staticmethod
    def empty(spark: SparkSession) -> "PropertyGraph":
        nodes = spark.createDataFrame([], schema="id long, label string")
        edges = spark.createDataFrame([], schema="src long, dst long, type string")
        return PropertyGraph(nodes, edges, spark)

    @staticmethod
    def from_tuples(
        spark: SparkSession,
        nodes: list[tuple[int, str]],
        edges: list[tuple[int, int, str]] | list[tuple[int, int, str, float]],
    ) -> "PropertyGraph":
        ndf = spark.createDataFrame(nodes, schema="id long, label string")
        if edges and len(edges[0]) == 4:
            edf = spark.createDataFrame(edges, schema="src long, dst long, type string, weight double")
        else:
            edf = spark.createDataFrame(edges, schema="src long, dst long, type string")
        return PropertyGraph(ndf, edf, spark)

    def insert_vertices(self, rows: DataFrame) -> "PropertyGraph":
        """Batch append (insertVertex, ConcurrentDirectedGraph.scala:109-125).
        Append-only, id uniqueness is the caller's contract; at scale this
        is a Delta/parquet append, not a union."""
        nodes = self.nodes.unionByName(rows, allowMissingColumns=True)
        return self._write(nodes, self.edges, NODE_ROWS)

    def insert_edges(self, rows: DataFrame) -> "PropertyGraph":
        edges = self.edges.unionByName(rows, allowMissingColumns=True)
        return self._write(self.nodes, edges, EDGE_ROWS)

    def remove_vertices(self, ids: DataFrame) -> "PropertyGraph":
        """Delete nodes (all label rows) AND their incident edges — the
        graph-level delete the reference declares but leaves
        unimplemented (removeNode = ???, StatsStore.scala:172-177);
        kernel-level point removal exists as Matrix.remove_element.

        ``ids``: one ``id`` column. Relational rewrite: three anti-joins
        (nodes on id, edges on src and on dst) — each a broadcastable
        semi-difference, no shuffle of the big side beyond the join. At
        cluster scale this is a Delta MERGE/DELETE (parquet upsert); the
        anti-join IS that delete's logical plan."""
        ids = ids.select("id").dropDuplicates(["id"])
        nodes = self.nodes.join(F.broadcast(ids), on="id", how="left_anti")
        edges = (
            self.edges.join(
                F.broadcast(ids.select(F.col("id").alias("src"))), on="src", how="left_anti"
            ).join(
                F.broadcast(ids.select(F.col("id").alias("dst"))), on="dst", how="left_anti"
            )
        )
        return self._write(nodes, edges, FACETS)

    def remove_edges(self, rows: DataFrame) -> "PropertyGraph":
        """Delete edges by (src, dst[, type]) anti-join (removeEdge = ???
        in the reference, StatsStore.scala:172-177). Omitting ``type``
        deletes every parallel edge between the endpoints."""
        on = [c for c in ("src", "dst", "type") if c in rows.columns]
        if not {"src", "dst"} <= set(on):
            raise ValueError("remove_edges needs src and dst columns")
        sel = rows.select(*on).dropDuplicates(on)
        edges = self.edges.join(F.broadcast(sel), on=on, how="left_anti")
        return self._write(self.nodes, edges, EDGE_ROWS)

    def merge_vertices(self, rows: DataFrame) -> "PropertyGraph":
        """MERGE (match-or-create) for nodes — the upsert verb completing
        the mutation story (insert/update/delete above; VERDICT r6 #6).
        Rows whose (id, label) already exists are left untouched; the
        rest append once. Idempotent: re-running the same merge is a
        no-op, and duplicate rows inside ``rows`` insert once.

        Relational rewrite: one broadcastable anti-join against the slim
        (id, label) projection + an append — at cluster scale this is
        exactly ``MERGE ... WHEN NOT MATCHED THEN INSERT`` on a Delta
        table (see compact_edge_ingest for the WHEN MATCHED half)."""
        key = ["id", "label"]
        if not set(key) <= set(rows.columns):
            raise ValueError("merge_vertices needs id and label columns")
        missing = rows.join(
            self.nodes.select(*key), on=key, how="left_anti"
        ).dropDuplicates(key)
        return self.insert_vertices(missing)

    def merge_edges(self, rows: DataFrame) -> "PropertyGraph":
        """MERGE for edges by (src, dst, type): existing edges are left
        untouched (their weight/props survive), missing ones append
        once. Same anti-join + append shape as merge_vertices."""
        key = ["src", "dst", "type"]
        if not set(key) <= set(rows.columns):
            raise ValueError("merge_edges needs src, dst and type columns")
        missing = rows.join(
            self.edges.select(*key), on=key, how="left_anti"
        ).dropDuplicates(key)
        return self.insert_edges(missing)

    def add_labels(self, ids: DataFrame, label: str) -> "PropertyGraph":
        """``SET n:Label`` (round-8): each id gains an (id, label) row —
        the multi-label model stores one row per label, so an added
        label is an append carrying the node's existing props payload
        (props are identical across a node's label rows; the planner's
        resolve-props join dedupes on id). Idempotent via anti-join.
        Scale shape: one broadcastable semi-join against the matched
        id set + an append — the nodes table never shuffles."""
        ids = ids.select("id").dropDuplicates(["id"])
        payload = self.nodes.join(F.broadcast(ids), on="id", how="left_semi")
        payload = payload.dropDuplicates(["id"]).withColumn("label", F.lit(label))
        new_rows = payload.join(
            self.nodes.filter(F.col("label") == label).select("id"),
            on="id", how="left_anti",
        )
        return self.insert_vertices(new_rows)

    def remove_labels(self, ids: DataFrame, label: str) -> "PropertyGraph":
        """``REMOVE n:Label`` (round-8): drop the (id, label) rows for
        the matched ids. A node whose LAST label row is removed leaves
        the store entirely (this model has no label-less nodes) — its
        incident edges are removed with it, like remove_vertices, so
        patterns can never traverse a dangling endpoint."""
        key = ids.select("id").dropDuplicates(["id"]).withColumn(
            "label", F.lit(label)
        )
        keep = self.nodes.join(
            F.broadcast(key), on=["id", "label"], how="left_anti"
        )
        g = self._write(keep, self.edges, NODE_ROWS)
        gone = (
            self.nodes.select("id").dropDuplicates(["id"])
            .join(keep.select("id").dropDuplicates(["id"]), on="id", how="left_anti")
        )
        return g.remove_vertices(gone) if gone.limit(1).count() else g

    def update_node_props(self, updates: DataFrame, replace: bool = False) -> "PropertyGraph":
        """Property update — the SET verb completing the mutation story
        (insert/delete exist above; the reference declares no mutation
        at all, StatsStore.scala:172-177 ``???``).

        ``updates``: (id long, props map<string,string>) — one row per
        id. Default is openCypher ``SET n += {..}`` merge semantics:
        update keys overwrite, other keys survive; ``replace=True`` is
        ``SET n = {..}`` (the whole map is swapped). Nodes without an
        update row pass through untouched (multi-label nodes update
        every label row).

        Relational rewrite: ONE broadcast left join + a map merge
        expression — the nodes table never shuffles. At cluster scale
        this is a Delta MERGE / parquet upsert; the left join IS that
        merge's logical plan (see also sources.layout.compact_parquet
        for the file-level rewrite).

        Duplicate ids in ``updates`` would fan the left join out and
        silently DUPLICATE node rows, so they are deduplicated here
        (one arbitrary-but-deterministic-per-plan row survives; callers
        wanting last-wins should pre-aggregate) — ADVICE r6."""
        upd = updates.select("id", F.col("props").alias("_upd")).dropDuplicates(["id"])
        nodes = self.nodes
        if "props" not in nodes.columns:
            nodes = nodes.withColumn(
                "props", F.lit(None).cast("map<string,string>")
            )
        joined = nodes.join(F.broadcast(upd), on="id", how="left")
        if replace:
            new_props = F.coalesce(F.col("_upd"), F.col("props"))
        else:
            # merge with update-wins: drop overwritten keys first so
            # map_concat never sees a duplicate key (its dedup policy is
            # EXCEPTION by default — keep it that way)
            base = F.coalesce(
                F.col("props"), F.create_map().cast("map<string,string>")
            )
            new_props = F.when(F.col("_upd").isNull(), F.col("props")).otherwise(
                F.map_concat(
                    F.map_filter(
                        base,
                        lambda k, _v: ~F.array_contains(
                            F.map_keys(F.col("_upd")), k
                        ),
                    ),
                    F.col("_upd"),
                )
            )
        out = joined.withColumn("props", new_props).drop("_upd")
        # a props rewrite keeps the (id, label) rows and the edge table:
        # the planner stats and every edge-derived entry carry over
        return self._write(out, self.edges, {"props"})

    def remove_node_props(self, ids: DataFrame, keys: list[str]) -> "PropertyGraph":
        """REMOVE verb: drop property ``keys`` from the nodes in
        ``ids`` (one ``id`` column); other nodes and other keys are
        untouched, and a key absent from a node's map is a no-op (an
        absent property IS NULL — the IS NULL contract). Same
        broadcast-semi-join + map expression shape as update_node_props:
        the nodes table never shuffles."""
        if "props" not in self.nodes.columns:
            return self
        ids = ids.select(F.col(ids.columns[0]).alias("id")).dropDuplicates(["id"])
        hit = self.nodes.join(F.broadcast(ids.withColumn("_rm", F.lit(True))), on="id", how="left")
        keyset = F.array(*[F.lit(k) for k in keys])
        new_props = F.when(
            F.col("_rm").isNotNull() & F.col("props").isNotNull(),
            F.map_filter(F.col("props"), lambda k, _v: ~F.array_contains(keyset, k)),
        ).otherwise(F.col("props"))
        out = hit.withColumn("props", new_props).drop("_rm")
        return self._write(out, self.edges, {"props"})

    def update_edge_weights(self, updates: DataFrame) -> "PropertyGraph":
        """SET for edge weights: ``updates`` (src, dst[, type], weight)
        overwrites the weight of matching edges (all parallel types when
        ``type`` is omitted); unmatched edges keep theirs. Same
        broadcast-left-join upsert shape as update_node_props — and the
        same duplicate-key contract: conflicting weights for one
        (src, dst[, type]) key are deduplicated to ONE
        arbitrary-but-deterministic-per-plan survivor; callers wanting
        last-wins/max semantics should pre-aggregate (ADVICE r7)."""
        on = [c for c in ("src", "dst", "type") if c in updates.columns]
        if not {"src", "dst"} <= set(on):
            raise ValueError("update_edge_weights needs src and dst columns")
        # duplicate keys would duplicate edge rows through the left join
        # (same guard as update_node_props) — ADVICE r6
        upd = updates.select(*on, F.col("weight").alias("_w")).dropDuplicates(on)
        edges = self.edges
        if "weight" not in edges.columns:
            edges = edges.withColumn("weight", F.lit(None).cast("double"))
        out = (
            edges.join(F.broadcast(upd), on=on, how="left")
            .withColumn("weight", F.coalesce(F.col("_w"), F.col("weight")))
            .drop("_w")
        )
        # a weight overwrite keeps every row: only entries that read an
        # edge column beyond (src, dst, type) are rebuilt
        return self._write(self.nodes, out, {"weights"})

    def next_id(self) -> int:
        """Driver-side id counter analogue (DataStore.scala:44-49). At
        cluster scale use max(id)+monotonically_increasing_id per batch."""
        row = self.nodes.agg(F.max("id").alias("m")).collect()[0]
        return (row.m if row.m is not None else -1) + 1

    def payload_nodes(self) -> DataFrame:
        """The (id, props) payload projection deduped on id — one props
        map per node regardless of label multiplicity (multi-label nodes
        share their payload across label rows). Memoized per graph:
        every property-resolution join, keys()/properties() lookup and
        SET payload read reuses ONE deduped plan instead of re-paying
        the dedup aggregate per query."""
        return self.derived.get(
            "payload_nodes", NODE_ROWS,
            lambda: self.nodes.select("id", "props").dropDuplicates(["id"]),
        )

    def payload_rows(self) -> DataFrame:
        """The (id, props) projection deduped on (id, PAYLOAD) — the
        property-RESOLUTION side of every RETURN/WHERE props join
        (round-9, VERDICT r8 #4): a multi-label node carries one shared
        payload on each (id, label) store row, so deduping on the
        payload itself makes it resolve ONCE per match (openCypher: one
        row per match), while anomalous same-id rows with genuinely
        DISTINCT payloads (the driver testdata's duplicate lineitem
        rows — NOTES.md "testdata quirk") keep their per-row
        aggregation semantics. For a well-formed store (props
        functional on id) this is exactly one row per id. Maps aren't
        set-comparable in Spark, so the dedup keys on the sorted
        entry array. Memoized per graph.

        Scale shape: one exchange on (id, payload-key) for the dedup,
        then the join's exchange on id over the already-deduped slim
        side — both on (id, props) projections only, never the label
        rows."""
        def build():
            pk = F.array_sort(F.map_entries(F.col("props")))
            return (
                self.nodes.select("id", "props")
                .withColumn("_pk", pk)
                .dropDuplicates(["id", "_pk"])
                .drop("_pk")
            )

        return self.derived.get("payload_rows", NODE_ROWS, build)

    # -- lookups (ConcurrentDirectedGraph.scala:55-80,104) -----------------

    def label_nodes(self, label: str | None) -> DataFrame:
        """The per-label diagonal matrix: node-id set for a label. Uses the
        slim (id,label) cache when present — label semi-joins never touch
        the props payload."""
        df = self.derived.peek("nodes_slim")
        if df is None:
            df = self.nodes
        if label is not None:
            df = df.filter(F.col("label") == label)
        return df.select("id")

    def node_set(self, label: str | None, prop_filters=(), or_groups=(), extra_labels=()) -> DataFrame:
        """Node-id set for a label + WHERE prop predicates (extension —
        the reference has no property predicates, SURVEY §2.7). Predicates
        evaluate against the props map and the id column through atom_cmp:
        a number compares the value's numeric reading, num() (string
        round-trip through Double.toString is exact).

        ``or_groups``: tuples of predicates on THIS binding, each applied
        as one OR-combined filter (a CNF conjunct) — still a plain column
        predicate on the scan, so pushdown is preserved.

        ``extra_labels``: multi-label intersection (``(n:A:B)``) — a node
        carrying several labels is several (id, label) rows, so each extra
        label is one more semi-join against that label's id set."""
        if prop_filters or or_groups:
            ids = self._node_set_filtered(label, prop_filters, or_groups)
        else:
            ids = self.label_nodes(label)  # slim-cache path
        for xl in extra_labels:
            ids = ids.join(self.label_nodes(xl), on="id", how="left_semi")
        return ids

    def _node_set_filtered(self, label: str | None, prop_filters=(), or_groups=()) -> DataFrame:
        from ..cypher.parser import ID_PROP

        df = self.nodes
        if label is not None:
            df = df.filter(F.col("label") == label)
        needs_props = any(
            f.prop != ID_PROP
            for fs in (prop_filters, *or_groups)
            for f in fs
        )
        if needs_props and "props" not in df.columns:
            raise ValueError("graph nodes carry no props column; WHERE unsupported")

        def cond(f):
            return atom_cmp(f, F.col("props"), F.col("id"))

        for f in prop_filters:
            df = df.filter(cond(f))
        for grp in or_groups:
            acc = None
            for f in grp:
                acc = cond(f) if acc is None else (acc | cond(f))
            df = df.filter(acc)
        return df.select("id")

    def typed_edges(self, types: list[str] | None, transpose: bool = False) -> DataFrame:
        """Edge matrix for type(s), optionally transposed
        (lookupEdges, ConcurrentDirectedGraph.scala:65-80). Transpose is a
        projection — the reference maintains a second physical matrix
        (ConcurrentDirectedGraph.scala:145-148); Spark doesn't need to."""
        df = self.edges
        if types:
            df = df.filter(F.col("type") == types[0]) if len(types) == 1 else df.filter(
                F.col("type").isin(types)
            )
        if transpose:
            df = df.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"),
                *[c for c in df.columns if c not in ("src", "dst")],
            )
        return df

    def get_vs(self, ids: DataFrame) -> DataFrame:
        """Payload resolution: ids -> full node rows (DataStore.scala:81-92)."""
        key = ids[ids.columns[0]]
        return ids.join(self.nodes, key == self.nodes["id"], "inner")

    # -- stats --------------------------------------------------------------

    @property
    def stats(self) -> GraphStats:
        """GraphStats.compute over the slim (id, label) cache when
        cache() pinned one, else over the nodes' id and label columns."""

        def build():
            slim = self.derived.peek("nodes_slim")
            return GraphStats.compute(self.nodes if slim is None else slim, self.edges)

        return self.derived.get("stats", STATS_READS, build)

    @stats.setter
    def stats(self, value: GraphStats) -> None:
        self.derived.put("stats", STATS_READS, value)

    def node_histogram(self, label: str | None, prop: str):
        """stats.histogram of ``prop`` over the ``label`` nodes (None
        without a props map), built once per graph version."""

        def build():
            if "props" not in self.nodes.columns:
                return None
            base = self.nodes if label is None else self.nodes.filter(F.col("label") == label)
            return histogram(base, F.col("props").getItem(prop))

        return self.derived.get(("node_hist", label, prop), NODE_ROWS, build)

    def edge_histogram(self, types: tuple[str, ...], prop: str):
        """stats.histogram of an edge property over the ``types`` edges:
        the typed column (weight) when present, else the props map."""

        def build():
            base = self.typed_edges(list(types))
            if prop in base.columns:
                return histogram(base, F.col(prop))
            if "props" in base.columns:
                return histogram(base, F.col("props").getItem(prop))
            return None

        return self.derived.get(("edge_hist", types, prop), EDGE_ROWS, build)

    def edge_index(self, weight_col: str | None = None) -> AdjacencyIndex | None:
        """The driver-side adjacency index, with the weights of
        ``weight_col`` when given, or None. It is built on first use
        from the cached edge table; a write whose result holds an
        uncached union of what it reads neither inherits nor rebuilds
        it. The unweighted index reads ``edges``; each weighted one is
        its own entry reading ``edges`` and ``weights``, so a weight
        write keeps the unweighted index. An index over INDEX_MAX_BYTES
        is recorded as None and never built."""
        key = "adjacency" if weight_col is None else ("adjacency", weight_col)
        if key not in self.derived and not self.edges.is_cached:
            return None
        reads = {"edges"} if weight_col is None else EDGE_ROWS
        return self.derived.get(key, reads, lambda: AdjacencyIndex.build(self.edges, weight_col))

    def adjacency(self) -> tuple[AdjacencyIndex, LabelIndex] | None:
        """The unweighted edge_index and the driver-side label index, or
        None. The label index is built on first use from the slim
        (id, label) cache and reads ``labels``, so a props write
        inherits both."""
        slim = self.derived.peek("nodes_slim")
        if ("adjacency" not in self.derived and not self.edges.is_cached) or (
            "label_index" not in self.derived and slim is None
        ):
            return None
        adj = self.edge_index()
        labels = self.derived.get("label_index", {"labels"}, lambda: LabelIndex.build(slim))
        return None if adj is None or labels is None else (adj, labels)

    def cache(self) -> "PropertyGraph":
        """Cache the hot projections: (id,label) for planning/semi-joins
        and the edge topology. The full props payload stays uncached —
        prop-predicate scans and payload resolution read the source with
        column pruning/pushdown instead of pinning every map in memory."""
        self.derived.get(
            "nodes_slim", {"labels"},
            lambda: self.nodes.select("id", "label").cache(),
        )
        self.edges = self.edges.cache()
        return self

    def uncache(self) -> "PropertyGraph":
        """Unpersist every registry DataFrame, uncache every registry graph,
        and unpersist the edge table cache() pinned. Results are unchanged;
        later reads rebuild what they use."""
        self.derived.uncache()
        self.edges.unpersist()
        return self
