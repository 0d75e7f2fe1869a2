"""Sparse matrix / vector as DataFrames — the GraphBLAS kernel surface.

Reference kernels (SURVEY §2.3):
- mxm:                 .../grbv2/MatrixOps.scala:162-210
- ewise union/intersect: .../grbv2/ElemWise.scala:12-95
- transpose:           .../grbv2/MatrixOps.scala:20-44
- extract/assign:      .../grbv2/MatrixOps.scala:46-106
- reduce rows/cols/all: .../grbv2/GrBMatrix.scala:50-82
- diag:                .../grbv2/Diag.scala:7-27
- isEq:                .../grbv2/MatrixOps.scala:108-160

A matrix is a DataFrame ``(i: long, j: long, v: T)`` with logical shape
``(nrows, ncols)``; a vector is ``(i: long, v: T)``. Implicit zeros are
absent rows — exactly GraphBLAS sparsity. All kernels are declarative
DataFrame programs: Catalyst plans them, Tungsten executes them, and at
cluster scale the joins shuffle on (i/j) keys — a 100 TB matrix is just a
big DataFrame.

Masks and accumulators are expressed as join modifiers:
- mask            -> left-semi join with the mask's (i,j) pattern
- valued mask     -> pattern restricted to truthy cells (mask_valued=True)
- complemented    -> left-anti join
- accum(op)       -> full-outer merge of old output with the new values
- replace=True    -> old output cleared outside the effective mask first
  (replace=False, the GraphBLAS default, keeps unmasked old cells)
which mirrors the descriptor/mask/accum parameters threaded through every
reference kernel (MatrixOps.scala / ElemWise.scala / Descriptor.scala:50-94).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .semiring import BINARY_OPS, MONOIDS, BinOp, Monoid, Semiring


@dataclass
class Matrix:
    df: DataFrame  # columns: i (long), j (long), v
    nrows: int
    ncols: int

    @staticmethod
    def from_tuples(
        spark: SparkSession,
        tuples: list[tuple[int, int, object]],
        nrows: int,
        ncols: int,
        vtype: str = "long",
    ) -> "Matrix":
        """COO bulk load (SparseMatrixHandler.scala:10-30). Duplicate
        coordinates are not allowed (matches reference fromTuples)."""
        df = spark.createDataFrame(tuples, schema=f"i long, j long, v {vtype}")
        return Matrix(df, nrows, ncols)

    @staticmethod
    def from_df(df: DataFrame, i: str, j: str, v: str | None, nrows: int = -1, ncols: int = -1) -> "Matrix":
        cols = [F.col(i).cast("long").alias("i"), F.col(j).cast("long").alias("j")]
        cols.append(F.col(v).alias("v") if v is not None else F.lit(True).alias("v"))
        return Matrix(df.select(*cols), nrows, ncols)

    def to_tuples(self) -> list[tuple[int, int, object]]:
        """Matrix -> COO extract (GrBMatrix.scala:47-48). Driver-side."""
        return [(r.i, r.j, r.v) for r in self.df.collect()]

    def nvals(self) -> int:
        return self.df.count()

    def transpose(self) -> "Matrix":
        """Aᵀ — a column swap; no data movement (MatrixOps.scala:20-44)."""
        return Matrix(
            self.df.select(F.col("j").alias("i"), F.col("i").alias("j"), "v"),
            self.ncols,
            self.nrows,
        )

    def duplicate(self) -> "Matrix":
        return Matrix(self.df, self.nrows, self.ncols)  # DataFrames are immutable

    def cache(self) -> "Matrix":
        self.df = self.df.cache()
        return self

    def partition_by_row(self, num_partitions: int | None = None) -> "Matrix":
        """Hash-partition the COO frame on the ROW key alone — the
        exchange-reuse rule the round-16 bench fixtures proved, now a
        library surface (VERDICT r16 #2). HashPartitioning on a SUBSET
        of an aggregation's grouping keys satisfies its
        ClusteredDistribution, and the partitioning survives a
        broadcast-hash join of the other operand, so ONE exchange here
        is reused by every downstream row-keyed aggregation instead of
        each paying a fresh exchange of the (usually larger) join
        product:

          * mxm's output groupBy(i, j) / existence dropDuplicates(i, j)
            — when this matrix is the A side and B broadcasts;
          * mxv/reduce_rows' groupBy(i);
          * reduce_cols on the transpose (partition the TRANSPOSED
            matrix: transpose() swaps the keys, so row-partitioning
            does not carry across it).

        Joins do NOT get the subset rule
        (requireAllClusterKeysForCoPartition) — the ewise kernels keep
        both keys, and co-partitioning two operands for a k-keyed mxm
        join needs key k, not i. Pass num_partitions to pin the
        exchange against AQE coalescing when the downstream aggregation
        is CPU-heavy (the MXM_PARTITIONS lesson — AQE's compressed-size
        estimate can shrink a CPU-bound aggregation to too few tasks);
        default follows the session's shuffle partitioning. Typically
        followed by .cache() so the exchange is paid once per session."""
        df = (
            self.df.repartition(num_partitions, "i")
            if num_partitions
            else self.df.repartition(F.col("i"))
        )
        return Matrix(df, self.nrows, self.ncols)

    # -- point element ops (GrBMatrix.scala:32-45,127-128) -----------------

    def get_element(self, i: int, j: int):
        """Point read; None when (i, j) is structurally empty."""
        rows = self.df.filter((F.col("i") == i) & (F.col("j") == j)).limit(1).collect()
        return rows[0].v if rows else None

    def set_element(self, i: int, j: int, v) -> "Matrix":
        """A[i, j] = v: anti the old cell out, union one new row in.
        (Bulk loads should go through from_tuples/from_df — point set is
        the reference's interactive surface, not the ingest path.)"""
        vtype = dict(self.df.dtypes)["v"]
        one = self.df.sparkSession.createDataFrame(
            [(int(i), int(j), v)], f"i long, j long, v {vtype}"
        )
        keep = self.df.filter(~((F.col("i") == i) & (F.col("j") == j)))
        return Matrix(keep.unionByName(one), self.nrows, self.ncols)

    def remove_element(self, i: int, j: int) -> "Matrix":
        return Matrix(
            self.df.filter(~((F.col("i") == i) & (F.col("j") == j))), self.nrows, self.ncols
        )


@dataclass
class Vector:
    df: DataFrame  # columns: i (long), v
    size: int

    @staticmethod
    def from_tuples(
        spark: SparkSession, tuples: list[tuple[int, object]], size: int, vtype: str = "long"
    ) -> "Vector":
        df = spark.createDataFrame(tuples, schema=f"i long, v {vtype}")
        return Vector(df, size)

    def to_tuples(self) -> list[tuple[int, object]]:
        return [(r.i, r.v) for r in self.df.collect()]

    def nvals(self) -> int:
        return self.df.count()

    def extract(self, sel) -> "Vector":
        """Subvector w = v(I) with re-based indices
        (SparseVectorHandler.scala:7-33 extract surface). ``sel`` takes
        every GrBRange form — see ``_apply_selection``."""
        df, size = _apply_selection(self.df, "i", sel, self.size)
        return Vector(df.select("i", "v"), size)

    def assign(self, sub: "Vector", sel) -> "Vector":
        """v(I) = sub: anti out the selected region, union the re-mapped
        values. ``sel`` takes ranges, strides and index lists."""
        outside = self.df.filter(~_sel_member_pred("i", sel, self.size))
        shifted = _sel_map_positions(sub.df, "i", sel)
        return Vector(outside.unionByName(shifted.select("i", "v")), self.size)

    def get_element(self, i: int):
        """Point read (GrBMatrix.scala point-op analogue on vectors);
        None when the position is structurally empty."""
        rows = self.df.filter(F.col("i") == i).limit(1).collect()
        return rows[0].v if rows else None

    def set_element(self, i: int, v) -> "Vector":
        """v[i] = value (SparseVectorHandler set surface): anti the old
        cell out, union one new row in."""
        vtype = dict(self.df.dtypes)["v"]
        one = self.df.sparkSession.createDataFrame([(int(i), v)], f"i long, v {vtype}")
        return Vector(self.df.filter(F.col("i") != i).unionByName(one), self.size)

    def remove_element(self, i: int) -> "Vector":
        return Vector(self.df.filter(F.col("i") != i), self.size)


def vector_ewise_union(
    a: Vector,
    b: Vector,
    op_name: str,
    mask: Vector | None = None,
    mask_complement: bool = False,
    accum_into: Vector | None = None,
    accum_op: BinOp | None = None,
    mask_valued: bool = False,
    replace: bool = False,
) -> Vector:
    op = BINARY_OPS[op_name]
    ad = a.df.withColumnRenamed("v", "va")
    bd = b.df.withColumnRenamed("v", "vb")
    joined = ad.join(bd, on="i", how="full_outer")
    out = joined.select(
        "i",
        F.when(F.col("va").isNull(), F.col("vb"))
        .when(F.col("vb").isNull(), F.col("va"))
        .otherwise(op(F.col("va"), F.col("vb")))
        .alias("v"),
    )
    out = _mask_accum_vec(
        out, mask, mask_complement, mask_valued, replace,
        accum_into, (accum_op or op) if accum_into else None,
    )
    return Vector(out, a.size)


def vector_ewise_intersect(
    a: Vector,
    b: Vector,
    op_name: str,
    mask: Vector | None = None,
    mask_complement: bool = False,
    accum_into: Vector | None = None,
    accum_op: BinOp | None = None,
    mask_valued: bool = False,
    replace: bool = False,
) -> Vector:
    op = BINARY_OPS[op_name]
    ad = a.df.withColumnRenamed("v", "va")
    bd = b.df.withColumnRenamed("v", "vb")
    out = ad.join(bd, on="i").select("i", op(F.col("va"), F.col("vb")).alias("v"))
    out = _mask_accum_vec(
        out, mask, mask_complement, mask_valued, replace,
        accum_into, (accum_op or op) if accum_into else None,
    )
    return Vector(out, a.size)


def vector_reduce(a: Vector, monoid_name: str = "plus"):
    m = MONOIDS[monoid_name]
    return a.df.agg(m.agg(F.col("v")).alias("v")).collect()[0].v


# --------------------------------------------------------------------------
# index selections (GrBRange.scala:20-48)
# --------------------------------------------------------------------------
#
# A selection picks + re-bases positions along one axis:
#   None            GrB_ALL
#   (lo, hi)        inclusive range                       [GxB range]
#   (lo, hi, step)  strided range; step < 0 walks lo down to hi
#                   (GxB_STRIDE / GxB_BACKWARDS)
#   [i0, i1, ...]   explicit index list
#
# Index lists are always applied as a join against a mapping DataFrame
# (duplicate indices must replicate rows/columns — extract semantics);
# lists at or below INDEX_MAP_JOIN_THRESHOLD broadcast the mapping so the
# small case stays shuffle-free while the join shape scales to millions
# of indices.

INDEX_MAP_JOIN_THRESHOLD = 1_000


def _stride_of(sel: tuple) -> tuple[int, int, int]:
    if len(sel) == 2:
        lo, hi = sel
        step = 1
    else:
        lo, hi, step = sel
    if step == 0:
        raise ValueError("selection stride must be nonzero")
    if (step > 0 and hi < lo) or (step < 0 and hi > lo):
        raise ValueError(f"empty selection range {sel}")
    return lo, hi, step


def _apply_selection(df: DataFrame, col: str, sel, full_dim: int) -> tuple[DataFrame, int]:
    """Filter + re-base one coordinate axis by a selection; returns
    (filtered df, new dimension)."""
    if sel is None:
        return df, full_dim
    if isinstance(sel, tuple):
        lo, hi, step = _stride_of(sel)
        # integer `div`, not float `/`: indices are longs and a float
        # divide is only exact below 2^53 — same bug class as the nanos
        # conversion in sources/tables.py
        if step > 0:
            pred = F.col(col).between(lo, hi) & (((F.col(col) - F.lit(lo)) % step) == 0)
            rebase = F.expr(f"(`{col}` - {lo}) div {step}")
            dim = (hi - lo) // step + 1
        else:
            pred = F.col(col).between(hi, lo) & (((F.lit(lo) - F.col(col)) % (-step)) == 0)
            rebase = F.expr(f"({lo} - `{col}`) div {-step}")
            dim = (lo - hi) // (-step) + 1
        return df.filter(pred).withColumn(col, rebase), dim
    # index-list selection: always a mapping-table join so duplicate
    # indices replicate rows/columns (GraphBLAS extract semantics) —
    # a literal-map projection would keep only one target position per
    # source index. Small lists broadcast: no shuffle, same plan cost as
    # the old map projection.
    mapping = [(int(old), pos) for pos, old in enumerate(sel)]
    mdf = df.sparkSession.createDataFrame(mapping, "_sel_old long, _sel_new long")
    if len(mapping) <= INDEX_MAP_JOIN_THRESHOLD:
        mdf = F.broadcast(mdf)
    df = (
        df.join(mdf, df[col] == mdf["_sel_old"], "inner")
        .drop(col, "_sel_old")
        .withColumnRenamed("_sel_new", col)
    )
    return df, len(mapping)


def _sel_member_pred(col: str, sel, full_dim: int):
    """Membership predicate for the TARGET positions of a selection (the
    region an assign overwrites, MatrixSelection.scala:11-45)."""
    if sel is None:
        return F.col(col).between(0, full_dim - 1)
    if isinstance(sel, tuple):
        lo, hi, step = _stride_of(sel)
        if step > 0:
            return F.col(col).between(lo, hi) & (((F.col(col) - F.lit(lo)) % step) == 0)
        return F.col(col).between(hi, lo) & (((F.lit(lo) - F.col(col)) % (-step)) == 0)
    return F.col(col).isin([int(x) for x in sel])


def _sel_map_positions(df: DataFrame, col: str, sel) -> DataFrame:
    """Map a sub-object's re-based positions (0..k-1) back to the target
    coordinates of a selection — the inverse of _apply_selection."""
    if sel is None:
        return df
    if isinstance(sel, tuple):
        lo, _, step = (*_stride_of(sel),)
        return df.withColumn(col, (F.lit(lo) + F.col(col) * F.lit(step)).cast("long"))
    mapping = [(pos, int(old)) for pos, old in enumerate(sel)]
    if len(mapping) <= INDEX_MAP_JOIN_THRESHOLD:
        mexpr = F.create_map(*[F.lit(x) for pos, old in mapping for x in (pos, old)])
        return df.withColumn(col, mexpr[F.col(col)].cast("long"))
    mdf = df.sparkSession.createDataFrame(mapping, "_sel_pos long, _sel_old long")
    return (
        df.join(mdf, df[col] == mdf["_sel_pos"], "inner")
        .drop(col, "_sel_pos")
        .withColumnRenamed("_sel_old", col)
    )


# --------------------------------------------------------------------------
# kernels
# --------------------------------------------------------------------------

def _apply_mask(
    df: DataFrame, mask: Matrix | None, complement: bool, valued: bool = False
) -> DataFrame:
    """Restrict df to the mask's effective cell set: its structure by
    default, or its truthy-valued cells (GraphBLAS valued mask,
    Descriptor.scala:50-94) with valued=True; complement flips the set."""
    if mask is None:
        return df
    m = mask.df
    if valued:
        m = m.filter(F.col("v").cast("boolean"))
    how = "left_anti" if complement else "left_semi"
    return df.join(m.select("i", "j"), on=["i", "j"], how=how)


def _accum(old: DataFrame, new: DataFrame, accum: BinOp | None) -> DataFrame:
    """C ⊕= new — outer-join merge with the existing output."""
    if accum is None:
        return new
    o = old.withColumnRenamed("v", "v_old")
    n = new.withColumnRenamed("v", "v_new")
    merged = o.join(n, on=["i", "j"], how="full_outer")
    return merged.select(
        "i",
        "j",
        F.when(F.col("v_old").isNull(), F.col("v_new"))
        .when(F.col("v_new").isNull(), F.col("v_old"))
        .otherwise(accum(F.col("v_old"), F.col("v_new")))
        .alias("v"),
    )


def _mask_accum(
    out: DataFrame,
    mask: "Matrix | None",
    complement: bool,
    valued: bool,
    replace: bool,
    accum_into: "Matrix | None",
    accum: BinOp | None,
) -> DataFrame:
    """Shared descriptor tail of every matrix kernel: Z is restricted to
    the effective mask; with a C operand (accum_into), inside the mask
    C ⊕ Z merges, while outside the mask C's old cells are KEPT when
    replace=False (the GraphBLAS default) and CLEARED when replace=True
    (Descriptor.scala:50-94; mask/accum threading MatrixOps.scala:20-106).

    With a C operand but NO accumulator, GraphBLAS semantics are a
    masked WRITE: Z's pattern wins inside the effective mask (C cells
    there not in Z are deleted), C's off-mask cells survive per replace
    (round-12 review fix — this state was unreachable from mxm/ewise,
    which default the accumulator, but extract/apply expose it and
    previously dropped C entirely)."""
    out = _apply_mask(out, mask, complement, valued)
    if accum_into is None:
        return out
    old = accum_into.df
    if accum is None:
        if mask is None or replace:
            # C = Z wholesale (no mask), or off-mask C cleared (replace)
            return out
        kept = _apply_mask(old, mask, not complement, valued)
        return kept.unionByName(out)
    if replace and mask is not None:
        old = _apply_mask(old, mask, complement, valued)
    return _accum(old, out, accum)


def _mask_accum_vec(
    out: DataFrame,
    mask: "Vector | None",
    complement: bool,
    valued: bool,
    replace: bool,
    accum_into: "Vector | None",
    accum: BinOp | None,
) -> DataFrame:
    out = _apply_mask_vec(out, mask, complement, valued)
    if accum_into is None:
        return out
    old = accum_into.df
    if accum is None:
        # masked WRITE, like the matrix twin (round-12 review fix)
        if mask is None or replace:
            return out
        kept = _apply_mask_vec(old, mask, not complement, valued)
        return kept.unionByName(out)
    if replace and mask is not None:
        old = _apply_mask_vec(old, mask, complement, valued)
    return _accum_vec(old, out, accum)


def mxm(
    a: Matrix,
    b: Matrix,
    semiring: Semiring,
    mask: Matrix | None = None,
    mask_complement: bool = False,
    accum_into: Matrix | None = None,
    accum_op: BinOp | None = None,
    mask_valued: bool = False,
    replace: bool = False,
) -> Matrix:
    """C = A ⊕.⊗ B (MatrixOps.scala:162-210).

    Join A.j == B.i, ⊗ the values, ⊕-aggregate per (A.i, B.j). For
    existence semirings (ANY_PAIR / LOR_LAND) this collapses to a distinct
    equi-join with no value arithmetic — the reference's short-circuit
    semiring (Operator.scala:401-424) and the key trick that bounds
    intermediate size at scale: never count paths when you only need
    reachability.

    Perf: when A is row-partitioned (``A.partition_by_row()``) and B
    broadcasts, the output aggregation reuses A's exchange — the
    post-join shuffle of the (larger) join product disappears
    (measured on the round-16 mxm plans; subset-key
    ClusteredDistribution rule).
    """
    ad = a.df.select(F.col("i").alias("ai"), F.col("j").alias("k"), F.col("v").alias("av"))
    bd = b.df.select(F.col("i").alias("k"), F.col("j").alias("bj"), F.col("v").alias("bv"))
    joined = ad.join(bd, on="k")
    if semiring.existence:
        out = (
            joined.select(F.col("ai").alias("i"), F.col("bj").alias("j"))
            .dropDuplicates(["i", "j"])
            .withColumn("v", F.lit(True))
        )
    else:
        prod = semiring.times(F.col("av"), F.col("bv")).alias("v")
        out = (
            joined.select(F.col("ai").alias("i"), F.col("bj").alias("j"), prod)
            .groupBy("i", "j")
            .agg(semiring.plus.agg(F.col("v")).alias("v"))
        )
    out = _mask_accum(
        out, mask, mask_complement, mask_valued, replace,
        accum_into, (accum_op or semiring.plus.binop) if accum_into else None,
    )
    return Matrix(out, a.nrows, b.ncols)


def _apply_mask_vec(
    df: DataFrame, mask: "Vector | None", complement: bool, valued: bool = False
) -> DataFrame:
    if mask is None:
        return df
    m = mask.df
    if valued:
        m = m.filter(F.col("v").cast("boolean"))
    how = "left_anti" if complement else "left_semi"
    return df.join(m.select("i"), on="i", how=how)


def _accum_vec(old: DataFrame, new: DataFrame, accum: BinOp | None) -> DataFrame:
    if accum is None:
        return new
    o = old.withColumnRenamed("v", "v_old")
    n = new.withColumnRenamed("v", "v_new")
    merged = o.join(n, on="i", how="full_outer")
    return merged.select(
        "i",
        F.when(F.col("v_old").isNull(), F.col("v_new"))
        .when(F.col("v_new").isNull(), F.col("v_old"))
        .otherwise(accum(F.col("v_old"), F.col("v_new")))
        .alias("v"),
    )


def mxv(
    a: Matrix,
    x: Vector,
    semiring: Semiring,
    mask: Vector | None = None,
    mask_complement: bool = False,
    accum_into: Vector | None = None,
    accum_op: BinOp | None = None,
    mask_valued: bool = False,
    replace: bool = False,
) -> Vector:
    """y = A ⊕.⊗ x — matrix-vector product (vector as n×1 matrix), with
    the full mask/accum/descriptor parameter set the reference threads
    through every kernel (MatrixOps.scala:20-106). A complemented mask is
    a left-anti join — the visited-set exclusion of a scaled BFS."""
    ad = a.df.select(F.col("i").alias("ai"), F.col("j").alias("k"), F.col("v").alias("av"))
    xd = x.df.select(F.col("i").alias("k"), F.col("v").alias("xv"))
    joined = ad.join(xd, on="k")
    if semiring.existence:
        out = (
            joined.select(F.col("ai").alias("i")).dropDuplicates(["i"]).withColumn("v", F.lit(True))
        )
    else:
        prod = semiring.times(F.col("av"), F.col("xv")).alias("v")
        out = (
            joined.select(F.col("ai").alias("i"), prod)
            .groupBy("i")
            .agg(semiring.plus.agg(F.col("v")).alias("v"))
        )
    out = _mask_accum_vec(
        out, mask, mask_complement, mask_valued, replace,
        accum_into, (accum_op or semiring.plus.binop) if accum_into else None,
    )
    return Vector(out, a.nrows)


def vxm(
    x: Vector,
    a: Matrix,
    semiring: Semiring,
    mask: Vector | None = None,
    mask_complement: bool = False,
    accum_into: Vector | None = None,
    accum_op: BinOp | None = None,
    mask_valued: bool = False,
    replace: bool = False,
) -> Vector:
    """y = xᵀ ⊕.⊗ A — frontier pushed across the adjacency (BFS step).
    ``vxm(frontier, A, LOR_LAND, mask=visited, mask_complement=True)`` is
    the reference's masked BFS step."""
    return mxv(
        a.transpose(), x, semiring, mask, mask_complement, accum_into, accum_op,
        mask_valued, replace,
    )


def ewise_union(
    a: Matrix,
    b: Matrix,
    op_name: str,
    mask: Matrix | None = None,
    mask_complement: bool = False,
    accum_into: Matrix | None = None,
    accum_op: BinOp | None = None,
    mask_valued: bool = False,
    replace: bool = False,
) -> Matrix:
    """Element-wise ⊕ over the union of patterns (ElemWise.scala:12-53,
    which threads mask/accum like every reference kernel).

    Positions present in only one operand keep that operand's value
    (GraphBLAS union semantics)."""
    op = BINARY_OPS[op_name]
    ad = a.df.withColumnRenamed("v", "va")
    bd = b.df.withColumnRenamed("v", "vb")
    joined = ad.join(bd, on=["i", "j"], how="full_outer")
    out = joined.select(
        "i",
        "j",
        F.when(F.col("va").isNull(), F.col("vb"))
        .when(F.col("vb").isNull(), F.col("va"))
        .otherwise(op(F.col("va"), F.col("vb")))
        .alias("v"),
    )
    out = _mask_accum(
        out, mask, mask_complement, mask_valued, replace,
        accum_into, (accum_op or op) if accum_into else None,
    )
    return Matrix(out, a.nrows, a.ncols)


def ewise_intersect(
    a: Matrix,
    b: Matrix,
    op_name: str,
    mask: Matrix | None = None,
    mask_complement: bool = False,
    accum_into: Matrix | None = None,
    accum_op: BinOp | None = None,
    mask_valued: bool = False,
    replace: bool = False,
) -> Matrix:
    """Element-wise ⊗ over the intersection (ElemWise.scala:55-95)."""
    op = BINARY_OPS[op_name]
    ad = a.df.withColumnRenamed("v", "va")
    bd = b.df.withColumnRenamed("v", "vb")
    joined = ad.join(bd, on=["i", "j"])
    out = joined.select("i", "j", op(F.col("va"), F.col("vb")).alias("v"))
    out = _mask_accum(
        out, mask, mask_complement, mask_valued, replace,
        accum_into, (accum_op or op) if accum_into else None,
    )
    return Matrix(out, a.nrows, a.ncols)


def reduce_rows(a: Matrix, monoid_name: str = "plus") -> Vector:
    """Row-wise reduction matrix -> vector (GrBMatrix.scala:50-54).
    Shuffle-free when ``a`` is row-partitioned (``partition_by_row``)."""
    m = MONOIDS[monoid_name]
    return Vector(a.df.groupBy("i").agg(m.agg(F.col("v")).alias("v")), a.nrows)


def reduce_cols(a: Matrix, monoid_name: str = "plus") -> Vector:
    """Column-wise reduction (GrBMatrix.scala:56-65)."""
    m = MONOIDS[monoid_name]
    return Vector(
        a.df.groupBy("j").agg(m.agg(F.col("v")).alias("v")).withColumnRenamed("j", "i"),
        a.ncols,
    )


def reduce_all(a: Matrix, monoid_name: str = "plus"):
    """Whole-matrix scalar reduction (GrBMatrix.scala:67-82)."""
    m = MONOIDS[monoid_name]
    row = a.df.agg(m.agg(F.col("v")).alias("v")).collect()[0]
    return row.v


def diag(x: Vector) -> Matrix:
    """Vector onto the main diagonal (Diag.scala:7-27)."""
    return Matrix(x.df.select(F.col("i"), F.col("i").alias("j"), "v"), x.size, x.size)


def extract(
    a: Matrix,
    rows,
    cols,
    mask: Matrix | None = None,
    mask_complement: bool = False,
    mask_valued: bool = False,
    accum_into: Matrix | None = None,
    accum_op: BinOp | None = None,
    replace: bool = False,
) -> Matrix:
    """Submatrix C⟨M⟩ ⊕= from(I, J) (MatrixOps.scala:46-76 — the
    reference signature carries mask/accum/desc on extract too;
    GrBRange.scala).

    ``rows``/``cols``: None = All, (lo, hi) = inclusive range,
    (lo, hi, step) = GxB_STRIDE (negative step = GxB_BACKWARDS,
    GrBRange.scala:20-48), list = index set. Indices re-base to 0 like
    GraphBLAS extract. The mask lives in the OUTPUT (re-based)
    coordinate space; the descriptor tail (mask / complement / valued /
    accum_into / replace) threads through the same _mask_accum shared
    by mxm/ewise/apply — round-12, closing the VERDICT r11 #3
    signature asymmetry."""
    df, nrows = _apply_selection(a.df, "i", rows, a.nrows)
    df, ncols = _apply_selection(df, "j", cols, a.ncols)
    out = _mask_accum(
        df.select("i", "j", "v"), mask, mask_complement, mask_valued,
        replace, accum_into, accum_op if accum_into is not None else None,
    )
    return Matrix(out, nrows, ncols)


def assign(
    a: Matrix,
    sub: Matrix,
    rows,
    cols,
    mask: Matrix | None = None,
    mask_complement: bool = False,
    mask_valued: bool = False,
    accum_op: BinOp | None = None,
    replace: bool = False,
) -> Matrix:
    """to⟨M⟩(I, J) ⊕= from (MatrixOps.scala:78-106,
    MatrixSelection.scala:11-45): anti-join out the target region,
    union in the re-mapped new values. ``rows``/``cols`` take every
    selection form — ranges, strides, and arbitrary index lists.

    Descriptor tail (round-12, VERDICT r11 #3): ``a`` IS the C operand,
    so accum needs no separate accum_into — inside the effective mask
    (C-coordinate space) old region cells merge with the new values via
    ``accum_op`` (absent accum, the masked region's pattern BECOMES the
    new pattern, per GrB assign); outside the mask, region cells are
    KEPT when replace=False (the GraphBLAS default) and CLEARED when
    replace=True. Cells outside the (I, J) region never change —
    GxB_subassign-style replace scope, documented here because
    GrB_assign's replace would clear all of C outside the mask."""
    region = _sel_member_pred("i", rows, a.nrows) & _sel_member_pred(
        "j", cols, a.ncols
    )
    outside = a.df.filter(~region)
    shifted = _sel_map_positions(
        _sel_map_positions(sub.df, "i", rows), "j", cols
    ).select("i", "j", "v")
    z = _apply_mask(shifted, mask, mask_complement, mask_valued)
    inside_old = a.df.filter(region)
    if mask is not None:
        old_in_mask = _apply_mask(inside_old, mask, mask_complement, mask_valued)
        old_off_mask = _apply_mask(
            inside_old, mask, not mask_complement, mask_valued
        )
    else:
        old_in_mask, old_off_mask = inside_old, None
    new_region = (
        _accum(old_in_mask, z, accum_op) if accum_op is not None else z
    )
    out = outside.unionByName(new_region)
    if old_off_mask is not None and not replace:
        out = out.unionByName(old_off_mask)
    return Matrix(out, a.nrows, a.ncols)


def is_eq(a: Matrix, b: Matrix) -> bool:
    """Matrix equality: shape, nvals, element-wise eq AND-reduce
    (MatrixOps.scala:108-160). This is the fixpoint test for iterative
    algorithms — implemented as two anti-join counts so it short-circuits
    in one job each way."""
    if (a.nrows, a.ncols) != (b.nrows, b.ncols):
        return False
    diff1 = a.df.join(b.df, on=["i", "j", "v"], how="left_anti").limit(1).count()
    if diff1:
        return False
    diff2 = b.df.join(a.df, on=["i", "j", "v"], how="left_anti").limit(1).count()
    return diff2 == 0


def is_all(a: Matrix, b: Matrix, op_name: str = "eq") -> bool:
    """isAll with an arbitrary (A, A) → Boolean comparison op
    (MatrixOps.scala:108-160): shapes equal, nvals equal, patterns
    identical, and the op holds on every aligned value pair. ``is_eq`` is
    the op='eq' specialization (kept separate for its anti-join
    short-circuit)."""
    if (a.nrows, a.ncols) != (b.nrows, b.ncols):
        return False
    # ONE job (round-14, VERDICT r12 #4): a full-outer join surfaces
    # pattern mismatch (either side NULL) and value mismatch (op fails)
    # in the same pass, short-circuited by limit(1) — the previous shape
    # ran two nvals() counts plus two jobs over a cached inner join.
    op = BINARY_OPS[op_name]
    j = a.df.withColumnRenamed("v", "va").join(
        b.df.withColumnRenamed("v", "vb"), on=["i", "j"], how="full"
    )
    bad = (
        j.filter(
            F.col("va").isNull()
            | F.col("vb").isNull()
            | ~op(F.col("va"), F.col("vb")).cast("boolean")
        )
        .limit(1)
        .count()
    )
    return bad == 0


# GraphBLAS unary-op catalog for apply() — all JVM-side column
# expressions (extension rounding out the standard surface; the
# reference's catalog is binary-only, BuiltInBinaryOps.scala)
UNARY_OPS = {
    "identity": lambda c: c,
    "ainv": lambda c: -c,                      # additive inverse
    "minv": lambda c: F.lit(1.0) / c,          # multiplicative inverse
    "abs": F.abs,
    "lnot": lambda c: ~c.cast("boolean"),
    "one": lambda c: F.lit(1.0),
    "sqrt": F.sqrt,
    "exp": F.exp,
    "log": F.log,
}


def apply(
    a: Matrix,
    op_name: str = "identity",
    mask: Matrix | None = None,
    mask_complement: bool = False,
    mask_valued: bool = False,
    accum_into: Matrix | None = None,
    accum_op: BinOp | None = None,
    replace: bool = False,
) -> Matrix:
    """GrB_apply: elementwise unary op over the stored values — a pure
    projection (no shuffle), with the full descriptor set threaded the
    same way as every other kernel."""
    if op_name not in UNARY_OPS:
        raise ValueError(f"unknown unary op: {op_name!r}")
    out = a.df.select("i", "j", UNARY_OPS[op_name](F.col("v")).alias("v"))
    out = _mask_accum(
        out, mask, mask_complement, mask_valued, replace,
        accum_into, accum_op if accum_into is not None else None,
    )
    return Matrix(out, a.nrows, a.ncols)


def select(
    a: Matrix,
    predicate: str,
    threshold=None,
) -> Matrix:
    """GrB_select: keep entries satisfying a structural/value predicate —
    a pure filter (no shuffle). Predicates: tril/triu (below/on / above/on
    the diagonal), diag/offdiag, nonzero, and value comparisons
    (gt/ge/lt/le/eq/ne against ``threshold``)."""
    c = {
        "tril": F.col("i") >= F.col("j"),
        "triu": F.col("i") <= F.col("j"),
        "diag": F.col("i") == F.col("j"),
        "offdiag": F.col("i") != F.col("j"),
        "nonzero": F.col("v") != 0,
        "gt": F.col("v") > F.lit(threshold),
        "ge": F.col("v") >= F.lit(threshold),
        "lt": F.col("v") < F.lit(threshold),
        "le": F.col("v") <= F.lit(threshold),
        "eq": F.col("v") == F.lit(threshold),
        "ne": F.col("v") != F.lit(threshold),
    }.get(predicate)
    if c is None:
        raise ValueError(f"unknown select predicate: {predicate!r}")
    if predicate in ("gt", "ge", "lt", "le", "eq", "ne") and threshold is None:
        raise ValueError(f"select({predicate!r}) needs a threshold")
    return Matrix(a.df.filter(c), a.nrows, a.ncols)


def kron(a: Matrix, b: Matrix, op_name: str = "times") -> Matrix:
    """Kronecker product C = A ⊗ B over a binary op:
    C[i1·rb + i2, j1·cb + j2] = op(A[i1,j1], B[i2,j2]) — the
    graph-tensor constructor (GraphBLAS GxB_kron; beyond the reference
    surface, which stops at mxm/ewise, but the same kernel family).
    Requires B's logical shape for the index arithmetic.

    Scale: the |A|·|B| output entries are inherent to the operator; the
    cross of the two COO sets broadcasts B (in graph constructions B is
    the small pattern/motif matrix — e.g. expanding every edge into a
    gadget). For a big-B kron, swap the operands and transpose around
    it, or pre-partition A on i."""
    if b.nrows < 0 or b.ncols < 0:
        raise ValueError("kron needs B's logical shape (nrows/ncols >= 0)")
    op = BINARY_OPS[op_name]
    ad = a.df.select(
        F.col("i").alias("ia"), F.col("j").alias("ja"), F.col("v").alias("va")
    )
    bd = b.df.select(
        F.col("i").alias("ib"), F.col("j").alias("jb"), F.col("v").alias("vb")
    )
    out = ad.crossJoin(F.broadcast(bd)).select(
        (F.col("ia") * b.nrows + F.col("ib")).alias("i"),
        (F.col("ja") * b.ncols + F.col("jb")).alias("j"),
        op(F.col("va"), F.col("vb")).alias("v"),
    )
    # unknown A shape (-1 sentinel) stays unknown — a raw product would
    # yield a garbage negative like -2 (ADVICE r6)
    return Matrix(
        out,
        a.nrows * b.nrows if a.nrows >= 0 else -1,
        a.ncols * b.ncols if a.ncols >= 0 else -1,
    )
