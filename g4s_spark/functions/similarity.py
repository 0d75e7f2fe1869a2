"""Similarity search over embedding columns (array<float>):
brute-force cosine top-k baseline + sign-LSH bucketed variant as the
scale path (north-star surface, BASELINE.json:6).

The dot product is F.zip_with + F.aggregate — JVM-side, no Python UDF.
Elements are cast float->double (exact) and summed left-to-right, which
matches DuckDB's list_dot_product order, so cosines are bit-comparable
with the SQL oracle before rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..memo import plan_memo
from .rounding import pround


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """(q_id, n_id, cos) -> per-query top-k (q_id, n_id, rank, cos) in ONE
    shuffle: map-side partial collect_set shrinks each partition to its
    local candidate set before the exchange (and dedupes repeated
    candidate rows — LSH multi-band matches carry bit-identical cos, so
    set semantics absorb them); the lexicographic sort of (-cos, n_id)
    structs reproduces the (cos DESC, n_id ASC) row_number ordering
    exactly. Replaces the dropDuplicates + window pair of shuffles.
    Skew note: a pathological q_id's candidate set is buffered in the
    aggregation (ObjectHashAggregate falls back to sort-based on
    pressure) — same per-key bound a window rank has."""
    agg = scored.groupBy("q_id").agg(
        F.slice(
            F.sort_array(
                F.collect_set(
                    F.struct((-F.col("cos")).alias("negcos"), F.col("n_id").alias("n_id"))
                )
            ),
            1, k,
        ).alias("top")
    )
    return (
        agg.select("q_id", F.posexplode("top").alias("pos", "t"))
        .select(
            "q_id",
            F.col("t.n_id").alias("n_id"),
            (F.col("pos") + 1).cast("long").alias("rank"),
            pround(-F.col("t.negcos"), 4).alias("cos"),
        )
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors by cosine for each query vector.

    queries: (id_col, vec_col) — broadcast against the corpus, ranked per
    query with a deterministic tie-break on neighbor id. Scale: corpus is
    partition-parallel; queries broadcast (small side)."""
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"))
    c = emb.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("nv"))
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
        .withColumn("cos", cosine_expr(F.col("qv"), F.col("nv")))
    )
    return _rank_topk(scored, k)


LSH_SEED = 0x9E3779B1
EMB_DIM = 64


def projection_matrix(n_rows: int, dim: int = EMB_DIM, seed: int = LSH_SEED) -> list[list[float]]:
    """Deterministic seeded ±1 projection matrix (Rademacher random
    hyperplanes). Seeded Python PRNG -> the same literal weights are
    embedded in the Spark plan and the DuckDB oracle SQL, so buckets are
    engine-independent. ±1 weights are exact in float/double, and both
    engines sum the dot product left-to-right, so the sign test is
    bit-comparable."""
    import random

    rng = random.Random(seed)
    return [[1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)] for _ in range(n_rows)]


def sign_lsh_bucket(vec: Column, n_planes: int = 6, dim: int = EMB_DIM, seed: int = LSH_SEED) -> Column:
    """Random-hyperplane sign-LSH: bit h of the bucket = (vec · P_h) > 0
    for the h-th seeded hyperplane. High-cosine pairs agree on each bit
    with probability 1 − θ/π — the real SimHash guarantee, independent of
    which coordinates carry the signal (unlike the leading-coordinate
    degenerate form this replaces)."""
    P = projection_matrix(n_planes, dim, seed)
    bucket = F.lit(0).cast("long")
    for h, row in enumerate(P):
        dot = dot_expr(vec, F.array(*[F.lit(w) for w in row]))
        bucket = bucket + F.when(dot > 0, F.lit(1 << h).cast("long")).otherwise(F.lit(0))
    return bucket


def sign_lsh_bucket_sql(emb_expr: str, n_planes: int = 6, dim: int = EMB_DIM, seed: int = LSH_SEED) -> str:
    """DuckDB expression computing the same bucket as sign_lsh_bucket —
    the identical seeded weights as SQL list literals."""
    P = projection_matrix(n_planes, dim, seed)
    terms = []
    for h, row in enumerate(P):
        arr = "[" + ",".join(f"{w:.1f}" for w in row) + "]"
        terms.append(f"CASE WHEN list_dot_product({emb_expr}, {arr}) > 0 THEN {1 << h} ELSE 0 END")
    return "(" + "\n                     + ".join(terms) + ")"


# Banded (multi-table) sign-LSH: a pair at angle θ matches one band of n
# planes with probability p^n (p = 1 − θ/π) and ≥1 of L bands with
# probability 1 − (1 − p^n)^L — the same amplification MinHash banding
# gives Jaccard. 3×8 measures recall ≈ 0.93 at cos 0.4 on the testdata
# embeddings (≈ 1.0 for true near-dups), while every join still shuffles
# on (band, key), never pairs.
LSH_BAND_PLANES = 3
LSH_BANDS = 8


def _sign_masks(P: list[list[float]], dim: int) -> tuple[list[int], list[int]]:
    """Pack each ±1 plane into two bigint sign bitmasks (bits 0-31 /
    32-63) — the ONE packing shared by the Column builder
    (_masked_dots) and the SQL-string builder
    (_sign_lsh_bands_spark_sql), so the two construction paths can
    never drift (round-12 review)."""
    los = [sum(1 << d for d in range(min(32, dim)) if row[d] > 0) for row in P]
    his = [sum(1 << (d - 32) for d in range(32, dim) if row[d] > 0) for row in P]
    return los, his


def _masked_dots(vec: Column, P: list[list[float]], dim: int) -> Column:
    """All |P| projections of ``vec`` as one array column.

    Each ±1 plane packs into two bigint sign bitmasks (bits 0-31 / 32-63),
    so the whole matrix is 2·|P| literals and the expression is ONE
    transform+aggregate nest instead of |P| separate lambdas with
    |P|·dim literal leaves — Janino codegen of that tree dominated the
    query (≈2× the whole job for 32 planes). Summation stays strictly
    left-to-right over d with w ∈ {−1.0, +1.0} (multiplication by ±1.0
    is exact), so the result is bit-identical to the DuckDB oracle's
    list_dot_product over the same literal weights."""
    lo_masks, hi_masks = _sign_masks(P, dim)
    los = F.array(*[F.lit(m) for m in lo_masks])
    his = F.array(*[F.lit(m) for m in hi_masks])
    return F.transform(
        F.sequence(F.lit(0), F.lit(len(P) - 1)),
        lambda h: F.aggregate(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            F.lit(0.0),
            lambda acc, d: acc + vec[d].cast("double") *
                ((F.when(d < 32, F.getbit(los[h], d))
                   .otherwise(F.getbit(his[h], d - 32))) * 2 - 1).cast("double"),
        ),
    )


def sign_lsh_bands(
    vec: Column | str, n_planes: int = LSH_BAND_PLANES, n_bands: int = LSH_BANDS,
    dim: int = EMB_DIM, seed: int = LSH_SEED,
) -> Column:
    """Array of (band, key) structs — one sign-LSH key per band, all bands
    drawn from one seeded projection matrix. Explode and equality-join on
    (band, key) for candidate generation.

    ``vec`` as a plain column NAME takes the fast construction path: the
    whole expression is rendered as ONE Spark-SQL string and parsed
    JVM-side in a single py4j call. The Column path builds the same tree
    operator-by-operator — ~2,400 py4j round-trips ≈ 400 ms of driver
    time PER CALL (measured round-12; it was half of ann_lsh_topk's gate
    latency) — and stays as the reference implementation for arbitrary
    vector expressions; test_sign_lsh_bands_sql_path_matches_column_path
    pins the two paths to identical results on real embeddings. Only a
    SIMPLE identifier takes the string path: a dotted/qualified name
    ('meta.embedding') would backtick-quote as one identifier and fail
    analysis, so those fall through to F.col, which resolves nested
    references like before (round-12 review)."""
    import re as _re

    if isinstance(vec, str):
        if _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", vec):
            return F.expr(
                _sign_lsh_bands_spark_sql(f"`{vec}`", n_planes, n_bands, dim, seed)
            )
        vec = F.col(vec)
    P = projection_matrix(n_planes * n_bands, dim, seed)

    def keys(ds: Column) -> Column:
        bands = []
        for t in range(n_bands):
            key = F.lit(0).cast("long")
            for h in range(n_planes):
                key = key + (
                    F.when(ds[t * n_planes + h] > 0, F.lit(1 << h).cast("long"))
                    .otherwise(F.lit(0))
                )
            bands.append(F.struct(F.lit(t).alias("band"), key.alias("key")))
        return F.array(*bands)

    # bind the dots array ONCE via a single-element transform — each of
    # the n_planes·n_bands key references would otherwise inline its own
    # copy of the whole projection expression
    return F.transform(F.array(_masked_dots(vec, P, dim)), keys)[0]


def _sign_lsh_bands_spark_sql(
    vec_sql: str, n_planes: int, n_bands: int, dim: int, seed: int
) -> str:
    """The sign_lsh_bands expression as Spark SQL — the SAME packed-bitmask
    dots (strictly left-to-right summation, ±1.0 exact) and the same
    case/shift key folds as the Column path, so the two parse to
    semantically identical plans; only the construction cost differs."""
    P = projection_matrix(n_planes * n_bands, dim, seed)
    lo_masks, hi_masks = _sign_masks(P, dim)
    los = "array(" + ",".join(f"{m}L" for m in lo_masks) + ")"
    his = "array(" + ",".join(f"{m}L" for m in hi_masks) + ")"
    dots = (
        f"transform(sequence(0, {len(P) - 1}), h -> "
        f"aggregate(sequence(0, {dim - 1}), cast(0.0 as double), "
        f"(acc, d) -> acc + cast({vec_sql}[d] as double) * "
        f"cast(((case when d < 32 then getbit({los}[h], d) "
        f"else getbit({his}[h], d - 32) end) * 2 - 1) as double)))"
    )
    bands = ", ".join(
        f"named_struct('band', {t}, 'key', cast(0 as bigint)"
        + "".join(
            f" + (case when ds[{t * n_planes + h}] > 0 "
            f"then cast({1 << h} as bigint) else 0 end)"
            for h in range(n_planes)
        )
        + ")"
        for t in range(n_bands)
    )
    return f"transform(array({dots}), ds -> array({bands}))[0]"


def sign_lsh_bands_sql(
    table: str = "embeddings", id_col: str = "vec_id", vec_col: str = "embedding",
    n_planes: int = LSH_BAND_PLANES, n_bands: int = LSH_BANDS,
    dim: int = EMB_DIM, seed: int = LSH_SEED,
) -> str:
    """DuckDB subquery producing (id, embedding, band, key) rows matching
    sign_lsh_bands — identical seeded weights as list literals."""
    P = projection_matrix(n_planes * n_bands, dim, seed)
    selects = []
    for t in range(n_bands):
        terms = []
        for h in range(n_planes):
            arr = "[" + ",".join(f"{w:.1f}" for w in P[t * n_planes + h]) + "]"
            terms.append(
                f"CASE WHEN list_dot_product({vec_col}, {arr}) > 0 THEN {1 << h} ELSE 0 END"
            )
        key = "(" + " + ".join(terms) + ")"
        selects.append(
            f"SELECT {id_col}, {vec_col}, {t} AS band, {key} AS key FROM {table}"
        )
    return "(" + "\n            UNION ALL ".join(selects) + ")"


# One bucketed corpus per (corpus plan, projection params) in the
# session memo (memo.plan_memo): an ANN index exists to be BUILT ONCE and
# queried many times, so the banded projection's fixed cost (codegen of
# the packed-sign expression + the corpus scan) amortizes across every
# lsh_topk / embedding_near_dups_lsh call in a session instead of being
# paid per query. At cluster scale the equivalent is writing the table
# out partitioned by (band, key) — see SCALE.md and save_ann_index; the
# join semantics are identical either way.
def lsh_bucketed_corpus(
    emb: DataFrame,
    n_planes: int = LSH_BAND_PLANES,
    n_bands: int = LSH_BANDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The LSH index table: (id, v, band, key) — one row per corpus vector
    per band, persisted per session keyed on the corpus plan's semantic
    hash (two loads of the same parquet share one index)."""
    return plan_memo(
        "lsh_corpus", emb, (n_planes, n_bands, id_col, vec_col),
        lambda: _lsh_bands(emb, n_planes, n_bands, id_col, vec_col),
    )


def _lsh_bands(
    emb: DataFrame, n_planes: int, n_bands: int, id_col: str, vec_col: str
) -> DataFrame:
    return (
        emb.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
            F.explode(sign_lsh_bands(vec_col, n_planes, n_bands)).alias("bk"),
        )
        .select("id", "v", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = LSH_BAND_PLANES,
    n_bands: int = LSH_BANDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing ≥1 LSH band
    key with the query, then exact cosine rank within the candidates.
    The (band, key) equality join is the scale path — shuffle on band
    keys, never the full pair space; banding keeps recall high (see
    sign_lsh_bands)."""
    c = (
        lsh_bucketed_corpus(emb, n_planes, n_bands, id_col, vec_col)
        .select(F.col("id").alias("n_id"), F.col("v").alias("nv"), "band", "key")
    )
    q = (
        queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"),
            F.explode(sign_lsh_bands(vec_col, n_planes, n_bands)).alias("bk"),
        )
        .select("q_id", "qv", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )
    cand = c.join(F.broadcast(q), on=["band", "key"]).filter(F.col("q_id") != F.col("n_id"))
    # no dropDuplicates: a pair matching several bands yields repeated
    # rows with bit-identical cos — _rank_topk's set semantics absorb
    # them, folding the dedup into the single top-k shuffle
    scored = cand.withColumn("cos", cosine_expr(F.col("qv"), F.col("nv")))
    return _rank_topk(scored, k)


def knn_join_lsh(
    emb: DataFrame,
    k: int = 5,
    n_planes: int = LSH_BAND_PLANES,
    n_bands: int = LSH_BANDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-NN SELF-join: every corpus vector's top-k neighbors
    among its LSH band-bucket candidates — the batch k-NN-graph
    constructor behind near-dup clustering and diversity-aware sampling.

    Scale: the candidate join is a (band, key) equi-join of the bucketed
    index with itself — pair space is bounded by Σ bucket², never
    |corpus|²; both sides shuffle on the band keys (the index table is
    built once per session, lsh_bucketed_corpus). Hot buckets (a dense
    embedding cluster) are the skew hazard — AQE skew-split handles the
    join stage, and raising n_planes shrinks buckets geometrically."""
    b = lsh_bucketed_corpus(emb, n_planes, n_bands, id_col, vec_col)
    left = b.select(F.col("id").alias("q_id"), F.col("v").alias("qv"), "band", "key")
    right = b.select(F.col("id").alias("n_id"), F.col("v").alias("nv"), "band", "key")
    cand = left.join(right, on=["band", "key"]).filter(F.col("q_id") != F.col("n_id"))
    # repeated multi-band pairs carry bit-identical cos; _rank_topk's
    # set semantics absorb them (no separate dedup shuffle)
    scored = cand.withColumn("cos", cosine_expr(F.col("qv"), F.col("nv")))
    return _rank_topk(scored, k)


IVF_SEED = 0x51ED270B


def ivf_assign(
    emb: DataFrame, n_centroids: int = 8, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int = EMB_DIM, seed: int = IVF_SEED,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style coarse partition assignment: cell = argmax_c (vec · C_c)
    over seeded ±1 pseudo-centroids (the deterministic, oracle-expressible
    stand-in for k-means centroids — swap projection_matrix for learned
    centroid literals in production; the Spark plumbing — assign,
    partition, search-within-cell — is unchanged). Per-row expressions
    only: shuffle-free. First maximum wins on ties (strict >), matching
    the oracle's (score DESC, idx ASC) ranking."""
    cell = ivf_cell_expr(F.col(vec_col), n_centroids, dim, seed, centroids=centroids)
    return emb.select(F.col(id_col), cell.alias("cell"))


def ivf_cell_expr(
    vec: Column, n_centroids: int = 8, dim: int = EMB_DIM, seed: int = IVF_SEED,
    centroids: list[list[float]] | None = None,
) -> Column:
    """Cell id of one vector (argmax over centroid dots); shared by
    ivf_assign and ivf_topk. ``centroids`` overrides the seeded ±1
    pseudo-centroids (e.g. kmeans_centroids output)."""
    C = centroids if centroids is not None else projection_matrix(n_centroids, dim, seed)
    general = centroids is not None  # arbitrary floats: no ±1 bit-packing

    # linear argmax: position of the max dot in the dots array — FIRST
    # index on exact ties (array_position returns the first match, and
    # the probe value is bitwise an element of the array), the same
    # (val DESC, idx ASC) ordering the SQL oracle's row_number uses.
    # The old chained when(ds[c] > best_v, ...) fold embedded best_v
    # into itself twice per step — 2^n expression nodes, an OOM at plan
    # BUILD past ~30 centroids (found round-11 when raising n_centroids
    # toward the SemDeDup √N rule). Struct-free on purpose: struct
    # field aliases are dropped inside nested lambda contexts (the
    # trained-centroid dots are themselves lambda expressions), which
    # breaks a (−dot, idx)-struct formulation with FIELD_NOT_FOUND.
    # NULL embedding -> all dots NULL (every dot folds the same vector)
    # -> array_position probes NULL -> coalesce lands on cell 0, the
    # SAME cell the old when()-fold assigned (NULL comparisons kept its
    # index-0 initializer) and the SQL oracle's NULLS-LAST row_number
    # picks — a NULL cell would instead silently drop the row from
    # every cell equi-join (round-11 review finding)
    dots = _dots_general(vec, C) if general else _masked_dots(vec, C, dim)
    pos = F.transform(
        F.array(dots),
        lambda ds: F.array_position(ds, F.array_max(ds)),
    )[0]
    return (F.coalesce(pos, F.lit(1)) - F.lit(1)).cast("long")


def _dots_general(vec: Column, C: list[list[float]]) -> Column:
    """vec · C_c for arbitrary float centroids, as one array column."""
    return F.array(*[
        dot_expr(vec, F.array(*[F.lit(float(w)) for w in row])) for row in C
    ])


def ivf_cells_topn_expr(
    vec: Column, nprobe: int, n_centroids: int = 8, dim: int = EMB_DIM,
    seed: int = IVF_SEED, centroids: list[list[float]] | None = None,
) -> Column:
    """The ``nprobe`` nearest cell ids of one vector (round-9), as an
    array<long> ordered best-first: multi-probe IVF queries the top-n
    coarse cells instead of one — the standard recall lever when the
    true neighbor sits just across a cell boundary. Sort key is
    (−dot asc, cell asc): double negation is IEEE-exact, so the ranking
    is bit-reproducible, and the index tie-break keeps equal-dot cells
    deterministic. Pure column expression — the argmax chain of
    ivf_cell_expr generalized through one array_sort over n_centroids
    structs (coarse-quantizer sized, not data sized)."""
    C = centroids if centroids is not None else projection_matrix(n_centroids, dim, seed)
    n_centroids = len(C)
    nprobe = min(nprobe, n_centroids)
    dots = (
        _dots_general(vec, C)
        if centroids is not None
        else _masked_dots(vec, C, dim)
    )

    def ranked(ds: Column) -> Column:
        arr = F.array(*[
            F.struct(
                (-ds[c]).alias("nd"), F.lit(c).cast("long").alias("i")
            )
            for c in range(n_centroids)
        ])
        return F.slice(
            F.transform(F.array_sort(arr), lambda s: s.i), 1, nprobe
        )

    return F.transform(F.array(dots), ranked)[0]


# Cell-assigned corpus memo — same rationale as lsh_bucketed_corpus: the
# IVF index is built once per session, queried many times.
def ivf_cells_corpus(
    emb: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMB_DIM,
    seed: int = IVF_SEED,
) -> DataFrame:
    """The IVF index table: (id, v, cell), persisted per session keyed on
    the corpus plan's semantic hash."""

    def build():
        cell_c = ivf_cell_expr(F.col(vec_col), n_centroids, dim, seed)
        return emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), cell_c.alias("cell"))

    return plan_memo("ivf_corpus", emb, (n_centroids, dim, seed, id_col, vec_col), build)


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = EMB_DIM,
    seed: int = IVF_SEED,
    nprobe: int = 1,
) -> DataFrame:
    """IVF search: candidates restricted to the query's coarse cell, then
    exact cosine rank within the cell — the classic two-stage ANN index.
    At scale the corpus is PARTITIONED by cell (writers bucket on the
    cell id), so a query touches one partition: the cell equality join
    here is that partition pruning expressed relationally.

    ``nprobe`` > 1 (round-9) probes the query's n nearest cells — the
    corpus stays single-assigned, so a candidate can never appear
    twice; each extra probe is one more pruned partition read, the
    linear recall-for-reads trade every IVF index exposes."""
    c = (
        ivf_cells_corpus(emb, n_centroids, id_col, vec_col, dim, seed)
        .select(F.col("id").alias("n_id"), F.col("v").alias("nv"), "cell")
    )
    if nprobe <= 1:
        cell_c = ivf_cell_expr(F.col(vec_col), n_centroids, dim, seed)
        q = queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"),
            cell_c.alias("cell"),
        )
    else:
        cells = ivf_cells_topn_expr(
            F.col(vec_col), nprobe, n_centroids, dim, seed
        )
        q = queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"),
            F.explode(cells).alias("cell"),
        )
    scored = (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("cos", cosine_expr(F.col("qv"), F.col("nv")))
    )
    return _rank_topk(scored, k)


def ivf_assign_sql(
    n_centroids: int = 8, dim: int = EMB_DIM, seed: int = IVF_SEED,
    nprobe: int = 1,
) -> str:
    """DuckDB query over `embeddings` computing the same cell assignment
    as ivf_assign (same seeded centroid literals, same tie-break).
    ``nprobe`` > 1 emits the top-n ranked cells per vector — the oracle
    twin of ivf_cells_topn_expr (round-9 multi-probe)."""
    C = projection_matrix(n_centroids, dim, seed)
    dot_list = ",\n                ".join(
        "list_dot_product(embedding, [" + ",".join(f"{w:.1f}" for w in row) + "])"
        for row in C
    )
    return f"""
        WITH d AS (
            SELECT vec_id, [{dot_list}] AS dots
            FROM embeddings
        ),
        ex AS (
            SELECT vec_id, unnest(dots) AS val, generate_subscripts(dots, 1) AS idx FROM d
        ),
        ranked AS (
            SELECT vec_id, idx,
                   row_number() OVER (PARTITION BY vec_id ORDER BY val DESC, idx ASC) AS rn
            FROM ex
        )
        SELECT vec_id, CAST(idx - 1 AS BIGINT) AS cell
        FROM ranked WHERE rn <= {nprobe}
    """


def kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    iters: int = 5,
    vec_col: str = "embedding",
    dim: int = EMB_DIM,
    seed: int = IVF_SEED,
) -> list[list[float]]:
    """Lloyd refinement of the seeded pseudo-centroids — the trained-IVF
    path (`ivf_cell_expr(..., centroids=...)` consumes the result).

    Spherical k-means: centroids are L2-normalized after every mean
    update (and at init), so the argmax-dot assignment ranks by cosine
    and both steps maximize Σ v·ĉ — assignment by definition, update by
    Cauchy-Schwarz (ĉ = mean/||mean|| maximizes Σ_{v∈cell} v·ĉ over unit
    vectors). kmeans_objective is therefore non-decreasing per iteration.

    Each iteration is ONE distributed job: per-row argmax assignment
    (pure column expressions), then per-(cell, position) means via
    posexplode + hash aggregate — shuffle keyed on (cell, pos), k×dim
    groups. The centroid table is always driver-sized (k×dim floats) and
    re-embeds as plan literals, so iterations never grow lineage and no
    UDF or broadcast state is involved. Empty cells keep their previous
    centroid (standard Lloyd degenerate-cell handling)."""
    def norm_rows(M):
        out = []
        for row in M:
            n = sum(x * x for x in row) ** 0.5
            out.append([x / n for x in row] if n > 0 else list(row))
        return out

    C = norm_rows(projection_matrix(k, dim, seed))
    for _ in range(iters):
        cell = ivf_cell_expr(F.col(vec_col), dim=dim, centroids=C)
        assigned = emb.select(
            cell.alias("cell"), F.posexplode(F.col(vec_col)).alias("pos", "x")
        )
        rows = (
            assigned.groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        newC = [list(c) for c in C]
        for r in rows:
            newC[r.cell][r.pos] = r.m
        C = norm_rows(newC)
    return C


def kmeans_objective(
    emb: DataFrame, centroids: list[list[float]], vec_col: str = "embedding",
    dim: int = EMB_DIM,
) -> float:
    """Mean best-centroid dot product over the corpus — the spherical
    k-means objective (centroids unit-normalized), non-decreasing under
    kmeans_centroids iterations."""
    best = F.array_max(_dots_general(F.col(vec_col), centroids))
    return emb.select(F.avg(best).alias("o")).collect()[0].o


def hard_negatives(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    min_sim: float = 0.1,
    max_sim: float = 0.7,
    n_planes: int = LSH_BAND_PLANES,
    n_bands: int = LSH_BANDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k candidates whose cosine lies in [min_sim, max_sim) — similar
    enough to be informative negatives, below the near-duplicate band
    that would make them false negatives. Same LSH candidate generation
    and single-shuffle ranking as lsh_topk; the similarity band is a
    per-row filter before the rank, so the scale profile is identical."""
    c = (
        lsh_bucketed_corpus(emb, n_planes, n_bands, id_col, vec_col)
        .select(F.col("id").alias("n_id"), F.col("v").alias("nv"), "band", "key")
    )
    q = (
        queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"),
            F.explode(sign_lsh_bands(vec_col, n_planes, n_bands)).alias("bk"),
        )
        .select("q_id", "qv", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )
    cand = c.join(F.broadcast(q), on=["band", "key"]).filter(F.col("q_id") != F.col("n_id"))
    scored = cand.withColumn("cos", cosine_expr(F.col("qv"), F.col("nv"))).filter(
        (F.col("cos") >= min_sim) & (F.col("cos") < max_sim)
    )
    return _rank_topk(scored, k)


def recall_report(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall of an ANN result against its exact baseline: per query,
    the fraction of the exact neighbor set the approximate method
    recovered — the evaluation loop every LSH/IVF parameter choice
    should close (the r1->r5 ann_lsh recall fix was found exactly this
    way). Inputs are (query, id) pair sets; returns (query, n_exact,
    n_hit, recall). One semi-join + two slim aggregates — runs at any
    scale the candidate sets themselves reach."""
    pairs = [query_col, id_col]
    ex = exact.select(*pairs).dropDuplicates(pairs)
    hit = ex.join(
        approx.select(*pairs).dropDuplicates(pairs), on=pairs, how="left_semi"
    )
    n_ex = ex.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = hit.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_ex.join(n_hit, on=query_col, how="left")
        .select(
            query_col,
            F.col("n_exact").cast("long").alias("n_exact"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            (
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact")
            ).alias("recall"),
        )
    )


def save_ann_index(
    emb: DataFrame,
    path: str,
    n_planes: int = LSH_BAND_PLANES,
    n_bands: int = LSH_BANDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "error",
) -> None:
    """Persist the LSH corpus index (lsh_bucketed_corpus) as parquet
    partitioned by band — the durable twin of the per-session cache,
    mirroring the MinHash save_bucket_index: the 100 TB corpus is
    banded ONCE, every later session/query probes the saved index. Band
    partitioning means a per-band probe is directory pruning."""
    _lsh_bands(emb, n_planes, n_bands, id_col, vec_col).write.partitionBy(
        "band"
    ).mode(mode).parquet(path)


def load_ann_index(spark, path: str) -> DataFrame:
    """Read a save_ann_index layout: (id, v, band, key)."""
    df = spark.read.parquet(path)
    return df.select("id", "v", "band", "key")


def lsh_topk_from_index(
    index: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = LSH_BAND_PLANES,
    n_bands: int = LSH_BANDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """lsh_topk probing a PRE-BUILT index (load_ann_index or the
    session table) — the corpus embeddings are never re-banded. Same
    candidate join + exact re-rank as lsh_topk."""
    c = index.select(
        F.col("id").alias("n_id"), F.col("v").alias("nv"), "band", "key"
    )
    q = (
        queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"),
            F.explode(sign_lsh_bands(vec_col, n_planes, n_bands)).alias("bk"),
        )
        .select("q_id", "qv", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )
    cand = c.join(F.broadcast(q), on=["band", "key"]).filter(
        F.col("q_id") != F.col("n_id")
    )
    scored = cand.withColumn("cos", cosine_expr(F.col("qv"), F.col("nv")))
    return _rank_topk(scored, k)


def normalize_embeddings(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """L2-normalize the embedding column in place (unit vectors make
    cosine a plain dot product downstream). Pure column expressions —
    one transform over the array, no shuffle; zero vectors stay zero
    rather than dividing by 0."""
    n = norm_expr(F.col(vec_col))
    unit = F.when(
        n > 0,
        F.transform(F.col(vec_col), lambda x: x.cast("double") / n),
    ).otherwise(F.transform(F.col(vec_col), lambda x: x.cast("double")))
    return df.withColumn(vec_col, unit)


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean vector (class centroids — the seed step for
    nearest-centroid classification or a supervised IVF). posexplode ->
    one (label, pos) aggregate with map-side combine -> reassemble in
    pos order. Returns (label, centroid array<double>, n_vectors).
    Scale shape: the exploded shuffle is dim x rows slim rows keyed on
    (label, pos) — no vector ever collects to the driver."""
    pos = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    )
    comp = pos.groupBy("label", "pos").agg(
        F.avg(F.col("x").cast("double")).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        comp.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.m,
            ).alias("centroid"),
            F.max("n").cast("long").alias("n_vectors"),
        )
    )
