"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup (north-star surface, BASELINE.json:6).

Scale design:
- exact dedup is a hash groupBy — one shuffle on the digest,
- Jaccard/MinHash avoid the O(n²) pair space by generating candidate
  pairs only through an inverted index (shingle -> docs) resp. LSH band
  buckets — the joins shuffle on shingle/band keys, never on doc pairs,
- SimHash emits a 16-bit fingerprint per doc; near-dups share a bucket
  (equality join, no pair enumeration),
- embedding near-dup is the one brute-force op (pair join + JVM-side
  zip_with dot product); its scale path is the LSH variant in
  similarity.py.

Determinism: all hashing is md5 (identical hex in Spark and DuckDB), so
every operator has an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpointing import iter_checkpoint
from ..memo import plan_memo
from .rounding import pround
from .text import tokens, word_ngrams

MINHASH_K = 12
MINHASH_BANDS = 4  # 4 bands x 3 rows


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content digest: (digest, rep_id, n_dups);
    rep = min id (deterministic keep-first). Filter n_dups > 1 downstream
    for dup-only groups; keeping singletons makes this the dedup key table."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def shingle_docs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(id, shingle) inverted-index rows, distinct per doc.

    Tokenization is materialized as a column BEFORE the n-gram transform:
    referencing tokens(text) inside the per-element lambda re-runs the
    regex for every shingle (no CSE across lambda scopes) — at 5k docs
    that recompute alone was ~60x the whole job."""
    # spread docs across the cluster BEFORE the shingle fan-out: the
    # explode + per-shingle hashing is the expensive part and a
    # single-file input would otherwise run it on one task
    toked = df.repartition(F.col(id_col)).select(F.col(id_col), tokens(F.col(text_col)).alias("t"))
    if n == 1:
        grams = F.col("t")
    else:
        grams = F.when(
            F.size(F.col("t")) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(F.col("t")) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    return (
        toked.select(F.col(id_col), F.explode(grams).alias("shingle"))
        .dropDuplicates([id_col, "shingle"])
    )


# Session-persisted shingle inverted-index table — same memo as
# minhash_bucket_table / similarity.lsh_bucketed_corpus (memo.plan_memo,
# semanticHash key). Round-17: the jaccard/containment pair stage was
# paying the full tokenize -> explode -> distinct fill per CALL (~45% of
# the gate, measured in round 17); every consumer of the
# same corpus now shares ONE fill per session. At cluster scale this is
# the same materialized-index story as the MinHash buckets: a
# parquet/Delta inverted index maintained alongside the corpus.
def shingle_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """The distinct (id, shingle) inverted-index table, persisted per
    session keyed on the corpus plan's semantic hash — two loads of the
    same parquet share one index. Layout stays DOC-keyed (the
    repartition(id) inside shingle_docs, reused by the distinct via the
    subset rule): a shingle-keyed layout was built and MEASURED SLOWER
    (gate min 1.24 s vs 0.52 s, round-17 A/B) — the
    co-partitioned zero-exchange self-join it enables loses to the
    broadcast-hash self-join the small cached table gets anyway, and
    per-sample string sorts replace the exchange it saves."""
    return plan_memo(
        "shingles", df, (text_col, id_col, n),
        lambda: shingle_docs(df, text_col, id_col, n),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    materialize: bool = False,
) -> DataFrame:
    """Near-dup pairs (a < b) with Jaccard(shingles_a, shingles_b) ≥ t.

    inverted index self-join on shingle -> |A∩B| per pair; sizes joined
    back for |A∪B| = |A|+|B|−|A∩B|. Candidate pairs only exist where at
    least one shingle is shared (required for any t > 0).

    By default this is a pure plan builder: no cache, no jobs — downstream
    filters compose and push into the pair computation. With
    materialize=True the shingle table comes from the SESSION-persisted
    inverted index (shingle_table — round-17: the per-call cache fill was
    ~45% of the gate and is now paid once per corpus per session, like
    the MinHash bucket index) and the small pair result is pinned
    (iter_checkpoint) — for callers that iterate over the pairs
    repeatedly."""
    sh = (
        shingle_table(df, text_col, id_col, n)
        if materialize
        else shingle_docs(df, text_col, id_col, n)
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("a"), "shingle")
    b = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza")), on="a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb")), on="b")
        .withColumn("jaccard", F.col("n_common") / (F.col("sza") + F.col("szb") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", pround(F.col("jaccard"), 4).alias("jaccard"))
    )
    return iter_checkpoint(out) if materialize else out


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    materialize: bool = False,
) -> DataFrame:
    """Directional near-dup pairs by shingle containment
    C(contained -> container) = |S(c) ∩ S(C)| / |S(c)| (Broder 1997,
    "On the resemblance and containment of documents").

    Jaccard misses the classic contamination shape: a short document (a
    quote, a test-set item, a boilerplate block) embedded verbatim in a
    much longer one scores ~|A|/|B| symmetric but 1.0 directional —
    training-data decontamination wants containment, not resemblance.
    The reference engine has no text pipeline; semantics are Broder's.

    Plan shape: the same inverted-index self-join as
    ngram_jaccard_pairs — candidates exist only where a shingle is
    shared (required for any t > 0) — with the intersection aggregated
    ONCE per unordered pair (a < b); both directions then fold out of a
    2-element inline array (narrow generator, no second shuffle or
    re-aggregation), each normalized by its own side's shingle count.
    Returns (contained, container, containment) rows.

    100 TB scale path: pair-stage cost is Σ_shingle df² exactly like
    jaccard; at corpus scale generate candidates with minhash_lsh_pairs
    (banded index) and verify containment only on candidates instead of
    the full self-join.
    """
    sh = (
        shingle_table(df, text_col, id_col, n)
        if materialize
        else shingle_docs(df, text_col, id_col, n)
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("a"), "shingle")
    b = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    both = (
        inter.join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza")), on="a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb")), on="b")
    )
    dirs = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("contained"),
                    F.col("b").alias("container"),
                    (F.col("n_common") / F.col("sza")).alias("c"),
                ),
                F.struct(
                    F.col("b").alias("contained"),
                    F.col("a").alias("container"),
                    (F.col("n_common") / F.col("szb")).alias("c"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    out = (
        dirs.filter(F.col("c") >= threshold)
        .select("contained", "container", pround(F.col("c"), 4).alias("containment"))
    )
    return iter_checkpoint(out) if materialize else out


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = MINHASH_K
) -> DataFrame:
    """k-permutation MinHash over word 3-gram shingles: h_s(doc) =
    min(md5(shingle || '#s')). Output: (id, h0..h{k-1}). 3-grams (not
    unigrams) keep the signature discriminative on small vocabularies —
    unigram minhash over a narrow vocab makes nearly every pair collide.

    Computed ROW-WISE: array_min over the transformed shingle array —
    min over a multiset ignores duplicates, so no distinct, no explode,
    no groupBy shuffle (the previous implementation's one shuffle per
    corpus). Shuffle-free also means it runs unchanged on a STREAMING
    input (no aggregation state) — see streaming.dedup. Docs with fewer
    than 3 tokens have no shingles and produce no signature row, exactly
    like the aggregated form."""
    n = 3
    # spread the per-row k×|shingles| hashing off the single scan task
    toked = df.repartition(F.col(id_col)).select(
        F.col(id_col), tokens(F.col(text_col)).alias("t")
    )
    # one-string SQL expressions (round-14 build profile, NOTES.md): the
    # previous per-permutation Python-lambda F.transform chain cost
    # ~270 ms of py4j expression construction per BUILD — this is the
    # driver-side plan-construction lesson from SCALE.md, applied to the
    # hottest builder. Semantics are byte-identical: same transform /
    # concat_ws / slice / md5 calls, now parsed JVM-side in one shot.
    grams = (
        f"CASE WHEN size(t) >= {n} THEN "
        f"transform(sequence(1, size(t) - {n - 1}), "
        f"i -> concat_ws(' ', slice(t, i, {n}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    based = toked.select(F.col(id_col), F.expr(grams).alias("g")).filter(
        F.size("g") > 0
    )
    sig_cols = [
        F.expr(f"array_min(transform(g, s -> md5(concat(s, '#{i}'))))").alias(
            f"h{i}"
        )
        for i in range(k)
    ]
    return based.select(F.col(id_col), *sig_cols)


# Session-persisted MinHash bucket index — memo.plan_memo keys it on the
# corpus plan's semanticHash, like similarity.lsh_bucketed_corpus. At
# cluster scale the equivalent is a materialized parquet/Delta index
# maintained incrementally alongside the corpus: dedup_against already
# probes corpus buckets without re-pairing them, and every minhash
# consumer (pairs, clusters, cross-source audits) shares ONE
# load->shingle->k×md5 fill per corpus instead of paying it per query
# (VERDICT r7 #5 — the bench driver's cold run paid the fill each time).
def minhash_bucket_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """The MinHash-LSH index table (id, band, key), persisted per
    session keyed on the corpus plan's semantic hash — two loads of the
    same parquet share one index."""
    return plan_memo(
        "minhash_buckets", df, (text_col, id_col, k, bands),
        lambda: _band_buckets(df, text_col, id_col, k, bands),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    materialize: bool = False,
    use_cache: bool = False,
) -> DataFrame:
    """LSH candidate pairs (a < b): docs agreeing on all rows of ≥1 band.
    Band key = md5(concat of the band's minhashes); bucket equality join
    keyed on (band_idx, key) — the scale path never enumerates pairs.

    By default a pure plan builder (no cache, no jobs). With
    materialize=True the bucket table is cached before the self-join —
    both sides share the whole load->shingle->k×md5-agg lineage, which
    would otherwise execute twice — the small pair result pinned
    (iter_checkpoint) and the cache released before returning. With
    use_cache=True the bucket table instead comes from the persistent
    per-session index (minhash_bucket_table) and stays resident for the
    next consumer."""
    if use_cache:
        bucketed = minhash_bucket_table(df, text_col, id_col, k, bands)
    else:
        bucketed = _band_buckets(df, text_col, id_col, k, bands)
        if materialize:
            bucketed = bucketed.cache()
    try:
        l = bucketed.select(F.col(id_col).alias("a"), "band", "key")
        r = bucketed.select(F.col(id_col).alias("b"), "band", "key")
        out = (
            l.join(r, on=["band", "key"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .dropDuplicates(["a", "b"])
        )
        return iter_checkpoint(out) if materialize else out
    finally:
        if materialize and not use_cache:
            bucketed.unpersist()


def _band_buckets(
    df: DataFrame, text_col: str, id_col: str, k: int, bands: int
) -> DataFrame:
    """(id, band, key) MinHash-LSH bucket rows — the shared candidate-
    generation table of minhash_lsh_pairs / dedup_against."""
    rows = k // bands
    sig = minhash_signatures(df, text_col, id_col, k)
    band_cols = [
        F.struct(
            F.lit(bi).alias("band"),
            F.md5(F.concat(*[F.col(f"h{bi * rows + r}") for r in range(rows)])).alias("key"),
        )
        for bi in range(bands)
    ]
    return (
        sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bk"))
        .select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )


def dedup_against(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Incremental dedup: keep only the new-batch documents that are NOT
    MinHash-LSH near-duplicates of the existing corpus — the ingest-time
    shape (a new crawl lands against a 100 TB reference corpus; the
    corpus itself is never re-paired).

    Scale: both sides reduce to (id, band, key) bucket rows; the probe
    is one anti-join keyed on (band, key). At production scale the
    corpus bucket table is precomputed and stored partitioned by band —
    each ingest batch then prunes to matching partitions; nothing ever
    enumerates cross-side pairs."""
    corpus_bk = _band_buckets(corpus, text_col, id_col, k, bands).select("band", "key")
    new_bk = _band_buckets(new_docs, text_col, id_col, k, bands)
    dup_ids = (
        new_bk.join(corpus_bk.dropDuplicates(["band", "key"]), on=["band", "key"],
                    how="left_semi")
        .select(id_col).dropDuplicates([id_col])
    )
    return new_docs.join(dup_ids, on=id_col, how="left_anti")


def save_bucket_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    mode: str = "errorifexists",
) -> None:
    """Materialize the MinHash-LSH bucket index as parquet PARTITIONED
    BY band — the durable form of minhash_bucket_table (round-8). This
    is the 100 TB deployment shape the incremental-dedup docstring
    promises: the corpus index is computed once, stored alongside the
    corpus (object storage on a cluster), and every ingest batch /
    pair query probes it with band-partition pruning instead of
    re-shingling 100 TB of text. Rebuild or append on corpus change —
    the index derives deterministically from the text."""
    (
        _band_buckets(df, text_col, id_col, k, bands)
        .write.mode(mode)
        .partitionBy("band")
        .parquet(path)
    )


def load_bucket_index(spark: SparkSession, path: str) -> DataFrame:
    """Read a saved bucket index; band filters prune to partitions."""
    return spark.read.parquet(path)


def lsh_pairs_from_index(index: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Candidate pairs (a < b) from a (pre-built) bucket index — the
    same bucket-equality self-join minhash_lsh_pairs plans, but over an
    index that never re-derives signatures (session-persisted or loaded
    from parquet)."""
    l = index.select(F.col(id_col).alias("a"), "band", "key")
    r = index.select(F.col(id_col).alias("b"), "band", "key")
    return (
        l.join(r, on=["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )


def _with_band_keys(
    df: DataFrame, text_col: str, k: int, bands: int
) -> DataFrame:
    """Append the LSH band keys as ``_bkey_0.._bkey_{bands-1}`` COLUMNS
    computed inline on each row (tokens → shingles → k×md5 mins → band
    md5s) — pure row-wise expressions, no shuffle, no self-join, so it
    runs unchanged on a STREAMING frame. Docs with < 3 tokens get NULL
    keys (no shingles — trivially novel)."""
    n, rows = 3, k // bands
    t = tokens(F.col(text_col))
    grams = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        ),
    )
    out = df.withColumn("_g", grams)
    hs = {
        i: F.array_min(
            F.transform(F.col("_g"), (lambda idx: lambda s: F.md5(F.concat(s, F.lit(f"#{idx}"))))(i))
        )
        for i in range(k)
    }
    for bi in range(bands):
        out = out.withColumn(
            f"_bkey_{bi}", F.md5(F.concat(*[hs[bi * rows + r] for r in range(rows)]))
        )
    return out.drop("_g")


def dedup_against_index(
    new_docs: DataFrame,
    corpus_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """dedup_against, but probing a PRE-BUILT corpus bucket index
    (saved by save_bucket_index or the session table): the ingest batch
    is shingled, the 100 TB corpus is not touched at all.

    Batch shape: one (band, key) semi-join + one anti-join back on the
    id. Streaming shape (``new_docs.isStreaming``): the band keys are
    computed INLINE as row columns and each band probes the static
    index with one stream-static left-outer join (band filter →
    partition pruning on a saved index); a row survives iff every probe
    missed. No state, no watermark — the ingest-dedup stream runs
    bounded-memory forever."""
    if new_docs.isStreaming:
        probe = _with_band_keys(new_docs, text_col, k, bands)
        for bi in range(bands):
            idx_b = (
                corpus_index.filter(F.col("band") == bi)
                .select(F.col("key").alias(f"_bkey_{bi}"))
                .dropDuplicates([f"_bkey_{bi}"])
                .withColumn(f"_hit_{bi}", F.lit(True))
            )
            probe = probe.join(idx_b, on=f"_bkey_{bi}", how="left_outer")
        clean = probe
        for bi in range(bands):
            clean = clean.filter(F.col(f"_hit_{bi}").isNull())
        return clean.select(*new_docs.columns)
    new_bk = _band_buckets(new_docs, text_col, id_col, k, bands)
    dup_ids = (
        new_bk.join(
            corpus_index.select("band", "key").dropDuplicates(["band", "key"]),
            on=["band", "key"],
            how="left_semi",
        )
        .select(id_col)
        .dropDuplicates([id_col])
    )
    return new_docs.join(dup_ids, on=id_col, how="left_anti")


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    max_iters: int = 30,
) -> DataFrame:
    """Duplicate-cluster assignment — the step a training pipeline runs
    AFTER candidate generation: MinHash-LSH pairs form an undirected
    near-dup graph; connected components over it give each document a
    cluster id (the minimum doc id in its component, so `keep rep_id`
    is a deterministic keep-first policy). Returns (doc_id, cluster).

    Scale shape: pair generation is the bucketed LSH join (never O(n²));
    the component loop is HashMin label propagation, one shuffle join per
    round over the PAIR graph only — documents without any near-dup
    never enter the loop and are appended back as singletons."""
    from ..graph import PropertyGraph
    from ..operators import connected_components

    # normalize the id dtype once up front so the pair graph, the
    # component loop, and the singleton branch all agree on bigint —
    # otherwise the final unionByName relies on implicit set-op coercion
    # and errors (or silently widens) for non-bigint id columns.
    df = df.withColumn(id_col, F.col(id_col).cast("long"))
    ids = df.select(F.col(id_col).alias("id")).dropDuplicates(["id"])
    pairs = minhash_lsh_pairs(df, text_col, id_col, k, bands, materialize=True)
    touched = (
        pairs.select(F.col("a").alias("id"))
        .unionByName(pairs.select(F.col("b").alias("id")))
        .dropDuplicates(["id"])
    )
    g = PropertyGraph(
        touched.withColumn("label", F.lit("Doc")),
        pairs.select(
            F.col("a").alias("src"), F.col("b").alias("dst"), F.lit("DUP").alias("type")
        ),
        df.sparkSession,
    )
    comp = connected_components(g, max_iters=max_iters)
    singles = ids.join(touched, on="id", how="left_anti").select(
        "id", F.col("id").alias("component")
    )
    return (
        comp.unionByName(singles)
        .select(F.col("id").alias(id_col), F.col("component").alias("cluster"))
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """16-bit SimHash over the distinct token set: bit p of md5(token)
    (hex-digit decode via strpos — portable to the SQL oracle), summed as
    ±1 votes; fingerprint bit = vote > 0. Output: (id, simhash long).

    Near-dups = equal fingerprints (bucket join downstream)."""
    # one row per distinct (doc, token) with the leading `bits` of the
    # md5 decoded to ONE integer; the per-bit ±1 vote tally folds into a
    # single aggregation as vote_p = 2·Σ bit_p − n_tokens (round-16 —
    # this replaces a bits× explode plus a (doc, p)-keyed shuffle and
    # per-row substr/instr decoding with `bits` shifted-mask sums in the
    # same map-side-combinable groupBy; all-integer arithmetic, so the
    # fingerprints are identical bit for bit)
    # single-exchange shape (round-16, measured A/B:
    # min 0.920 -> 0.751 s at sf0.1): hash-partitioning on id_col alone
    # satisfies ClusteredDistribution([id, tok]) (the subset rule), so the
    # distinct AND the vote groupBy(id) below both reuse this one exchange
    # instead of paying a (id, tok)-keyed shuffle plus an (id)-keyed one.
    # Trade: the wire carries the raw exploded token stream (no map-side
    # partial dedup) — measured cheaper at every sample; partition count
    # comes from spark.sql.shuffle.partitions (scale-adaptive).
    tok = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
        .repartition(id_col)
        .dropDuplicates([id_col, "tok"])
        .select(
            id_col,
            F.conv(F.substring(F.md5(F.col("tok")), 1, bits // 4), 16, 10)
            .cast("long").alias("hv"),
        )
    )
    # p counts from the MSB of the hex prefix, matching the oracle's
    # digit/shift decomposition: bit_p = (hv >> (bits-1-p)) & 1
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.shiftright(F.col("hv"), bits - 1 - p).bitwiseAND(F.lit(1))).alias(f"s{p}")
        for p in range(bits)
    ]
    votes = tok.groupBy(id_col).agg(*aggs)
    fingerprint = None
    for p in range(bits):
        term = F.when(F.lit(2) * F.col(f"s{p}") - F.col("n") > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return votes.select(id_col, fingerprint.alias("simhash"))


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs (a < b) with cosine ≥ t — brute-force baseline.
    zip_with/aggregate keep the arithmetic JVM-side (no Python UDF); the
    pair join is the quadratic baseline, LSH in similarity.py is the
    scale path."""
    from .similarity import cosine_expr

    a = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("a") < F.col("b"))
    cos = cosine_expr(F.col("va"), F.col("vb"))
    return (
        pairs.withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select("a", "b", pround(F.col("cos"), 4).alias("cos"))
    )


def embedding_near_dups_lsh(
    emb: DataFrame,
    threshold: float = 0.98,
    n_planes: int | None = None,
    n_bands: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs with cosine ≥ t, candidates restricted to pairs
    sharing ≥1 banded sign-LSH key — the SCALE path for embedding dedup:
    the join shuffles on (band, key), never enumerating the O(n²) pair
    space. Banded seeded random-hyperplane projections (see
    similarity.sign_lsh_bands) give a pair at angle θ a 1 − (1 − p^n)^L
    chance of ≥1 shared band (p = 1 − θ/π) — near 1.0 for true near-dups.
    Candidates are exact-cosine verified, so precision is 1.0 and only
    recall depends on the projection."""
    from .similarity import LSH_BAND_PLANES, LSH_BANDS, cosine_expr, lsh_bucketed_corpus

    n_planes = LSH_BAND_PLANES if n_planes is None else n_planes
    n_bands = LSH_BANDS if n_bands is None else n_bands
    # shared session-memoized index table — one banded projection of the
    # corpus serves lsh_topk, near-dup mining, and the self-join's two
    # sides alike (similarity.lsh_bucketed_corpus)
    b = lsh_bucketed_corpus(emb, n_planes, n_bands, id_col, vec_col)
    l = b.select(F.col("id").alias("a"), F.col("v").alias("va"), "band", "key")
    r = b.select(F.col("id").alias("b"), F.col("v").alias("vb"), "band", "key")
    cand = (
        l.join(r, on=["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    cos = cosine_expr(F.col("va"), F.col("vb"))
    return (
        cand.withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select("a", "b", pround(F.col("cos"), 4).alias("cos"))
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    seed: int | None = None,
    max_cell_rows: int | None = 65536,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, then drop
    any vector whose cosine to a SAME-CLUSTER vector with a lower id
    reaches ``threshold`` — one survivor per semantic near-duplicate
    group, chosen greedily by lowest id (the paper picks by distance to
    the centroid; lowest-id is the engine-deterministic variant this
    repo's dedup family standardizes on, same keep-first policy as
    ``dedup_clusters``). Returns the survivors as (id_col, cell).

    Clusters are the session-cached IVF cell table
    (similarity.ivf_cells_corpus — seeded-projection centroids, the
    same assignment ivf_assign_sql reproduces in ANSI SQL, so the
    operator is oracle-checkable end-to-end).

    Scale shape: pairwise cosine is computed ONLY within a cell — the
    pair space is Σ |cell|², never |N|², and the join shuffles on the
    cell key like every bucketed dedup here. ``n_centroids`` is the
    knob that bounds it: SemDeDup at corpus scale uses k ≈ √N clusters
    so the expected cell stays ~√N; at 100 TB raise n_centroids with
    the corpus (the centroid set remains plan literals — no driver
    state, no fit job). A skewed hot cell is AQE-skew-splittable since
    the candidate join is pure equality on the cell id.

    ``max_cell_rows`` ENFORCES that contract (VERDICT r13 #2 — the
    range_join max_fanout guard, applied to the cell join): if any cell
    holds more vectors than this, the job fails with an explicit error
    naming the cell instead of silently planning a |cell|² pair join —
    the failure mode of keeping the default n_centroids on a large
    corpus. The default 65536 caps the per-cell pair space at ~2^31.
    The check is one map-side-combinable count per cell (n_centroids
    result rows) broadcast back into the plan — no driver action. Cost
    honesty (ADVICE r14/r15): the sizes aggregate reads the SAME
    session-persisted cell table the pair join reads
    (ivf_cells_corpus persists its output in the session memo, keyed on
    the corpus plan's semantic hash), so the guard costs one aggregate
    over the cached (id, v, cell) rows — the embedding input itself is
    scanned once per session, not once more per call. Only for a corpus
    plan the memo cannot key (e.g. streaming) does the guard add a
    genuine second scan. ``None`` disables it."""
    from .similarity import (
        EMB_DIM, IVF_SEED, dot_expr, ivf_cells_corpus, norm_expr,
    )

    kw = {
        "dim": EMB_DIM if dim is None else dim,
        "seed": IVF_SEED if seed is None else seed,
    }
    c = ivf_cells_corpus(emb, n_centroids, id_col, vec_col, **kw)
    l = c.select(F.col("id").alias("a"), F.col("v").alias("va"), "cell")
    r = c.select(F.col("id").alias("b"), F.col("v").alias("vb"), "cell")
    if max_cell_rows is not None:
        # executor-side cell-size guard: the raise_error branch lives in
        # a column the filter below reads, so column pruning cannot drop
        # it; the broadcast side is n_centroids rows
        sizes = c.groupBy("cell").agg(F.count(F.lit(1)).alias("_cell_n"))
        guarded = sizes.select(
            "cell",
            F.when(
                F.col("_cell_n") <= F.lit(int(max_cell_rows)), F.col("_cell_n")
            )
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("semantic_dedup: cell "),
                        F.col("cell").cast("string"),
                        F.lit(" holds "),
                        F.col("_cell_n").cast("string"),
                        F.lit(
                            f" vectors (max_cell_rows={int(max_cell_rows)}):"
                            " the within-cell pair join would blow up —"
                            " raise n_centroids toward sqrt(N) (SemDeDup,"
                            " arXiv:2303.09540) or raise max_cell_rows"
                        ),
                    )
                )
            )
            .alias("_cell_n"),
        )
        l = (
            l.join(F.broadcast(guarded), on="cell")
            .filter(F.col("_cell_n") >= 1)
            .drop("_cell_n")
        )
    # cosine guarded by when(): a zero-norm vector (padding/missing row)
    # has no direction, duplicates nothing, and must not raise
    # DIVIDE_BY_ZERO under ANSI mode — a bare conjunction would still
    # evaluate the division on such rows
    na, nb = norm_expr(F.col("va")), norm_expr(F.col("vb"))
    cos = F.when(
        (na > 0) & (nb > 0),
        dot_expr(F.col("va"), F.col("vb")) / (na * nb),
    )
    drop = (
        l.join(r, on="cell")
        .filter(F.col("a") < F.col("b"))
        .filter(cos >= threshold)
        .select(F.col("b").alias("id"))
    )
    # no dedup on the drop set: anti-join semantics are already
    # set-like on the build side — a dropDuplicates here would add a
    # full shuffle+aggregate stage for zero effect
    return c.join(drop, on="id", how="left_anti").select(
        F.col("id").alias(id_col), "cell"
    )


def cross_source_overlap(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Contamination audit: near-duplicate pair counts per (unordered)
    source pair — the leakage matrix a curation pipeline checks before
    mixing corpora (train/train overlap inflates effective epochs,
    train/benchmark overlap is contamination; see also
    text.decontaminate for the removal step).

    Output: (src_a, src_b, n_pairs) with src_a <= src_b.

    Scale: pairs come from the banded MinHash bucket join (Σ bucket²,
    never |corpus|²); the source labels join back via two slim
    (id, source) projections — broadcastable below threshold — and the
    final aggregation is over |source|² keys, which is tiny."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, k, bands)
    src = df.select(F.col(id_col), F.col(source_col))
    sa = src.select(F.col(id_col).alias("a"), F.col(source_col).alias("_sa"))
    sb = src.select(F.col(id_col).alias("b"), F.col(source_col).alias("_sb"))
    return (
        pairs.join(sa, on="a").join(sb, on="b")
        .select(
            F.least("_sa", "_sb").alias("src_a"),
            F.greatest("_sa", "_sb").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def kmv_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Deterministic distinct-count estimate via the K-Minimum-Values
    sketch (Bar-Yossef et al. 2002): hash every value to (0,1] with a
    seeded md5 fraction, keep the k smallest per group; with >= k
    distinct hashes the estimator is (k-1)/h_(k), else the count is
    exact. Unlike approx_count_distinct's HLL++ (engine-private
    register layout), every step is portable md5/integer arithmetic —
    an ANSI-SQL oracle reproduces the estimate BIT-FOR-BIT — and the
    sketch merges by construction (union of mins -> smallest-k again),
    the property a 100 TB rollup tree needs. Returns group_cols +
    (n_kept, estimate).

    Scale shape: dedup to distinct (group, hash) first (the same
    partial phase exact count-distinct pays), then ONE ranked window
    keeps k rows per group — sort-based, never an unbounded per-group
    array in memory."""
    from pyspark.sql import Window

    gcols = list(group_cols or [])
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(value_col).cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("double")
    space = float(16 ** 15)
    hashed = df.select(*gcols, (h / F.lit(space)).alias("_h")).dropDuplicates(
        gcols + ["_h"]
    )
    if gcols:
        w = Window.partitionBy(*gcols).orderBy("_h")
        topk = hashed.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= k
        ).drop("_rn")
    else:
        # ungrouped: the global k smallest via orderBy+limit — Spark
        # plans TakeOrderedAndProject (per-partition top-k, k-row merge),
        # never a single-task global window (round-9, ADVICE r8)
        topk = hashed.orderBy("_h").limit(k)
    agg = topk.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("_n"), F.max("_h").alias("_kth")
    )
    est = F.when(
        F.col("_n") < k, F.col("_n").cast("double")
    ).otherwise(F.lit(float(k - 1)) / F.col("_kth"))
    return agg.select(
        *gcols,
        F.col("_n").cast("long").alias("n_kept"),
        est.alias("estimate"),
    )


def select_canonical(
    df: DataFrame,
    clusters: DataFrame,
    score_col: str | None = None,
    id_col: str = "doc_id",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Keep ONE representative row per near-dup cluster — the step a
    training pipeline runs after ``dedup_clusters``: the row with the
    HIGHEST ``score_col`` wins (quality-aware keep — longest / highest
    quality score), ties and ``score_col=None`` fall back to the lowest
    id (the deterministic keep-first policy ``dedup_clusters``
    documents). Returns df's surviving rows with ``cluster_col``
    attached.

    Scale shape: one equi-join on id, then map-side-combinable
    aggregates only (hot clusters never buffer their members, never a
    per-cluster sort window, never a members list in memory): the
    scored path is a two-stage argmax — max(score) per cluster, then
    min(id) among the score ties — because a single max_by over
    (score, -id) would silently NULL-cast a non-numeric id column and
    break the documented lowest-id tie-break (ADVICE r10); both stages
    reduce to one row per cluster before the semi-join back. A cluster
    whose scores are all NULL falls back to the lowest id (eqNullSafe
    keeps its rows comparable)."""
    # '_best' is only materialized on the scored path, and clusters is
    # projected to (id, cluster) before any join — guard exactly the
    # shape that breaks, not the ones that always worked
    if score_col is not None and "_best" in df.columns:
        raise ValueError(
            "select_canonical: column name '_best' is reserved when "
            "score_col is set"
        )
    j = df.join(clusters.select(id_col, cluster_col), on=id_col)
    if score_col is None:
        winners = j.groupBy(cluster_col).agg(F.min(id_col).alias(id_col))
    else:
        best = j.groupBy(cluster_col).agg(F.max(score_col).alias("_best"))
        winners = (
            j.join(best, on=cluster_col)
            .filter(F.col(score_col).eqNullSafe(F.col("_best")))
            .groupBy(cluster_col)
            .agg(F.min(id_col).alias(id_col))
        )
    return j.join(winners, on=[cluster_col, id_col], how="left_semi")
