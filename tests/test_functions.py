"""Unit tests for the north-star pipeline operators (text / dedup /
similarity / multimodal) on small in-line corpora with hand-computed or
pandas-computed oracles."""

import math

import pytest
from pyspark.sql import functions as F

from g4s_spark.functions import dedup as D
from g4s_spark.functions import multimodal as MM
from g4s_spark.functions import similarity as S
from g4s_spark.functions import text as TX

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "completely different content here entirely"),
    (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (5, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_token_count(docs):
    got = {r.doc_id: r.n_tokens for r in TX.token_count(docs).collect()}
    assert got == {1: 9, 2: 9, 3: 5, 4: 9, 5: 0}


def test_token_count_modes(spark):
    """token_count tokenizer modes (round-11, the brief's
    'whitespace + a BPE-ish regex' pair): whitespace counts \\S+ runs,
    bpe counts GPT-2-ish pre-tokens (space-glued letter/digit/punct
    runs — mixed alnum words split, punctuation detaches), and the
    counts are verified against a Python re.findall of the SAME
    pattern."""
    import re as _re

    import pytest as _pytest

    rows = [
        (1, "Hello, world! It's 2024."),
        (2, "  leading spaces\tand\ttabs  "),
        (3, "abc123def"),
        (4, ""),
        # whitespace-heavy shapes (ADVICE r11): interior runs of 2+
        # spaces/tabs/newlines must contribute pre-tokens, not vanish
        (5, "def f(x):\n    return x + 1\n\n"),
        (6, "cols\t\tsep   wide"),
        # \x0B (vertical tab): Python/Java \s includes it, RE2's does
        # not — the explicit character classes put it in the PUNCT
        # class in all three engines (round-12 review)
        (7, "x\x0b\x0b."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ws = {r.doc_id: r.n_tokens
          for r in TX.token_count(df, mode="whitespace").collect()}
    assert ws == {1: 4, 2: 4, 3: 1, 4: 0, 5: 6, 6: 3, 7: 2}
    bpe = {r.doc_id: r.n_tokens for r in TX.token_count(df, mode="bpe").collect()}
    want = {i: len(_re.findall(TX.BPE_TOKEN_RE, t)) for i, t in rows}
    assert bpe == want
    # mixed-alnum splits into letter/digit runs; punctuation detaches
    # ("Hello , world ! It ' s 2024 ." = 9 pre-tokens)
    assert bpe[3] == 3 and bpe[1] == 9
    # word mode unchanged (the gated tokenizer: [a-z0-9]+ keeps mixed
    # alnum as ONE run)
    assert {r.doc_id: r.n_tokens for r in TX.token_count(df).collect()}[3] == 1
    with _pytest.raises(ValueError, match="mode"):
        TX.token_count(df, mode="sentencepiece")


def test_quality_empty_doc_safe(docs):
    rows = {r.doc_id: r for r in TX.quality_score(docs).collect()}
    assert rows[5].n_tokens == 0 and rows[5].stop_ratio == 0.0
    assert rows[1].stop_ratio == pytest.approx(2 / 9, abs=1e-3)


def test_lang_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat is here and of course"), (2, "der hund und die katze das"),
         (3, "le chat et la maison les arbres"), (4, "xyzzy plugh")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.pred_lang for r in TX.lang_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_fingerprint_order_invariant(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta beta")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.fp for r in TX.fingerprint(df).collect()}
    assert fps[1] == fps[2]


def test_exact_dedup(docs):
    got = {r.rep_id: r.n_dups for r in D.exact_dedup(docs).collect()}
    assert got[1] == 2  # docs 1 and 4
    assert got[2] == 1


def test_ngram_jaccard(docs):
    pairs = {(r.a, r.b): r.jaccard for r in D.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # identical docs
    assert (1, 2) in pairs  # 6 of 7 shingles shared: j = 6/8
    assert pairs[(1, 2)] == pytest.approx(0.75, abs=1e-4)
    assert not any(3 in p for p in pairs)


def test_containment_pairs_directional(spark):
    """Broder containment (r18 staging): a short doc embedded verbatim
    in a long one scores 1.0 in the contained->container direction
    while symmetric Jaccard (2 shared / 6 union shingles = 0.33) would
    miss it at any threshold above 1/3; the reverse direction carries
    its own denominator; exact dups score 1.0 both ways."""
    rows = [
        (10, "alpha beta gamma delta"),
        (11, "alpha beta gamma delta epsilon zeta eta theta"),
        (12, "unrelated words all over this line"),
        (13, "alpha beta gamma delta"),  # exact dup of 10
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.contained, r.container): r.containment
        for r in D.containment_pairs(df, threshold=0.3).collect()
    }
    assert got[(10, 11)] == 1.0  # short inside long: full containment
    assert got[(11, 10)] == pytest.approx(2 / 6, abs=1e-4)
    assert got[(10, 13)] == 1.0 and got[(13, 10)] == 1.0
    assert not any(12 in p for p in got)
    # higher threshold keeps the directional hit, drops the reverse
    hi = {
        (r.contained, r.container)
        for r in D.containment_pairs(df, threshold=0.5).collect()
    }
    assert (10, 11) in hi and (11, 10) not in hi


def test_minhash_lsh_finds_exact_dups(docs):
    pairs = {(r.a, r.b) for r in D.minhash_lsh_pairs(docs).collect()}
    assert (1, 4) in pairs  # identical token sets agree on every band
    assert not any(3 in p for p in pairs)


def test_simhash_identical_docs_equal(docs):
    sh = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    assert sh[1] == sh[4]
    assert 0 <= sh[1] < 2**16
    assert sh[1] != sh[3]


EMB = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.9, 0.1, 0.0, 0.0]),
    (3, [0.0, 1.0, 0.0, 0.0]),
    (4, [-1.0, 0.0, 0.0, 0.0]),
]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(EMB, "vec_id long, embedding array<float>").cache()


def test_embedding_near_dups(emb):
    pairs = {(r.a, r.b): r.cos for r in D.embedding_near_dups(emb, threshold=0.9).collect()}
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] == pytest.approx(0.9 / math.sqrt(0.82), abs=1e-3)


def test_brute_force_topk(emb):
    got = {
        (r.q_id, r.rank): r.n_id
        for r in S.brute_force_topk(emb, emb.filter(F.col("vec_id") == 1), k=3).collect()
    }
    assert got[(1, 1)] == 2  # closest
    assert got[(1, 2)] == 3  # orthogonal beats opposite
    assert got[(1, 3)] == 4


def test_lsh_topk_subset_of_brute(spark):
    from g4s_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").cache()
    queries = emb.filter(F.col("vec_id") < 5)
    brute = {(r.q_id, r.n_id): r.cos for r in S.brute_force_topk(emb, queries, k=20).collect()}
    lsh = [(r.q_id, r.n_id, r.cos) for r in S.lsh_topk(emb, queries, k=5).collect()]
    emb.unpersist()
    assert lsh, "banded LSH must produce candidates"
    # every LSH hit carries the exact cosine the brute-force path computes
    for q, n, cos in lsh:
        if (q, n) in brute:
            assert cos == brute[(q, n)]


def test_sign_lsh_bands_sql_path_matches_column_path(spark):
    """Round-12: sign_lsh_bands' one-string F.expr fast path (column
    NAME input) must produce byte-identical (band, key) sets to the
    operator-by-operator Column reference path on real embeddings —
    the fast path cut ~400 ms of per-call driver py4j time from every
    LSH gate, and this pin is what makes the two constructions one
    implementation, not two."""
    from g4s_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").cache()

    def collect(vec):
        return sorted(
            (r.vec_id, r.bk.band, r.bk.key)
            for r in emb.select(
                "vec_id", F.explode(S.sign_lsh_bands(vec)).alias("bk")
            ).collect()
        )

    fast = collect("embedding")
    ref = collect(F.col("embedding"))
    emb.unpersist()
    assert fast == ref and len(fast) > 0

    # a dotted name must NOT take the string path (it would backtick as
    # one identifier and fail analysis) — it falls back to F.col, which
    # resolves nested struct fields (round-12 review)
    nested = spark.createDataFrame(
        [(1, ([1.0] * 64,))],
        "vec_id long, meta struct<embedding: array<double>>",
    )
    got = nested.select(
        F.explode(S.sign_lsh_bands("meta.embedding")).alias("bk")
    ).count()
    assert got == 8  # one struct per band


def test_ivf_assign_deterministic_partition(spark):
    from g4s_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").cache()
    a = {r.vec_id: r.cell for r in S.ivf_assign(emb, n_centroids=4).collect()}
    b = {r.vec_id: r.cell for r in S.ivf_assign(emb, n_centroids=4).collect()}
    emb.unpersist()
    assert a == b  # seeded centroids: same assignment every run
    assert set(a.values()) <= set(range(4))
    assert len(set(a.values())) > 1  # a real partition, not one cell


def test_ivf_assign_large_n_centroids(spark):
    """Round-11 regression: the argmax must stay LINEAR in n_centroids —
    the old chained-when fold was 2^n expression nodes and OOMed the
    plan build past ~30 centroids, making SemDeDup's √N cell rule (and
    any real coarse quantizer) unusable."""
    from g4s_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cells = {r.cell for r in S.ivf_assign(emb, n_centroids=128).collect()}
    assert cells <= set(range(128))
    assert len(cells) > 8  # 128 seeded centroids genuinely spread


def test_ivf_assign_null_embedding_keeps_cell_zero(spark):
    """A NULL embedding must land in cell 0 — the assignment the old
    when()-fold and the SQL oracle's NULLS-LAST row_number both give —
    not a NULL cell that silently drops the row from every cell
    equi-join (round-11 review finding on the linear-argmax rewrite)."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, None)],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r.cell
           for r in S.ivf_assign(df, n_centroids=4, dim=4).collect()}
    assert got[2] == 0
    assert got[1] is not None and 0 <= got[1] < 4


def test_multimodal_pipeline(docs):
    media = MM.to_media(docs.filter(F.col("doc_id") <= 2))
    feats = MM.extract_features(media, n_features=4).collect()
    by_id = {r.doc_id: r for r in feats}
    assert by_id[1].n_bytes == len(DOCS[0][1].encode())
    assert len(by_id[1].features) == 4
    import hashlib

    assert by_id[1].digest == hashlib.md5(DOCS[0][1].encode()).hexdigest()


def test_frame_sample(docs, spark):
    media = MM.to_media(docs.filter(F.col("doc_id") == 1))
    frames = MM.frame_sample_stub(media, every_n=1).collect()
    assert len(frames) >= 1 and frames[0].frame_no == 0


def test_dedup_builders_are_lazy(spark, docs):
    # plan builders must not run Spark jobs at construction time — the
    # DAGScheduler job counter must not advance until an action fires
    def n_jobs():
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    before = n_jobs()
    jac = D.ngram_jaccard_pairs(docs, threshold=0.3)
    lsh = D.minhash_lsh_pairs(docs)
    assert n_jobs() == before
    # downstream composition still executes correctly
    assert jac.filter("a = 1").count() >= 1
    assert lsh.count() >= 1


def test_dedup_materialize_matches_lazy(docs):
    lazy = {(r.a, r.b) for r in D.minhash_lsh_pairs(docs).collect()}
    mat = {(r.a, r.b) for r in D.minhash_lsh_pairs(docs, materialize=True).collect()}
    assert lazy == mat


def test_banded_lsh_recall_vs_brute_force(spark):
    from g4s_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").cache()
    brute = {(r.a, r.b) for r in D.embedding_near_dups(emb, threshold=0.4).collect()}
    lsh = {(r.a, r.b) for r in D.embedding_near_dups_lsh(emb, threshold=0.4).collect()}
    emb.unpersist()
    # exact-cosine verification makes precision 1.0 by construction
    assert lsh <= brute
    # banded projections (3 planes x 8 bands): recall >= ~0.75 expected at
    # cos 0.4; assert a floor with margin for the draw
    assert brute, "test data must contain near-dup pairs"
    assert len(lsh) / len(brute) >= 0.6


def test_dedup_clusters(docs):
    got = {r.doc_id: r.cluster for r in D.dedup_clusters(docs).collect()}
    assert set(got) == {1, 2, 3, 4, 5}  # every doc gets a cluster
    assert got[1] == got[4] == 1        # exact dups share the min-id cluster
    assert got[3] not in (got[1],)      # unrelated doc stays apart
    assert got[5] == 5                  # empty doc is a singleton


def test_dedup_clusters_int_ids(docs):
    # non-bigint id columns are normalized up front; both union branches
    # (component loop output and singleton anti-join) must agree on long
    narrow = docs.withColumn("doc_id", F.col("doc_id").cast("int"))
    out = D.dedup_clusters(narrow)
    assert dict(out.dtypes)["cluster"] == "bigint"
    got = {r.doc_id: r.cluster for r in out.collect()}
    assert got[1] == got[4] == 1
    assert got[5] == 5


def test_doc_frequency(docs):
    got = {r.token: (r.df, r.df_ratio) for r in TX.doc_frequency(docs).collect()}
    # 'the' appears in docs 1,2,4 of the 5-doc corpus
    assert got["the"] == (3, 0.6)
    assert "completely" not in got  # df=1 < min_df


def test_curate_corpus(docs):
    from g4s_spark.functions import pipeline as PL

    kept = {r.doc_id for r in PL.curate_corpus(docs, min_quality=0.0, langs=("en", "und")).collect()}
    assert 4 not in kept  # doc 4 is an exact dup of doc 1 -> not its cluster rep
    assert 1 in kept      # the representative survives
    strict = {r.doc_id for r in PL.curate_corpus(docs, min_quality=0.99).collect()}
    assert strict == set()  # threshold filters everything in this tiny corpus
    # quality-aware representative (round-10): make the LATER exact dup
    # the higher-scored row — it must displace the min-id default
    scored = docs.withColumn("prio", F.col("doc_id").cast("double"))
    kept_q = {r.doc_id for r in PL.curate_corpus(
        scored, min_quality=0.0, langs=("en", "und"), rep_score_col="prio"
    ).collect()}
    assert 4 in kept_q and 1 not in kept_q


def test_knn_join_lsh_invariants_and_exact_cos(spark):
    from g4s_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").cache()
    got = S.knn_join_lsh(emb, k=3).collect()
    assert got, "knn join must produce neighbor rows"
    per_q: dict[int, list] = {}
    for r in got:
        per_q.setdefault(r.q_id, []).append(r)
    for q, rows in per_q.items():
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, len(rows) + 1))  # contiguous 1..<=k
        assert len({r.n_id for r in rows}) == len(rows)  # distinct neighbors
        assert all(r.n_id != q for r in rows)
        # ranks ordered by descending cosine
        by_rank = sorted(rows, key=lambda r: r.rank)
        assert all(a.cos >= b.cos for a, b in zip(by_rank, by_rank[1:]))
    # neighbor cosines match the brute-force values exactly (LSH only
    # prunes candidates, never changes scores)
    queries = emb.limit(0).sparkSession.createDataFrame(
        [(q,) for q in list(per_q)[:5]], "vec_id long"
    ).join(emb, on="vec_id")
    brute = {
        (r.q_id, r.n_id): r.cos
        for r in S.brute_force_topk(emb, queries, k=50).collect()
    }
    checked = 0
    for q in list(per_q)[:5]:
        for r in per_q[q]:
            if (q, r.n_id) in brute:
                assert r.cos == brute[(q, r.n_id)]
                checked += 1
    assert checked > 0
    emb.unpersist()


def test_kmeans_centroids_improve_objective(spark):
    from g4s_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").cache()
    C0 = S.kmeans_centroids(emb, k=4, iters=0)  # normalized seeded init
    o0 = S.kmeans_objective(emb, C0)
    C1 = S.kmeans_centroids(emb, k=4, iters=1)
    C3 = S.kmeans_centroids(emb, k=4, iters=3)
    o1, o3 = S.kmeans_objective(emb, C1), S.kmeans_objective(emb, C3)
    # Lloyd steps never decrease the mean best-centroid dot
    assert o1 >= o0 - 1e-9
    assert o3 >= o1 - 1e-9
    # trained assignment covers every vector in one of k cells
    cells = {r.cell for r in S.ivf_assign(emb, centroids=C3).collect()}
    assert cells <= set(range(4)) and len(cells) >= 2
    n = S.ivf_assign(emb, centroids=C3).count()
    assert n == emb.count()
    emb.unpersist()


def test_repetition_stats_degenerate_doc(spark):
    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "w x y z"), (3, "")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in TX.repetition_stats(df).collect()}
    assert rows[1].top_token_ratio == 1.0
    assert rows[1].top_bigram_ratio == 1.0
    assert rows[1].distinct_ratio == 0.25
    assert rows[2].distinct_ratio == 1.0
    assert rows[2].top_token_ratio == 0.25
    assert rows[3].n_tokens == 0 and rows[3].top_token_ratio == 0.0


def test_decontaminate_flags_shared_ngrams(spark):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "totally unrelated words here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(99, "quick brown fox escapes")], "doc_id long, text string"
    )
    out = {r.doc_id: r.contaminated for r in TX.decontaminate(corpus, bench, n=3).collect()}
    assert out == {1: True, 2: False}


def test_bm25_ranks_matching_docs_higher(spark):
    df = spark.createDataFrame(
        [(1, "spark table query spark"), (2, "spark only"), (3, "nothing relevant at all")],
        "doc_id long, text string",
    )
    scores = {r.doc_id: r.bm25 for r in TX.bm25_score(df, ["spark", "query"]).collect()}
    assert scores[1] > scores[2] > scores[3] == 0.0


def test_dedup_against_drops_corpus_near_dups(spark):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog tonight"),  # dup
            (11, "completely different content with no shared shingles here"),
        ],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in D.dedup_against(new, corpus).collect()}
    assert kept == {11}


def test_dedup_against_never_drops_corpus_rows(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    out = D.dedup_against(new, corpus)
    # output schema = the new batch's schema; only new ids appear
    assert out.columns == ["doc_id", "text"]
    assert {r.doc_id for r in out.collect()} == set()


def test_hard_negatives_band_and_exclusions(spark):
    import math

    # vectors: q; a near-dup of q; b moderately similar; c orthogonal
    def vec(theta):
        v = [0.0] * 64
        v[0], v[1] = math.cos(theta), math.sin(theta)
        return v

    emb = spark.createDataFrame(
        [(0, vec(0.0)), (1, vec(0.05)), (2, vec(1.0)), (3, vec(math.pi / 2))],
        "vec_id long, embedding array<float>",
    )
    out = S.hard_negatives(
        emb, emb.filter(F.col("vec_id") == 0), k=5, min_sim=0.1, max_sim=0.9
    ).collect()
    ids = {r.n_id for r in out}
    assert 1 not in ids          # near-dup excluded (cos ~0.9988 >= max_sim)
    assert 2 in ids              # cos ~0.54: a hard negative
    assert 3 not in ids          # cos ~0: below min_sim
    assert all(0.1 <= r.cos < 0.9 for r in out)


def test_cross_source_overlap_counts_unordered_pairs(spark):
    """Leakage matrix: identical docs across sources collide in every
    band; counts key on the UNORDERED source pair."""
    from g4s_spark.functions.dedup import cross_source_overlap

    text1 = "the quick brown fox jumps over the lazy dog again and again"
    text2 = "completely different content with no shared shingles at all here"
    docs = spark.createDataFrame(
        [
            (1, text1, "web"),
            (2, text1, "books"),   # dup of 1, cross-source
            (3, text1, "web"),     # dup of 1, same-source
            (4, text2, "books"),   # unique
        ],
        "doc_id long, text string, source string",
    )
    got = {(r.src_a, r.src_b): r.n_pairs for r in cross_source_overlap(docs).collect()}
    # pairs: (1,2) web-books, (1,3) web-web, (2,3) books-web
    assert got == {("books", "web"): 2, ("web", "web"): 1}


def test_corpus_report_exact_accounting(spark):
    from g4s_spark.functions.pipeline import corpus_report

    docs = spark.createDataFrame(
        [
            (1, "one two three", "a"),
            (2, "four five", "a"),
            (3, "six", "b"),
        ],
        "doc_id long, text string, source string",
    )
    got = {r.source: r for r in corpus_report(docs).collect()}
    a = got["a"]
    assert (a.n_docs, a.total_tokens, a.mean_tokens) == (2, 5, 2.5)
    assert a.median_tokens == 2.5 and (a.min_tokens, a.max_tokens) == (2, 3)
    b = got["b"]
    assert (b.n_docs, b.total_tokens, b.total_chars) == (1, 1, 3)


def test_minhash_bucket_index_save_load_roundtrip(spark, tmp_path):
    """Durable MinHash index (round-8): pairs from the parquet-saved
    index match the inline plan; band filters prune partitions; an
    ingest batch dedups against the index without touching the corpus
    text."""
    from g4s_spark.functions import dedup as D

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text about spark and parquet tables"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bucket_index")
    D.save_bucket_index(corpus, path)
    idx = D.load_bucket_index(spark, path)
    got = {(r.a, r.b) for r in D.lsh_pairs_from_index(idx).collect()}
    want = {(r.a, r.b) for r in D.minhash_lsh_pairs(corpus).collect()}
    assert got == want
    # partition pruning: band is a partition column
    assert "band" in idx.columns
    plan = idx.filter(idx.band == 0)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "band" in plan
    # incremental dedup against the index: near-dup of doc 1 dropped,
    # novel doc kept — corpus text never read
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "an entirely novel document with no shared shingles here"),
        ],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in D.dedup_against_index(batch, idx).collect()}
    assert kept == {11}


def test_redact_pii_counts_and_placeholders(spark):
    """PII scrubbing (round-8): typed placeholders + per-doc counts;
    emails redact before the looser phone/IP patterns can eat them."""
    from g4s_spark.functions import text as TX

    df = spark.createDataFrame(
        [
            (1, "mail me at john.doe@example.com or call +1 (555) 123-4567"),
            (2, "server at 10.0.0.1 and 192.168.1.255 no contacts"),
            (3, "clean document"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in TX.redact_pii(df).collect()}
    assert got[1].n_email == 1 and got[1].n_phone == 1 and got[1].n_ipv4 == 0
    assert "<EMAIL>" in got[1].redacted and "<PHONE>" in got[1].redacted
    assert "john.doe" not in got[1].redacted
    assert got[2].n_ipv4 == 2 and "<IPV4>" in got[2].redacted
    assert got[3].redacted == "clean document"
    assert (got[3].n_email, got[3].n_phone, got[3].n_ipv4) == (0, 0, 0)


def test_normalize_text_control_and_whitespace(spark):
    from g4s_spark.functions import text as TX

    df = spark.createDataFrame(
        [(1, "a\x00b\x07c   d\t\te "), (2, "ok")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in TX.normalize_text(df).collect()}
    assert got[1].text == "abc d e"
    assert got[1].n_control == 2 and got[1].n_collapsed == 2
    assert got[2].text == "ok" and got[2].n_control == 0


def test_dedup_lines(spark):
    """Line-level corpus dedup (round-8): segments verbatim-shared by
    >= min_docs distinct docs are dropped, survivors reassemble in
    original order, fully-boilerplate docs keep empty text."""
    from g4s_spark.functions.text import dedup_lines

    df = spark.createDataFrame(
        [(1, "intro\nCOMMON HEADER\nbody one\nCOMMON FOOTER"),
         (2, "COMMON HEADER\nbody two\nCOMMON FOOTER"),
         (3, "solo doc\nall original"),
         (4, "COMMON HEADER\nCOMMON FOOTER"),
         # same line twice in ONE doc: distinct-doc count is 1, kept
         (5, "repeat me\nrepeat me")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.text, r.n_kept, r.n_removed)
           for r in dedup_lines(df, min_docs=2).collect()}
    assert got[1] == ("intro\nbody one", 2, 2)
    assert got[2] == ("body two", 1, 2)
    assert got[3] == ("solo doc\nall original", 2, 0)
    assert got[4] == ("", 0, 2)
    assert got[5] == ("repeat me\nrepeat me", 2, 0)
    # custom literal separator (escaped before the regex split)
    df2 = spark.createDataFrame(
        [(1, "a|b|x"), (2, "a|c|x")], "doc_id long, text string"
    )
    got2 = {r.doc_id: r.text for r in dedup_lines(df2, sep="|").collect()}
    assert got2 == {1: "b", 2: "c"}
    # blank lines are paragraph STRUCTURE, not boilerplate (round-9,
    # ADVICE r8): shared empty / whitespace-only segments survive
    df3 = spark.createDataFrame(
        [(1, "SAME\npara one\n\npara two"), (2, "SAME\nother\n\nmore")],
        "doc_id long, text string",
    )
    got3 = {r.doc_id: (r.text, r.n_kept, r.n_removed)
            for r in dedup_lines(df3, min_docs=2).collect()}
    assert got3[1] == ("para one\n\npara two", 3, 1)
    assert got3[2] == ("other\n\nmore", 3, 1)


def test_common_lines_and_dedup_against(spark):
    """Prebuilt boilerplate index + batch/stream probes (round-8)."""
    from g4s_spark.functions.text import common_lines, dedup_lines_against

    corpus = spark.createDataFrame(
        [(1, "HEADER\nbody a\nFOOTER"), (2, "HEADER\nbody b\nFOOTER")],
        "doc_id long, text string",
    )
    idx = common_lines(corpus, min_docs=2)
    assert sorted(r.line for r in idx.collect()) == ["FOOTER", "HEADER"]
    # blank segments never enter the index (round-9)
    blanky = spark.createDataFrame(
        [(1, "X\n\n Y"), (2, "X\n\n Z"), (3, "  \nW")],
        "doc_id long, text string",
    )
    assert [r.line for r in common_lines(blanky, min_docs=2).collect()] == ["X"]
    new = spark.createDataFrame(
        [(10, "HEADER\nfresh text\nFOOTER"), (11, "HEADER\nFOOTER")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.text, r.n_kept)
           for r in dedup_lines_against(new, idx).collect()}
    assert got[10] == ("fresh text", 1)
    assert 11 not in got  # every segment was boilerplate; no kept rows


def test_recall_report(spark):
    from g4s_spark.functions.similarity import recall_report

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20)], "query_id long, vec_id long"
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 12), (1, 99)], "query_id long, vec_id long"
    )
    got = {r.query_id: (r.n_exact, r.n_hit, r.recall)
           for r in recall_report(approx, exact).collect()}
    assert got[1] == (3, 2, pytest.approx(2 / 3))
    assert got[2] == (1, 0, 0.0)


def test_documents_jsonl_roundtrip(spark, tmp_path):
    """JSONL corpus ingest/export (round-8): declared schema (no
    inference scan), deterministic doc_id/n_chars repair, source
    partitioning on export."""
    import json
    import os

    from g4s_spark.sources import read_documents_jsonl, write_documents_jsonl

    raw = tmp_path / "in.jsonl"
    raw.write_text(
        "\n".join([
            json.dumps({"doc_id": 7, "text": "hello world", "lang": "en",
                        "source": "web", "n_chars": 11}),
            json.dumps({"text": "no id here"}),          # everything missing
            json.dumps({"text": "no id here"}),          # duplicate line
        ])
    )
    df = read_documents_jsonl(spark, str(raw), source="crawl")
    rows = {(r.doc_id, r.text): (r.source, r.n_chars) for r in df.collect()}
    assert rows[(7, "hello world")] == ("web", 11)       # present fields kept
    # repaired rows: deterministic id (same for the duplicate), source + len
    repaired = [k for k in rows if k[1] == "no id here"]
    # the duplicate line got the SAME deterministic id -> one dict key
    assert len(repaired) == 1
    assert rows[repaired[0]] == ("crawl", 10)
    # export partitions by source
    out = tmp_path / "out"
    write_documents_jsonl(df, str(out))
    assert sorted(d for d in os.listdir(out) if d.startswith("source=")) == [
        "source=crawl", "source=web"
    ]
    back = spark.read.json(str(out))
    assert back.count() == 3


def test_ann_index_save_load(spark, tmp_path):
    """Durable LSH index (round-8): saved/loaded index probes return
    the same top-k as the in-session lsh_topk; the saved layout is
    band-partitioned."""
    import os

    from g4s_spark.functions.similarity import (
        load_ann_index, lsh_topk, lsh_topk_from_index, save_ann_index,
    )
    from g4s_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter("vec_id < 3")
    path = str(tmp_path / "annidx")
    save_ann_index(emb, path)
    assert any(d.startswith("band=") for d in os.listdir(path))
    idx = load_ann_index(spark, path)
    a = sorted(
        (r.q_id, r.n_id) for r in lsh_topk_from_index(idx, queries, k=3).collect()
    )
    b = sorted((r.q_id, r.n_id) for r in lsh_topk(emb, queries, k=3).collect())
    assert a == b and len(a) > 0


def test_graph_stats_persistence(spark, tmp_path):
    """save_graph ANALYZE (round-8): load_graph pre-warms the cost
    model from stats.json — no recompute scan."""
    from g4s_spark.graph import PropertyGraph, load_graph, save_graph

    nodes = spark.createDataFrame(
        [(1, "A"), (2, "A"), (10, "B")], "id long, label string"
    )
    edges = spark.createDataFrame(
        [(1, 10, "E"), (2, 10, "E")], "src long, dst long, type string"
    )
    g = PropertyGraph(nodes, edges, spark)
    path = str(tmp_path / "g")
    save_graph(g, path)
    g2 = load_graph(spark, path)
    assert "stats" in g2.derived  # warm before any query
    assert g2.stats.label_counts == {"A": 2, "B": 1}
    assert g2.stats.type_counts == {"E": 2}
    assert g2.stats.triplet_counts == {("A", "E", "B"): 2}


def test_weighted_sample(spark):
    from g4s_spark.functions.sampling import weighted_sample

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id").withColumn(
        "q", F.when(F.col("doc_id") % 2 == 0, 0.9).otherwise(0.1)
    )
    kept = weighted_sample(df, "q")
    a = {r.doc_id for r in kept.collect()}
    b = {r.doc_id for r in weighted_sample(df, "q").collect()}
    assert a == b  # deterministic
    evens = sum(1 for x in a if x % 2 == 0) / 2000
    odds = sum(1 for x in a if x % 2 == 1) / 2000
    assert 0.85 <= evens <= 0.95 and 0.06 <= odds <= 0.14
    # out-of-range probs clamp rather than misbehave
    clamped = weighted_sample(
        df.withColumn("q", F.lit(1.5)), "q"
    ).count()
    assert clamped == 4000


def test_kmv_distinct(spark):
    """KMV sketch: exact under k, ~±15% at 20x k, deterministic, and
    merge-consistent (sketch of a union == union of sketches re-sketched)."""
    from g4s_spark.functions.dedup import kmv_distinct

    small = spark.range(0, 40).withColumn("v", F.concat(F.lit("x"), F.col("id")))
    r = kmv_distinct(small, "v", k=64).collect()[0]
    assert r.n_kept == 40 and r.estimate == 40.0  # exact under k
    big = spark.range(0, 20000).withColumn("v", F.concat(F.lit("y"), F.col("id") % 5000))
    r = kmv_distinct(big, "v", k=256).collect()[0]
    assert r.n_kept == 256
    assert 5000 * 0.85 <= r.estimate <= 5000 * 1.15
    # deterministic across runs
    r2 = kmv_distinct(big, "v", k=256).collect()[0]
    assert r.estimate == r2.estimate
    # grouped
    g = spark.range(0, 3000).withColumn("grp", (F.col("id") % 3).cast("int")) \
        .withColumn("v", F.col("id"))
    got = {r.grp: r.n_kept for r in kmv_distinct(g, "v", ["grp"], k=64).collect()}
    assert got == {0: 64, 1: 64, 2: 64}


def test_normalize_embeddings_and_centroids(spark):
    import math

    from g4s_spark.functions.similarity import label_centroids, normalize_embeddings

    df = spark.createDataFrame(
        [(1, [3.0, 4.0], 0), (2, [0.0, 0.0], 0), (3, [1.0, 1.0], 1), (4, [3.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {r.vec_id: list(r.embedding) for r in normalize_embeddings(df).collect()}
    assert got[1] == pytest.approx([0.6, 0.8])
    assert got[2] == [0.0, 0.0]  # zero vector untouched
    assert math.isclose(sum(x * x for x in got[3]), 1.0)
    cent = {r.label: (list(r.centroid), r.n_vectors)
            for r in label_centroids(df).collect()}
    assert cent[1] == ([2.0, 1.0], 2)
    assert cent[0] == ([1.5, 2.0], 2)


def test_tfidf_keywords(spark):
    """Per-doc top-k TF-IDF keywords (round-9): rational idf
    (N+1)/(df+1), deterministic token tie-break, python replica."""
    from g4s_spark.functions.text import tfidf_keywords

    df = spark.createDataFrame(
        [(1, "apple apple banana common"),
         (2, "banana cherry common"),
         (3, "cherry cherry cherry common")],
        "doc_id long, text string",
    )
    got = {(r.doc_id, r.rank): (r.token, r.score)
           for r in tfidf_keywords(df, k=2).collect()}
    # N=3; df: apple 1, banana 2, cherry 2, common 3
    # idf: apple 4/2=2, banana 4/3, cherry 4/3, common 4/4=1
    # doc1: apple 2*2=4, banana 4/3, common 1 -> top2 apple, banana
    assert got[(1, 1)] == ("apple", 4.0)
    assert got[(1, 2)] == ("banana", 4.0 / 3.0)
    # doc2: banana 4/3, cherry 4/3, common 1 -> tie broken by token asc
    assert got[(2, 1)] == ("banana", 4.0 / 3.0)
    assert got[(2, 2)] == ("cherry", 4.0 / 3.0)
    # doc3: cherry 3*4/3=4, common 1
    assert got[(3, 1)] == ("cherry", 4.0)
    assert got[(3, 2)] == ("common", 1.0)


def test_bigram_rarity(spark):
    """Self-trained bigram LM rarity (round-9): Laplace-smoothed
    p(w2|w1) vs a python replica; counts exact, min_p exact."""
    from collections import Counter

    from g4s_spark.functions.text import bigram_rarity

    rows = [(1, "a b a b"), (2, "a b c"), (3, "z z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # python replica
    bigs = {i: list(zip(t.split(), t.split()[1:])) for i, t in rows}
    allb = [b for bs in bigs.values() for b in bs]
    c12, c1 = Counter(allb), Counter(b[0] for b in allb)
    vocab = {w for b in allb for w in b}
    V = len(vocab)
    p = lambda b: (c12[b] + 1.0) / (c1[b[0]] + V)  # noqa: E731
    got = {r.doc_id: r for r in bigram_rarity(df, threshold=0.5).collect()}
    for i, bs in bigs.items():
        assert got[i].n_bigrams == len(bs), i
        assert got[i].n_rare == sum(1 for b in bs if p(b) < 0.5), i
        assert got[i].min_p == min(p(b) for b in bs), i
        assert got[i].rare_ratio == got[i].n_rare / got[i].n_bigrams, i


def test_bigram_rarity_cross_corpus(spark):
    """train_df (round-10): the model trains on a REFERENCE corpus and
    scores another; unseen bigrams get the Laplace floor 1/(c1+V),
    unseen first words 1/V — no zeros, replica-exact."""
    from g4s_spark.functions.text import bigram_rarity

    ref = spark.createDataFrame(
        [(10, "a b a b a c")], "doc_id long, text string"
    )
    # model: c12(a,b)=2 c12(b,a)=2 c12(a,c)=1; c1: a=3 b=2; V=3
    score = spark.createDataFrame(
        [(1, "a b"), (2, "a z"), (3, "q r")], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_bigrams, r.min_p)
           for r in bigram_rarity(score, threshold=0.3, train_df=ref).collect()}
    assert got[1] == (1, (2 + 1.0) / (3 + 3))   # seen bigram
    assert got[2] == (1, (0 + 1.0) / (3 + 3))   # seen w1, unseen bigram
    assert got[3] == (1, (0 + 1.0) / (0 + 3))   # fully unseen -> 1/V


def test_ivf_multiprobe(spark):
    """Multi-probe IVF (round-9): probing all cells recovers exactly the
    brute-force ranking (candidate set = whole corpus); the top-1 probe
    agrees with the single-cell assignment; candidates only grow with
    nprobe, so hits are a superset."""
    from pyspark.sql import functions as F2

    from g4s_spark.functions.similarity import (
        ivf_cell_expr,
        ivf_cells_topn_expr,
        ivf_topk,
        brute_force_topk,
    )
    from g4s_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").cache()
    queries = emb.filter(F2.col("vec_id") < 5)
    # top-1 of the ranked cell list == the argmax cell assignment
    both = emb.select(
        ivf_cell_expr(F2.col("embedding")).alias("c1"),
        ivf_cells_topn_expr(F2.col("embedding"), 3).alias("cn"),
    ).collect()
    assert all(r.c1 == r.cn[0] for r in both)
    assert all(len(r.cn) == 3 == len(set(r.cn)) for r in both)
    # nprobe = n_centroids -> candidates = corpus -> equals brute force
    brute = [(r.q_id, r.rank, r.n_id)
             for r in brute_force_topk(emb, queries, k=3).collect()]
    full = [(r.q_id, r.rank, r.n_id)
            for r in ivf_topk(emb, queries, k=3, nprobe=8).collect()]
    assert sorted(full) == sorted(brute)
    # single- vs multi-probe: hit sets only grow
    p1 = {(r.q_id, r.n_id) for r in ivf_topk(emb, queries, k=3).collect()}
    p2 = {(r.q_id, r.n_id)
          for r in ivf_topk(emb, queries, k=3, nprobe=2).collect()}
    emb.unpersist()
    # every nprobe=1 hit that survives the larger candidate pool's top-k
    # is still ranked by the same exact cosine; sets need not nest per
    # query, but the candidate pools do — check pool growth via counts
    assert len(p2) >= len(p1) - 3 * 5  # k * n_queries slack for re-ranks


def test_encode_docs(spark):
    """Vocabulary encode (round-9): order-preserving ids, OOV -> unk_id,
    empty docs keep empty encodings."""
    from g4s_spark.functions.text import build_vocab, encode_docs

    corpus = spark.createDataFrame(
        [(1, "aa bb aa cc"), (2, "bb aa"), (3, "")],
        "doc_id long, text string",
    )
    vocab = build_vocab(corpus, min_count=2)  # aa(3)->0, bb(2)->1; cc dropped
    got = {r.doc_id: (list(r.ids), r.n_tokens, r.n_unk)
           for r in encode_docs(corpus, vocab).collect()}
    assert got[1] == ([0, 1, 0, -1], 4, 1)
    assert got[2] == ([1, 0], 2, 0)
    assert got[3] == ([], 0, 0)


def test_build_vocab_size_preprunes_with_take_ordered(spark):
    """VERDICT r9 #1 (the round's one `weak` perf mark): when ``size``
    is set the candidate set must be pre-pruned with orderBy+limit —
    TakeOrderedAndProject, per-partition top-k — BEFORE the rank
    window, so a 100 TB vocab never sorts 10^8 tokens in one task; and
    the sized result must equal the unbounded ranking's first `size`
    rows (the ordering is total, so pruning loses nothing to ties)."""
    from g4s_spark.functions.text import build_vocab

    corpus = spark.createDataFrame(
        [(i, f"t{i % 7} t{i % 5} common") for i in range(40)],
        "doc_id long, text string",
    )
    sized = build_vocab(corpus, size=4, min_count=1)
    plan = sized._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    full = build_vocab(corpus, min_count=1)
    want = sorted(
        [(r.token, r["count"], r.vocab_id) for r in full.collect()],
        key=lambda t: t[2],
    )[:4]
    got = sorted(
        [(r.token, r["count"], r.vocab_id) for r in sized.collect()],
        key=lambda t: t[2],
    )
    assert got == want


def test_select_canonical(spark):
    """Quality-aware cluster representative (round-10): highest score
    wins, ties fall to lowest id, score_col=None is pure keep-first;
    singletons survive untouched."""
    from g4s_spark.functions.dedup import select_canonical

    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 50, "b"), (3, 50, "c"), (9, 7, "z")],
        "doc_id long, q long, text string",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9)], "doc_id long, cluster long"
    )
    got = {(r.doc_id, r.cluster)
           for r in select_canonical(df, clusters, score_col="q").collect()}
    # cluster 1: q=50 tie between 2 and 3 -> lowest id (2); singleton 9
    assert got == {(2, 1), (9, 9)}
    first = {r.doc_id for r in select_canonical(df, clusters).collect()}
    assert first == {1, 9}  # keep-first fallback


def test_asof_join(spark):
    """AS-OF join (round-9): latest right row at-or-before each left
    timestamp per key; inclusive equality; tolerance nulls stale
    matches; unmatched rows keep NULLs."""
    from g4s_spark.functions.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "l1"),
         (1, "2024-01-01 12:00:00", "l2"),
         (2, "2024-01-01 09:00:00", "l3")],
        "k long, ts string, lv string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 10.0),
         (1, "2024-01-01 12:00:00", 20.0),   # equal ts: inclusive
         (2, "2024-01-01 11:00:00", 30.0)],  # after the only left row
        "k long, ts string, rv double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r.lv: (r.rv_r, r.ts_r is not None)
           for r in asof_join(left, right, on="k").collect()}
    assert got == {"l1": (10.0, True), "l2": (20.0, True), "l3": (None, False)}
    # tolerance: l1's match is 30 min stale — a 10-min tolerance drops it
    got2 = {r.lv: r.rv_r
            for r in asof_join(left, right, on="k", tolerance_s=600).collect()}
    assert got2 == {"l1": None, "l2": 20.0, "l3": None}


def test_range_join(spark):
    """Bucketed range join (round-9): points land in every containing
    interval (inclusive ends), across bucket boundaries; left keeps
    misses; equality keys respected."""
    from g4s_spark.functions.temporal import range_join

    pts = spark.createDataFrame(
        [(1, "2024-01-01 10:30:00", "p1"),
         (1, "2024-01-01 23:00:00", "p2"),
         (2, "2024-01-01 10:30:00", "p3")],
        "k long, ts string, pv string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    iv = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "2024-01-01 11:00:00", "i1"),
         # 14-hour interval spanning many 1h buckets
         (1, "2024-01-01 09:00:00", "2024-01-01 23:00:00", "i2"),
         (2, "2024-01-01 11:00:00", "2024-01-01 12:00:00", "i3")],
        "k long, start string, end string, iname string",
    ).withColumn("start", F.col("start").cast("timestamp")) \
     .withColumn("end", F.col("end").cast("timestamp"))
    got = sorted((r.pv, r.iname)
                 for r in range_join(pts, iv, on="k").collect())
    assert got == [("p1", "i1"), ("p1", "i2"), ("p2", "i2")]
    # inclusive end boundary: p2 at exactly 23:00 matched i2 above
    left = sorted((r.pv, r.iname)
                  for r in range_join(pts, iv, on="k", how="left").collect())
    assert left == [("p1", "i1"), ("p1", "i2"), ("p2", "i2"), ("p3", None)]


def test_asof_join_directions(spark):
    """direction='forward'/'nearest' (round-10, pandas merge_asof
    parity): forward picks the smallest right_ts >= left_ts; nearest
    picks the closer side with exact ties going backward; tolerance
    applies per candidate."""
    from g4s_spark.functions.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "l1"),   # bwd 09:00 (1h), fwd 10:30 (30m)
         (1, "2024-01-01 12:00:00", "l2"),   # fwd only from 12:30
         (1, "2024-01-01 09:45:00", "l3")],  # tie: 45m both ways
        "k long, ts string, lv string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", 1.0),
         (1, "2024-01-01 10:30:00", 2.0),
         (1, "2024-01-01 12:30:00", 3.0)],
        "k long, ts string, rv double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    fwd = {r.lv: r.rv_r
           for r in asof_join(left, right, on="k", direction="forward").collect()}
    assert fwd == {"l1": 2.0, "l2": 3.0, "l3": 2.0}
    near = {r.lv: r.rv_r
            for r in asof_join(left, right, on="k", direction="nearest").collect()}
    # l1: 30m fwd beats 1h bwd; l2: 30m fwd beats 1h30 bwd; l3 ties -> bwd
    assert near == {"l1": 2.0, "l2": 3.0, "l3": 1.0}
    # tolerance nulls the far side: 20-min budget leaves only exact fits
    near_tol = {
        r.lv: r.rv_r
        for r in asof_join(
            left, right, on="k", direction="nearest", tolerance_s=1200
        ).collect()
    }
    assert near_tol == {"l1": None, "l2": None, "l3": None}
    import pytest

    with pytest.raises(ValueError, match="direction"):
        asof_join(left, right, on="k", direction="sideways")


def test_temporal_join_empty_and_composite_keys(spark):
    """Degenerate inputs: an empty right/interval side yields all-miss
    left rows (asof) and pure-miss left range rows; composite join keys
    route through the same plans."""
    from g4s_spark.functions.temporal import asof_join, range_join

    left = spark.createDataFrame(
        [(1, "a", "2024-01-01 10:00:00", "l1")],
        "k long, k2 string, ts string, lv string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    empty_right = spark.createDataFrame(
        [], "k long, k2 string, ts timestamp, rv double"
    )
    [row] = asof_join(left, empty_right, on=["k", "k2"]).collect()
    assert row.rv_r is None and row.ts_r is None
    # composite keys must BOTH match
    right = spark.createDataFrame(
        [(1, "a", "2024-01-01 09:00:00", 1.0),
         (1, "b", "2024-01-01 09:30:00", 2.0)],  # k matches, k2 doesn't
        "k long, k2 string, ts string, rv double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    [row2] = asof_join(left, right, on=["k", "k2"]).collect()
    assert row2.rv_r == 1.0
    empty_iv = spark.createDataFrame(
        [], "k long, start timestamp, end timestamp, iname string"
    )
    pts = left.select("k", "ts", "lv")
    assert range_join(pts, empty_iv, on="k").count() == 0
    [miss] = range_join(pts, empty_iv, on="k", how="left").collect()
    assert miss.iname is None and miss.lv == "l1"


def test_asof_join_null_payload_from_matched_row(spark):
    """ADVICE r9 (high): a matched right row whose payload field is
    genuinely NULL must yield NULL — not a stale value carried forward
    from an older right row — and mixed payloads must all come from the
    SAME matched row."""
    from g4s_spark.functions.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 12:00:00", "l1")], "k long, ts string, lv string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", 10.0, "old"),
         (1, "2024-01-01 11:00:00", None, "new")],  # matched row: rv NULL
        "k long, ts string, rv double, tag string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    [row] = asof_join(left, right, on="k").collect()
    assert row.tag_r == "new" and row.rv_r is None, row
    # tolerance measures against the MATCHED row's ts (11:00, 1h stale),
    # not any older row
    [row2] = asof_join(left, right, on="k", tolerance_s=7200).collect()
    assert row2.tag_r == "new" and row2.rv_r is None
    # a NULL right timestamp row is ignored, never "latest"
    right3 = spark.createDataFrame(
        [(1, None, 99.0, "null-ts")], "k long, ts string, rv double, tag string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    [row3] = asof_join(left, right3, on="k").collect()
    assert row3.tag_r is None and row3.ts_r is None


def test_temporal_join_collision_guards(spark):
    """ADVICE r9 (low) + VERDICT r9 missing#5: suffixed right payload
    names colliding with left columns (asof) and non-key interval
    columns colliding with point columns (range) raise instead of
    silently merging/duplicating columns."""
    import pytest

    from g4s_spark.functions.temporal import asof_join, range_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 5.0)], "k long, ts string, price_r double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", 1.0)], "k long, ts string, price double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="price_r"):
        asof_join(left, right, on="k")
    pts = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "x")], "k long, ts string, label string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    iv = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", "2024-01-01 11:00:00", "y")],
        "k long, start string, end string, label string",
    ).withColumn("start", F.col("start").cast("timestamp")) \
     .withColumn("end", F.col("end").cast("timestamp"))
    with pytest.raises(ValueError, match="label"):
        range_join(pts, iv, on="k")


def test_asof_join_null_left_timestamp(spark):
    """ADVICE r10 (low): a LEFT row with a NULL timestamp matches
    nothing in ANY direction (pandas merge_asof semantics) — without
    the _ats validity guard the descending forward/nearest window sorts
    null-ts rows after all right rows (desc = NULLS LAST) and the
    running last() hands them a spurious smallest-right_ts match."""
    from g4s_spark.functions.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "ok"), (1, None, "null-ts")],
        "k long, ts string, lv string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", 1.0), (1, "2024-01-01 11:00:00", 2.0)],
        "k long, ts string, rv double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    # 'ok' at 10:00 is 1h from both candidates -> nearest ties backward
    for direction, want in [("backward", 1.0), ("forward", 2.0), ("nearest", 1.0)]:
        got = {
            r.lv: (r.rv_r, r.ts_r)
            for r in asof_join(left, right, on="k", direction=direction).collect()
        }
        assert got["null-ts"] == (None, None), direction
        assert got["ok"][0] == want, direction
    # and with a generous tolerance (the NULL delta must not slip past)
    got = {
        r.lv: r.rv_r
        for r in asof_join(
            left, right, on="k", direction="forward", tolerance_s=86400
        ).collect()
    }
    assert got == {"ok": 2.0, "null-ts": None}


def test_range_join_fanout_guard_and_auto_bucket(spark):
    """VERDICT r10 #2: an interval spanning more than ``max_fanout``
    buckets fails the job with an explicit error — an executor-side
    check inside the explode input, so a mis-chosen bucket_s can never
    silently multiply the build side. ``bucket_s=None`` derives the
    width from the median interval length and reproduces the explicit-
    width result exactly."""
    import pytest

    from g4s_spark.functions.temporal import range_join

    pts = spark.createDataFrame(
        [(1, "2024-06-01 10:30:00", "p1"), (1, "2024-01-01 00:30:00", "p2")],
        "k long, ts string, pv string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    iv = spark.createDataFrame(
        # a year-long interval: 8784 one-hour buckets
        [(1, "2024-01-01 00:00:00", "2024-12-31 00:00:00", "year")],
        "k long, start string, end string, iname string",
    ).withColumn("start", F.col("start").cast("timestamp")) \
     .withColumn("end", F.col("end").cast("timestamp"))
    with pytest.raises(Exception, match="max_fanout"):
        range_join(pts, iv, on="k", bucket_s=3600).collect()
    # a width sized to the interval passes the default guard
    wide = sorted(
        (r.pv, r.iname)
        for r in range_join(pts, iv, on="k", bucket_s=7 * 86400).collect()
    )
    assert wide == [("p1", "year"), ("p2", "year")]
    # bucket_s=None: the derived width (~the median interval length)
    # gives fanout ~2 and the identical join result
    auto = sorted(
        (r.pv, r.iname)
        for r in range_join(pts, iv, on="k", bucket_s=None).collect()
    )
    assert auto == wide


def test_select_canonical_string_ids(spark):
    """ADVICE r10 (low): the lowest-id tie-break must hold for STRING
    doc ids too — the old ``-F.col(id)`` negation silently cast them to
    NULL and made the documented tie-break nondeterministic. Also: a
    cluster whose scores are all NULL falls back to the lowest id."""
    from g4s_spark.functions.dedup import select_canonical

    df = spark.createDataFrame(
        [("d1", 50), ("d2", 50), ("d3", 10), ("x2", None), ("x1", None)],
        "doc_id string, q long",
    )
    clusters = spark.createDataFrame(
        [("d1", 1), ("d2", 1), ("d3", 1), ("x1", 2), ("x2", 2)],
        "doc_id string, cluster long",
    )
    got = {
        (r.doc_id, r.cluster)
        for r in select_canonical(df, clusters, score_col="q").collect()
    }
    # cluster 1: q=50 tie between d1/d2 -> lowest id d1;
    # cluster 2: all-NULL scores -> lowest id x1
    assert got == {("d1", 1), ("x1", 2)}
    first = {r.doc_id for r in select_canonical(df, clusters).collect()}
    assert first == {"d1", "x1"}


def test_semantic_dedup(spark):
    """SemDeDup (round-11): exact duplicate embeddings land in the same
    IVF cell by determinism and every copy above the lowest id is
    dropped; orthogonal vectors (cosine 0) and a 45-degree neighbor
    (cosine ~0.707 < threshold) survive regardless of cell."""
    import math

    from g4s_spark.functions.dedup import semantic_dedup

    r2 = 1.0 / math.sqrt(2.0)
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),   # exact dup of 1 -> dropped
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
        (5, [1.0, 0.0, 0.0, 0.0]),   # exact dup of 1 -> dropped
        (6, [r2, r2, 0.0, 0.0]),     # cos 0.707 to 1 and 3 -> survives
        (7, [0.0, 0.0, 0.0, 0.0]),   # zero-norm: no direction, no dup —
                                     # must SURVIVE, not DIVIDE_BY_ZERO
                                     # under ANSI mode (review finding)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(emb, threshold=0.95, n_centroids=2, dim=4)
    got = {r.vec_id for r in out.collect()}
    assert got == {1, 3, 4, 6, 7}
    # every survivor carries its cell id
    assert all(r.cell is not None for r in out.collect())
    # a laxer threshold also prunes the 45-degree neighbor IF it shares
    # a cell with a lower-id vector within 0.7 — verify monotonicity
    # instead of the cell draw: survivors can only shrink
    lax = {r.vec_id for r in
           semantic_dedup(emb, threshold=0.7, n_centroids=2, dim=4).collect()}
    assert lax <= got


def test_semantic_dedup_max_cell_guard(spark):
    """The cell-blowup guard (VERDICT r13 #2, mirroring range_join's
    max_fanout): a cell holding more than max_cell_rows vectors fails
    the job with an explicit executor-side error instead of silently
    planning a |cell|^2 pair join; a bound the cells respect changes
    nothing; None disables the guard."""
    import pytest

    from g4s_spark.functions.dedup import semantic_dedup

    rows = [(i, [1.0 * (i % 3 == 0), 1.0, 0.0, float(i)]) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # n_centroids=1 -> one 12-row cell, over a 4-row bound
    with pytest.raises(Exception, match="semantic_dedup: cell .* holds 12"):
        semantic_dedup(
            emb, threshold=0.99, n_centroids=1, dim=4, max_cell_rows=4
        ).collect()
    ok = semantic_dedup(
        emb, threshold=0.99, n_centroids=1, dim=4, max_cell_rows=12
    )
    off = semantic_dedup(
        emb, threshold=0.99, n_centroids=1, dim=4, max_cell_rows=None
    )
    assert {r.vec_id for r in ok.collect()} == {r.vec_id for r in off.collect()}
