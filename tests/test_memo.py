"""memo.session_memo — the one owner of state that outlives a call.

Eight builders memoize into it: the TPC-H graph, table plans, the
shingle / MinHash / LSH / IVF indexes and the entry's two fixture
projections. These tests pin that each returns one object per key, that
a new Spark application starts from an empty memo, that the release
leaves nothing persisted and results unchanged, and that racing first
uses share one value."""

import sys
import threading
import time

import pytest
from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame

import __spark_entry__ as E
from g4s_spark.functions import dedup as D
from g4s_spark.functions import similarity as S
from g4s_spark.graph import PropertyGraph
from g4s_spark import memo
from g4s_spark.memo import session_memo
from g4s_spark.operators import bfs
from g4s_spark.plans import run_cypher
from g4s_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return load_table(spark, SF, "documents")


def _emb(spark):
    return load_table(spark, SF, "embeddings")


# the eight memoized builders, each called with its default parameters
BUILDERS = {
    "graph": lambda spark: E.build_graph(spark, SF),
    "table": lambda spark: load_table(spark, SF, "nation"),
    "shingles": lambda spark: D.shingle_table(_docs(spark)),
    "minhash_buckets": lambda spark: D.minhash_bucket_table(_docs(spark)),
    "lsh_corpus": lambda spark: S.lsh_bucketed_corpus(_emb(spark)),
    "ivf_corpus": lambda spark: S.ivf_cells_corpus(_emb(spark)),
    "copurchase_pairs": lambda spark: E._copurchase_pairs(spark, SF),
    "ps_edges": lambda spark: E._ps_edges(spark, SF),
}


def _frames(value):
    """Every DataFrame a memo value holds: itself, or a graph's edges
    and registry frames."""
    if isinstance(value, PropertyGraph):
        held = [value.edges] + [value.derived.peek(k) for k in value.derived]
        return [f for f in held if isinstance(f, DataFrame)]
    return [value]


@pytest.fixture
def other_app(monkeypatch):
    """From here on the memo sees another Spark application."""
    monkeypatch.setattr(SparkContext, "applicationId", property(lambda self: "other-app"))


@pytest.mark.parametrize("name", list(BUILDERS))
def test_builder_returns_one_object_per_session(spark, name):
    first = BUILDERS[name](spark)
    assert BUILDERS[name](spark) is first
    held = session_memo(spark)
    assert any(held.peek(k) is first for k in held)


def test_parameters_key_separate_entries(spark):
    docs = _docs(spark)
    sh3, sh4 = D.shingle_table(docs, n=3), D.shingle_table(docs, n=4)
    assert sh3 is not sh4
    assert D.shingle_table(docs, n=3) is sh3 and D.shingle_table(docs, n=4) is sh4
    # the same operator on another corpus plan, and another table
    assert D.shingle_table(docs.filter("doc_id > 1"), n=3) is not sh3
    assert load_table(spark, SF, "region") is not load_table(spark, SF, "nation")


def test_streaming_plan_is_neither_memoized_nor_persisted(spark):
    stream = spark.readStream.format("rate").load().selectExpr(
        "value AS doc_id", "CAST(value AS STRING) AS text"
    )
    before = list(session_memo(spark))
    sh = D.shingle_table(stream)
    assert sh.isStreaming and sh.storageLevel == StorageLevel.NONE
    assert list(session_memo(spark)) == before


def test_new_application_drops_every_entry(spark, request):
    old = {name: build(spark) for name, build in BUILDERS.items()}
    old_memo = session_memo(spark)
    request.getfixturevalue("other_app")
    memo = session_memo(spark)
    assert memo is not old_memo and not list(memo)
    for name, build in BUILDERS.items():
        assert build(spark) is not old[name], name
    memo.uncache()
    old_memo.uncache()


def test_release_unpersists_everything_and_keeps_results(spark):
    start = E.BFS_START
    query = "MATCH (c:Customer)-[:PLACED]->(o:Order) RETURN c, o"

    def results(g):
        return (
            sorted(tuple(r) for r in bfs(g, [start]).collect()),
            sorted(tuple(r) for r in run_cypher(g, query).collect()),
        )

    g = E.build_graph(spark, SF)
    before = results(g)
    for build in BUILDERS.values():
        build(spark)
    memo = session_memo(spark)
    frames = [f for k in memo for f in _frames(memo.peek(k))]
    assert sum(f.storageLevel != StorageLevel.NONE for f in frames) >= 8

    memo.uncache()
    assert all(f.storageLevel == StorageLevel.NONE for f in frames)
    assert not list(memo)
    assert results(g) == before
    assert E.build_graph(spark, SF) is not g
    assert results(E.build_graph(spark, SF)) == before


def test_racing_first_uses_share_one_value(spark, other_app, monkeypatch):
    """Client threads share one session (perfbench's oltp_read runs
    nproc of them): racing first uses, here also the first call under a
    new application, must all return the value the memo keeps."""

    class SlowDerived(memo.Derived):
        """Yields the GIL while the new application's memo is made, so
        racing threads overlap in session_memo's swap."""

        def __init__(self, *args):
            time.sleep(0.01)
            super().__init__(*args)

    monkeypatch.setattr(memo, "Derived", SlowDerived)
    n = 16
    barrier = threading.Barrier(n)
    got = [None] * n

    def client(i):
        barrier.wait(timeout=30)
        docs = _docs(spark)
        got[i] = (docs, D.shingle_table(docs))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    docs, shingles = got[0]
    assert all(d is docs and sh is shingles for d, sh in got)
    assert _docs(spark) is docs and D.shingle_table(docs) is shingles
    session_memo(spark).uncache()
