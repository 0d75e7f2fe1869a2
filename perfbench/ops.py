"""Seeded operation streams shared by every workload.

``stream(workload, seed, sizes)`` expands a seed into the exact Cypher text
and ``$params`` the program receives; the same seed gives byte-identical
operations (``digest`` hashes a prefix of a stream for the smoke test).
Streams are unbounded iterators so a faster program simply consumes more
of the same sequence.
"""

from __future__ import annotations

import hashlib
import itertools
import json
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np

from datagen import Sizes

# node-id offsets of graph.tpch (id(Customer c) = CUSTOMER_OFF + c_custkey);
# repeated here so the generator needs no Spark import
CUSTOMER_OFF = 3_000_000_000_000
ORDER_OFF = 6_000_000_000_000

# oltp_read: short reads anchored on one customer. Topology templates stay
# inside the cached (id,label) and edge projections; "prop" reads the
# uncached props payload.
READ_TEMPLATES = {
    "hop1": "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE id(c) = $cid RETURN o",
    "hop2": "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:HAS_ITEM]->(l:Lineitem) "
            "WHERE id(c) = $cid RETURN l",
    "hop3": "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:HAS_ITEM]->(l:Lineitem)"
            "-[:OF_PART]->(p:Part) WHERE id(c) = $cid RETURN p",
    "prop": "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE id(c) = $cid "
            "RETURN o, o.totalprice AS price",
}
# exact template counts per block of 10 reads; an oltp_read window ends
# on a block boundary, so its mix is exact. Latency rises hop1 < hop2 <
# hop3 < prop (about 0.8/1.3/1.7/2.3 s at 4 clients on 4 cores);
# cumulative shares 40/60/90/100% put p50 in the middle of hop2's
# population and p75 in the middle of hop3's, away from the gaps
# between templates.
READ_MIX = {"hop1": 4, "hop2": 2, "hop3": 3, "prop": 1}
READ_BLOCK = sum(READ_MIX.values())
ZIPF_S = 1.1

# olap_match: whole-graph matches, the text of the same-named
# __spark_entry__.queries() gates (run.py checks the texts still agree)
MATCH_QUERIES = {
    "cypher_1hop": "MATCH (c:Customer)-[:PLACED]->(o:Order) RETURN o",
    "cypher_2hop_reverse": "MATCH (p:Part)<-[:OF_PART]-(l:Lineitem)-[:BY_SUPP]->(s:Supplier) RETURN s",
    "cypher_multi_return": "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:HAS_ITEM]->(l:Lineitem) RETURN c, o, l",
    "cypher_fork": "MATCH (o:Order)-[:HAS_ITEM]->(l:Lineitem)-[:OF_PART]->(p:Part), "
                   "(l)-[:BY_SUPP]->(s:Supplier) RETURN l",
    "cypher_varlength": "MATCH (c:Customer)-[:PLACED|HAS_ITEM*1..2]->(x) RETURN c, x",
    "cypher_with_having": "MATCH (c:Customer)-[:PLACED]->(o:Order) "
                          "WITH c, count(o) AS n_orders WHERE n_orders >= 20 "
                          "MATCH (c)-[:FROM_NATION]->(n:Nation) "
                          "RETURN n, count(c) AS big_customers",
    "cypher_expr_revenue": "MATCH (o:Order)-[:HAS_ITEM]->(l:Lineitem) "
                           "RETURN o, sum(l.extendedprice * (1 - l.discount)) AS rev",
}

# analytics: one pass runs each of these once
ANALYTICS_STEPS = ["bfs", "sssp", "pagerank", "mxm_any_pair"]
PAGERANK_ITERS = 3

# write_chain: writes cycle through these kinds, so a chain of K holds
# them in fixed proportions
WRITE_KINDS = ["set", "merge", "create"]
CHAIN_K = 3


@dataclass(frozen=True)
class Op:
    """One operation: ``kind`` names the template, query or step."""

    kind: str
    text: str = ""
    params: dict = field(default_factory=dict)


@dataclass(frozen=True)
class Write:
    """A write statement (literals inline: update() takes no params), the
    read that must observe it, and the rows that read must return."""

    kind: str
    text: str
    read: str
    params: dict
    expect: tuple


def _zipf_anchors(rng: np.random.Generator, n: int) -> Iterator[int]:
    """Customer ids with Zipf-like popularity over a seeded permutation,
    so hot keys repeat without always being the lowest keys."""
    perm = rng.permutation(n)
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    p = w / w.sum()
    while True:
        for r in rng.choice(n, size=256, p=p):
            yield CUSTOMER_OFF + int(perm[r])


def read_stream(seed: int, sizes: Sizes) -> Iterator[Op]:
    rng = np.random.default_rng([seed, 1])
    anchors = _zipf_anchors(rng, sizes.customers)
    block = [k for k, c in READ_MIX.items() for _ in range(c)]
    while True:
        for kind in rng.permutation(block):
            yield Op(str(kind), READ_TEMPLATES[kind], {"cid": next(anchors)})


def match_stream(seed: int) -> Iterator[list[Op]]:
    """Whole cycles over the match set, each in a seeded order."""
    rng = np.random.default_rng([seed, 2])
    names = list(MATCH_QUERIES)
    while True:
        yield [Op(names[i], MATCH_QUERIES[names[i]]) for i in rng.permutation(len(names))]


def analytics_stream(seed: int, sizes: Sizes) -> Iterator[list[Op]]:
    """Passes; bfs/sssp start from a seeded customer, steps in seeded order."""
    rng = np.random.default_rng([seed, 3])
    while True:
        src = CUSTOMER_OFF + int(rng.integers(0, sizes.customers))
        steps = [ANALYTICS_STEPS[i] for i in rng.permutation(len(ANALYTICS_STEPS))]
        yield [Op(s, params={"src": src} if s in ("bfs", "sssp") else
                  {"iters": PAGERANK_ITERS} if s == "pagerank" else {}) for s in steps]


def write_stream(seed: int, sizes: Sizes, k: int = CHAIN_K) -> Iterator[list[Write]]:
    """Chains of ``k`` writes, each starting from the base graph. The kind
    order is fixed so a chain's plan depth repeats exactly; the seed picks
    the keys."""
    rng = np.random.default_rng([seed, 4])
    kinds = [WRITE_KINDS[i % len(WRITE_KINDS)] for i in range(k)]
    for chain in itertools.count():
        out = []
        for i, kind in enumerate(kinds):
            cid = CUSTOMER_OFF + int(rng.integers(0, sizes.customers))
            tag = f"w{seed}_{chain}_{i}"
            if kind == "set":
                out.append(Write(
                    "set", f"MATCH (c:Customer) WHERE id(c) = {cid} SET c.tag = '{tag}'",
                    "MATCH (c:Customer) WHERE id(c) = $cid RETURN c, c.tag AS tag",
                    {"cid": cid}, ((cid, tag),),
                ))
            elif kind == "merge":
                oid = ORDER_OFF + int(rng.integers(0, sizes.orders))
                out.append(Write(
                    "merge",
                    f"MATCH (c:Customer), (o:Order) WHERE id(c) = {cid} AND id(o) = {oid} "
                    "MERGE (c)-[:PLACED]->(o)",
                    "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE id(c) = $cid AND id(o) = $oid RETURN o",
                    {"cid": cid, "oid": oid}, ((oid,),),
                ))
            else:
                out.append(Write(
                    "create", f"CREATE (n:Customer {{name: '{tag}', acctbal: 1.5}})",
                    "MATCH (c:Customer) WHERE c.name = $name RETURN c.acctbal AS bal",
                    {"name": tag}, ((1.5,),),
                ))
        yield out


def stream(workload: str, seed: int, sizes: Sizes) -> Iterator:
    if workload == "oltp_read":
        return read_stream(seed, sizes)
    if workload == "olap_match":
        return match_stream(seed)
    if workload == "analytics":
        return analytics_stream(seed, sizes)
    if workload == "write_chain":
        return write_stream(seed, sizes)
    raise ValueError(f"unknown workload {workload!r}")


def digest(workload: str, seed: int, sizes: Sizes, n: int = 200) -> str:
    """sha256 of the first ``n`` items of a stream, as canonical JSON."""
    h = hashlib.sha256()
    for item in itertools.islice(stream(workload, seed, sizes), n):
        h.update(json.dumps(item, default=lambda o: o.__dict__, sort_keys=True).encode())
    return h.hexdigest()
