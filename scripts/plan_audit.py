"""Print the formatted physical plans of the most expensive bench
queries — the reproducible form of the 100 TB plan audit in SCALE.md.

Usage: python scripts/plan_audit.py [query ...]   (default: the heavy set)
       python scripts/plan_audit.py --dump DIR [name ...]

Read the output for:
- PushedFilters / ReadSchema on every parquet scan (pushdown + pruning),
- BroadcastHashJoin on dimension/scalar sides, SortMergeJoin only on
  fact-fact keys, no CartesianProduct outside the labeled baselines,
- Exchange count: one shuffle per groupBy/join key change, none repeated,
- WholeStageCodegen spans covering the column expressions.

``--dump DIR`` writes the optimized logical plan of every ``cypher_*``
gate and of the four ``oltp_read`` templates (perfbench/ops.py, bound to
one fixed customer) to ``DIR/<name>.txt``, on the sf0.001 testdata
unless SPARK_GRAFT_SF_DIR names another. Expression ids are normalized,
so two dumps of one commit diff empty; ``diff -r`` two commits' dumps to
show which built plans a change moved.
"""

from __future__ import annotations

import os
import re
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

HEAVY = [
    "mxm_any_pair", "mxm_plus_times", "graph_pagerank",
    "dedup_ngram_jaccard", "ann_lsh_topk", "rel_q5_local_volume",
    "rel_q9_profit", "text_bm25",
    # round-11 debuts: the nearest-direction asof must show ONE
    # Exchange feeding two Sort+Window passes; neighbor_agg one
    # join + one HashAggregate pair per hop; dedup_canonical no
    # window over cluster members (aggregates only)
    "events_asof_nearest", "graph_neighbor_agg", "dedup_canonical",
]

# per-run numbering in plan text: expression ids (#123), and the ids
# Spark gives RDDs and cached relations
_VOLATILE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"\b(MapPartitionsRDD|ParallelCollectionRDD|ReliableCheckpointRDD|LocalCheckpointRDD|CachedPartitions|RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\bplan_id=\d+"), "plan_id=N"),
]


_GID = re.compile(r"gid#N = \d+")


def _sorted_lists(s: str) -> str:
    """``s`` with the top-level items of every [...] list sorted
    (recursively; commas inside () or nested [] do not split)."""
    out, i = [], 0
    while i < len(s):
        if s[i] != "[":
            out.append(s[i])
            i += 1
            continue
        depth, j, items, start = 0, i + 1, [], i + 1
        while j < len(s):
            ch = s[j]
            if ch in "([":
                depth += 1
            elif ch in ")]":
                if depth == 0:
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                items.append(s[start:j].strip())
                start = j + 1
            j += 1
        items.append(s[start:j].strip())
        items = [re.sub(r"^\d+$", "G", _sorted_lists(it)) for it in items]
        out.append("[" + ", ".join(sorted(items)) + "]")
        i = j + 1
    return "".join(out)


def normalize_plan(text: str) -> str:
    for pat, rep in _VOLATILE:
        text = pat.sub(rep, text)
    # Spark's distinct-aggregate rewrite (Expand + gid) numbers its
    # groups in hash order, which follows the expression ids: keep the
    # groups, drop their order
    return "\n".join(
        _sorted_lists(_GID.sub("gid#N = G", line)) if "gid#N" in line else line
        for line in text.split("\n")
    )


def dump_targets(spark, sf_dir: str) -> dict:
    """name -> zero-arg DataFrame builder: the cypher_* gates, then the
    oltp_read templates as ``oltp_<template>``."""
    import __spark_entry__ as entrymod
    from g4s_spark.graph import build_graph
    from g4s_spark.plans import run_cypher

    sys.path.insert(0, os.path.join(_ROOT, "perfbench"))
    import ops

    targets = {
        name: (lambda fn=fn: fn(spark, sf_dir))
        for name, fn in entrymod.queries().items()
        if name.startswith("cypher_")
    }
    cid = {"cid": ops.CUSTOMER_OFF + 1}
    for kind, text in ops.READ_TEMPLATES.items():
        targets[f"oltp_{kind}"] = (
            lambda text=text: run_cypher(build_graph(spark, sf_dir), text, params=cid)
        )
    return targets


def dump(out_dir: str, names: list[str]) -> None:
    from g4s_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark("plan_audit")
    targets = dump_targets(spark, sf_dir)
    os.makedirs(out_dir, exist_ok=True)
    for name in names or sorted(targets):
        plan = targets[name]()._jdf.queryExecution().optimizedPlan().toString()
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(normalize_plan(plan))
        print(name, flush=True)


def main():
    args = sys.argv[1:]
    if args[:1] == ["--dump"]:
        dump(args[1], args[2:])
        return
    import __spark_entry__ as entrymod
    from g4s_spark.session import get_spark

    names = args or HEAVY
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("plan_audit")
    qs = entrymod.queries()
    for name in names:
        print(f"\n{'=' * 72}\n{name}\n{'=' * 72}")
        qs[name](spark, sf_dir).explain("formatted")


if __name__ == "__main__":
    main()
