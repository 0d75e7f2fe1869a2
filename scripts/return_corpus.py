"""Characterization corpus for the RETURN/WITH item grammar.

Prints, for every item in ITEMS under two MATCH frames, the parsed
QueryGraph's RETURN item list (one ``(alias, expr, agg, distinct,
param)`` tuple per ReturnItem, in item order) or the parse error. Run
it before and after a change to the item grammar and diff the two
outputs. Driver-only.

Usage:
    python scripts/return_corpus.py > /tmp/ret_before.txt
    # ... change the grammar ...
    python scripts/return_corpus.py > /tmp/ret_after.txt
    diff /tmp/ret_before.txt /tmp/ret_after.txt
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from g4s_spark.cypher.parser import CypherParseError, parse

FRAME = "MATCH (a:Person)-[e:KNOWS]->(b:Person) RETURN {item}"
PATH_FRAME = "MATCH p = (a:Person)-[:KNOWS*1..2]->(b:Person) RETURN {item}"

ITEMS = [
    # bare bindings / star / rename
    "a", "a, b", "*", "e", "z", "a AS x", "e AS x", "z AS x",
    "a , b", "a,b,a",
    # props, with and without alias, edge props
    "a.name", "a.name AS nm", "e.weight", "e.weight AS w", "z.name",
    "a.name, b.age AS bb", "A.name",
    # count(*)
    "count(*)", "COUNT( * )", "count(*) AS n", "count (*)",
    # aggregates over bindings and props
    "count(a)", "count(a.name)", "count(DISTINCT a)",
    "count(DISTINCT a.name) AS dn", "sum(a.age)", "avg(a.age) AS m",
    "min(a.age)", "max(a.age)", "collect(a)", "collect(a.name)",
    "collect(DISTINCT a.name)", "stDev(a.age)", "stDevP(a.age) AS s",
    "sum(a)", "sum(e.weight)", "sum(e.weight) AS w", "sum(z.age)",
    "count(e)", "count(z)", "sum(DISTINCT e.weight)",
    "SUM(a.age)", "sum ( a . age )",
    # percentile
    "percentileCont(a.age, 0.5)", "percentileDisc(a.age, .9) AS p",
    "percentileCont(a.age, 1)", "percentileCont(a.age, 0)",
    "percentileCont(a.age, 1.5)", "percentileCont(z.age, 0.5)",
    "percentilecont(a.age, 0.5)",
    # edge-property count and percentiles, a binding's percentile
    "count(e.weight)", "count(DISTINCT e.weight)", "percentileCont(e.weight, 0.5)",
    "percentileDisc(e.weight, .9) AS p", "percentileCont(a, 0.5)",
    # coalesce
    "coalesce(a.name, 'x')", "coalesce(a.name, \"x\") AS c",
    "coalesce(a.age, 0)", "coalesce(a.age, -1.5)", "coalesce(z.p, 'x')",
    "coalesce(a.name, 'a, b')",  # comma inside the literal
    # scalar string fns
    "toLower(a.name)", "toUpper(a.name) AS u", "trim(a.name)",
    "reverse(a.name)", "substring(a.name, 1)", "substring(a.name, 1, 2)",
    "left(a.name, 2)", "right(a.name, 2) AS r", "toFloat(a.age)",
    "toInteger(a.age)", "toString(a.age)", "toLower(z.name)",
    "substring(a.name)", "left(a.name)",  # arity errors
    "TOLOWER(a.name)",
    # replace
    "replace(a.name, 'x', 'y')", "replace(a.name, 'x', 'y') AS r",
    "replace(a.name, '', 'y')", "replace(a.name, 'a,b', 'c')",
    "replace(z.name, 'x', 'y')", "replace(a.name, 1, 2)",
    # concat
    "a.name + '!' AS x", "'<' + a.name + '>' AS x",
    "a.name + b.name AS x",  # no quoted literal -> arithmetic path
    "'x' + 'y' AS x", "a.name + '!' ",  # concat without alias -> error
    "e.weight + 'x' AS x",  # edge piece -> error
    "count(a) + 'x' AS x",  # non-prop piece -> error
    "'a AS b' + a.name AS x",  # AS inside the literal
    "a.name + '+' AS x",  # plus inside the literal
    # introspection
    "id(a)", "id(a) AS i", "labels(a)", "type(e)", "type(e) AS t",
    "keys(a)", "properties(a) AS ps", "id(e)", "type(a)", "id(z)",
    "LABELS(a)",
    # path length
    "length(p)", "length(p) AS l", "length(q)",
    # arithmetic / expr items
    "a.age + 1 AS x", "sum(a.age * 2) AS x", "avg(a.age / 2) AS x",
    "a.age * b.age AS x", "abs(a.age) AS x", "round(a.age) AS x",
    "sqrt(a.age) AS x", "a.age + 1",  # missing alias -> error
    "CASE WHEN a.age > 1 THEN 'x' ELSE 'y' END AS x",
    "e.weight + 1 AS x",  # edge leaf -> error
    "1 + 2 AS x",  # no property leaf -> error
    # junk
    "", "  ", "a.name.x", "foo(", "foo(a)", "a..name", "$p",
    "'lit'", "'lit' AS x", "3", "3 AS x", "a.name AS 'x'",
    "count(a.name, 1)", "a AS", "AS x",
]


def _render(g) -> str:
    return str([(it.alias, it.expr, it.agg, it.distinct, it.param) for it in g.items])


def main() -> None:
    for item in ITEMS:
        for frame in (FRAME, PATH_FRAME):
            tag = "P" if frame is PATH_FRAME else "N"
            q = frame.format(item=item)
            try:
                out = _render(parse(q))
            except CypherParseError as e:
                out = f"ERR {e}"
            print(f"{tag} {item!r:50s} :: {out}")


if __name__ == "__main__":
    main()
