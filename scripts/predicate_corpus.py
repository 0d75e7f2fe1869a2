"""Characterization corpus for the WHERE grammar.

Prints, for every WHERE body in PREDICATES (planted in one MATCH frame),
the parsed QueryGraph's filter lists — every expression-filter tree in
full — or the parse error. Run it before and after a change to the
WHERE reader and diff the two outputs. Runs driver-only (no
SparkSession).

Usage:
    python scripts/predicate_corpus.py > /tmp/pred_before.txt
    # ... refactor ...
    python scripts/predicate_corpus.py > /tmp/pred_after.txt
    diff /tmp/pred_before.txt /tmp/pred_after.txt
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from g4s_spark.cypher.parser import CypherParseError, parse

# every WHERE body is planted in the same MATCH frame so binding checks
# resolve identically; edge-binding cases use the e frame
NODE_FRAME = "MATCH (a:Person)-[e:KNOWS]->(b:Person) WHERE {w} RETURN a"

PREDICATES = [
    # plain property comparisons: every operator, both literal kinds
    "a.age = 30", "a.age <> 30", "a.age != 30", "a.age < 30",
    "a.age <= 30", "a.age > 30", "a.age >= 30",
    "a.name = 'bob'", 'a.name = "bob"', "a.name <> 'bob'",
    "a.age = 30.5", "a.age = -5", "a.age > -5", "a.age >-5",
    "a.age <-5", "a.age < -5",  # lexer-greedy arrow case (ADVICE r15)
    "a.age = - 5",  # space between sign and digits
    "e.weight > 2",  # edge-binding property
    # whitespace variants
    "  a.age   =    30  ", "a.age=30", "a.name='x y'",
    # string literal interiors that look like grammar
    "a.name = 'a>b'", "a.name = 'a AND b'", "a.name = ' IS NULL '",
    "a.name = 'x-y'", "a.name = '=~'", "a.name = '[1,2]'",
    # IS NULL family
    "a.age IS NULL", "a.age IS NOT NULL", "a.age is null",
    "a.age Is NoT nUlL", "a.age IS  NOT  NULL",
    "e.weight IS NULL",
    # exists
    "exists(a.age)", "EXISTS(a.age)", "exists ( a.age )",
    "NOT exists(a.age)",  # round-16: folds into is_null
    # scalar-function predicates
    "toLower(a.name) = 'bob'", "toUpper(a.name) <> 'BOB'",
    "trim(a.name) = 'b'", "size(a.name) > 3", "reverse(a.name) = 'bob'",
    "substring(a.name, 1) = 'ob'", "substring(a.name, 1, 2) = 'ob'",
    "left(a.name, 2) = 'bo'", "right(a.name, 2) = 'ob'",
    "toFloat(a.age) > 1.5", "toInteger(a.age) = 3",
    "toString(a.age) = '3'",
    "TOLOWER(a.name) = 'bob'", "tolower(a.name) = 'bob'",
    "size(a.name) > 'x'",  # numeric fn vs string literal -> error
    "toLower(a.name) = 3",  # string fn vs number -> error
    "substring(a.name) = 'x'",  # missing start -> error
    "left(a.name) = 'x'", "left(a.name, 1, 2) = 'x'",  # arity errors
    "size(a.name, 1) > 3",  # extra arg on single-prop fn -> error
    # regex
    "a.name =~ 'b.*'", "a.name =~ \"b.*\"", "a.name =~ 'a[>]b'",
    # string predicates
    "a.name STARTS WITH 'b'", "a.name ENDS WITH 'b'",
    "a.name CONTAINS 'o'", "a.name starts with 'b'",
    "a.name Starts  With 'b'",
    # IN lists
    "a.name IN ['a', 'b']", "a.age IN [1, 2, 3]",
    "a.age IN [1.5, -2]", "a.name IN ['a']", "a.age IN []",
    "a.name IN ['a,b', 'c']", "a.name in ['a']",
    "a.age IN [1, 'x']",  # mixed types (allowed per-item)
    "a.age IN [foo]",  # unsupported item -> error
    "a.age IN [2,]",  # trailing comma tolerated (split drops empties)
    "a.name IN [ 'a' , 'b' ]",
    # id()
    "id(a) = 5", "id(a) > 5", "id(a) <> 5", "id(a) = -5",
    "id( a ) <= 10", "ID(a) = 5", "id(a) = 5.5",  # float id -> error?
    "id(e) = 5",  # edge binding -> error (node variable required)
    "size(a.name) <-5", "id(a) <-5",  # greedy-arrow in fn/id position
    "a.age <- 5",  # spaced arrow
    # boolean structure
    "a.age > 1 AND a.age < 9", "a.age = 1 OR a.age = 2",
    "(a.age = 1 OR a.age = 2) AND a.name = 'b'",
    "a.age = 1 OR b.age = 2",  # cross-binding OR
    "a.age = 1 AND a.name = 'x' AND b.age = 2",
    "NOT a.age = 1",  # round-16: folds into <>
    # unbound / malformed -> errors
    "z.age = 1", "a.age == 1", "a.age =", "= 3", "a. = 3",
    "a.age 30", "a.age = 'unterminated", "foo", "a.age ~ 3",
    "a.name = bob",  # bare word RHS -> error
    "a.age = $p",  # raw param (params are substituted earlier)
    # arithmetic / expression path (should stay on expr path, not atoms)
    "a.age + 1 > 30", "a.age * 2 = b.age", "a.age + 1 <-5",
    "abs(a.age) > 2",
    "a.age > CASE WHEN b.age = 1 THEN 2 ELSE 3 END",
    # parenthesized disjuncts, one holding an edge bracket in a literal
    "(a.age = 1) OR (a.name = '-[')", "(a.age = 1) OR (a.name = 'x')",
    # a double-quoted literal inside CASE reads like a single-quoted one
    "CASE WHEN a.name = 'bob' THEN 1 ELSE 0 END = 1",
    'CASE WHEN a.name = "bob" THEN 1 ELSE 0 END = 1',
    # a spaced property reads like an unspaced one
    "a.age * 2 > 3", "a . age * 2 > 3",
    # arrow tokens next to numbers in expressions
    "a.x--5", "a.x*2<-5", "a.x->5",
]


def main() -> None:
    for w in PREDICATES:
        q = NODE_FRAME.format(w=w)
        try:
            g = parse(q)
            out = (
                f"filters={sorted(map(str, g.filters))} "
                f"edge={sorted(map(str, g.edge_filters))} "
                f"or={sorted(map(str, g.or_filters))} "
                f"cross={sorted(map(str, g.cross_filters))} "
                f"expr={list(map(str, g.expr_filters))} pat={len(g.pattern_filters)}"
            )
        except CypherParseError as e:
            out = f"ERR {e}"
        print(f"{w!r:60s} :: {out}")


if __name__ == "__main__":
    main()
