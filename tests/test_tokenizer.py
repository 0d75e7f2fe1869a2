"""Statement-level tokenizer (round-14, VERDICT r12 #6): lexing and
clause-split behavior — pure Python, no Spark session."""

import pytest

import sys

sys.path.insert(0, "/root/repo")

from g4s_spark.cypher.parser import CypherParseError, ReturnItem, parse, split_with
from g4s_spark.cypher.tokenizer import (
    CypherLexError,
    scan_clauses,
    split_punct,
    tokenize,
)


def test_tokenize_kinds():
    toks = tokenize("MATCH (a:A)-[r:X*1..2]->(b) WHERE a.k >= 1.5 RETURN $p, 'x'")
    kinds = [(t.kind, t.text) for t in toks]
    assert ("word", "MATCH") in kinds
    assert ("punct", "..") in kinds  # .. lexes as one token, not two dots
    assert ("num", "1.5") in kinds
    assert ("param", "$p") in kinds
    assert ("str", "'x'") in kinds
    assert ("punct", "->") in kinds


def test_tokenize_rejects_unreadable():
    with pytest.raises(CypherLexError):
        tokenize("MATCH (a) RETURN a ~ b")  # bare ~ is not in the grammar
    # unterminated literal: the opening quote cannot lex
    with pytest.raises(CypherLexError):
        tokenize("MATCH (a) WHERE a.k = 'oops RETURN a")


def test_clause_keywords_in_strings_never_split():
    q = "MATCH (a:A) WHERE a.note = ' RETURN WITH UNION LIMIT 3 ' RETURN a"
    qg = parse(q)
    assert qg.limit is None
    assert split_with(q) is None


def test_identifier_positions_never_split():
    # property access / alias: skip+limit as identifiers stay in RETURN
    q = "MATCH (a:A) RETURN a.skip AS s1, a.x AS limit"
    hits = scan_clauses(
        tokenize(q),
        {"RETURN": ("RETURN",), "SKIP": ("SKIP",), "LIMIT": ("LIMIT",)},
    )
    assert [h[0] for h in hits] == ["RETURN"]


def test_depth_shields_subpatterns():
    toks = tokenize("MATCH (a) WHERE EXISTS((a)-[:X]->(b RETURN)) RETURN a")
    hits = scan_clauses(toks, {"RETURN": ("RETURN",)})
    # only the top-level RETURN is a clause; the parenthesized one is not
    assert len(hits) == 1


def test_multiword_clause_requires_full_sequence():
    toks = tokenize("MATCH (a) RETURN a, order_total ORDER BY a")
    hits = scan_clauses(toks, {"ORDER BY": ("ORDER", "BY")})
    assert len(hits) == 1  # the identifier order_total does not match


def test_split_top_level_bodies():
    q = "MATCH (a) WITH a MATCH (b) RETURN b"
    assert split_with(q) == ["MATCH (a)", "a MATCH (b) RETURN b"]


def test_parse_clause_order_enforced():
    with pytest.raises(CypherParseError):
        parse("MATCH (a) LIMIT 2 RETURN a")
    with pytest.raises(CypherParseError):
        parse("MATCH (a) RETURN a RETURN a")
    with pytest.raises(CypherParseError):
        parse("MATCH (a) RETURN a SKIP nope")


def test_starts_with_does_not_split_pipeline():
    assert split_with("MATCH (a) WHERE a.s STARTS WITH 'q' RETURN a") is None
    parts = split_with(
        "MATCH (a) WHERE a.s ENDS WITH 'q' WITH a MATCH (b) RETURN b"
    )
    assert parts is not None and len(parts) == 2


def test_optional_match_in_string_not_a_clause(spark):
    """End-to-end: a literal containing ' OPTIONAL MATCH ' used to split
    the raw text; on the token stream it is one string token."""
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.plans import run_cypher

    nodes = spark.createDataFrame(
        [(0, "A", {"s": " OPTIONAL MATCH (x) "}), (1, "B", {"s": "y"})],
        "id long, label string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(0, 1, "X")], "src long, dst long, type string"
    )
    g = PropertyGraph(nodes, edges)
    got = run_cypher(
        g, "MATCH (a:A) WHERE a.s = ' OPTIONAL MATCH (x) ' RETURN a"
    ).collect()
    assert [r.a for r in got] == [0]


def test_unbalanced_brackets_named_errors():
    """ADVICE r14: an unbalanced closer used to drive depth negative,
    silently shielding every later top-level keyword and surfacing as a
    misleading 'expected MATCH ... RETURN'. Both directions now raise a
    typed error naming the bracket and position, mapped to
    CypherParseError at every parse entry point."""
    with pytest.raises(CypherParseError, match="unbalanced '\\)' at position 9"):
        parse("MATCH (a)) RETURN a")
    with pytest.raises(CypherParseError, match="unclosed '\\(' opened at position 6"):
        parse("MATCH (a RETURN a")
    with pytest.raises(CypherParseError, match="unbalanced"):
        split_with("MATCH (a)] WITH a RETURN a")
    # a closer of another kind closes nothing, so no span a reader cuts
    # out of the statement can hold an unbalanced bracket
    with pytest.raises(CypherParseError, match="unbalanced '\\]' at position 20"):
        parse("MATCH (a) WHERE ( * ] (a) RETURN a")


def test_reserved_word_binding_error_is_self_explanatory():
    """ADVICE r14: 'RETURN skip' / 'RETURN limit' are rejected (tail
    keywords are reserved at top level) — the error must say so instead
    of the bare "expects a non-negative integer literal: ''"."""
    for q in ("MATCH (a) RETURN skip", "MATCH (a) RETURN limit"):
        with pytest.raises(CypherParseError, match="reserved words"):
            parse(q)


def test_where_split_on_token_stream():
    """Round-15: the clause-level WHERE boundary and AND/OR conjunct
    splitting run on the token stream — the keyword inside a string
    literal or bracket group never splits, and multiple WHERE in one
    clause is a named error (the old non-greedy regex split at the
    FIRST ' WHERE ', breaking literals containing it)."""
    qg = parse("MATCH (c:Customer) WHERE c.name = ' WHERE x ' RETURN c")
    assert qg.filters and qg.filters[0].value == " WHERE x "
    qg = parse("MATCH (c:Customer) WHERE c.name = ' AND ' RETURN c")
    assert qg.filters and qg.filters[0].value == " AND "
    # IN-list brackets shield the AND; the real AND after ']' splits
    qg = parse(
        "MATCH (c:Customer) WHERE c.mkt IN ['a AND b'] AND c.name = 'z' RETURN c"
    )
    assert [(f.prop, f.value) for f in qg.filters] == [
        ("mkt", "a AND b"), ("name", "z"),
    ]
    with pytest.raises(CypherParseError, match="multiple WHERE"):
        parse("MATCH (c:Customer) WHERE c.a = 1 WHERE c.b = 2 RETURN c")
    with pytest.raises(CypherParseError, match="empty WHERE"):
        parse("MATCH (c:Customer) WHERE RETURN c")


def test_split_punct_commas_and_plus():
    """Round-15: item-level comma and concat '+' splitting run on the
    SAME token stream as clause splitting — one lexer, not three. A
    delimiter inside a string literal or any bracket group ((), [],
    {}) never splits; parts come back raw (empties kept) so callers
    keep their own acceptance rules."""
    s = "(a)-[:T]->(b), (c {k: 1, j: 2}), 'x, y'"
    parts = split_punct(s, tokenize(s), ",")
    assert [p.strip() for p in parts] == [
        "(a)-[:T]->(b)", "(c {k: 1, j: 2})", "'x, y'"
    ]
    s = "a.x + '-+-' + coalesce(b.y + 1, 0)"
    parts = split_punct(s, tokenize(s), "+")
    assert [p.strip() for p in parts] == [
        "a.x", "'-+-'", "coalesce(b.y + 1, 0)"
    ]
    # empties are the caller's problem, not silently dropped here
    s = "a,,b,"
    assert split_punct(s, tokenize(s), ",") == ["a", "", "b", ""]


def test_split_punct_unbalanced_brackets_raise():
    with pytest.raises(CypherLexError, match="unbalanced '\\)'"):
        split_punct("a), b", tokenize("a), b"), ",")
    with pytest.raises(CypherLexError, match="unclosed '\\['"):
        split_punct("a, [b", tokenize("a, [b"), ",")


def test_item_splitters_use_token_stream_end_to_end():
    """The migrated parser paths: RETURN-item commas inside function
    parens and string literals, ORDER BY item commas, IN-list commas,
    and concat '+' inside literals — all through parse()."""
    qg = parse(
        "MATCH (c:Customer) RETURN coalesce(c.nick, 'a, b') AS nick, c"
    )
    assert ReturnItem("c", ("var", "c")) in qg.items
    qg = parse("MATCH (c:Customer) RETURN c.name + ' + ' + c.mkt AS t")
    assert qg.items[0].expr[0] == "concat"
    with pytest.raises(CypherParseError, match="unsupported ORDER BY item"):
        parse("MATCH (c:Customer) RETURN c ORDER BY c,,c LIMIT 1")


def test_cmp_scan_on_token_stream():
    """The WHERE reader runs on the token stream: comparison and
    arithmetic characters inside string literals never engage the
    expression path — `c.name = 'a-b'` stays a plain pushdown filter —
    a leading sign is unary, an operator between operands is
    arithmetic, `=~` is one token, never yielding its '=' to the
    splitter, and a comparator inside CASE...END never splits."""
    qg = parse("MATCH (c:Customer) WHERE c.name = 'a-b' RETURN c")
    assert [(f.op, f.value) for f in qg.filters] == [("=", "a-b")] and not qg.expr_filters
    qg = parse("MATCH (c:Customer) WHERE c.x > -5 RETURN c")
    assert [(f.op, f.value) for f in qg.filters] == [(">", -5.0)] and not qg.expr_filters
    qg = parse("MATCH (c:Customer) WHERE c.x - 5 > 0 RETURN c")
    assert qg.expr_filters == [
        (("op", "-", ("prop", "c", "x"), ("num", 5.0)), ">", ("num", 0.0))
    ] and not qg.filters
    qg = parse("MATCH (c:Customer) WHERE c.name = 'a>b' RETURN c")
    assert [(f.op, f.value) for f in qg.filters] == [("=", "a>b")]
    qg = parse("MATCH (c:Customer) WHERE c.name =~ 'p.*' RETURN c")
    assert [f.op for f in qg.filters] == ["regex"] and not qg.expr_filters
    qg = parse(
        "MATCH (a)-[:T]->(b) WHERE a.x > CASE WHEN b.y = 1 THEN 2 ELSE 3 END RETURN a"
    )
    assert qg.expr_filters == [(
        ("prop", "a", "x"), ">",
        ("case", ((("prop", "b", "y"), "=", ("num", 1.0), ("num", 2.0)),), ("num", 3.0)),
    )]

    qg = parse("MATCH (c:Customer) WHERE c.acctbal + 1 > 2 RETURN c")
    assert qg.expr_filters


def test_strip_outer_parens_literal_safe():
    """Outer-paren stripping counts paren TOKENS — a paren inside a
    string literal never miscounts the depth — and strips only a pair
    that wraps the whole conjunct: `(a) OR (b)` is an unwrapped OR
    group, which must be parenthesized next to an AND."""
    qg = parse("MATCH (c:Customer) WHERE (c.x = 1) OR (c.y = 2) RETURN c")
    assert [[(f.prop, f.value) for f in g] for g in qg.or_filters] == [
        [("x", 1.0), ("y", 2.0)]
    ]
    with pytest.raises(CypherParseError, match="parenthesize"):
        parse("MATCH (c:Customer) WHERE (c.x = 1) OR (c.y = 2) AND c.z = 3 RETURN c")
    qg = parse("MATCH (c:Customer) WHERE (c.name = ')') RETURN c")
    assert [(f.op, f.value) for f in qg.filters] == [("=", ")")]
    qg = parse("MATCH (c:Customer) WHERE (c.name = ')x(') RETURN c")
    assert qg.filters and qg.filters[0].value == ")x("
