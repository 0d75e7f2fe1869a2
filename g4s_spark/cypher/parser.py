"""Cypher-subset parser: ``MATCH <pattern>(, <pattern>)* RETURN <vars>``.

Reference front-end: the openCypher parser feeding QueryGraph.fromAST
(g4s-optimizer/.../optim/QueryGraph.scala:26-99). The supported surface is
exactly the reference's (SURVEY §2.7): pattern chains with single optional
label per node, optional edge variable, one-or-more edge types
(``:X|Y``), directed (OUT `->` / IN `<-`) and undirected (`-[]-`,
the reference's declared-but-unwired Direction.Both, Direction.scala:6)
edges, multiple comma-separated paths, multi-binding RETURN. Anything
else raises, like the reference's MatchError.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace as dc_replace
from typing import ClassVar

from .tokenizer import (
    CypherLexError,
    Token,
    scan_clauses,
    split_punct,
    tokenize,
)


@dataclass(frozen=True)
class PatternEdge:
    src: str          # binding name of the edge's source (graph direction)
    dst: str
    types: tuple[str, ...]  # empty = any type
    # variable-length path bounds (extension): -[:X*1..3]-> gives (1, 3);
    # plain edges are (1, 1); -[:X*2]-> gives (2, 2); unbounded forms
    # (*, *n.., *..m with open lower end) use max_hops=None = closure
    # to fixpoint
    min_hops: int = 1
    max_hops: int | None = 1
    # edge variable (extension): -[e:X]-> binds e for WHERE predicates on
    # edge properties and RETURN e.prop (the reference parser accepts the
    # variable, QueryGraph.scala:76-83, but has no predicate surface)
    name: str | None = None
    # undirected -[]- (the reference's Direction.Both, Direction.scala:6 —
    # declared there but never produced by its front-end): matches the
    # edge in either orientation; the planner scans the symmetrized set
    undirected: bool = False


@dataclass(frozen=True)
class PropFilter:
    """WHERE predicate `binding.prop <op> literal` — an extension beyond
    the reference surface (which has no WHERE at all, SURVEY §2.7).
    ``clause`` records which MATCH clause owns the predicate (0 = the
    required MATCH, i ≥ 1 = the i-th OPTIONAL MATCH): openCypher scopes a
    WHERE to its clause, so an optional clause's predicate must only
    restrict that optional group, never the required matches.
    ``value``'s Python type says how the property compares (store.lit_cmp):
    a float by its numeric reading, an int (id()) against the long id
    column, a string as text; ``is_num`` is derived from it."""

    binding: str
    prop: str
    op: str  # = <> != < <= > >=
    value: str | float | int | None
    clause: int = 0
    # scalar function wrapping the property (extension):
    # tolower | toupper | trim (string compare) | size (numeric length).
    # Still scan-pushed — the function applies inside the node-set
    # filter; selectivity is unestimated (planner keeps its upper bound).
    fn: str | None = None

    @property
    def is_num(self) -> bool:
        return isinstance(self.value, (int, float))


@dataclass(frozen=True)
class ReturnItem:
    """One RETURN / WITH item: the output column ``alias`` and the value
    tree ``expr``, optionally aggregated (``agg``; ``expr`` None is
    ``count(*)``).

    ``expr`` nodes are the parse_expr nodes — ("num", float) |
    ("prop", binding, prop) | ("op", "+-*/", left, right) |
    ("neg", operand) | ("strlen", binding, prop) | ("fn1", name,
    operand) | ("case", whens, else), where a WITH stage's carried
    column is a ("prop", None, column) leaf — plus the item-only nodes:
    ("var", binding) a node binding's id column; ("eprop", edge, prop)
    an edge variable's typed column (``type(e)`` reads ``type``);
    ("id"|"labels"|"keys"|"properties", binding); ("length", path);
    ("sfn", spec, prop node) a scalar string function
    (store.apply_scalar_fn's spec); ("coalesce", prop node, default);
    ("concat", parts) with ("prop", ...) and ("str", text) parts."""

    alias: str
    expr: tuple | None
    # count | sum | avg | min | max | collect | stdev | stdevp |
    # percentilecont | percentiledisc
    agg: str | None = None
    # DISTINCT aggregates over the VALUES (openCypher): sum/avg/count
    # switch to the distinct form; min/max/collect treat it as a no-op
    distinct: bool = False
    # percentileCont/Disc's quantile argument
    param: float | None = None


def expr_walk(expr: tuple):
    """Every node of an expression or ReturnItem tree, pre-order,
    children left to right (a CASE yields each WHEN's condition then
    its THEN, then the ELSE)."""
    yield expr
    kind = expr[0]
    if kind in ("neg", "fn1", "sfn"):
        yield from expr_walk(expr[-1])
    elif kind == "coalesce":
        yield from expr_walk(expr[1])
    elif kind == "concat":
        for part in expr[1]:
            yield from expr_walk(part)
    elif kind == "case":
        for cond_l, _op, _lit, then_e in expr[1]:
            yield from expr_walk(cond_l)
            yield from expr_walk(then_e)
        if expr[2] is not None:
            yield from expr_walk(expr[2])
    elif kind == "op":
        yield from expr_walk(expr[2])
        yield from expr_walk(expr[3])


def expr_prop_leaves(expr: tuple) -> list[tuple[str, str]]:
    """All (binding, prop) leaves of an expression tree, in order."""
    return [(n[1], n[2]) for n in expr_walk(expr) if n[0] in ("prop", "strlen")]


@dataclass
class QueryGraph:
    """Bindings + directed typed edges + RETURN items
    (QueryGraph.scala:15-22, whose return set is one ``Set[Binding]``),
    plus extensions beyond the reference surface: WHERE filters, value
    and aggregate RETURN items in one ordered list, ORDER BY, SKIP,
    LIMIT."""

    labels: dict[str, str | None] = field(default_factory=dict)  # binding -> label
    # multi-label nodes (extension): ``(n:A:B)`` binds the FIRST label in
    # ``labels`` (drives cardinality estimates) and the rest here; the
    # planner intersects the label sets (a node with several labels is
    # several (id, label) rows in the store)
    extra_labels: dict[str, tuple[str, ...]] = field(default_factory=dict)
    edges: list[PatternEdge] = field(default_factory=list)
    # OPTIONAL MATCH groups (extension): each group is left-joined to the
    # required match on its shared bindings; unmatched rows keep NULLs
    optionals: list[list[PatternEdge]] = field(default_factory=list)
    # bindings introduced by the required MATCH clause (empty = all labels,
    # for QueryGraphs built by hand in tests)
    match_bindings: set[str] = field(default_factory=set)
    # OPTIONAL-stage demotion (WITH ... OPTIONAL MATCH ...): the carried
    # rows ARE the required match set — the planner must not scan any
    # binding standalone, and every pattern group left-joins onto carry
    carry_required: bool = False
    # RETURN / WITH items in item order, one ReturnItem per item; the
    # planner emits one column per item, in this order
    items: list[ReturnItem] = field(default_factory=list)
    filters: list[PropFilter] = field(default_factory=list)
    # WHERE predicates on edge variables — pushed into the edge scan
    edge_filters: list[PropFilter] = field(default_factory=list)
    # WHERE disjunctions (extension): CNF conjuncts with >1 atom.
    # or_filters: every atom on the SAME node binding — pushed into that
    # binding's scan as one OR-combined predicate. cross_filters: atoms
    # span bindings — applied after the join that binds them all
    # (required MATCH only).
    or_filters: list[tuple[PropFilter, ...]] = field(default_factory=list)
    cross_filters: list[tuple[PropFilter, ...]] = field(default_factory=list)
    # pattern predicates (extension): WHERE [NOT] (a)-[:T]->(b) chains —
    # existence as a semi-join, negation as an anti-join of the probe
    # pattern projected to its bindings shared with the MATCH. The
    # pattern's own (possibly anonymous, possibly labeled) bindings live
    # in ``labels`` but never in ``match_bindings``, so the planner
    # neither returns nor scans them standalone.
    pattern_filters: list[tuple[tuple[PatternEdge, ...], bool]] = field(
        default_factory=list
    )
    # path bindings (extension): ``p = (a)-[:T*]->(b)`` names the pattern;
    # value = indices into ``edges``. Only ``length(p)`` is consumable:
    # per distinct endpoint match it is the MINIMUM total hop count
    # (fixed edges contribute their hop count, var-length edges the
    # shortest walk) — the deterministic reading consistent with
    # ANY_PAIR existence semantics (openCypher's per-path multiplicity
    # contradicts the engine's distinct-match model).
    paths: dict[str, tuple[int, ...]] = field(default_factory=dict)
    # path bindings inside OPTIONAL MATCH clauses (round-7): name ->
    # (optional-group index, edge indices within that group); length(p)
    # is NULL for unmatched rows
    opt_paths: dict[str, tuple[int, tuple[int, ...]]] = field(default_factory=dict)
    # arithmetic WHERE predicates (extension): (lhs_expr, op, rhs_expr)
    # applied after the required chain binds every referenced binding
    # (the cross_filters slot; they cannot push to any single scan).
    # A literal comparison stores its RHS as a ("num", v) node.
    expr_filters: list[tuple[tuple, str, tuple]] = field(default_factory=list)
    # ORDER BY (extension): (key, desc) per item; the key is an output
    # column, an expression over the output columns (its text), or a
    # (binding, prop) pair for a property sorted without being returned
    order_by: list[tuple[str | tuple[str, str], bool]] = field(default_factory=list)
    skip: int | None = None  # SKIP n (extension): row offset after ORDER BY
    limit: int | None = None
    # RETURN DISTINCT: dedupe the projected rows (a match set projected
    # to property values may repeat a value; bindings and groups never do)
    distinct: bool = False


# inline property maps (round-16, openCypher MapExpression): `{k: lit,
# ...}` on a pattern node or single-hop edge desugars to equality
# PropFilters. `[^{}]*` is the no-nesting/no-quoted-brace map contract,
# which CREATE/MERGE patterns share (they are read by _parse_pattern).
_NODE = re.compile(
    r"\(\s*(?P<name>[A-Za-z_][A-Za-z0-9_]*)?\s*"
    r"(?P<labels>(?::\s*[A-Za-z_][A-Za-z0-9_]*)*)\s*"
    r"(?:\{(?P<props>[^{}]*)\}\s*)?\)"
)
_EDGE = re.compile(
    r"(?P<left><)?-\s*\[\s*(?P<name>[A-Za-z_][A-Za-z0-9_]*)?\s*"
    r"(?::\s*(?P<types>[A-Za-z_][A-Za-z0-9_]*(?:\s*\|\s*[A-Za-z_][A-Za-z0-9_]*)*))?\s*"
    r"(?:\*\s*(?P<lo>\d+)?\s*(?P<range>\.\.)?\s*(?P<hi>\d+)?\s*)?"
    r"(?:\{(?P<props>[^{}]*)\}\s*)?\]\s*-(?P<right>>)?"
)


class CypherParseError(ValueError):
    """The ONLY exception the query front-end may raise (the fuzz suites
    assert no foreign exceptions escape — the reference throws a typed
    MatchError the same way)."""


def lex(text: str) -> list[Token]:
    """``text``'s tokens; text that does not lex raises CypherParseError."""
    try:
        return tokenize(text)
    except CypherLexError as e:
        raise CypherParseError(str(e)) from None


ID_PROP = "\x1did"

# ---------------------------------------------------------------------------
# Per-predicate grammar on token spans (round-16, VERDICT r15 "what's
# missing #3" — retiring the _COND* regex family that round 7-13 grew).
# Every WHERE atom — b.p <cmp> literal, IS [NOT] NULL, exists(), scalar
# fn, =~, STARTS/ENDS WITH, CONTAINS, IN [...], id() — is now shape-
# matched on the token list, so a comparator or keyword INSIDE a string
# literal can never split or match, whitespace never matters, and the
# lexer-greedy arrows ('c.x <-5' meaning '< -5', ADVICE r15) are split
# once (_split_arrows) for every shape. One reader, read_conjunct, sorts
# each WHERE conjunct into a pattern predicate, a numeric comparison or
# an OR group of atoms. The reference gets this from its openCypher
# front-end (reference build.sbt:117).
# Deliberate liberalizations vs the regexes (documented in the round-16
# corpus diff, scripts/predicate_corpus.py): a unary minus may be
# separated from its digits ('= - 5'), and a bracketed IN item yields
# "unsupported IN list item" instead of "unsupported WHERE condition".
# ---------------------------------------------------------------------------

# scalar functions admitted in fn(b.p[, i[, j]]) <cmp> literal position
_FN_WORDS = {
    "tolower", "toupper", "trim", "size", "reverse", "substring",
    "left", "right", "tofloat", "tointeger", "tostring",
}


def _split_arrows(toks: list[Token]) -> list[Token]:
    """Re-emit each '<-', '--' and '->' token as its two one-character
    tokens. The lexer reads them greedily as relationship arrows; in an
    expression or a predicate none can be one ('a.x <-5' is '< -5',
    'a.x--5' is '- -5', ADVICE r15), so every reader of those sees plain
    comparators and signs."""
    out: list[Token] = []
    for t in toks:
        if t.kind == "punct" and t.text in ("<-", "--", "->"):
            out.append(Token("punct", t.text[0], t.pos, t.pos + 1))
            out.append(Token("punct", t.text[1], t.pos + 1, t.end))
        else:
            out.append(t)
    return out


def _prop_at(toks: list[Token], i: int) -> tuple[str, str, int] | None:
    """``b.p`` at toks[i:]: (binding, prop, next_index) or None."""
    if (
        i + 2 < len(toks)
        and toks[i].kind == "word"
        and toks[i + 1].kind == "punct"
        and toks[i + 1].text == "."
        and toks[i + 2].kind == "word"
    ):
        return toks[i].text, toks[i + 2].text, i + 3
    return None


def _lit_at(toks: list[Token], i: int) -> tuple[str, str, int] | None:
    """A scalar literal at toks[i:]: ('str'|'num', text, next_index) or
    None. String text is unquoted; a unary minus fuses with a following
    number token."""
    if i >= len(toks):
        return None
    t = toks[i]
    if t.kind == "str":
        return "str", t.text[1:-1], i + 1
    if t.kind == "num":
        return "num", t.text, i + 1
    if (
        t.kind == "punct"
        and t.text == "-"
        and i + 1 < len(toks)
        and toks[i + 1].kind == "num"
    ):
        return "num", "-" + toks[i + 1].text, i + 2
    return None


def _in_items(toks: list[Token], j: int, cond: str) -> list[tuple[str, str]] | None:
    """The (kind, text) literals of the ``IN [...]`` whose IN token is
    ``toks[j]`` and whose ``]`` ends the atom, or None for another
    shape. Comma-split the bracket interior; empty segments are dropped
    (trailing/duplicate commas), matching the retired _split_patterns
    behavior."""
    n = len(toks)
    if not (
        j + 1 < n
        and toks[j + 1].kind == "punct"
        and toks[j + 1].text == "["
        and toks[n - 1].kind == "punct"
        and toks[n - 1].text == "]"
    ):
        return None
    segs: list[list[Token]] = [[]]
    for t2 in toks[j + 2 : n - 1]:
        if t2.kind == "punct" and t2.text == ",":
            segs.append([])
        else:
            segs[-1].append(t2)
    items: list[tuple[str, str]] = []
    for seg in segs:
        if not seg:
            continue
        lit = _lit_at(seg, 0)
        if lit is None or lit[2] != len(seg):
            item = cond[seg[0].pos : seg[-1].end]
            raise CypherParseError(f"unsupported IN list item: {item!r}")
        items.append((lit[0], lit[1]))
    return items


def _match_atom(toks: list[Token], cond: str):
    """Shape-match ONE predicate atom over its full token list; returns
    a tagged spec tuple, or None when no shape consumes every token
    (the caller raises the canonical "unsupported WHERE condition").
    Spec tags: plain / null / exists / fn / id / id_in / regex / strpred
    / in. ``toks`` arrive through _split_arrows."""
    n = len(toks)
    prop = _prop_at(toks, 0)
    if prop:
        b, p, j = prop
        if j >= n:
            return None
        t = toks[j]
        if t.kind == "punct" and t.text in _CMP_TOKENS:
            lit = _lit_at(toks, j + 1)
            if lit and lit[2] == n:
                return ("plain", b, p, t.text, lit[0], lit[1])
            return None
        if t.kind == "punct" and t.text == "=~":
            # openCypher =~ is a FULL-string match: the planner anchors
            # the pattern (^(?:pat)$) before Spark's partial rlike;
            # oracles use regexp_full_match. Patterns must stay in the
            # Java∩RE2-portable subset (no lookaround) for oracle parity.
            if j + 2 == n and toks[j + 1].kind == "str":
                return ("regex", b, p, toks[j + 1].text[1:-1])
            return None
        if t.is_word("IS"):
            # IS [NOT] NULL (round-7): a property absent from the props
            # map is NULL
            k = j + 1
            neg = k < n and toks[k].is_word("NOT")
            if neg:
                k += 1
            if k + 1 == n and toks[k].is_word("NULL"):
                return ("null", b, p, neg)
            return None
        if t.is_word("STARTS", "ENDS"):
            if (
                j + 3 == n
                and toks[j + 1].is_word("WITH")
                and toks[j + 2].kind == "str"
            ):
                op = "starts_with" if t.text.upper() == "STARTS" else "ends_with"
                return ("strpred", b, p, op, toks[j + 2].text[1:-1])
            return None
        if t.is_word("CONTAINS"):
            if j + 2 == n and toks[j + 1].kind == "str":
                return ("strpred", b, p, "contains", toks[j + 1].text[1:-1])
            return None
        if t.is_word("IN"):
            items = _in_items(toks, j, cond)
            return None if items is None else ("in", b, p, items)
        return None
    if toks and toks[0].kind == "word":
        head = toks[0].text
        u = head.lower()
        if u == "exists":
            # exists(b.prop) (openCypher 9) == b.prop IS NOT NULL
            if (
                n >= 3
                and toks[1].kind == "punct"
                and toks[1].text == "("
            ):
                inner = _prop_at(toks, 2)
                if (
                    inner
                    and inner[2] + 1 == n
                    and toks[inner[2]].kind == "punct"
                    and toks[inner[2]].text == ")"
                ):
                    return ("exists", inner[0], inner[1])
            return None
        if u == "id":
            # id(b) <op> integer (round-8): point/range lookups on the
            # node id — still a scan-pushed PropFilter; the store maps
            # the \x1did sentinel to the physical id column (no props)
            if (
                n >= 6
                and toks[1].kind == "punct"
                and toks[1].text == "("
                and toks[2].kind == "word"
                and toks[3].kind == "punct"
                and toks[3].text == ")"
                and toks[4].kind == "punct"
                and toks[4].text in _CMP_TOKENS
            ):
                lit = _lit_at(toks, 5)
                if (
                    lit
                    and lit[2] == n
                    and lit[0] == "num"
                    and "." not in lit[1]
                ):
                    return ("id", toks[2].text, toks[4].text, lit[1])
            if (
                n >= 6
                and toks[1].kind == "punct"
                and toks[1].text == "("
                and toks[2].kind == "word"
                and toks[3].kind == "punct"
                and toks[3].text == ")"
                and toks[4].is_word("IN")
            ):
                # id(b) IN [integers]: an OR-group of id equalities,
                # like a property IN list
                items = _in_items(toks, 4, cond)
                if items is not None and all(
                    k == "num" and "." not in v for k, v in items
                ):
                    return ("id_in", toks[2].text, [v for _, v in items])
            return None
        if u in _FN_WORDS:
            # scalar function over a property (extension):
            # toLower/toUpper/trim(b.p) <op> 'str' | size(b.p) <op> num
            if not (n >= 2 and toks[1].kind == "punct" and toks[1].text == "("):
                return None
            inner = _prop_at(toks, 2)
            if not inner:
                return None
            b, p, k = inner
            args: list[str] = []
            while (
                len(args) < 2
                and k + 1 < n
                and toks[k].kind == "punct"
                and toks[k].text == ","
                and toks[k + 1].kind == "num"
                and "." not in toks[k + 1].text
            ):
                args.append(toks[k + 1].text)
                k += 2
            if not (k < n and toks[k].kind == "punct" and toks[k].text == ")"):
                return None
            k += 1
            if not (k < n and toks[k].kind == "punct" and toks[k].text in _CMP_TOKENS):
                return None
            op = toks[k].text
            lit = _lit_at(toks, k + 1)
            if lit and lit[2] == n:
                a1 = args[0] if args else None
                a2 = args[1] if len(args) > 1 else None
                return ("fn", head, b, p, a1, a2, op, lit[0], lit[1])
            return None
    return None


def _encode_scalar_fn(fn: str, a1: str | None, a2: str | None, ctx: str) -> str:
    """Validate arity and encode a scalar function + integer args as the
    US-separated spec store.apply_scalar_fn evaluates. substring takes
    (start[, length]) 0-based per openCypher; left/right take (n)."""
    if fn == "substring":
        if a1 is None:
            raise CypherParseError(f"substring() needs a start index: {ctx!r}")
        return f"substring\x1f{a1}\x1f{a2 or ''}"
    if fn in ("left", "right"):
        if a1 is None or a2 is not None:
            raise CypherParseError(f"{fn}() takes exactly (b.prop, n): {ctx!r}")
        return f"{fn}\x1f{a1}"
    if a1 is not None or a2 is not None:
        raise CypherParseError(f"{fn}() takes a single property: {ctx!r}")
    return fn


_CMP_TOKENS = {"<=", ">=", "<>", "!=", "=", "<", ">"}


def _scan_cmp(toks: list[Token]) -> tuple[int | None, bool]:
    """The first comparator outside every bracket group and CASE...END
    span (its index, else None), and whether ``toks`` read as a numeric
    expression: a CASE, an arithmetic operator between two operands (a
    sign that opens an operand is unary), or a leading abs / round /
    ceil / floor / sqrt call. A word after ``.`` is a property name,
    never a keyword."""
    at, depth = None, 0
    numeric = (
        len(toks) > 1 and toks[0].kind == "word"
        and toks[0].text.lower() in _EXPR_FN1_WORDS and toks[1].text == "("
    )
    for i, t in enumerate(toks):
        if i and toks[i - 1].text == ".":
            continue
        case = t.is_word("CASE")
        numeric = numeric or case or (
            0 < i < len(toks) - 1
            and t.kind == "punct" and t.text in ("+", "-", "*", "/")
            and (toks[i - 1].kind != "punct" or toks[i - 1].text == ")")
            and (toks[i + 1].kind != "punct" or toks[i + 1].text in ("(", "-"))
        )
        if t.text in ("(", "[", "{") or case:
            depth += 1
        elif t.text in (")", "]", "}") or (t.is_word("END") and depth):
            depth -= 1
        elif at is None and depth == 0 and t.kind == "punct" and t.text in _CMP_TOKENS:
            at = i
    return at, numeric


def _cmp_side(text: str, toks: list[Token], cols) -> tuple:
    """One side of a WHERE comparison: a lone (signed) literal as
    ("num", v) or ("str", s), else its parse_expr tree."""
    lit = _lit_at(toks, 0)
    if lit and lit[2] == len(toks):
        return ("num", float(lit[1])) if lit[0] == "num" else ("str", lit[1])
    return _expr(text, toks, cols)


def read_conjunct(text: str, cols=None) -> tuple:
    """The one WHERE conjunct reader: a top-level AND conjunct (a span of
    Match.where or Projection.where) read on its tokens, without one
    pair of parens that wraps it all, into one of three shapes:

    - ("pattern", negated, text): a ``[NOT] (a)-[:T]->(b)`` predicate;
    - ("cmp", lhs, op, rhs): an expression comparison, each side a
      parse_expr tree or a lone literal ("num", v) / ("str", s) (a
      string only right of a property);
    - ("atoms", wrapped, ((negated, spec, text), ...)): an OR group of
      _match_atom specs, one per disjunct (its text as written) read
      without one wrapping pair of parens and a leading NOT; ``wrapped``
      says parens wrapped the conjunct.

    In MATCH WHERE (``cols`` None) a comparison is an expression only
    when it is numeric (_scan_cmp); every other conjunct is an atom
    group, so ``a.x = 1`` stays a pushed-down filter. A WITH WHERE names its carried ``cols`` bare and
    reads comparisons only."""
    toks, wrapped = _strip_outer_parens(_split_arrows(lex(text)))
    neg = len(toks) > 1 and toks[0].is_word("NOT")
    body = toks[1:] if neg else toks
    if cols is None and body and body[0].text == "(" and any(
        a.text == "-" and b.text == "[" for a, b in zip(body, body[1:])
    ):
        return ("pattern", neg, text[body[0].pos : body[-1].end])
    ors = _split_bool(text, toks, "OR")
    at, numeric = _scan_cmp(toks)
    if cols is not None:
        if neg or len(ors) > 1:
            raise CypherParseError(f"WITH WHERE supports neither OR nor NOT: {text!r}")
        if at is None:
            raise CypherParseError(f"unsupported WITH WHERE condition: {text!r}")
    elif len(ors) > 1 or at is None or not numeric:
        atoms = []
        for d in ors:
            cond = text[d[0].pos : d[-1].end]
            d = _strip_outer_parens(d)[0]
            dneg = len(d) > 1 and d[0].is_word("NOT")
            spec = _match_atom(d[1:] if dneg else d, text)
            if spec is None:
                raise CypherParseError(f"unsupported WHERE condition: {cond!r}")
            atoms.append((dneg, spec, cond))
        return ("atoms", wrapped, tuple(atoms))
    lhs, rhs = _cmp_side(text, toks[:at], cols), _cmp_side(text, toks[at + 1 :], cols)
    if lhs[0] == "str" or (rhs[0] == "str" and lhs[0] != "prop"):
        raise CypherParseError(f"unsupported WHERE condition: {text!r}")
    return ("cmp", lhs, toks[at].text, rhs)


# ---------------------------------------------------------------------------
# Statement tree. One token pass over a statement finds every top-level
# clause keyword; the statement becomes its UNION parts, each an ordered
# list of clause nodes (Unwind, Match, Projection) holding source spans.
# A write statement is one part that ends in a write node (SetClause,
# Remove, Delete, Create, Merge) instead of a RETURN. Every later reader
# takes its clause, item or ORDER BY text from these nodes: a comma or
# keyword inside a string literal or a bracket group never cuts a
# clause or an item. ``parse`` and ``split_with`` are views over the
# tree. The reference gets this from its openCypher front-end
# (QueryGraph.scala:87-99).
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Unwind:
    """``UNWIND <source> AS alias``. The source is a literal list
    (``values``), ``range()`` (``bounds`` = start, exclusive stop, step)
    or a carried column (``column``); ``text`` is the source as written."""

    alias: str
    text: str
    values: tuple = ()
    bounds: tuple[int, int, int] | None = None
    column: str | None = None


@dataclass(frozen=True)
class Match:
    """``[OPTIONAL] MATCH <pattern> [WHERE <cond>]`` as source spans;
    ``where`` holds the WHERE's top-level AND conjuncts."""

    optional: bool
    pattern: str
    where: tuple[str, ...] = ()


@dataclass(frozen=True)
class Projection:
    """``WITH``/``RETURN [DISTINCT] items [WHERE] [ORDER BY] [SKIP]
    [LIMIT]`` (WHERE on WITH only). ``items`` and ``order_by`` are the
    top-level comma-separated spans, ``where`` the top-level AND
    conjuncts; ``start`` is the keyword's offset."""

    kind: str
    items: tuple[str, ...]
    distinct: bool = False
    where: tuple[str, ...] = ()
    order_by: tuple[str, ...] = ()
    skip: int | None = None
    limit: int | None = None
    start: int = 0


@dataclass(frozen=True)
class SetItem:
    """One SET / REMOVE / ON ... SET item: ``b.p = value`` (``value`` is
    ("lit", text) with quotes stripped, or ("expr", parse_expr tree)),
    ``b.p`` (REMOVE) or a label ``b:Label``; ``text`` as written."""

    binding: str
    prop: str | None = None
    label: str | None = None
    value: tuple | None = None
    text: str = ""


@dataclass(frozen=True)
class SetClause:
    """``MATCH ... SET items``."""

    SHAPE: ClassVar[str] = "SET statement must be MATCH ... SET b.prop = value"

    items: tuple[SetItem, ...]


@dataclass(frozen=True)
class Remove:
    """``MATCH ... REMOVE items`` (``b.p`` or ``b:Label``)."""

    SHAPE: ClassVar[str] = "REMOVE statement must be MATCH ... REMOVE b.prop"

    items: tuple[SetItem, ...]


@dataclass(frozen=True)
class Delete:
    """``MATCH ... [DETACH] DELETE names``."""

    SHAPE: ClassVar[str] = "DELETE statement must be MATCH ... [DETACH] DELETE targets"

    targets: tuple[str, ...]
    detach: bool = False


@dataclass(frozen=True)
class WriteNode:
    """A CREATE / MERGE node ``(name:Label {k: v, ...})``. ``props``
    holds the map's literal text (numbers as written, the stored
    value); ``filters`` the same map as MATCH's equality PropFilters."""

    name: str | None
    label: str
    props: tuple[tuple[str, str], ...] = ()
    filters: tuple[PropFilter, ...] = ()


@dataclass(frozen=True)
class WriteEdge:
    """A CREATE / MERGE edge ``(src)-[name:TYPE {k: v}]->(dst)`` between
    bare MATCH bindings; ``props`` as in WriteNode."""

    src: str
    dst: str
    type: str
    name: str | None = None
    props: tuple[tuple[str, str], ...] = ()


@dataclass(frozen=True)
class Create:
    """``CREATE (n:L {...})[, ...]`` (``nodes``) or ``MATCH ... CREATE
    (a)-[:T {...}]->(b)`` (``edge``)."""

    SHAPE: ClassVar[str] = (
        "CREATE statement must be `CREATE (n:Label {props})[, ...]` or `MATCH ... CREATE (a)-[:T]->(b)`"
    )

    nodes: tuple[WriteNode, ...] = ()
    edge: WriteEdge | None = None


@dataclass(frozen=True)
class Merge:
    """``MERGE (n:L {...})`` (``node``) or ``MATCH ... MERGE
    (a)-[r:T]->(b)`` (``edge``), with its ON CREATE SET / ON MATCH SET
    items (None when the clause is absent)."""

    SHAPE: ClassVar[str] = (
        "MERGE statement must be `MERGE (n:Label {props})` or `MATCH ... MERGE (a)-[r:T]->(b)`"
    )

    node: WriteNode | None = None
    edge: WriteEdge | None = None
    on_create: tuple[SetItem, ...] | None = None
    on_match: tuple[SetItem, ...] | None = None


_WRITES = (SetClause, Remove, Delete, Create, Merge)


def write_shape_error(cls, q: str, why: str = "") -> CypherParseError:
    """The one statement-shape error of a write clause ``cls``."""
    return CypherParseError(f"{cls.SHAPE}: {q!r}" + (f" ({why})" if why else ""))


@dataclass(frozen=True)
class Statement:
    """A statement: its UNION parts (``union_all`` = UNION ALL), each an
    ordered clause list ending in a RETURN; a write statement is one
    part ending in its write node."""

    text: str
    parts: tuple[tuple, ...]
    union_all: bool = False

    @property
    def write(self):
        """The write node of a write statement, else None."""
        last = self.parts[0][-1]
        return last if isinstance(last, _WRITES) else None

    def single_stage(self):
        """``(matches, return)`` of a one-part ``MATCH ... RETURN``
        statement, else None."""
        if len(self.parts) != 1 or self.write is not None:
            return None
        *matches, ret = self.parts[0]
        if matches and all(isinstance(m, Match) for m in matches):
            return matches, ret
        return None


_CLAUSES = {name: tuple(name.split()) for name in (
    "UNION", "UNWIND", "OPTIONAL MATCH", "MATCH", "WHERE", "WITH", "RETURN",
    "ORDER BY", "SKIP", "LIMIT", "SET", "REMOVE", "DELETE", "DETACH DELETE",
    "CREATE", "MERGE", "ON CREATE SET", "ON MATCH SET",
)}
_WRITE_VERBS = {
    "SET": SetClause, "REMOVE": Remove, "DELETE": Delete, "DETACH DELETE": Delete,
    "CREATE": Create, "MERGE": Merge,
}
_ON_SET = {"ON CREATE SET": "on_create", "ON MATCH SET": "on_match"}
# a projection's sub-clauses and their Projection fields, in the one
# order the grammar admits
_PROJ_TAIL = ("WHERE", "ORDER BY", "SKIP", "LIMIT")
_PROJ_FIELDS = ("where", "order_by", "skip", "limit")


def _rebase(toks: list[Token], off: int) -> list[Token]:
    return [Token(t.kind, t.text, t.pos - off, t.end - off) for t in toks]


def _segments(q: str) -> list[tuple[str | None, str, list[Token], int]]:
    """The one token pass: ``(clause, body, body tokens, keyword offset)``
    per top-level clause keyword, body tokens rebased onto the body; the
    text before the first keyword arrives as clause None. WITH right
    after STARTS/ENDS belongs to the string predicate."""
    try:
        toks = tokenize(q)
        hits = scan_clauses(toks, _CLAUSES)
    except CypherLexError as e:
        raise CypherParseError(str(e)) from e
    hits = [
        h for h in hits
        if not (h[0] == "WITH" and h[1] > 0 and toks[h[1] - 1].is_word("STARTS", "ENDS"))
    ]
    starts = [(None, 0, 0)] + [(n, i + len(_CLAUSES[n]), s) for n, i, s, _e in hits]
    segs = []
    for k, (name, first, kw_pos) in enumerate(starts):
        body = toks[first : hits[k][1] if k < len(hits) else len(toks)]
        off = body[0].pos if body else 0
        text = q[off : body[-1].end] if body else ""
        segs.append((name, text, _rebase(body, off), kw_pos))
    return segs


def _items(text: str, toks: list[Token]) -> tuple[str, ...]:
    """Top-level comma-separated spans, stripped (empties kept)."""
    return tuple(p.strip() for p in split_punct(text, toks, ","))


def _conjuncts(q: str, text: str, toks: list[Token]) -> tuple[str, ...]:
    """A WHERE body's top-level AND conjunct spans."""
    if not toks:
        raise CypherParseError(f"empty WHERE in: {q!r}")
    return tuple(text[p[0].pos : p[-1].end] for p in _split_bool(text, toks, "AND"))


def _unwind(text: str, toks: list[Token]) -> Unwind:
    if len(toks) < 3 or not toks[-2].is_word("AS") or toks[-1].kind != "word":
        raise CypherParseError(f"unsupported UNWIND (need UNWIND <list> AS name): {text!r}")
    src, alias = toks[:-2], toks[-1].text
    src_text = text[src[0].pos : src[-1].end]
    if len(src) == 1 and src[0].kind == "word":
        return Unwind(alias, src_text, column=src[0].text)
    is_list = len(src) >= 2 and src[0].text == "[" and src[-1].text == "]"
    is_range = (
        len(src) >= 3 and src[0].kind == "word" and src[0].text.lower() == "range"
        and src[1].text == "(" and src[-1].text == ")"
    )
    if not (is_list or is_range):
        raise CypherParseError(f"unsupported UNWIND source: {src_text!r}")
    inner = src[2:-1] if is_range else src[1:-1]
    segs: list[list[Token]] = [[]]
    for t in inner:
        if t.kind == "punct" and t.text == ",":
            segs.append([])
        else:
            segs[-1].append(t)
    vals = []
    for seg in (s for s in segs if s):
        lit = _lit_at(seg, 0)
        if lit is None or lit[2] != len(seg) or (is_range and (lit[0] != "num" or "." in lit[1])):
            raise CypherParseError(
                f"unsupported UNWIND list item: {text[seg[0].pos : seg[-1].end]!r}"
            )
        kind, v, _ = lit
        vals.append(v if kind == "str" else float(v) if "." in v else int(v))
    if is_range:
        if len(vals) not in (2, 3) or len(segs) != len(vals):
            raise CypherParseError(f"range() takes (start, end[, step]): {src_text!r}")
        start, end = vals[0], vals[1]
        step = vals[2] if len(vals) > 2 else 1
        if step == 0 or (end - start) * step < 0:
            raise CypherParseError(f"range() step never reaches the end: {src_text!r}")
        return Unwind(alias, src_text, bounds=(start, end + (1 if step > 0 else -1), step))
    if not vals:
        raise CypherParseError("UNWIND over an empty list")
    if len({type(v) for v in vals}) > 1:
        raise CypherParseError(f"mixed-type UNWIND list: {src_text!r}")
    return Unwind(alias, src_text, values=tuple(vals))


def _assemble(q: str, segs) -> tuple[list[list], list[bool]]:
    """Clause nodes per UNION part, plus each UNION's ALL flag. Checks
    the clause order within a projection and the WHERE attachment."""
    parts: list[list] = [[]]
    alls: list[bool] = []
    for name, text, toks, pos in segs:
        clauses = parts[-1]
        last = clauses[-1] if clauses else None
        if name is None:
            if text:
                raise CypherParseError(
                    f"unsupported query (expected MATCH ... RETURN ...): {q!r}"
                )
        elif name == "UNION":
            if text and not (len(toks) == 1 and toks[0].is_word("ALL")):
                raise CypherParseError(f"unsupported UNION modifier {text!r} in: {q!r}")
            alls.append(bool(text))
            parts.append([])
        elif name == "WHERE" and isinstance(last, Match):
            if last.where:
                raise CypherParseError(f"multiple WHERE in one clause: {q!r}")
            clauses[-1] = dc_replace(last, where=_conjuncts(q, text, toks))
        elif name in _PROJ_TAIL:
            rank = _PROJ_TAIL.index(name)
            if (
                not isinstance(last, Projection)
                or (name == "WHERE" and last.kind == "RETURN")
                or any(getattr(last, f) not in (None, ()) for f in _PROJ_FIELDS[rank:])
            ):
                raise CypherParseError(f"misplaced or duplicate {name} clause: {q!r}")
            if name == "ORDER BY":
                value = _items(text, toks)
            elif name == "WHERE":
                value = _conjuncts(q, text, toks)
            elif len(toks) == 1 and toks[0].kind == "num" and "." not in toks[0].text:
                value = int(toks[0].text)
            else:
                # an empty body usually means the word appeared as a bare
                # binding ('RETURN skip'): SKIP / LIMIT / RETURN / ORDER
                # are reserved at top level here
                hint = (
                    " (SKIP/LIMIT/RETURN/ORDER are reserved words — rename"
                    " the binding or alias it)"
                    if not text
                    else ""
                )
                raise CypherParseError(
                    f"{name} expects a non-negative integer literal: {text!r}{hint}"
                )
            clauses[-1] = dc_replace(last, **{_PROJ_FIELDS[rank]: value})
        elif isinstance(last, Projection) and last.kind == "RETURN":
            raise CypherParseError(f"misplaced or duplicate {name} clause: {q!r}")
        elif name in _ON_SET:
            if not isinstance(last, Merge):
                raise CypherParseError(f"{name} must follow a MERGE pattern: {q!r}")
            if getattr(last, _ON_SET[name]) is not None:
                raise CypherParseError(f"duplicate {name} clause")
            items = tuple(_set_item(text, t) for t in _split_depth0(toks, ",") if t)
            if not items:
                raise CypherParseError(f"empty {name} in: {q!r}")
            clauses[-1] = dc_replace(last, **{_ON_SET[name]: items})
        elif any(isinstance(c, _WRITES) for c in clauses):
            if name in _WRITE_VERBS:
                raise CypherParseError(f"one write clause per statement: {q!r}")
            raise CypherParseError(
                f"{name} cannot follow a write clause (a write statement "
                f"returns the updated graph, not rows): {q!r}"
            )
        elif name in _WRITE_VERBS:
            clauses.append(_write_clause(q, name, text, toks))
        elif name == "UNWIND":
            clauses.append(_unwind(text, toks))
        elif name in ("MATCH", "OPTIONAL MATCH"):
            if not text:
                raise CypherParseError(f"empty MATCH pattern: {q!r}")
            clauses.append(Match(name == "OPTIONAL MATCH", text))
        else:  # WITH / RETURN
            distinct = bool(toks) and toks[0].is_word("DISTINCT")
            if distinct:
                off = toks[1].pos if len(toks) > 1 else len(text)
                text, toks = text[off:], _rebase(toks[1:], off)
            items = tuple(i for i in _items(text, toks) if i) if toks else ()
            if name == "WITH" and not items:
                raise CypherParseError(f"dangling WITH: {q!r}")
            clauses.append(Projection(name, items, distinct, start=pos))
    return parts, alls


def _write_clause(q: str, name: str, text: str, toks: list[Token]):
    """The write node of a SET / REMOVE / [DETACH] DELETE / CREATE /
    MERGE clause body: its top-level comma items, each read on its
    tokens (CREATE / MERGE patterns by the MATCH pattern reader)."""
    cls = _WRITE_VERBS[name]
    segs = _split_depth0(toks, ",")
    if cls in (Delete, Merge) and not all(segs):
        raise write_shape_error(cls, q)
    segs = [t for t in segs if t]
    if not segs:
        raise write_shape_error(cls, q)
    if cls is Delete:
        if any(len(t) != 1 or t[0].kind != "word" for t in segs):
            raise write_shape_error(cls, q)
        return Delete(tuple(t[0].text for t in segs), name == "DETACH DELETE")
    if cls in (SetClause, Remove):
        return cls(tuple(_set_item(text, t, cls is Remove) for t in segs))
    pats = [_write_pattern(q, cls, text[t[0].pos : t[-1].end]) for t in segs]
    if all(isinstance(p, WriteNode) for p in pats) and (cls is Create or len(pats) == 1):
        return Create(nodes=tuple(pats)) if cls is Create else Merge(node=pats[0])
    if len(pats) != 1:
        raise write_shape_error(cls, q)
    return cls(edge=pats[0])


def _set_item(text: str, toks: list[Token], remove: bool = False) -> SetItem:
    """One SET / REMOVE item (see SetItem). A literal keeps its text (the
    props map is string-valued); an expression may only reference the
    item's own binding — a cross-binding RHS would make the per-id
    update value ambiguous (one node, many match rows)."""
    item = text[toks[0].pos : toks[-1].end]
    if len(toks) == 3 and toks[0].kind == toks[2].kind == "word" and toks[1].text == ":":
        return SetItem(toks[0].text, label=toks[2].text, text=item)
    pr = _prop_at(toks, 0)
    if remove:
        if pr and pr[2] == len(toks):
            return SetItem(pr[0], pr[1], text=item)
        raise CypherParseError(f"unsupported REMOVE item (need b.prop): {item!r}")
    if not (pr and len(toks) > pr[2] + 1 and toks[pr[2]].kind == "punct" and toks[pr[2]].text == "="):
        raise CypherParseError(f"unsupported SET item (need b.prop = value): {item!r}")
    b, p, i = pr
    rhs = toks[i + 1 :]
    if len(rhs) == 1 and rhs[0].kind in ("str", "num"):
        return SetItem(b, p, value=("lit", _lit_at(rhs, 0)[1]), text=item)
    if len(rhs) == 2 and rhs[0].text == "-" and rhs[1].kind == "num" and rhs[0].end == rhs[1].pos:
        return SetItem(b, p, value=("lit", "-" + rhs[1].text), text=item)
    node = _expr(text, rhs)
    for lb, _lp in expr_prop_leaves(node):
        if lb != b:
            raise CypherParseError(
                f"SET expression may only reference the binding being "
                f"set ({b!r}), got {lb!r}: {item!r}"
            )
    return SetItem(b, p, value=("expr", node), text=item)


def _write_pattern(q: str, cls, text: str) -> WriteNode | WriteEdge:
    """One CREATE / MERGE pattern, read by the MATCH pattern reader: a
    lone node with exactly one label, or one directed single-hop edge
    of exactly one type between bare named bindings (``(a)``). CREATE
    edges are unnamed; MERGE edges carry no map; MERGE nodes are
    named."""
    qg, maps, anon = QueryGraph(), {}, []

    def fresh() -> str:
        anon.append(f"_anon{len(anon) + 1}")
        return anon[-1]

    try:
        _parse_pattern(text, qg, qg.edges, fresh, maps=maps)
    except CypherParseError as e:
        raise write_shape_error(cls, q, str(e)) from None
    verb = cls.__name__.upper()
    if not qg.edges:
        (name, label), = qg.labels.items()
        if label is None or qg.extra_labels or (cls is Merge and name in anon):
            raise write_shape_error(cls, q, f"unsupported {verb} node pattern: {text!r}")
        props = tuple(maps.get(name, ()))
        return WriteNode(None if name in anon else name, label, props, tuple(qg.filters))
    e = qg.edges[0]
    ename = None if e.name in anon else e.name
    props = tuple(maps.get(e.name, ()))
    if (
        len(qg.edges) > 1 or e.undirected or len(e.types) != 1
        or (e.min_hops, e.max_hops) != (1, 1) or next(iter(qg.labels)) != e.src
        or any(b in anon or b in maps or qg.labels[b] or b in qg.extra_labels for b in qg.labels)
        or (cls is Create and ename is not None) or (cls is Merge and props)
    ):
        raise write_shape_error(cls, q, f"unsupported {verb} edge pattern: {text!r}")
    return WriteEdge(e.src, e.dst, e.types[0], ename, props)


def _check_write(q: str, clauses: list) -> None:
    """A write part: a MATCH (then OPTIONAL MATCHes) before SET, REMOVE,
    DELETE and the edge CREATE / MERGE; nothing before a node CREATE /
    MERGE."""
    *matches, w = clauses
    node_form = isinstance(w, (Create, Merge)) and w.edge is None
    if (
        node_form != (not matches)
        or not all(isinstance(m, Match) for m in matches)
        or (matches and matches[0].optional)
    ):
        raise write_shape_error(type(w), q)
    for m in matches[1:]:
        if not m.optional:
            raise CypherParseError(
                f"consecutive MATCH clauses need a WITH between them: {m.pattern!r}"
            )


def _check_part(q: str, clauses: list) -> None:
    """The stage shapes the planner runs: leading UNWINDs, then a
    MATCH (or the RETURN); an UNWIND elsewhere follows a WITH; one
    plain MATCH per stage; a RETURN last."""
    if clauses and isinstance(clauses[-1], _WRITES):
        return _check_write(q, clauses)
    if not clauses or not (isinstance(clauses[-1], Projection) and clauses[-1].kind == "RETURN"):
        raise CypherParseError(f"unsupported query (expected MATCH ... RETURN ...): {q!r}")
    lead = 0
    while isinstance(clauses[lead], Unwind):
        if clauses[lead].column is not None:
            raise CypherParseError(
                f"UNWIND of a carried column needs a preceding WITH: {clauses[lead].text!r}"
            )
        lead += 1
    first = clauses[lead]
    if not (
        (isinstance(first, Match) and not first.optional)
        or (lead and first is clauses[-1])
    ):
        raise CypherParseError(f"unsupported query (expected MATCH ... RETURN ...): {q!r}")
    for prev, c in zip(clauses[lead:], clauses[lead + 1 :]):
        if isinstance(c, Unwind) and not isinstance(prev, (Unwind, Projection)):
            raise CypherParseError(f"UNWIND must open the statement or follow a WITH: {c.text!r}")
        if isinstance(c, Match) and not c.optional and isinstance(prev, Match):
            raise CypherParseError(
                f"consecutive MATCH clauses need a WITH between them: {c.pattern!r}"
            )


def parse_statement(text: str) -> Statement:
    """Parse a read or write statement into its tree (see Statement).
    Lexes once; raises CypherParseError for text outside the grammar
    (with the CypherLexError as its cause when the text does not lex)."""
    q = text.strip()
    parts, alls = _assemble(q, _segments(q))
    if len(parts) > 1 and not all(parts):
        raise CypherParseError(f"dangling UNION in: {q!r}")
    if len(set(alls)) > 1:
        raise CypherParseError("cannot mix UNION and UNION ALL in one query")
    for clauses in parts:
        _check_part(q, clauses)
    if len(parts) > 1 and any(isinstance(p[-1], _WRITES) for p in parts):
        raise CypherParseError(f"UNION of a write statement is unsupported: {q!r}")
    return Statement(q, tuple(tuple(p) for p in parts), bool(alls) and alls[0])


def stage_query_graph(matches: list[Match], ret: Projection) -> QueryGraph:
    """The QueryGraph of one ``MATCH ... RETURN`` stage."""
    qg = QueryGraph(distinct=ret.distinct)
    _parse_clauses(matches, qg)
    _parse_returns(qg, ret.items)
    _parse_order_limit(qg, ret.order_by, ret.limit, ret.skip)
    return qg


def parse(query: str) -> QueryGraph:
    """The QueryGraph of a single-stage ``MATCH ... RETURN`` statement (a
    view over parse_statement). A bare binding NAMED like a clause
    keyword (``RETURN skip``) is the one deliberate non-goal — those
    words are reserved, as openCypher effectively does."""
    stage = parse_statement(query).single_stage()
    if stage is None:
        raise CypherParseError(
            f"unsupported query (expected MATCH ... RETURN ...): {query!r}"
        )
    return stage_query_graph(*stage)


def split_with(query: str) -> list[str] | None:
    """The statement's text cut at its top-level WITH keywords (a view
    over parse_statement): None without a WITH, else the text before the
    first WITH and after each one."""
    stmt = parse_statement(query)
    starts = [
        c.start for part in stmt.parts for c in part
        if isinstance(c, Projection) and c.kind == "WITH"
    ]
    if not starts:
        return None
    q = stmt.text
    cuts = [0] + [s + len("WITH") for s in starts]
    return [q[a:b].strip() for a, b in zip(cuts, starts + [len(q)])]


def _parse_clauses(clauses: list[Match], qg: QueryGraph) -> None:
    """Parse a stage's MATCH clauses (the required one first, then each
    OPTIONAL MATCH; the first clause's own OPTIONAL flag is the caller's
    business) into qg's bindings/edges/filters. WHERE scoping follows
    clause order: a clause's WHERE may only reference bindings bound so
    far, like openCypher."""
    anon = 0

    def fresh() -> str:
        nonlocal anon
        anon += 1
        return f"_anon{anon}"

    for ci, clause in enumerate(clauses):
        target = qg.edges
        if ci > 0:
            target = []
            qg.optionals.append(target)
        clause_bound: set[str] = set()
        for pattern in _split_patterns(clause.pattern):
            pm_ = re.match(r"^(?P<pname>[A-Za-z_][A-Za-z0-9_]*)\s*=\s*(?P<rest>.+)$", pattern)
            pname = None
            if pm_:
                pname, pattern = pm_.group("pname"), pm_.group("rest")
                # shortestPath((a)-[*]->(b)) (extension): under ANY_PAIR
                # distinct-match semantics the match set of shortestPath
                # equals plain reachability (every connected pair has a
                # shortest path), and length(p) is ALREADY the minimum
                # hop count — so the wrapper only needs stripping
                sp = re.match(r"(?is)^shortestPath\s*\(\s*(?P<inner>\(.+)\)\s*$", pattern)
                if sp:
                    pattern = sp.group("inner")
                if not pattern.startswith("("):
                    raise CypherParseError(f"unsupported path expression: {pm_.group('rest')!r}")
                if (
                    pname in qg.paths or pname in qg.opt_paths
                    or pname in qg.labels or pname in _edge_names(qg)
                ):
                    raise CypherParseError(f"path name collides with another binding: {pname!r}")
            start = len(target)
            _parse_pattern(pattern, qg, target, fresh, clause_bound, ci=ci)
            if pname is not None:
                if ci > 0:
                    # path binding inside an OPTIONAL MATCH (round-7):
                    # length(p) left-joins with the group, NULL unmatched
                    qg.opt_paths[pname] = (
                        ci - 1, tuple(range(start, len(target)))
                    )
                else:
                    qg.paths[pname] = tuple(range(start, len(target)))
        if ci == 0:
            qg.match_bindings = set(qg.labels)
        elif not target:
            raise CypherParseError("OPTIONAL MATCH needs at least one pattern edge")
        if clause.where:
            enames = _edge_names(qg)
            clause_enames = {e.name for e in target if e.name}

            def check_binding(b: str, cond: str) -> None:
                if b not in qg.labels and b not in enames:
                    raise CypherParseError(f"WHERE references unbound variable: {b!r}")
                # clause scoping: the planner applies a clause's predicates
                # to that clause's own pattern only, so a predicate on a
                # binding outside the clause would be silently dropped —
                # reject it instead (correlated optional WHERE unsupported)
                if b not in clause_bound and b not in clause_enames:
                    raise CypherParseError(
                        f"WHERE in clause {ci} references {b!r}, which is not part of "
                        "that clause's pattern (correlated clause predicates unsupported)"
                    )

            # WHERE is CNF: each conjunct a pattern predicate, a numeric
            # comparison, or an optionally-parenthesized disjunction of
            # atoms (read_conjunct). SQL precedence makes a bare `a AND b
            # OR c` mean `(a AND b) OR c`, which CNF-first splitting
            # would silently mis-read — so OR groups must be
            # parenthesized whenever ANDs are present.
            for conj in clause.where:
                shape = read_conjunct(conj)
                if shape[0] == "pattern":
                    if ci > 0:
                        raise CypherParseError(
                            "pattern predicates in OPTIONAL MATCH WHERE are unsupported"
                        )
                    tmp: list[PatternEdge] = []
                    _parse_pattern(shape[2], qg, tmp, fresh, set(), allow_props=False)
                    if not any(
                        b in clause_bound for e2 in tmp for b in (e2.src, e2.dst)
                    ):
                        raise CypherParseError(
                            "pattern predicate must reference a bound binding"
                        )
                    qg.pattern_filters.append((tuple(tmp), shape[1]))
                    continue
                if shape[0] == "cmp":
                    # arithmetic predicate (extension): applied after the
                    # required chain binds every binding it reads
                    _, lhs, op, rhs = shape
                    if ci > 0:
                        raise CypherParseError(
                            "arithmetic WHERE in OPTIONAL MATCH is unsupported"
                        )
                    leaves = expr_prop_leaves(lhs) + expr_prop_leaves(rhs)
                    if not leaves:
                        raise CypherParseError(f"WHERE expression has no property: {conj!r}")
                    for b, _pp in leaves:
                        check_binding(b, conj)
                        if b in enames:
                            raise CypherParseError(
                                "arithmetic WHERE over edge variables is unsupported"
                            )
                    qg.expr_filters.append((lhs, op, rhs))
                    continue
                _, wrapped, specs = shape
                if len(specs) > 1 and len(clause.where) > 1 and not wrapped:
                    raise CypherParseError(
                        "parenthesize OR groups when mixing AND and OR: "
                        f"ambiguous conjunct {conj!r}"
                    )
                # NOT <atom> (round-16): negation folds into the op —
                # under SQL 3VL every mapping is exact (NULL props drop
                # the row on both sides of the flip). NOT binds one atom;
                # a parenthesized group needs De Morgan, and NOT IN would
                # need an AND the OR-group channel can't carry — both stay
                # unsupported.
                atoms = []
                for neg, spec, cond in specs:
                    got = _apply_atom(spec, cond, check_binding, qg, ci)
                    atoms.extend(_negate_atoms(got, cond) if neg else got)
                if len(atoms) == 1:
                    pf = atoms[0]
                    (qg.edge_filters if pf.binding in enames else qg.filters).append(pf)
                    continue
                if any(a.binding in enames for a in atoms):
                    raise CypherParseError(
                        "OR over edge-variable predicates is unsupported"
                    )
                bindings = {a.binding for a in atoms}
                if len(bindings) == 1:
                    qg.or_filters.append(tuple(atoms))
                else:
                    if ci > 0:
                        raise CypherParseError(
                            "cross-binding OR in OPTIONAL MATCH WHERE is unsupported"
                        )
                    qg.cross_filters.append(tuple(atoms))


_EXPR_KW = {"CASE", "WHEN", "THEN", "ELSE", "END"}
# the numeric functions of a sub-expression (size() reads one b.p)
_EXPR_FN1_WORDS = {"abs", "round", "ceil", "floor", "sqrt"}
_EXPR_CMP = {"<=", ">=", "<>", "=", "<", ">"}
_EXPR_OPS = {"+", "-", "*", "/", "(", ")"}


def _expr_tokens(text: str, toks: list[Token], cols=None) -> list[tuple[str, object]]:
    """``text``'s lexer tokens ``toks`` (through _split_arrows) as
    _parse_arith's (kind, value) pairs; ``b.p`` is one ("prop", (b, p)).
    With ``cols`` (the carried column names of a WITH stage) a bare
    identifier is a column: one in ``cols`` becomes a ("prop", (None,
    name)) leaf, ahead of any keyword reading of the same word; any
    other identifier that is no keyword is an unknown column."""
    out: list[tuple[str, object]] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "word" and cols is not None and t.text in cols:
            out.append(("prop", (None, t.text)))
            i += 1
            continue
        kw = t.text.upper() if t.kind == "word" else None
        fn = kw == "SIZE" or (kw is not None and kw.lower() in _EXPR_FN1_WORDS)
        if cols is not None and kw is not None and kw not in _EXPR_KW and not fn:
            raise CypherParseError(f"expression references unknown column: {t.text!r}")
        pr = _prop_at(toks, i) if cols is None else None
        if pr:
            out.append(("prop", pr[:2]))
            i = pr[2]
            continue
        if kw in _EXPR_KW:
            out.append(("kw", kw))
        elif fn:
            out.append(("fn", kw))
        elif t.kind in ("num", "str"):
            out.append((t.kind, float(t.text) if t.kind == "num" else t.text[1:-1]))
        elif t.kind == "punct" and t.text in _EXPR_CMP | _EXPR_OPS:
            out.append(("cmp" if t.text in _EXPR_CMP else "op", t.text))
        else:
            raise CypherParseError(f"bad token in expression at: {text[t.pos:]!r}")
        i += 1
    return out


def _parse_arith(toks: list, pos: int = 0) -> tuple[tuple, int]:
    """Precedence-climbing: expr := term (('+'|'-') term)*;
    term := factor (('*'|'/') factor)*;
    factor := num | binding.prop | '(' expr ')' | '-' factor."""

    def case_expr(i):
        """CASE WHEN <expr cmp literal> THEN <expr> [WHEN ...]
        [ELSE <expr>] END (extension): the conditional-aggregate
        primitive (TPC-H Q12/Q14 CASE-bucket shape)."""
        whens = []
        while i < len(toks) and toks[i] == ("kw", "WHEN"):
            cond_l, i = expr(i + 1)
            if i >= len(toks) or toks[i][0] != "cmp":
                raise CypherParseError("CASE WHEN needs a comparison")
            cmp_op = toks[i][1]
            i += 1
            if i >= len(toks) or toks[i][0] not in ("num", "str"):
                raise CypherParseError("CASE WHEN compares against a literal")
            lit = toks[i]
            i += 1
            if i >= len(toks) or toks[i] != ("kw", "THEN"):
                raise CypherParseError("CASE WHEN without THEN")
            then_e, i = expr(i + 1)
            whens.append((cond_l, cmp_op, lit, then_e))
        if not whens:
            raise CypherParseError("CASE without WHEN")
        else_e = None
        if i < len(toks) and toks[i] == ("kw", "ELSE"):
            else_e, i = expr(i + 1)
        if i >= len(toks) or toks[i] != ("kw", "END"):
            raise CypherParseError("CASE without END")
        return ("case", tuple(whens), else_e), i + 1

    def factor(i):
        if i >= len(toks):
            raise CypherParseError("expression ends unexpectedly")
        kind, val = toks[i]
        if kind == "kw" and val == "CASE":
            return case_expr(i + 1)
        if kind == "fn" and val == "SIZE":
            # size(b.prop): string length as a numeric leaf
            if (
                i + 3 >= len(toks) or toks[i + 1] != ("op", "(")
                or toks[i + 2][0] != "prop" or toks[i + 3] != ("op", ")")
            ):
                raise CypherParseError("size() takes exactly one binding.prop")
            b, p = toks[i + 2][1]
            return ("strlen", b, p), i + 4
        if kind == "fn":
            # numeric scalar functions (round-8): abs/round/ceil/floor/
            # sqrt over any sub-expression -> ("fn1", name, child)
            if i + 1 >= len(toks) or toks[i + 1] != ("op", "("):
                raise CypherParseError(f"{val.lower()}() needs parentheses")
            node, j = expr(i + 2)
            if j >= len(toks) or toks[j] != ("op", ")"):
                raise CypherParseError(f"unbalanced parentheses in {val.lower()}()")
            return ("fn1", val.lower(), node), j + 1
        if kind == "num":
            return ("num", val), i + 1
        if kind == "prop":
            return ("prop", val[0], val[1]), i + 1
        if kind == "op" and val == "(":
            node, j = expr(i + 1)
            if j >= len(toks) or toks[j] != ("op", ")"):
                raise CypherParseError("unbalanced parentheses in expression")
            return node, j + 1
        if kind == "op" and val == "-":
            node, j = factor(i + 1)
            return ("neg", node), j
        raise CypherParseError(f"unexpected token in expression: {val!r}")

    def term(i):
        node, i = factor(i)
        while i < len(toks) and toks[i][0] == "op" and toks[i][1] in "*/":
            op = toks[i][1]
            rhs, i = factor(i + 1)
            node = ("op", op, node, rhs)
        return node, i

    def expr(i):
        node, i = term(i)
        while i < len(toks) and toks[i][0] == "op" and toks[i][1] in "+-":
            op = toks[i][1]
            rhs, i = term(i + 1)
            node = ("op", op, node, rhs)
        return node, i

    return expr(pos)


def _expr(text: str, toks: list[Token], cols=None) -> tuple:
    """The tree of the expression ``toks`` (tokens of ``text``), read
    whole: trailing tokens are an error."""
    etoks = _expr_tokens(text, _split_arrows(toks), cols)
    node, end = _parse_arith(etoks)
    if end != len(etoks):
        raise CypherParseError(
            f"trailing tokens in expression: {text[toks[0].pos : toks[-1].end]!r}"
        )
    return node


def parse_expr(text: str, cols=None) -> tuple:
    """The one expression parse: ``text`` read on the statement lexer's
    tokens, parsed whole (trailing tokens are an error). ``cols`` lists
    the carried columns a WITH stage may name bare (_expr_tokens);
    without it a bare identifier is a bad token."""
    return _expr(text, lex(text), cols)


def _try_parse_expr_item(
    qg: QueryGraph, item: str, body: list[Token], alias: str | None
) -> None:
    """Arithmetic RETURN item `[agg(] expr [)] AS alias` — attempted only
    after every simpler form failed; ``body`` and ``alias`` are the
    item's tokens split by _strip_ret_alias. Leaves must be node-binding
    props (edge props: return the edge value by name and compute
    downstream)."""
    if alias is None:
        raise CypherParseError(
            f"arithmetic RETURN item needs an AS alias: {item!r}"
        )
    fn = None
    if (
        len(body) > 3
        and body[0].kind == "word"
        and body[0].text.lower() in ("sum", "avg", "min", "max")
        and body[1].text == "("
        and body[-1].text == ")"
    ):
        fn, body = body[0].text.lower(), body[2:-1]
    node = _expr(item, body)
    leaves = expr_prop_leaves(node)
    if not leaves:
        raise CypherParseError(f"expression has no property reference: {item!r}")
    for b, _ in leaves:
        if b not in qg.labels:
            raise CypherParseError(
                f"expression references unbound or non-node variable: {b!r}"
            )
    qg.items.append(ReturnItem(alias, node, fn))


# ---------------------------------------------------------------------------
# RETURN/WITH item grammar on token spans (round-16, second migration
# chunk after the WHERE atoms: VERDICT r15 "what's missing #3" names
# the expression grammar). The twelve `re.fullmatch` item shapes are
# shape-matched on the token list instead: quoted-literal interiors are
# invisible, whitespace never matters (``sum ( a . age )`` now parses,
# a deliberate liberalization recorded in scripts/return_corpus.py's
# regex-vs-token diff), and the trailing ``AS alias`` is stripped once
# for every shape instead of per-regex. Two further liberalizations:
# replace() accepts double-quoted arguments like every other shape, and
# an arithmetic operator INSIDE a string literal no longer routes a
# junk item down the expression path (it falls to the canonical
# "unsupported return item" error instead).
# ---------------------------------------------------------------------------

_AGG_FNS = {"count", "sum", "avg", "min", "max", "collect", "stdev", "stdevp"}
_INTROSPECT_FNS = {"id", "labels", "type", "keys", "properties"}


def _strip_ret_alias(toks: list[Token]) -> tuple[list[Token], str | None]:
    """Split a trailing ``AS alias`` off an item's token list. A bare
    ``AS x`` (empty body) is not an alias form — the caller falls
    through to the canonical unsupported-item error."""
    if len(toks) >= 3 and toks[-2].is_word("AS") and toks[-1].kind == "word":
        return toks[:-2], toks[-1].text
    return toks, None


def _ret_item_shape(toks: list[Token]):
    """Shape-match ONE aliased-stripped RETURN/WITH item body; returns a
    tagged spec tuple or None (caller tries concat, then the expression
    path, then the bare-binding forms). Tags: prop / count_star /
    length / agg / coalesce / sfn / replace / ifn; an aggregate is
    ("agg", fn, distinct, binding, prop or None, percentile or None)."""
    n = len(toks)
    pr = _prop_at(toks, 0)
    if pr and pr[2] == n:
        return ("prop", pr[0], pr[1])
    if not (
        n >= 3
        and toks[0].kind == "word"
        and toks[1].kind == "punct"
        and toks[1].text == "("
        and toks[n - 1].kind == "punct"
        and toks[n - 1].text == ")"
    ):
        return None
    fn_src = toks[0].text
    fnl = fn_src.lower()
    inner = toks[2 : n - 1]
    m = len(inner)
    if fnl == "count" and m == 1 and inner[0].kind == "punct" and inner[0].text == "*":
        return ("count_star",)
    if fnl == "length" and m == 1 and inner[0].kind == "word":
        return ("length", inner[0].text)
    if fnl in _AGG_FNS:
        k, dist = 0, False
        if m >= 2 and inner[0].is_word("DISTINCT"):
            k, dist = 1, True
        if m - k == 1 and inner[k].kind == "word":
            return ("agg", fnl, dist, inner[k].text, None, None)
        pr2 = _prop_at(inner, k)
        if pr2 and pr2[2] == m:
            return ("agg", fnl, dist, pr2[0], pr2[1], None)
        return None
    if fnl in ("percentilecont", "percentiledisc"):
        pr2 = _prop_at(inner, 0)
        if pr2 is None and m and inner[0].kind == "word":
            pr2 = (inner[0].text, None, 1)
        if not pr2:
            return None
        k = pr2[2]
        if not (k < m and inner[k].kind == "punct" and inner[k].text == ","):
            return None
        if k + 2 == m and inner[k + 1].kind == "num":
            q = inner[k + 1].text
        elif (
            k + 3 == m
            and inner[k + 1].kind == "punct"
            and inner[k + 1].text == "."
            and inner[k + 2].kind == "num"
            and "." not in inner[k + 2].text
        ):
            q = "." + inner[k + 2].text  # '.9' lexes as '.' + '9'
        else:
            return None
        v = float(q)
        if not 0.0 <= v <= 1.0:  # out-of-range quantile: no shape, so the
            return None          # item falls to the canonical error
        return ("agg", fnl, False, pr2[0], pr2[1], v)
    if fnl == "coalesce":
        pr2 = _prop_at(inner, 0)
        if not pr2:
            return None
        k = pr2[2]
        if not (k < m and inner[k].kind == "punct" and inner[k].text == ","):
            return None
        lit = _lit_at(inner, k + 1)
        if lit and lit[2] == m:
            # props are stored as strings: a numeric default keeps its
            # source text, a quoted one its unquoted value
            return ("coalesce", pr2[0], pr2[1], lit[1])
        return None
    if fnl in _FN_WORDS:
        pr2 = _prop_at(inner, 0)
        if not pr2:
            return None
        b, p, k = pr2
        args: list[str] = []
        while (
            len(args) < 2
            and k + 1 < m
            and inner[k].kind == "punct"
            and inner[k].text == ","
            and inner[k + 1].kind == "num"
            and "." not in inner[k + 1].text
        ):
            args.append(inner[k + 1].text)
            k += 2
        if k != m:
            return None
        a1 = args[0] if args else None
        a2 = args[1] if len(args) > 1 else None
        return ("sfn", fnl, b, p, a1, a2)
    if fnl == "replace":
        pr2 = _prop_at(inner, 0)
        if not pr2:
            return None
        b, p, k = pr2
        strs: list[str] = []
        while (
            len(strs) < 2
            and k + 1 < m
            and inner[k].kind == "punct"
            and inner[k].text == ","
            and inner[k + 1].kind == "str"
        ):
            strs.append(inner[k + 1].text[1:-1])
            k += 2
        if k != m or len(strs) != 2:
            return None
        return ("replace", b, p, strs[0], strs[1])
    if fnl in _INTROSPECT_FNS and m == 1 and inner[0].kind == "word":
        return ("ifn", fnl, inner[0].text)
    return None


def _apply_ret_item(qg: QueryGraph, spec, name: str, alias: str | None) -> None:
    """Append the ReturnItem of one shape-matched RETURN/WITH item to qg,
    preserving the regex-era binding checks, default aliases, and error
    texts."""
    tag = spec[0]
    agg, dist, param = None, False, None
    if tag == "prop":
        _, b, p = spec
        default = f"{b}_{p}"
        if b in qg.labels:
            node = ("prop", b, p)
        elif b in _edge_names(qg):
            node = ("eprop", b, p)
        else:
            raise CypherParseError(f"return of unbound variable: {b!r}")
    elif tag == "count_star":
        # count(*) counts the distinct matches themselves
        agg, node, default = "count", None, "count_star"
    elif tag == "length":
        pn = spec[1]
        if pn not in qg.paths and pn not in qg.opt_paths:
            raise CypherParseError(f"length() of unknown path: {pn!r}")
        node, default = ("length", pn), f"len_{pn}"
    elif tag == "agg":
        _, agg, dist, arg, prop, param = spec
        default = f"{agg}_{arg}" if prop is None else f"{agg}_{arg}_{prop}"
        # an edge variable's aggregate: any aggregate of e.prop over the
        # typed edge columns
        on_edge = arg not in qg.labels
        if on_edge and (arg not in _edge_names(qg) or (agg == "count" and prop is None)):
            raise CypherParseError(f"{agg}() of unbound variable: {arg!r}")
        # count(b.prop) counts matches whose property is non-NULL
        # (openCypher parity, VERDICT r6 #8); count(b) counts all;
        # count(DISTINCT ...) counts the distinct values. collect(b) /
        # collect(b.prop) is the SORTED DISTINCT value list —
        # openCypher's collect() with the deterministic reading
        # existence semantics imply (a bag ordered by arrival would be
        # nondeterministic under distinct-match evaluation)
        if prop is None and (on_edge or agg not in ("count", "collect")):
            raise CypherParseError(f"{agg}() needs a property: {agg}({arg}.<prop>)")
        if on_edge and dist:
            raise CypherParseError("DISTINCT edge-property aggregates are unsupported")
        if prop is None:
            node = ("var", arg)
        else:
            node = ("eprop" if on_edge else "prop", arg, prop)
    elif tag == "coalesce":
        _, b, p, dflt = spec
        if b not in qg.labels:
            raise CypherParseError(
                f"coalesce() of unbound or non-node variable: {b!r}"
            )
        node, default = ("coalesce", ("prop", b, p), dflt), f"coalesce_{b}_{p}"
    elif tag in ("sfn", "replace"):
        if tag == "replace":
            _, b, p, x, y = spec
            fn, enc = "replace", f"replace\x1f{x}\x1f{y}"
        else:
            _, fn, b, p, a1, a2 = spec
        if b not in qg.labels:
            raise CypherParseError(f"{fn}() of unbound or non-node variable: {b!r}")
        if tag == "sfn":
            enc = _encode_scalar_fn(fn, a1, a2, name)
        node, default = ("sfn", enc, ("prop", b, p)), f"{fn}_{b}_{p}"
    else:
        # graph-introspection functions (round-8): id(n) projects the
        # binding's node id; labels(n) the sorted comma-joined label
        # string (scalar-contract rendering of openCypher's list);
        # type(r) rides the edge-property path — `type` is a physical
        # column of the edge table, so the scan carries it for free
        _, fn, b = spec
        default = f"{fn}_{b}"
        if fn == "type":
            if b not in _edge_names(qg):
                raise CypherParseError(f"type() of non-edge variable: {b!r}")
            node = ("eprop", b, "type")
        elif b not in qg.labels:
            raise CypherParseError(f"{fn}() of unbound or non-node variable: {b!r}")
        else:
            node = (fn, b)
    qg.items.append(ReturnItem(alias or default, node, agg, dist, param))


def _split_depth0(toks: list[Token], punct: str) -> list[list[Token]]:
    """Token segments between top-level ``punct`` tokens (a concat
    body's '+', a write clause's ','): one inside any bracket group
    never splits, one inside a string literal is literal-interior by
    lexing. Empty segments are kept — each caller rejects or drops
    them."""
    segs: list[list[Token]] = [[]]
    depth = 0
    for t in toks:
        if t.kind == "punct" and t.text in "([{":
            depth += 1
        elif t.kind == "punct" and t.text in ")]}":
            depth -= 1
        if t.kind == "punct" and t.text == punct and depth == 0:
            segs.append([])
        else:
            segs[-1].append(t)
    return segs


def _parse_returns(qg: QueryGraph, items) -> None:
    """Parse RETURN / WITH items (a Projection's spans) into qg.items,
    one ReturnItem per item (RETURN * one per named binding)."""
    for name in items:
        if name == "*":
            # RETURN *: every named (non-anonymous) binding of the match,
            # in name order — pattern-filter-only bindings are excluded
            # like any other non-match binding
            scope = qg.match_bindings or set(qg.labels)
            named = sorted(b for b in scope if not b.startswith("_anon"))
            if not named:
                raise CypherParseError("RETURN * with no named bindings")
            qg.items.extend(
                ReturnItem(b, ("var", b)) for b in named
                if ReturnItem(b, ("var", b)) not in qg.items
            )
            continue
        itoks = lex(name)
        body, alias = _strip_ret_alias(itoks)
        spec = _ret_item_shape(body) if body else None
        if spec is not None:
            _apply_ret_item(qg, spec, name, alias)
            continue
        # string concatenation: a quoted literal plus a top-level '+'
        # (checked BEFORE the arithmetic path, which would try to
        # evaluate the chain as numbers); the alias is mandatory — an
        # unaliased concat falls through to the expression path whose
        # needs-an-AS-alias error names the real fix
        if (
            alias is not None
            and any(t.kind == "str" for t in body)
            and any(t.kind == "punct" and t.text == "+" for t in body)
        ):
            parts = []
            for seg in _split_depth0(body, "+"):
                if len(seg) == 1 and seg[0].kind == "str":
                    parts.append(("str", seg[0].text[1:-1]))
                    continue
                pp = _prop_at(seg, 0)
                if not (pp and pp[2] == len(seg)):
                    piece = name[seg[0].pos : seg[-1].end] if seg else ""
                    raise CypherParseError(
                        f"string concatenation takes b.prop and quoted "
                        f"literals only: {piece!r}"
                    )
                if pp[0] not in qg.labels:
                    raise CypherParseError(
                        f"concat of unbound or non-node variable: {pp[0]!r}"
                    )
                parts.append(("prop", pp[0], pp[1]))
            qg.items.append(ReturnItem(alias, ("concat", tuple(parts))))
            continue
        # arithmetic / CASE / math-fn items ride the expression path;
        # detection is token-level, so an operator inside a string
        # literal no longer routes a junk item here
        has_dot = any(t.kind == "punct" and t.text == "." for t in itoks)
        has_op = any(t.kind == "punct" and t.text in "+-*/" for t in itoks)
        has_case = any(
            t.is_word("CASE") and i + 1 < len(itoks) and itoks[i + 1].is_word("WHEN")
            for i, t in enumerate(itoks)
        )
        fn1_head = (
            len(itoks) >= 2
            and itoks[0].kind == "word"
            and itoks[0].text.lower() in _EXPR_FN1_WORDS
            and itoks[1].kind == "punct"
            and itoks[1].text == "("
        )
        if (has_op and has_dot) or has_case or fn1_head:
            _try_parse_expr_item(qg, name, body, alias)
            continue
        if (
            alias is not None
            and len(body) == 1
            and body[0].kind == "word"
            and body[0].text in qg.labels
        ):
            # RETURN b AS alias (round-8): the binding's id column under
            # a new name — shares id()'s zero-cost projection path (the
            # shape UNION sides need to line their columns up)
            qg.items.append(ReturnItem(alias, ("id", body[0].text)))
            continue
        if not (alias is None and len(body) == 1 and body[0].kind == "word"):
            raise CypherParseError(f"unsupported return item: {name!r}")
        if name in qg.paths or name in qg.opt_paths:
            raise CypherParseError(
                f"cannot return path {name!r} itself; only length({name}) is supported"
            )
        if name not in qg.labels:
            raise CypherParseError(f"return of unbound variable: {name!r}")
        qg.items.append(ReturnItem(name, ("var", name)))
    if not qg.items:
        raise CypherParseError("empty RETURN")


_PARAM = re.compile(r"\$(?P<name>[A-Za-z_][A-Za-z0-9_]*)")


def bind_params(query: str, params: dict | None) -> str:
    """Substitute ``$name`` parameters with literals before parsing
    (openCypher query parameters; the reference surface has none).
    Values render as: str -> single-quoted (rejecting embedded quotes —
    the grammar's literals carry no escapes), int/float -> plain
    numeric, list -> bracket list of the same renderings (for IN).
    Parameters inside quoted literals are left alone. A ``$name`` with
    no binding raises; unused bindings are ignored (openCypher)."""
    params = params or {}

    def render(v) -> str:
        if isinstance(v, bool):
            raise CypherParseError(
                "boolean parameters are unsupported (props are strings)"
            )
        if isinstance(v, str):
            if "'" in v or '"' in v:
                raise CypherParseError(
                    f"string parameter contains a quote (literals carry "
                    f"no escapes): {v!r}"
                )
            return f"'{v}'"
        if isinstance(v, (int, float)):
            return repr(v)
        if isinstance(v, (list, tuple)):
            return "[" + ", ".join(render(x) for x in v) + "]"
        raise CypherParseError(f"unsupported parameter type: {type(v).__name__}")

    out, i, inq = [], 0, None
    while i < len(query):
        ch = query[i]
        if inq:
            out.append(ch)
            if ch == inq:
                inq = None
            i += 1
            continue
        if ch in "'\"":
            inq = ch
            out.append(ch)
            i += 1
            continue
        if ch == "$":
            m = _PARAM.match(query, i)
            if not m:
                raise CypherParseError(f"bad parameter reference at: {query[i:i+20]!r}")
            name = m.group("name")
            if name not in params:
                raise CypherParseError(f"missing query parameter: ${name}")
            out.append(render(params[name]))
            i = m.end()
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def order_item(text: str) -> tuple[str, bool]:
    """The one ORDER BY item reader: the body as written and the DESC
    flag of a trailing ASC/DESC token."""
    toks = lex(text)
    desc = bool(toks) and toks[-1].is_word("DESC")
    if toks and toks[-1].is_word("ASC", "DESC"):
        toks = toks[:-1]
    if not toks:
        raise CypherParseError(f"unsupported ORDER BY item: {text!r}")
    return text[toks[0].pos : toks[-1].end], desc


def _parse_order_limit(
    qg: QueryGraph, order_by=(), limit: int | None = None, skip: int | None = None
) -> None:
    """ORDER BY items, SKIP and LIMIT of a single-stage statement. An
    item is an output column, an expression over the output columns,
    or ``b.prop`` (extension): a property sorted without being
    returned, resolved via the planner's props join and dropped after
    LIMIT."""
    out_cols = {it.alias for it in qg.items}
    for part in order_by:
        body, desc = order_item(part)
        ptoks = lex(body)
        opr = _prop_at(ptoks, 0)
        if len(ptoks) == 1 and ptoks[0].kind == "word":
            if body not in out_cols:
                raise CypherParseError(f"ORDER BY of non-returned column: {body!r}")
            key = body
        elif opr and opr[2] == len(ptoks):
            if opr[0] not in qg.labels:
                raise CypherParseError(
                    f"ORDER BY property of unbound binding: {part!r}"
                )
            key = opr[:2]
        else:
            try:
                parse_expr(body, out_cols)
            except CypherParseError:
                raise CypherParseError(f"unsupported ORDER BY item: {part!r}") from None
            key = body
        qg.order_by.append((key, desc))
    qg.skip, qg.limit = skip, limit


_NEG_OP = {
    "=": "<>", "<>": "=", "!=": "=",
    "<": ">=", "<=": ">", ">": "<=", ">=": "<",
    "is_null": "is_not_null", "is_not_null": "is_null",
    "regex": "not_regex", "starts_with": "not_starts_with",
    "ends_with": "not_ends_with", "contains": "not_contains",
}


def _negate_atoms(atoms: list[PropFilter], cond: str) -> list[PropFilter]:
    """Fold a leading NOT into the atom's operator (round-16). A
    multi-atom result means an IN list — its negation is a conjunction
    the per-disjunct OR channel cannot carry, so it stays unsupported."""
    if len(atoms) != 1:
        raise CypherParseError(
            f"NOT IN is unsupported — spell it as <> conjuncts: {cond!r}"
        )
    f = atoms[0]
    return [PropFilter(
        f.binding, f.prop, _NEG_OP[f.op], f.value, clause=f.clause, fn=f.fn,
    )]


def _apply_atom(spec, cond: str, check_binding, qg: QueryGraph, ci: int) -> list[PropFilter]:
    """Turn a _match_atom spec into PropFilters, preserving the
    regex-era binding checks and error texts (extracted from the
    atoms_of closure when NOT folding landed, round-16)."""
    tag = spec[0]
    if tag in ("null", "exists"):
        b, p = spec[1], spec[2]
        check_binding(b, cond)
        # exists(b.prop) (openCypher 9) == b.prop IS NOT NULL
        op = (
            "is_not_null"
            if tag == "exists" or spec[3]
            else "is_null"
        )
        return [PropFilter(b, p, op, None, clause=ci)]
    if tag == "fn":
        _, fn_src, b, p, a1, a2, op, lk, lv = spec
        check_binding(b, cond)
        fn = _encode_scalar_fn(fn_src.lower(), a1, a2, cond)
        is_num = lk == "num"
        value = float(lv) if is_num else lv
        numeric_fns = ("size", "tofloat", "tointeger")
        if fn in numeric_fns and not is_num:
            raise CypherParseError(
                f"{fn_src}() compares against a number: {cond!r}"
            )
        if fn not in numeric_fns and is_num:
            raise CypherParseError(
                f"{fn_src}() compares against a string: {cond!r}"
            )
        return [PropFilter(b, p, op, value, clause=ci, fn=fn)]
    if tag == "plain":
        _, b, p, op, lk, lv = spec
        check_binding(b, cond)
        return [PropFilter(b, p, op, float(lv) if lk == "num" else lv, clause=ci)]
    if tag in ("id", "id_in"):
        b = spec[1]
        check_binding(b, cond)
        if b not in qg.labels:
            raise CypherParseError(
                f"id() in WHERE needs a node variable: {b!r}"
            )
        op, lvs = (spec[2], [spec[3]]) if tag == "id" else ("=", spec[2])
        if not lvs:
            raise CypherParseError(f"empty IN list: {cond!r}")
        # an integer literal compares the uncast long id column (exact
        # beyond 2^53); one outside the long range keeps the double
        return [
            PropFilter(
                b, ID_PROP, op, v if -2**63 <= v < 2**63 else float(v), clause=ci,
            )
            for v in map(int, lvs)
        ]
    if tag == "regex":
        _, b, p, pat = spec
        check_binding(b, cond)
        # anchor HERE (openCypher =~ is a full match): the
        # planner's op lambdas receive the value as a lit()
        # Column, so the pattern must arrive ready-to-use
        return [PropFilter(b, p, "regex", f"^(?:{pat})$", clause=ci)]
    if tag == "strpred":
        _, b, p, op, val = spec
        check_binding(b, cond)
        return [PropFilter(b, p, op, val, clause=ci)]
    if tag == "in":
        _, b, p, items = spec
        check_binding(b, cond)
        if not items:
            raise CypherParseError(f"empty IN list: {cond!r}")
        return [
            PropFilter(b, p, "=", float(lv) if lk == "num" else lv, clause=ci)
            for lk, lv in items
        ]
    raise CypherParseError(f"unsupported WHERE condition: {cond!r}")


def _split_bool(text: str, toks: list[Token], word: str) -> list[list[Token]]:
    """``toks`` (tokens of the WHERE fragment ``text``) cut at each
    top-level boolean keyword ``word`` (AND / OR): one inside a string
    literal, inside any bracket group or in an identifier position
    (``a.and``, ``x AS or``) never cuts. An empty part is an error."""
    cuts = [i for _n, i, _s, _e in scan_clauses(toks, {word: (word,)})]
    parts = [toks[a + 1 : b] for a, b in zip([-1] + cuts, cuts + [len(toks)])]
    if not all(parts):
        raise CypherParseError(f"dangling {word} in WHERE: {text!r}")
    return parts


def _strip_outer_parens(toks: list[Token]) -> tuple[list[Token], bool]:
    """``toks`` without one pair of parens that wraps them all, and
    whether there was one (``(a) OR (b)`` has none)."""
    if not (len(toks) > 1 and toks[0].text == "(" and toks[-1].text == ")"):
        return toks, False
    depth = 0
    for t in toks[:-1]:
        depth += (t.text == "(") - (t.text == ")")
        if depth == 0:
            return toks, False
    return toks[1:-1], True


def _edge_names(qg: QueryGraph) -> set[str]:
    return {e.name for e in qg.edges if e.name} | {
        e.name for g in qg.optionals for e in g if e.name
    }


def _parse_prop_map(s: str) -> list[tuple[str, str, bool]]:
    """Inline property-map entries ``k: literal[, ...]`` (round-16,
    openCypher MapExpression — the reference front-end accepts these
    via its openCypher artifact, reference build.sbt:117): returns
    (key, literal text, is_num) triples — string text unquoted, a
    number as written — with the same literal semantics as WHERE
    equality atoms. Token shapes throughout — a comma or colon inside a
    quoted value never splits."""
    entries: list[tuple[str, str, bool]] = []
    for entry in _split_patterns(s):
        toks = lex(entry)
        if (
            len(toks) >= 3
            and toks[0].kind == "word"
            and toks[1].kind == "punct"
            and toks[1].text == ":"
        ):
            lit = _lit_at(toks, 2)
            if lit and lit[2] == len(toks):
                entries.append((toks[0].text, lit[1], lit[0] == "num"))
                continue
        raise CypherParseError(f"unsupported pattern property entry: {entry!r}")
    return entries


def _parse_pattern(
    pattern: str, qg: QueryGraph, target: list[PatternEdge], fresh,
    clause_bound: set[str] | None = None, ci: int = 0,
    allow_props: bool = True, maps: dict | None = None,
) -> None:
    """Parse one node-edge-node chain, appending edges to `target`
    (qg.edges for MATCH, a group list for OPTIONAL MATCH). Node bindings
    named in this pattern are added to `clause_bound` (WHERE scoping).
    Inline property maps desugar to clause-``ci`` equality PropFilters;
    ``allow_props=False`` (pattern predicates) rejects them — a map
    there would wrongly constrain the whole match, not the semi-join.
    ``maps`` (CREATE / MERGE) receives each map's (key, literal text)
    pairs under its node or edge binding."""
    if clause_bound is None:
        clause_bound = set()
    if maps is None:
        maps = {}

    def desugar(entries, binding: str, into: list) -> None:
        maps[binding] = [(k, text) for k, text, _ in entries]
        for k, text, is_num in entries:
            into.append(
                PropFilter(binding, k, "=", float(text) if is_num else text, clause=ci)
            )

    def desugar_node_props(nm: re.Match, binding: str) -> None:
        raw = nm.group("props")
        if raw is None:
            return
        if not allow_props:
            raise CypherParseError(
                "property maps in pattern predicates are unsupported"
            )
        desugar(_parse_prop_map(raw), binding, qg.filters)

    pos = 0
    pattern = pattern.strip()
    nm = _NODE.match(pattern, pos)
    if not nm:
        raise CypherParseError(f"expected node at: {pattern[pos:]!r}")
    prev = _bind_node(qg, nm, fresh)
    clause_bound.add(prev)
    desugar_node_props(nm, prev)
    pos = nm.end()
    while pos < len(pattern):
        em = _EDGE.match(pattern, pos)
        if not em:
            raise CypherParseError(f"expected edge at: {pattern[pos:]!r}")
        if em.group("left") and em.group("right"):
            raise CypherParseError(
                "bidirected edges <-[]-> unsupported (reference is directed-only, "
                "QueryGraph.scala:76-83)"
            )
        pos = em.end()
        nm = _NODE.match(pattern, pos)
        if not nm:
            raise CypherParseError(f"expected node at: {pattern[pos:]!r}")
        cur = _bind_node(qg, nm, fresh)
        clause_bound.add(cur)
        desugar_node_props(nm, cur)
        pos = nm.end()
        types = tuple(t.strip() for t in em.group("types").split("|")) if em.group("types") else ()
        ename = em.group("name")
        if ename is not None and ename in qg.labels:
            raise CypherParseError(f"edge variable collides with node binding: {ename!r}")
        if ename is not None and ename in _edge_names(qg):
            # each edge variable binds one pattern edge; reuse would need
            # same-edge identity semantics the planner doesn't implement
            raise CypherParseError(f"edge variable reused across pattern edges: {ename!r}")
        lo, hi = 1, 1
        # scan for '*' only up to the props map (a quoted prop value may
        # legitimately contain '*'); before round-16 the whole match was
        # quote-free so group(0).find sufficed
        star_end = em.start("props") if em.group("props") is not None else em.end()
        star = pattern.find("*", em.start(), star_end) != -1
        if star:
            lo = int(em.group("lo")) if em.group("lo") else 1
            if em.group("range"):
                # *lo..hi; open upper end (*n..) = unbounded closure
                hi = int(em.group("hi")) if em.group("hi") else None
            elif em.group("lo") is not None:
                hi = lo  # *n = exactly n hops
            else:
                hi = None  # bare * = 1..unbounded
            if lo < 1 or (hi is not None and hi < lo):
                raise CypherParseError(f"invalid path bounds *{lo}..{hi}")
        eprops = em.group("props")
        if eprops is not None:
            if not allow_props:
                raise CypherParseError(
                    "property maps in pattern predicates are unsupported"
                )
            if star:
                # a map on a var-length edge constrains EVERY hop — the
                # closure runner has no per-hop filter channel; spell it
                # as single hops or filter the expanded edges in WHERE
                raise CypherParseError(
                    "property maps on variable-length pattern edges are "
                    "unsupported"
                )
            entries = _parse_prop_map(eprops)
            if entries and ename is None:
                ename = fresh()  # filters are keyed by edge name
            desugar(entries, ename, qg.edge_filters)
        if em.group("right"):  # (prev)-[:T]->(cur)
            target.append(PatternEdge(prev, cur, types, lo, hi, ename))
        elif em.group("left"):  # (prev)<-[:T]-(cur)
            target.append(PatternEdge(cur, prev, types, lo, hi, ename))
        else:  # (prev)-[:T]-(cur) — undirected, Direction.Both
            target.append(PatternEdge(prev, cur, types, lo, hi, ename, True))
        prev = cur


def _split_patterns(s: str) -> list[str]:
    """Split on top-level commas via the token stream (round-15,
    continuing the r14/r15 migration: one lexer, not three). A comma
    inside a string literal (round-8: a concat separator `', '` or an
    IN-list item is data, not a delimiter) or inside any bracket group
    — (), [], now also {} — never splits. Empty parts are dropped
    (trailing comma tolerated, as before)."""
    try:
        parts = split_punct(s, tokenize(s), ",")
    except CypherLexError as e:
        raise CypherParseError(str(e)) from None
    return [p for p in (x.strip() for x in parts) if p]


def _bind_node(qg: QueryGraph, nm: re.Match, fresh) -> str:
    name = nm.group("name") or fresh()
    raw = nm.group("labels") or ""
    lbls = [l.strip() for l in raw.split(":") if l.strip()]
    label = lbls[0] if lbls else None
    extra = tuple(dict.fromkeys(lbls[1:]))  # dedup, keep order
    if name in qg.labels:
        if label is not None and qg.labels[name] is not None and qg.labels[name] != label:
            raise CypherParseError(f"conflicting labels for {name}")
        if label is not None:
            qg.labels[name] = label
    else:
        qg.labels[name] = label
    if extra:
        prev = qg.extra_labels.get(name, ())
        qg.extra_labels[name] = tuple(dict.fromkeys(prev + extra))
    return name
