"""Statement-level Cypher token stream.

The reference ships a full openCypher front-end (reference build.sbt:117
pulls the openCypher frontend artifact). Here every statement, read or
write, is lexed once by this module and cut into clauses by
``scan_clauses`` (MATCH / OPTIONAL MATCH / WHERE / WITH / RETURN /
ORDER BY / SKIP / LIMIT / UNION / UNWIND and SET / REMOVE / [DETACH]
DELETE / CREATE / MERGE / ON CREATE SET / ON MATCH SET);
``parser.parse_statement`` builds the statement tree from those cuts,
and ``GraphDB.update`` routes a write on the tree's root. Two things
raw-text splitting kept re-fixing ad hoc are handled by construction:

- **string literals**: ``WHERE c.note = ' RETURN '`` or ``SET n.note =
  'a ON CREATE SET b'`` never splits — a literal is ONE token, so
  clause keywords inside it are invisible;
- **identifier contexts**: ``RETURN o.skip``, ``count(x) AS limit``,
  ``(match:Label)`` never split — a clause keyword is only a clause
  START when it is a bare word at bracket depth 0 not preceded by
  ``.`` / ``:`` / ``AS``.

The literal grammar is ``'[^']*'`` / ``"[^"]*"``, no escapes, the same
one the pattern regexes (``_NODE``/``_EDGE``) read. Expressions and
WHERE conjuncts are read on these tokens too (``parser.parse_expr``,
``parser.read_conjunct``), so splitting and execution see identical
spans by construction.

Everything the lexer cannot read raises CypherParseError — the typed
error the fuzz suites require (no foreign exceptions escape).
"""

from __future__ import annotations

import re
from dataclasses import dataclass


class CypherLexError(ValueError):
    """Internal marker; parser re-raises as CypherParseError."""


@dataclass(frozen=True)
class Token:
    kind: str  # 'word' | 'str' | 'num' | 'param' | 'punct'
    text: str  # raw source text of the token
    pos: int   # char offset of the token start in the source
    end: int   # char offset one past the token end

    def is_word(self, *uppers: str) -> bool:
        return self.kind == "word" and self.text.upper() in uppers


_TOKEN = re.compile(
    r"""(?P<ws>\s+)
      | (?P<str>'[^']*'|"[^"]*")
      | (?P<num>\d+(?:\.\d+)?)
      | (?P<word>[A-Za-z_][A-Za-z0-9_]*)
      | (?P<param>\$[A-Za-z_][A-Za-z0-9_]*)
      | (?P<punct><=|>=|<>|!=|=~|\.\.|->|<-|--|[-+*/%^(){}\[\],.:;=<>|!])
    """,
    re.X,
)


def tokenize(s: str) -> list[Token]:
    """Lex a statement. Raises CypherLexError (callers map it to
    CypherParseError) at the first unreadable character — including an
    unterminated string literal, which surfaces as its opening quote
    failing to lex."""
    toks: list[Token] = []
    pos, n = 0, len(s)
    while pos < n:
        m = _TOKEN.match(s, pos)
        if not m:
            raise CypherLexError(
                f"unreadable character {s[pos]!r} at offset {pos}: {s!r}"
            )
        if m.lastgroup != "ws":
            toks.append(Token(m.lastgroup, m.group(), m.start(), m.end()))
        pos = m.end()
    return toks


_OPENER = {")": "(", "]": "[", "}": "{"}

# tokens that, when immediately preceding a keyword word, demote it to a
# plain identifier (property access, label position, alias name)
_DEMOTING_PUNCT = {".", ":"}
_DEMOTING_WORDS = {"AS"}


def _is_clause_start(toks: list[Token], i: int, depth: int) -> bool:
    """Shared guard: toks[i] can start a clause only at top level and
    only when the previous token doesn't bind it as an identifier."""
    if depth != 0:
        return False
    if i == 0:
        return True
    prev = toks[i - 1]
    if prev.kind == "punct" and prev.text in _DEMOTING_PUNCT:
        return False
    if prev.kind == "word" and prev.text.upper() in _DEMOTING_WORDS:
        return False
    return True


def scan_clauses(
    toks: list[Token], keywords: dict[str, tuple[str, ...]]
) -> list[tuple[str, int, int, int]]:
    """Find top-level clause-keyword occurrences.

    ``keywords`` maps a clause name to its word sequence, e.g.
    ``{"ORDER BY": ("ORDER", "BY"), "RETURN": ("RETURN",)}``. Multi-word
    entries match only when every word is present in order (a lone
    ``ORDER`` is not a clause). Longer sequences win over shorter ones
    starting at the same word (``OPTIONAL MATCH`` vs ``MATCH``: callers
    list both and the scanner takes the longest match).

    Returns ``(name, tok_index, char_start, char_end)`` per hit, where
    ``char_start``/``char_end`` delimit the keyword text itself —
    clause bodies are the source slices BETWEEN consecutive hits.
    Depth tracks ()/[]/{} so sub-pattern parentheses shield their
    contents; a closer must close an opener of its own kind, so every
    span between two top-level cuts nests properly.
    """
    # candidate sequences per first word, longest first
    by_first: dict[str, list[tuple[str, tuple[str, ...]]]] = {}
    for name, seq in sorted(keywords.items(), key=lambda kv: -len(kv[1])):
        by_first.setdefault(seq[0], []).append((name, seq))
    hits: list[tuple[str, int, int, int]] = []
    # unbalanced brackets (ADVICE r14): a negative or dangling depth
    # silently shields subsequent (or all) top-level keywords and
    # surfaces as a misleading "expected MATCH ... RETURN" — track the
    # opener stack so the error names the real problem and its position
    opens: list[Token] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "punct":
            if t.text in "([{":
                opens.append(t)
            elif t.text in ")]}":
                if not opens or opens[-1].text != _OPENER[t.text]:
                    raise CypherLexError(
                        f"unbalanced '{t.text}' at position {t.pos}: "
                        "no matching opener"
                    )
                opens.pop()
            i += 1
            continue
        depth = len(opens)
        if t.kind == "word" and _is_clause_start(toks, i, depth):
            matched = None
            for name, seq in by_first.get(t.text.upper(), ()):
                if all(
                    i + k < len(toks) and toks[i + k].is_word(seq[k])
                    for k in range(1, len(seq))
                ):
                    matched = (name, len(seq))
                    break
            if matched is not None:
                name, nwords = matched
                hits.append((name, i, t.pos, toks[i + nwords - 1].end))
                i += nwords
                continue
        i += 1
    if opens:
        o = opens[-1]
        raise CypherLexError(
            f"unclosed '{o.text}' opened at position {o.pos}"
        )
    return hits


def split_punct(source: str, toks: list[Token], punct: str) -> list[str]:
    """Split ``source`` at top-level occurrences of a punct token
    (``,`` for pattern/RETURN/IN-list items, ``+`` for string concat).

    Same opens-stack discipline as scan_clauses: a delimiter inside a
    string literal (one token — invisible) or inside any bracket group
    ``()``/``[]``/``{}`` never splits, and unbalanced brackets raise
    CypherLexError naming the offending bracket and its position. Parts
    are returned raw (unstripped, empties kept) so callers keep their
    own acceptance rules — _split_patterns drops empties (trailing
    comma tolerated, round-8 behavior), ORDER BY rejects them.
    """
    opens: list[Token] = []
    parts: list[str] = []
    prev_end = 0
    for t in toks:
        if t.kind != "punct":
            continue
        if t.text in "([{":
            opens.append(t)
        elif t.text in ")]}":
            if not opens:
                raise CypherLexError(
                    f"unbalanced '{t.text}' at position {t.pos}: "
                    "no matching opener"
                )
            opens.pop()
        elif t.text == punct and not opens:
            parts.append(source[prev_end:t.pos])
            prev_end = t.end
    if opens:
        o = opens[-1]
        raise CypherLexError(
            f"unclosed '{o.text}' opened at position {o.pos}"
        )
    parts.append(source[prev_end:])
    return parts
