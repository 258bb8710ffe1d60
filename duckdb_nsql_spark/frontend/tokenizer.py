"""SQL tokenizer for the DuckDB-dialect frontend.

The reference (tdoehmen/DuckDB-NSQL) executes DuckDB SQL text
(``/root/reference/eval/data/dev.json`` gold queries). We re-express the
DuckDB-isms as Spark SQL via token-level rewrite passes; this module is the
shared tokenizer those passes operate on.

Design note: Spark 4.1's parser already accepts most of the surface
(GROUP BY ALL, ORDER BY ALL, ``* EXCEPT``, ``::`` casts, TABLESAMPLE,
FROM-first statements, lateral/HAVING aliases), so the rewrite layer only
touches genuinely DuckDB-specific syntax. Tokens round-trip losslessly:
``render(tokenize(sql)) == sql``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

# token kinds
WS = "ws"
COMMENT = "comment"
STRING = "string"  # '...' (single-quoted, '' escape)
QIDENT = "qident"  # "..." (double-quoted identifier)
BIDENT = "bident"  # `...` (backquoted identifier)
NUMBER = "number"
IDENT = "ident"
OP = "op"
PUNCT = "punct"

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<comment>--[^\n]*|\#[^\n]*|/\*(?:[^*]|\*(?!/))*\*/)
    | (?P<string>[eE]?'(?:[^']|'')*')
    | (?P<qident>"(?:[^"]|"")*")
    | (?P<bident>`(?:[^`]|``)*`)
    | (?P<number>\d+(?:\.\d*)?(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?)
    | (?P<ident>[A-Za-z_][A-Za-z0-9_$]*)
    | (?P<op>!~~\*|!~~|~~\*|~~~|~~|\^@|<<|>>|->>|->|::|<=|>=|<>|!=|==|\|\||\*\*|//|[=<>+\-*/%~&|^!])
    | (?P<punct>[(),\[\]{}.;:?@$])
    """,
    re.VERBOSE | re.DOTALL,
)


@dataclass
class Token:
    kind: str
    text: str

    def is_kw(self, *words: str) -> bool:
        return self.kind == IDENT and self.text.upper() in words

    @property
    def upper(self) -> str:
        return self.text.upper()


# Dollar-quoted string opener: $$ or $tag$ (PostgreSQL/DuckDB form).
# $1-style prepared-statement params deliberately do NOT match (digit
# tags are invalid), so they keep lexing as PUNCT '$' + NUMBER.
_DOLLAR_OPEN = re.compile(r"\$([A-Za-z_]\w*)?\$")


def tokenize(sql: str) -> list[Token]:
    tokens: list[Token] = []
    pos = 0
    n = len(sql)
    while pos < n:
        if sql[pos] == "$":
            # dollar-quoted string: one lossless STRING token (content
            # may hold quotes and semicolons — statement splitting and
            # every pass must see it as opaque); normalization to a
            # standard quoted literal happens in pass_dollar_strings
            mo = _DOLLAR_OPEN.match(sql, pos)
            if mo is not None:
                tag = mo.group(0)
                end = sql.find(tag, mo.end())
                if end != -1:
                    tokens.append(Token(STRING, sql[pos : end + len(tag)]))
                    pos = end + len(tag)
                    continue
        m = _TOKEN_RE.match(sql, pos)
        if m is None:
            # unknown byte: pass through as punct so we never lose text
            tokens.append(Token(PUNCT, sql[pos]))
            pos += 1
            continue
        kind = m.lastgroup
        tokens.append(Token(kind, m.group()))
        pos = m.end()
    return tokens


def render(tokens: list[Token]) -> str:
    return "".join(t.text for t in tokens)


def significant(tokens: list[Token]) -> list[int]:
    """Indices of non-whitespace/comment tokens."""
    return [i for i, t in enumerate(tokens) if t.kind not in (WS, COMMENT)]


def prev_sig(tokens: list[Token], i: int) -> int:
    """Index of previous significant token before i, or -1."""
    j = i - 1
    while j >= 0 and tokens[j].kind in (WS, COMMENT):
        j -= 1
    return j


def next_sig(tokens: list[Token], i: int) -> int:
    """Index of next significant token after i, or len(tokens)."""
    j = i + 1
    while j < len(tokens) and tokens[j].kind in (WS, COMMENT):
        j += 1
    return j


def match_forward(tokens: list[Token], i: int, open_t: str, close_t: str) -> int:
    """Given tokens[i] == open_t, return index of matching close_t."""
    depth = 0
    for j in range(i, len(tokens)):
        t = tokens[j]
        if t.kind == PUNCT and t.text == open_t:
            depth += 1
        elif t.kind == PUNCT and t.text == close_t:
            depth -= 1
            if depth == 0:
                return j
    raise ValueError(f"unbalanced {open_t!r} at token {i}")


def match_backward(tokens: list[Token], i: int, open_t: str, close_t: str) -> int:
    """Given tokens[i] == close_t, return index of matching open_t."""
    depth = 0
    for j in range(i, -1, -1):
        t = tokens[j]
        if t.kind == PUNCT and t.text == close_t:
            depth += 1
        elif t.kind == PUNCT and t.text == open_t:
            depth -= 1
            if depth == 0:
                return j
    raise ValueError(f"unbalanced {close_t!r} at token {i}")


def split_args(tokens: list[Token], lo: int, hi: int) -> list[tuple[int, int]]:
    """Split tokens[lo:hi] on top-level commas -> list of (start, end) spans.

    Brackets of all three kinds nest; CASE..END does not contain commas at
    top level in our surface so it is not special-cased.
    """
    spans: list[tuple[int, int]] = []
    depth = 0
    start = lo
    for j in range(lo, hi):
        t = tokens[j]
        if t.kind == PUNCT and t.text in "([{":
            depth += 1
        elif t.kind == PUNCT and t.text in ")]}":
            depth -= 1
        elif t.kind == PUNCT and t.text == "," and depth == 0:
            spans.append((start, j))
            start = j + 1
    spans.append((start, hi))
    return spans


# Clause keywords that end a FROM list: a depth-0 comma after one of them
# separates select items, keys, values or assignments, not FROM items.
FROM_LIST_END = frozenset({
    "SELECT", "WHERE", "GROUP", "HAVING", "ORDER", "QUALIFY", "WINDOW",
    "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT", "SET", "VALUES",
    "RETURNING",
})


def from_item_starts(tokens: list[Token]) -> list[int]:
    """Indices of the significant tokens that begin a FROM item: the one
    right after FROM or JOIN, and the one after a depth-0 comma of a FROM
    list (``FROM a, range(3)``, also after ``JOIN b ON ..``). Each bracket
    group keeps its own state, so a derived table's inner clauses do not
    end the enclosing list, and ``IS [NOT] DISTINCT FROM`` is an operator,
    not a FROM clause."""
    starts: list[int] = []
    in_list = False
    saved: list[bool] = []
    for i, t in enumerate(tokens):
        if t.kind == PUNCT and t.text in "([{":
            saved.append(in_list)
            in_list = False
        elif t.kind == PUNCT and t.text in ")]}":
            in_list = saved.pop() if saved else False
        elif t.kind == IDENT and t.upper in ("FROM", "JOIN"):
            p = prev_sig(tokens, i)
            if t.upper == "FROM" and p >= 0 and tokens[p].is_kw("DISTINCT"):
                continue
            in_list = True
            starts.append(next_sig(tokens, i))
        elif t.kind == IDENT and t.upper in FROM_LIST_END:
            in_list = False
        elif in_list and t.kind == PUNCT and t.text == ",":
            starts.append(next_sig(tokens, i))
    return starts


def primary_start(tokens: list[Token], i: int) -> int:
    """Start index of the primary expression ending just before token i.

    Walks backwards over a postfix chain: identifier, ``.`` access,
    quoted identifiers, call ``fn(...)``, parenthesized expr, and
    ``[...]`` subscripts. Used to find the target of ``[..]`` / ``->>``.
    """
    j = i - 1
    while j >= 0 and tokens[j].kind in (WS, COMMENT):
        j -= 1
    if j < 0:
        return i

    def walk(j: int) -> int:
        t = tokens[j]
        if t.kind == PUNCT and t.text in ")]":
            open_t = "(" if t.text == ")" else "["
            o = match_backward(tokens, j, open_t, t.text)
            # function call or subscript: include what precedes the bracket
            k = prev_sig(tokens, o)
            if k >= 0 and (
                tokens[k].kind in (IDENT, QIDENT, BIDENT)
                or (tokens[k].kind == PUNCT and tokens[k].text in ")]")
            ):
                # don't swallow keywords like IN ( ... ) or AND (...)
                if tokens[k].kind == IDENT and tokens[k].upper in _KEYWORDS:
                    return o
                return walk(k)
            return o
        if t.kind in (IDENT, QIDENT, BIDENT, STRING, NUMBER):
            start = j
            # dotted chain: a.b.c
            k = prev_sig(tokens, j)
            while (
                k >= 0
                and tokens[k].kind == PUNCT
                and tokens[k].text == "."
            ):
                k2 = prev_sig(tokens, k)
                if k2 >= 0 and tokens[k2].kind in (IDENT, QIDENT, BIDENT):
                    if tokens[k2].kind == IDENT and tokens[k2].upper in _KEYWORDS:
                        break
                    start = k2
                    k = prev_sig(tokens, k2)
                else:
                    break
            return start
        return j + 1  # not a primary (operator etc.)

    return walk(j)


_KEYWORDS = frozenset(
    """SELECT FROM WHERE GROUP BY HAVING ORDER LIMIT OFFSET JOIN ON USING AS
    AND OR NOT IN EXISTS BETWEEN LIKE ILIKE IS NULL TRUE FALSE CASE WHEN THEN
    ELSE END CAST UNION ALL INTERSECT EXCEPT EXCLUDE DISTINCT WITH VALUES
    INSERT INTO UPDATE SET DELETE CREATE TABLE VIEW DROP ALTER COPY ATTACH
    PRAGMA CALL EXPLAIN DESCRIBE SHOW SUMMARIZE SAMPLE REPLACE RETURNING
    LEFT RIGHT FULL INNER OUTER CROSS SEMI ANTI ASOF NATURAL LATERAL
    QUALIFY WINDOW OVER PARTITION ROWS RANGE PRECEDING FOLLOWING CURRENT
    THEN ELSE ANY SOME TO IF""".split()
)
