"""The one SQL lexer: every layer that reads statement text (engine,
dialect rewriter, distributed planner, wire servers) finds string
literals, quoted identifiers and comments here, so a statement is
lexed the same way at every step. No other module tests for a quote
character.

Rules, as Spark 4.1's parser applies them (checked against pyspark
4.1.2 with default settings):

- String literals are ``'…'`` and ``"…"`` (double quotes delimit
  strings, not identifiers). Inside one, a backslash escapes the next
  character and a doubled quote stands for one quote, so ``'a''b'``
  and ``'a\\'b'`` are both ``a'b``. The body is taken greedily: in
  ``'\\'''`` the ``''`` is a doubled quote, so the literal never closes.
  ``r'…'`` / ``R"…"`` are raw: no escapes, the literal ends at the
  first matching quote. Adjacent literals concatenate, also across
  comments: ``'a' /* c */ "b"`` is ``ab``.
- Escapes decode as ``\\0`` NUL, ``\\b \\n \\r \\t``, ``\\Z`` (0x1A);
  ``\\uXXXX`` and ``\\UXXXXXXXX`` (exactly 4 / 8 hex digits) are code
  points; a backslash before three octal digits whose first is 0 or 1
  is that character (``\\101`` is ``A``, ``\\400`` is ``400``);
  ``\\%`` and ``\\_`` keep their backslash (LIKE patterns); any other
  ``\\c`` is ``c``.
- Identifiers are ``\\`…\\``` with a doubled backtick for one backtick
  and no backslash escapes.
- ``--`` comments run to the end of the line; a backslash right
  before the newline continues them. ``/* … */`` comments nest.
  ``/*+ … */`` is an optimizer hint, not a comment.
- A literal, identifier or block comment that never closes runs to
  the end of the text as an ``open`` token: ``unclosed()`` reports it,
  ``strip_comments`` keeps it, and Spark rejects the statement that
  holds it (``SELECT 1 /* x`` is a ParseException, not ``SELECT 1``).
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

_SQ = r"'(?:[^'\\]|\\[\s\S]|'')*+'"
_DQ = r'"(?:[^"\\]|\\[\s\S]|"")*+"'
_RAW = r"""(?:'[^']*'|"[^"]*")"""

# One closed string literal, for embedding in other patterns (no
# capturing groups; independent of the embedding pattern's flags).
STRING_LITERAL = rf"(?:{_SQ}|{_DQ}|(?<!\w)[rR]{_RAW})"

# Every alternative starts with one literal character, so a search
# skips plain code in C; the empty group that ends each alternative
# names its kind (see _KINDS).
_TOKEN = re.compile(
    rf"{_SQ}(?P<sq>)|{_DQ}(?P<dq>)|r(?<!\wr){_RAW}(?P<r>)|R(?<!\wR){_RAW}(?P<R>)"
    r"|`(?:[^`]|``)*+`(?P<ident>)"
    r"|--(?:\\\n|[^\r\n])*(?P<line>)"
    r"|/\*(?:\+[\s\S]*?\*/(?P<hint>)|(?P<block>))"
    r"|'(?P<open_sq>)|\"(?P<open_dq>)|`(?P<open_bq>)"  # never closes: runs to the end
)
_KINDS = {
    "sq": "string", "dq": "string", "r": "string", "R": "string", "ident": "ident",
    "line": "comment", "hint": "hint", "block": "comment",
    "open_sq": "open", "open_dq": "open", "open_bq": "open",
}
_BLOCK_EDGE = re.compile(r"/\*(?!\+)|\*/")
_PUNCT = re.compile(r"[(),;]")
_ESCAPE = re.compile(
    r"\\(?:u([0-9A-Fa-f]{4})|U([0-9A-Fa-f]{8})|([01][0-7]{2})|([\s\S]))|('')|(\"\")"
)
_ESCAPED = {"0": "\0", "b": "\b", "n": "\n", "r": "\r", "t": "\t", "Z": "\x1a", "%": "\\%", "_": "\\_"}


def _tokens(sql: str) -> Iterator[tuple[str, int, int]]:
    """``(kind, start, end)`` of each literal, quoted identifier,
    comment and hint, in order; the text between them is code. Kinds:
    string, ident, comment, hint, open (an unclosed token: the rest of
    the text)."""
    pos = 0
    while (m := _TOKEN.search(sql, pos)) is not None:
        kind, end = _KINDS[m.lastgroup], m.end()
        if kind == "open":
            end = len(sql)
        elif m.lastgroup == "block":
            depth = 1
            while depth:
                edge = _BLOCK_EDGE.search(sql, end)
                if edge is None:
                    kind, end = "open", len(sql)
                    break
                depth += 1 if edge.group() == "/*" else -1
                end = edge.end()
        yield kind, m.start(), end
        pos = end


def split(sql: str, sep: str) -> list[str]:
    """``sql`` cut at each ``sep`` (``,`` or ``;``) that is outside
    literals, identifiers, comments and parentheses; parts are
    stripped, empty ones kept (``"a,,b"`` gives three parts)."""
    parts, start, depth, pos = [], 0, 0, 0
    spans = [(a, b) for _kind, a, b in _tokens(sql)] + [(len(sql), len(sql))]
    for a, b in spans:
        for m in _PUNCT.finditer(sql, pos, a):
            ch = m.group()
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == sep and depth == 0:
                parts.append(sql[start : m.start()].strip())
                start = m.end()
        pos = b
    parts.append(sql[start:].strip())
    return parts


def strip_comments(sql: str) -> str:
    """``sql`` without comments: a ``--`` comment goes (its newline
    stays), a block comment becomes one space so ``a/**/b`` stays two
    tokens; hints and literals are kept."""
    out, pos = [], 0
    for kind, a, b in _tokens(sql):
        if kind == "comment":
            out.append(sql[pos:a] + " " * (sql[a : a + 2] == "/*"))
            pos = b
    out.append(sql[pos:])
    return "".join(out)


def mask(sql: str) -> str:
    """``sql`` with the same length and offsets, in which nothing
    inside a literal, identifier or comment can match a pattern:
    literal bodies become NUL, so does every character of a quoted
    identifier but words and dots (``system.tables`` stays visible for
    name lookups), and comments become spaces. Quotes, hints and code
    are unchanged."""
    out, pos = [], 0
    for kind, a, b in _tokens(sql):
        out.append(sql[pos:a])
        tok = sql[a:b]
        if kind == "comment":
            out.append(" " * len(tok))
        elif kind == "ident":
            out.append("`" + re.sub(r"[^\w.]", "\0", tok[1:-1]) + "`")
        elif kind == "string":
            lead = 2 if tok[0] in "rR" else 1
            out.append(tok[:lead] + "\0" * (len(tok) - lead - 1) + tok[-1])
        elif kind == "open":
            out.append(tok[0] + "\0" * (len(tok) - 1))
        else:
            out.append(tok)
        pos = b
    out.append(sql[pos:])
    return "".join(out)


def unclosed(sql: str) -> bool:
    """True when a literal, quoted identifier or block comment in
    ``sql`` never closes."""
    return any(kind == "open" for kind, _a, _b in _tokens(sql))


def outside_literals(sql: str, fn: Callable[[str], str]) -> str:
    """``sql`` with ``fn`` applied to each stretch of text between
    string literals; the literals themselves pass through unchanged."""
    out, pos = [], 0
    for kind, a, b in _tokens(sql):
        if kind in ("string", "open"):
            out.append(fn(sql[pos:a]))
            out.append(sql[a:b])
            pos = b
    out.append(fn(sql[pos:]))
    return "".join(out)


def _decode(tok: str) -> str:
    if tok[0] in "rR":
        return tok[2:-1]
    q = tok[0]

    def repl(m: re.Match) -> str:
        u4, u8, octal, ch, sq, dq = m.groups()
        if u4 or u8:
            cp = int(u4 or u8, 16)
            return chr(cp) if cp <= 0x10FFFF else m.group()[1:]
        if octal:
            return chr(int(octal, 8))
        if ch is not None:
            return _ESCAPED.get(ch, ch)
        pair = sq or dq
        return q if pair[0] == q else pair

    return _ESCAPE.sub(repl, tok[1:-1])


def string_value(text: str) -> str | None:
    """The value Spark gives ``text`` when it is a string literal, or
    several separated only by whitespace and comments (concatenated);
    None for anything else."""
    parts, pos = [], 0
    for kind, a, b in _tokens(text):
        if text[pos:a].strip() or kind not in ("string", "comment"):
            return None
        if kind == "string":
            parts.append(_decode(text[a:b]))
        pos = b
    if text[pos:].strip() or not parts:
        return None
    return "".join(parts)


def quote(value: str) -> str:
    """``value`` as a string literal that decodes back to it."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
