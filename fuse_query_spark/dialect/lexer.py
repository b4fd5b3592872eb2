"""The one SQL lexer: every layer that reads statement text (engine,
dialect rewriter, distributed planner, wire servers) finds string
literals, quoted identifiers and comments here, so a statement is
lexed the same way at every step. No other module tests for a quote
character. Cursor, at the end, is the grammar of every statement but a
query: word, punctuation and name tokens read left to right.

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

from fuse_query_spark.errors import SyntaxError_

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


def _close(sql: str, m: re.Match) -> tuple[str, int]:
    """Kind and end of the token _TOKEN matched at ``m``."""
    kind, end = _KINDS[m.lastgroup], m.end()
    if kind == "open":
        end = len(sql)
    elif m.lastgroup == "block":
        depth = 1
        while depth:
            edge = _BLOCK_EDGE.search(sql, end)
            if edge is None:
                return "open", len(sql)
            depth += 1 if edge.group() == "/*" else -1
            end = edge.end()
    return kind, end


def _tokens(sql: str) -> Iterator[tuple[str, int, int]]:
    """``(kind, start, end)`` of each literal, quoted identifier,
    comment and hint, in order; the text between them is code. Kinds:
    string, ident, comment, hint, open (an unclosed token: the rest of
    the text)."""
    pos = 0
    while (m := _TOKEN.search(sql, pos)) is not None:
        kind, end = _close(sql, m)
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


def quote_name(name: str) -> str:
    """``name`` as a quoted identifier that reads back as it."""
    return "`" + name.replace("`", "``") + "`"


_PLAIN_NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def sql_name(name: str) -> str:
    """``name`` as SQL text: bare when it is a plain word, else quoted."""
    return name if _PLAIN_NAME.fullmatch(name) else quote_name(name)


# ---------- the statement grammar ----------

_SPACE = re.compile(r"\s*")
_WORD = re.compile(r"(\w+)|[^\w\s]")


def _token_at(sql: str, pos: int) -> tuple[str, int, int] | None:
    """``(kind, start, end)`` of the first token at or after ``pos``
    past whitespace and comments — kind ``word`` (word characters),
    ``punct`` (one other character) or a _tokens kind — or None."""
    while (pos := _SPACE.match(sql, pos).end()) < len(sql):
        m = _TOKEN.match(sql, pos)
        if m is None:
            w = _WORD.match(sql, pos)
            return ("word" if w.lastindex else "punct"), pos, w.end()
        kind, end = _close(sql, m)
        if kind != "comment":
            return kind, pos, end
        pos = end
    return None


def table_refs(sql: str) -> Iterator[tuple[str | None, str, int, int]]:
    """Each name in ``sql`` that may reference a table, read as
    Cursor.table reads one: ``(db, name, start, end)`` for ``db.name``,
    ``(None, name, start, end)`` for a name alone, bare or
    backtick-quoted (```my-db`.`t``` is ``("my-db", "t", …)``).
    Literals and comments are skipped; column references (``t.a``)
    come out too, for the caller to match against its tables."""
    c = Cursor(sql)
    while c.tok is not None:
        kind, a, b = c.tok
        if kind not in ("word", "ident") or sql[a:b] == "``":
            c.take()
            continue
        first = c.name()
        if c.accept(".") and c.tok is not None and c.tok[0] in ("word", "ident"):
            yield first, c.name(), a, c.pos
        else:
            yield None, first, a, b


class Cursor:
    """A statement read token by token from the left: the grammar of
    every statement but a query. A statement kind is a short pattern of
    keywords (any case), names and punctuation, with any whitespace and
    comments between tokens. The expression parts it hands on
    (predicates, values, column types, a query) are slices of the
    source text, taken without lexing them. Input that does not fit
    raises SyntaxError_."""

    def __init__(self, sql: str, pos: int = 0):
        self.sql, self.pos = sql, pos  # pos: the end of the last token read
        self.tok = _token_at(sql, pos)  # the next token, None at the end

    def take(self) -> tuple[str, int, int]:
        """Read the next token, whatever it is."""
        tok, self.pos = self.tok, self.tok[2]
        self.tok = _token_at(self.sql, self.pos)
        return tok

    def error(self, expected: str) -> SyntaxError_:
        at = repr(self.sql[self.tok[1] :][:40]) if self.tok else "the end"
        return SyntaxError_(f"Syntax error: expected {expected} at {at} in: {self.sql[:80]}")

    def at(self, *words: str) -> bool:
        """True when the next tokens are ``words``: upper-case keywords
        or punctuation characters."""
        tok = self.tok
        for w in words:
            if tok is None or tok[0] == "ident" or self.sql[tok[1] : tok[2]].upper() != w:
                return False
            tok = _token_at(self.sql, tok[2])
        return True

    def accept(self, *words: str) -> bool:
        """Read ``words`` if they come next; whether they did."""
        if self.at(*words):
            for _w in words:
                self.take()
            return True
        return False

    def expect(self, *words: str) -> None:
        if not self.accept(*words):
            raise self.error(" ".join(words))

    def end(self) -> None:
        if self.tok is not None:
            raise self.error("the end of the statement")

    def name(self) -> str:
        """A bare word or a backtick-quoted name (``` `` ``` is one
        backtick)."""
        kind, a, b = self.tok or ("", 0, 0)
        if kind not in ("word", "ident") or self.sql[a:b] == "``":
            raise self.error("a name")
        self.take()
        return self.sql[a + 1 : b - 1].replace("``", "`") if kind == "ident" else self.sql[a:b]

    def table(self) -> tuple[str | None, str]:
        """``[db.]table``: (the database or None, the table)."""
        first = self.name()
        return (first, self.name()) if self.accept(".") else (None, first)

    def names(self) -> list[str]:
        """``(name, …)``."""
        self.expect("(")
        out = [self.name()]
        while self.accept(","):
            out.append(self.name())
        self.expect(")")
        return out

    def number(self) -> int:
        if self.tok is None or not self.sql[self.tok[1] : self.tok[2]].isdecimal():
            raise self.error("a number")
        _kind, a, b = self.take()
        return int(self.sql[a:b])

    def string(self) -> str:
        """The value of a string literal (adjacent ones concatenate)."""
        if self.tok is None or self.tok[0] != "string":
            raise self.error("a string literal")
        start = self.tok[1]
        while self.tok is not None and self.tok[0] == "string":
            self.take()
        return string_value(self.sql[start : self.pos])

    def upto(self, word: str | None) -> str:
        """The source text up to the keyword ``word`` outside
        parentheses (the cursor stops before it) or to the end; with no
        ``word``, through the ``)`` closing an open parenthesis."""
        start, depth = self.tok[1] if self.tok else self.pos, 0
        while self.tok is not None and not (word and depth == 0 and self.at(word)):
            kind, a, _b = self.take()
            if kind == "punct" and self.sql[a] in "()":
                depth += 1 if self.sql[a] == "(" else -1
                if depth < 0 and word is None:
                    return self.sql[start:a].strip()
        if word is None:
            raise self.error("')'")
        return self.sql[start : self.tok[1] if self.tok else len(self.sql)].strip()

    def group(self) -> str:
        """The source text inside the parenthesized group that comes
        next (nested groups and literals included), stripped."""
        self.expect("(")
        return self.upto(None)

    def rest(self) -> str:
        """The source text from the next token to the end, not empty."""
        if self.tok is None:
            raise self.error("more")
        text, self.tok, self.pos = self.sql[self.tok[1] :].strip(), None, len(self.sql)
        return text

    def query(self) -> str:
        """The rest of the statement, which must be a query."""
        if not (self.at("SELECT") or self.at("WITH") or self.at("(")):
            raise self.error("a query")
        return self.rest()

