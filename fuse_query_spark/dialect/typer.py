"""Static inference of the reference's type names for toTypeName().

The reference types literals with ClickHouse minimal-width UNSIGNED
typing (1 is UInt8, 256 is UInt16, ...; negative literals take the
minimal signed width) and coerces arithmetic by doubling the wider
operand's width, capped at 64 bits (plus/multiply keep unsignedness,
minus is always signed, divide is always Float64) — reference
`common/datavalues/src/data_type.rs:16-41` (type enum) and the
numeric-coercion goldens `02_0001_function_to_type_name`.

Spark has no unsigned types (SURVEY §1.2 maps UInt8..64 onto wider
signed types), so the runtime `typeof()` can never report them. This
module infers the reference's name STATICALLY from the raw dialect
expression text; the rewriter emits the result as a string literal and
only falls back to runtime `fq_typename(typeof(...))` when inference
bails (real table columns, functions outside the surface below).

Inference returns None ("don't know") rather than guessing: a wrong
None costs only reference-native unsigned names on exotic shapes, a
wrong answer would corrupt results.
"""

from __future__ import annotations

import re

from fuse_query_spark.dialect.lexer import STRING_LITERAL

# fq type name -> (bit width, signed?, float?)
_INT_TYPES = {
    "UInt8": (8, False),
    "UInt16": (16, False),
    "UInt32": (32, False),
    "UInt64": (64, False),
    "Int8": (8, True),
    "Int16": (16, True),
    "Int32": (32, True),
    "Int64": (64, True),
}

# CAST target names (ClickHouse custom names per sql_common.rs:20-55
# AND the Spark names our named-cast rewrite may have produced) -> fq
_CAST_TARGETS = {
    "uint8": "UInt8",
    "uint16": "UInt16",
    "uint32": "UInt32",
    "uint64": "UInt64",
    "int8": "Int8",
    "int16": "Int16",
    "int32": "Int32",
    "int64": "Int64",
    # reference sql_common.rs maps SQL FLOAT -> Float32, DOUBLE -> Float64
    "float": "Float32",
    "float32": "Float32",
    "float64": "Float64",
    "double": "Float64",
    "string": "Utf8",
    "utf8": "Utf8",
    "varchar": "Utf8",
    "tinyint": "Int8",
    "smallint": "Int16",
    "int": "Int32",
    "integer": "Int32",
    "bigint": "Int64",
    "boolean": "Boolean",
    "date": "Date32",
    "datetime": "Date64",
    "timestamp": "Date64",
}

# named-cast function -> fq result type (expression.rs:16-27)
_NAMED_CAST_FNS = {
    "toint8": "Int8",
    "toint16": "Int16",
    "toint32": "Int32",
    "toint64": "Int64",
    "touint8": "UInt8",
    "touint16": "UInt16",
    "touint32": "UInt32",
    "touint64": "UInt64",
    "tofloat32": "Float32",
    "tofloat64": "Float64",
    "tostring": "Utf8",
}

_TOKEN = re.compile(
    rf"""\s*(?:
        (?P<str>{STRING_LITERAL})
      | (?P<num>(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
      | (?P<id>[A-Za-z_][A-Za-z0-9_]*)
      | (?P<sym>[()+\-*/%,])
    )""",
    re.VERBOSE,
)


def _tokenize(s: str) -> list[tuple[str, str]] | None:
    toks, i = [], 0
    while i < len(s):
        m = _TOKEN.match(s, i)
        if not m:
            return None if s[i:].strip() else toks
        for kind in ("str", "num", "id", "sym"):
            v = m.group(kind)
            if v is not None:
                toks.append((kind, v))
                break
        i = m.end()
    return toks


def _int_literal_type(v: int) -> str | None:
    if v >= 0:
        for name, bits in (("UInt8", 8), ("UInt16", 16), ("UInt32", 32), ("UInt64", 64)):
            if v < 1 << bits:
                return name
        return None
    for name, bits in (("Int8", 8), ("Int16", 16), ("Int32", 32), ("Int64", 64)):
        if v >= -(1 << (bits - 1)):
            return name
    return None


def _coerce(op: str, lt: str, rt: str) -> str | None:
    """Reference numeric coercion (02_0001 golden): divide -> Float64;
    any float operand -> Float64 (Float32 only when both sides are);
    integer plus/multiply -> width min(64, 2*max), unsigned iff both
    unsigned; minus -> same width rule, always signed."""
    if lt == "Utf8" or rt == "Utf8" or lt == "Boolean" or rt == "Boolean":
        return None
    if op == "/":
        return "Float64"
    floats = {t for t in (lt, rt) if t.startswith("Float")}
    if floats:
        if lt == rt == "Float32":
            return "Float32"
        return "Float64"
    if lt not in _INT_TYPES or rt not in _INT_TYPES:
        return None
    (lw, ls), (rw, rs) = _INT_TYPES[lt], _INT_TYPES[rt]
    if op == "%":
        return None  # modulo typing untested in the goldens; bail
    width = min(64, 2 * max(lw, rw))
    signed = ls or rs or op == "-"
    return f"{'Int' if signed else 'UInt'}{width}"


class _Parser:
    """Tiny recursive-descent over the dialect expression grammar
    needed by toTypeName sites: literals, `number`, + - * / %, parens,
    CAST(e AS t), named casts. Raises _Bail to abort inference."""

    def __init__(self, toks: list[tuple[str, str]], allow_number: bool = True):
        self.toks = toks
        self.i = 0
        self.allow_number = allow_number

    class _Bail(Exception):
        pass

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect_sym(self, sym: str):
        k, v = self.next()
        if k != "sym" or v != sym:
            raise self._Bail()

    def parse(self) -> str:
        t = self.expr()
        if self.i != len(self.toks):
            raise self._Bail()
        return t

    def expr(self) -> str:
        lt = self.term()
        while True:
            k, v = self.peek()
            if k == "sym" and v in "+-":
                self.next()
                rt = self.term()
                lt = _coerce(v, lt, rt) or self.bail()
            else:
                return lt

    def term(self) -> str:
        lt = self.factor()
        while True:
            k, v = self.peek()
            if k == "sym" and v in "*/%":
                self.next()
                rt = self.factor()
                lt = _coerce(v, lt, rt) or self.bail()
            else:
                return lt

    def bail(self):
        raise self._Bail()

    def factor(self) -> str:
        k, v = self.peek()
        if k == "sym" and v in "+-":
            self.next()
            nk, nv = self.peek()
            if v == "-" and nk == "num" and "." not in nv and "e" not in nv.lower():
                self.next()
                return _int_literal_type(-int(nv)) or self.bail()
            # unary +/- over an expression: type of the negated factor
            # via 0 - x semantics for '-', identity for '+'
            inner = self.factor()
            if v == "+":
                return inner
            return _coerce("-", "UInt8", inner) or self.bail()
        return self.primary()

    def primary(self) -> str:
        k, v = self.next()
        if k == "str":
            return "Utf8"
        if k == "num":
            if "." in v or "e" in v.lower():
                return "Float64"
            return _int_literal_type(int(v)) or self.bail()
        if k == "sym" and v == "(":
            t = self.expr()
            self.expect_sym(")")
            return t
        if k == "id":
            low = v.lower()
            if low == "cast":
                return self.cast_call()
            if low in _NAMED_CAST_FNS:
                self.skip_call_args()
                return _NAMED_CAST_FNS[low]
            nk, nv = self.peek()
            if nk == "sym" and nv == "(":
                raise self._Bail()  # unknown function
            if low == "number" and self.allow_number:
                # the numbers()/numbers_mt() table function emits
                # UInt64 (datasources/system/numbers_table.rs:36-40).
                # allow_number is set by the caller ONLY when the
                # statement's FROM actually reads a numbers source — a
                # real table column named `number` must NOT be typed
                # statically (it falls through to runtime typeof).
                return "UInt64"
            raise self._Bail()  # unknown identifier (real column)
        raise self._Bail()

    def cast_call(self) -> str:
        self.expect_sym("(")
        self.expr()  # inner type irrelevant for CAST result
        k, v = self.next()
        if k != "id" or v.lower() != "as":
            raise self._Bail()
        tk, tv = self.next()
        if tk != "id":
            raise self._Bail()
        self.expect_sym(")")
        t = _CAST_TARGETS.get(tv.lower())
        if t is None:
            raise self._Bail()
        return t

    def skip_call_args(self):
        self.expect_sym("(")
        depth = 1
        while depth:
            k, v = self.next()
            if k is None:
                raise self._Bail()
            if k == "sym" and v == "(":
                depth += 1
            elif k == "sym" and v == ")":
                depth -= 1


def infer_fq_type(expr: str, allow_number: bool = True) -> str | None:
    """Reference type name for a dialect expression, or None when the
    static surface can't decide (caller falls back to runtime typeof).
    Pass allow_number=False when the surrounding statement does NOT
    read from a numbers()/system.numbers source, so a real column
    named `number` is never mistyped."""
    toks = _tokenize(expr)
    if not toks:
        return None
    try:
        return _Parser(toks, allow_number=allow_number).parse()
    except _Parser._Bail:
        return None
    except (ValueError, IndexError):
        return None
