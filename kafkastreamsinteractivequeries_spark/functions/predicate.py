"""JsonPath-subset predicates: one parser, two emitters.

The reference's ``FilteredRangeQuery`` evaluates a JsonPath filter
expression server-side, inside the state store, before results cross the
wire — e.g. ``@.buys > @.sells``, ``@.symbol == 'CFLT'``, ``@.buys > 299``
(reference ``store/CustomQueryStore.java:68-97`` builds
``$.[?(<predicate>)]`` and runs it over the store's JSON values via
com.jayway.jsonpath; golden cases in
``store/JacksonProtobufMappingProviderTest.java:73-152``).

``parse_predicate`` turns the predicate into a small tree once, and two
emitters read it:

- ``compile_predicate`` emits a ``pyspark.sql.Column`` boolean
  expression, so Catalyst's ``PushDownPredicates`` pushes it into the
  scan — the Spark-native form of the reference's "evaluate inside the
  store" optimization, with whole-stage codegen instead of per-row JSON
  tree walks.
- ``arrow_predicate`` emits a ``pyarrow.compute.Expression`` for rows
  already held in Arrow on the driver (the batch service's snapshot), or
  None when Arrow would not give exactly Spark's answer: a regex, a
  nested path, a column the schema does not hold exactly, a comparison
  of mixed types (string, bool and number), a float32 column against an
  integer (Spark widens that pair by ``spark.sql.ansi.enabled``), a float
  column holding NaN (Spark orders NaN above every number and equal to
  itself, IEEE does neither), an integer literal outside int64, and a
  literal compared with a literal.  The caller then evaluates the
  ``Column`` form.

Grammar (superset of every predicate the reference exercises)::

    expr    := orExpr
    orExpr  := andExpr ( '||' andExpr )*
    andExpr := cmp ( '&&' cmp )*
    cmp     := '(' expr ')' | '!' cmp | operand op operand
    operand := '@.' IDENT ('.' IDENT)* | NUMBER | 'string' | "string"
            | true | false | null
    op      := '==' | '!=' | '>' | '>=' | '<' | '<=' | '=~' (regex)

``x == null`` and ``x <op> null`` for any other op mean ``x`` is null and
``x`` is not null.  ``compile_predicate(src)`` resolves ``@.field`` to
``F.col(field)`` on a typed DataFrame; ``compile_predicate(src,
json_col="value")`` resolves it to ``get_json_object(col(json_col),
'$.field')`` for raw-JSON value columns (the reference's physical
layout, where the store holds JSON bytes — SURVEY.md §1.2).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, functions as F

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<lpar>\()|(?P<rpar>\))|
        (?P<or>\|\|)|(?P<and>&&)|
        (?P<op>==|!=|>=|<=|=~|>|<)|
        (?P<not>!)|
        (?P<path>@(?:\.[A-Za-z_][A-Za-z0-9_]*)+)|
        (?P<num>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)|
        (?P<sq>'(?:[^'\\]|\\.)*')|
        (?P<dq>"(?:[^"\\]|\\.)*")|
        (?P<kw>true|false|null)
    )""",
    re.VERBOSE,
)

_OPERAND_KINDS = ("path", "num", "sq", "dq", "kw")


class PredicateSyntaxError(ValueError):
    pass


@dataclass
class _Tok:
    kind: str
    text: str


@dataclass(frozen=True)
class _Logic:
    """``left && right`` (op ``and``) or ``left || right`` (op ``or``)."""

    op: str
    left: object
    right: object


@dataclass(frozen=True)
class _Not:
    inner: object


@dataclass(frozen=True)
class _Cmp:
    left: _Tok
    op: str
    right: _Tok


def _tokenize(src: str) -> list[_Tok]:
    toks: list[_Tok] = []
    pos = 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if not m or m.end() == pos:
            rest = src[pos:].strip()
            if not rest:
                break
            raise PredicateSyntaxError(f"unexpected input at {pos}: {rest[:30]!r}")
        pos = m.end()
        kind = m.lastgroup
        assert kind is not None
        toks.append(_Tok(kind, m.group(kind)))
    return toks


class _Parser:
    def __init__(self, toks: list[_Tok]):
        self.toks = toks
        self.i = 0

    def _peek(self) -> _Tok | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def _next(self) -> _Tok:
        tok = self._peek()
        if tok is None:
            raise PredicateSyntaxError("unexpected end of predicate")
        self.i += 1
        return tok

    def parse(self):
        node = self._or()
        if self._peek() is not None:
            raise PredicateSyntaxError(f"trailing tokens: {self._peek()}")
        return node

    def _or(self):
        left = self._and()
        while (t := self._peek()) and t.kind == "or":
            self._next()
            left = _Logic("or", left, self._and())
        return left

    def _and(self):
        left = self._cmp()
        while (t := self._peek()) and t.kind == "and":
            self._next()
            left = _Logic("and", left, self._cmp())
        return left

    def _cmp(self):
        tok = self._peek()
        if tok is None:
            raise PredicateSyntaxError("unexpected end of predicate")
        if tok.kind == "lpar":
            self._next()
            inner = self._or()
            if self._next().kind != "rpar":
                raise PredicateSyntaxError("expected ')'")
            return inner
        if tok.kind == "not":
            self._next()
            return _Not(self._cmp())
        left_tok = self._next()
        op_tok = self._next()
        if op_tok.kind != "op":
            raise PredicateSyntaxError(f"expected comparison operator, got {op_tok.text!r}")
        right_tok = self._next()
        for operand in (left_tok, right_tok):
            if operand.kind not in _OPERAND_KINDS:
                raise PredicateSyntaxError(f"bad operand {operand.text!r}")
        return _Cmp(left_tok, op_tok.text, right_tok)


def parse_predicate(src: str):
    """The predicate's tree; raises ``PredicateSyntaxError`` when ``src``
    is malformed.  Accepts the bare predicate or the full JsonPath filter
    form the reference builds, ``$.[?(<pred>)]``
    (store/CustomQueryStore.java:91-93)."""
    src = src.strip()
    m = re.fullmatch(r"\$\.?\[\?\((?P<pred>.*)\)\]", src)
    if m:
        src = m.group("pred")
    return _Parser(_tokenize(src)).parse()


def _is_null_test(cmp: _Cmp) -> bool:
    return cmp.right.kind == "kw" and cmp.right.text == "null"


def _literal(tok: _Tok):
    """The Python value of a literal operand token."""
    if tok.kind == "num":
        return float(tok.text) if ("." in tok.text or "e" in tok.text.lower()) else int(tok.text)
    if tok.kind in ("sq", "dq"):
        return re.sub(r"\\(.)", r"\1", tok.text[1:-1])
    return None if tok.text == "null" else tok.text == "true"


# ---------------------------------------------------------------------------
# Catalyst emitter
# ---------------------------------------------------------------------------


def _column(node, json_col: str | None) -> Column:
    if isinstance(node, _Logic):
        left, right = _column(node.left, json_col), _column(node.right, json_col)
        return left & right if node.op == "and" else left | right
    if isinstance(node, _Not):
        return ~_column(node.inner, json_col)
    return _compare_column(node, json_col)


def _operand_column(tok: _Tok, json_col: str | None, typed_as: _Tok | None = None) -> Column:
    """Operand → Column.  ``typed_as`` carries the other side of the
    comparison so raw-JSON paths can be cast to a comparable type."""
    if tok.kind != "path":
        return F.lit(_literal(tok))
    fields = tok.text[2:]  # strip '@.'
    if json_col is None:
        return F.col(fields)
    col = F.get_json_object(F.col(json_col), "$." + fields)
    # get_json_object yields strings; cast numerically when the
    # literal side is numeric so 300 > 299 doesn't compare as text.
    if typed_as is not None and typed_as.kind == "num":
        col = col.cast("double")
    elif typed_as is not None and typed_as.kind == "kw" and typed_as.text in ("true", "false"):
        col = col.cast("boolean")
    elif typed_as is not None and typed_as.kind == "path":
        col = col.cast("double")
    return col


def _compare_column(cmp: _Cmp, json_col: str | None) -> Column:
    lt, op, rt = cmp.left, cmp.op, cmp.right
    # null comparisons get IS [NOT] NULL semantics (JsonPath-style).
    if _is_null_test(cmp):
        left = _operand_column(lt, json_col)
        return left.isNull() if op == "==" else ~left.isNull()
    left = _operand_column(lt, json_col, typed_as=rt)
    right = _operand_column(rt, json_col, typed_as=lt)
    if op == "==":
        return left == right
    if op == "!=":
        return left != right
    if op == ">":
        return left > right
    if op == ">=":
        return left >= right
    if op == "<":
        return left < right
    if op == "<=":
        return left <= right
    if op == "=~":
        return left.rlike(_regex_body(rt))
    raise PredicateSyntaxError(f"unsupported operator {op!r}")


def _regex_body(tok: _Tok) -> str:
    body = tok.text[1:-1] if tok.kind in ("sq", "dq") else tok.text
    # JsonPath regex literals look like /pattern/flags
    m = re.fullmatch(r"/(.*)/[a-z]*", body)
    return m.group(1) if m else body


def compile_predicate(src: str, json_col: str | None = None) -> Column:
    """Compile a JsonPath-subset predicate to a boolean ``Column``.

    >>> df.filter(compile_predicate("@.buys > @.sells"))
    >>> raw.filter(compile_predicate("@.symbol == 'CFLT'", json_col="value"))
    """
    return _column(parse_predicate(src), json_col)


# ---------------------------------------------------------------------------
# Arrow emitter
# ---------------------------------------------------------------------------


class _NoArrow(Exception):
    """The predicate has no Arrow form with exactly Spark's result."""


_INT32, _INT64 = (-(2**31), 2**31 - 1), (-(2**63), 2**63 - 1)
_ARROW_OPS = {
    "==": "equal", "!=": "not_equal", ">": "greater",
    ">=": "greater_equal", "<": "less", "<=": "less_equal",
}


class _ArrowEmitter:
    def __init__(self, schema, nan_columns):
        import pyarrow as pa
        import pyarrow.compute as pc

        self.pa, self.pc = pa, pc
        self.schema = schema
        self.nan_columns = nan_columns
        self.lower_names = [name.lower() for name in schema.names]

    def emit(self, node):
        if isinstance(node, _Logic):
            left, right = self.emit(node.left), self.emit(node.right)
            return left & right if node.op == "and" else left | right  # Kleene
        if isinstance(node, _Not):
            return ~self.emit(node.inner)
        return self._compare(node)

    def _compare(self, cmp: _Cmp):
        if cmp.op == "=~":
            raise _NoArrow  # Java regex, not RE2
        if _is_null_test(cmp):
            if cmp.left.kind != "path":
                raise _NoArrow
            self._type(cmp.left)  # a column Spark resolves to the same field
            field = self.pc.field(cmp.left.text[2:])
            return field.is_null() if cmp.op == "==" else ~field.is_null()
        if cmp.left.kind != "path" and cmp.right.kind != "path":
            raise _NoArrow
        types = self._type(cmp.left), self._type(cmp.right)
        common = self._common(*types)
        left, right = (self._as(tok, typ, common) for tok, typ in zip((cmp.left, cmp.right), types))
        return getattr(self.pc, _ARROW_OPS[cmp.op])(left, right)

    def _type(self, tok: _Tok):
        """The Arrow type of a path operand's column, or of Spark's
        literal for a literal operand (py4j passes an int as Integer or
        Long by its range)."""
        pa = self.pa
        if tok.kind == "path":
            # Spark resolves names case-insensitively: look up only a
            # top-level name no other column shares in any case
            name = tok.text[2:]
            if "." in name or self.lower_names.count(name.lower()) != 1 or name not in self.schema.names:
                raise _NoArrow
            return self.schema.field(name).type
        value = _literal(tok)
        if isinstance(value, str):
            return pa.string()
        if isinstance(value, bool):
            return pa.bool_()
        if isinstance(value, float):
            return pa.float64()
        if value is None:
            raise _NoArrow  # a null operand compares to null
        if _INT32[0] <= value <= _INT32[1]:
            return pa.int32()
        if _INT64[0] <= value <= _INT64[1]:
            return pa.int64()
        raise _NoArrow

    def _common(self, a, b):
        """The type Spark (ANSI) compares ``a`` and ``b`` in."""
        t = self.pa.types
        if t.is_integer(a) and t.is_integer(b):
            return a if a.bit_width >= b.bit_width else b
        if a == b and (t.is_floating(a) or t.is_boolean(a) or t.is_string(a)):
            return a
        if not all(t.is_integer(x) or t.is_floating(x) for x in (a, b)):
            raise _NoArrow  # string, bool and number never mix exactly
        if self.pa.float32() in (a, b) and not (t.is_floating(a) and t.is_floating(b)):
            raise _NoArrow  # Spark widens float32 and an int by spark.sql.ansi.enabled
        return self.pa.float64()

    def _as(self, tok: _Tok, typ, common):
        """Operand ``tok`` of type ``typ`` as an expression of type
        ``common``."""
        if tok.kind != "path":
            value = _literal(tok)
            if self.pa.types.is_floating(common):
                value = float(value)
            elif isinstance(value, str):
                try:
                    value.encode()
                except UnicodeEncodeError:
                    raise _NoArrow from None  # a lone surrogate
            return self.pc.scalar(self.pa.scalar(value, type=common))
        name = tok.text[2:]
        if name in self.nan_columns:
            raise _NoArrow  # Spark: NaN == NaN, and NaN above every number
        field = self.pc.field(name)
        return field if typ == common else field.cast(common, safe=False)


def arrow_predicate(src: str, schema, nan_columns=frozenset()):
    """The predicate as a ``pyarrow.compute.Expression`` over rows of
    Arrow ``schema`` that selects exactly the rows Spark's filter keeps
    (a null result drops the row), or None where Arrow cannot reproduce
    Spark's answer (see the module docstring).  ``nan_columns`` names the
    float columns that hold a NaN.  Raises ``PredicateSyntaxError`` as
    ``compile_predicate`` does.

    >>> table.filter(arrow_predicate("@.buys > @.sells", table.schema))
    """
    node = parse_predicate(src)
    try:
        return _ArrowEmitter(schema, nan_columns).emit(node)
    except _NoArrow:
        return None
