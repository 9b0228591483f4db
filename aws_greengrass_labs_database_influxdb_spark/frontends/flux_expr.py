"""Flux expressions: one tokenizer and one precedence parser for every
``fn:`` body, and the walks over the parsed tree that need no DataFrame.

A function ``(r) => <body>`` parses once, header included, into an
:class:`Fn`. Each consumer walks that tree:

- ``frontends.flux`` compiles it to a Spark Column (filter, map, the
  ``reduce()`` fast path, join ``as:``, monitor checks, state
  functions, find*) and reads join ``on:`` equalities off it;
- :func:`compile_scalar` compiles it to a Python closure (the
  sequential ``reduce()`` fold, keep/drop column predicates);
- :func:`eq_literals` reads the equality constraints that narrow the
  field-type catalog, and :func:`refs` lists the members it reads.

Grammar, loosest to tightest (Flux precedence)::

    expr    := "if" expr "then" expr "else" expr | or
    or      := and ("or" and)*
    and     := not ("and" not)*
    not     := "not" not | "exists" unary | compare
    compare := sum [("==" | "!=" | "<" | "<=" | ">" | ">=" | "=~" | "!~") sum]
    sum     := product (("+" | "-") product)*
    product := unary (("*" | "/" | "%") unary)*
    unary   := "-" unary | primary
    primary := literal | "(" expr ")" | "[" expr, ... "]"
             | "{" [param "with"] name: expr, ... "}"
             | param ["." name | "[" string "]"]
             | name ("." name)* "(" name: expr, ... ")"

A member reference resolves by its parameter name (``r``,
``accumulator``, ``l``/``r``, ``key``, ``column``), so no source text
is rewritten. Text that no token consumes is a :class:`FluxError`.
"""

from __future__ import annotations

import dataclasses
import math
import operator
import re
from collections.abc import Callable, Iterator

from ..operators.windows import duration_ns


class FluxError(ValueError):
    """The Flux frontend's typed rejection of a query."""


@dataclasses.dataclass(frozen=True)
class Lit:
    """A literal. ``kind`` is int, float, string, bool, duration
    (``value`` in ns), time (``value`` is the RFC3339 text) or regex
    (``value`` is the pattern)."""

    kind: str
    value: object


@dataclasses.dataclass(frozen=True)
class Ref:
    """``param.field`` or ``param["field"]``; ``field`` is None for the
    bare parameter (keep/drop's ``column``)."""

    param: str
    field: str | None


@dataclasses.dataclass(frozen=True)
class Unary:
    op: str  # "-", "not" or "exists"
    arg: Node


@dataclasses.dataclass(frozen=True)
class Binary:
    op: str  # arithmetic, comparison, "and" or "or"
    left: Node
    right: Node


@dataclasses.dataclass(frozen=True)
class Cond:
    test: Node
    then: Node
    other: Node


@dataclasses.dataclass(frozen=True)
class Call:
    name: str  # dotted: "strings.toUpper", "geo.ST_Distance", "float"
    args: tuple  # ((label, Node), ...)


@dataclasses.dataclass(frozen=True)
class Array:
    items: tuple


@dataclasses.dataclass(frozen=True)
class Record:
    base: str | None  # the parameter ``{r with ...}`` extends
    fields: tuple  # ((name, Node), ...)


Node = Lit | Ref | Unary | Binary | Cond | Call | Array | Record


@dataclasses.dataclass(frozen=True)
class Fn:
    params: tuple
    body: Node


_COMPARISONS = ("==", "!=", ">=", "<=", ">", "<", "=~", "!~")
_KEYWORDS = {"if", "then", "else", "and", "or", "not", "exists"}

_TOKEN_RX = re.compile(
    r'\s+|(?P<str>"(?:[^"\\]|\\.)*")'
    r"|(?P<time>\d{4}-\d{2}-\d{2}(?:T\d{2}:\d{2}:\d{2}(?:\.\d+)?Z)?)"
    r"|(?P<dur>(?:\d+(?:ns|us|ms|mo|[smhdwy]))+)(?![\w.])"
    r"|(?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"
    r"|(?P<name>[A-Za-z_]\w*)"
    r"|(?P<op>=>|==|!=|>=|<=|=~|!~|[-+*/%<>()\[\]{},:.])"
)
#: a ``/`` where an operand is expected opens a regex literal
_REGEX_RX = re.compile(r"/((?:[^/\\]|\\.)*)/")

#: standard Flux string escapes (public spec: \n \r \t \" \\ \$);
#: unknown sequences pass through verbatim
_FLUX_ESCAPES = {"n": "\n", "r": "\r", "t": "\t", '"': '"',
                 "\\": "\\", "$": "$"}


def _unescape_flux_str(s: str) -> str:
    """One regex pass over Flux escapes — sequential replaces corrupt
    inputs where an escaped backslash precedes an escape letter."""
    return re.sub(
        r"\\(.)",
        lambda m: _FLUX_ESCAPES.get(m.group(1), "\\" + m.group(1)),
        s,
    )


def _tokenize(src: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    pos = 0
    while pos < len(src):
        kind, text = out[-1] if out else ("op", "(")
        operand = ((kind == "op" and text not in ")]}")
                   or (kind == "name" and text in _KEYWORDS))
        m = (_REGEX_RX.match(src, pos) if operand and src[pos] == "/"
             else None)
        if m:
            out.append(("regex", m.group(1)))
        else:
            m = _TOKEN_RX.match(src, pos)
            if not m:
                raise FluxError(
                    f"cannot parse expression fragment {src[pos]!r} in {src!r}")
            if m.lastgroup:
                out.append((m.lastgroup, m.group(m.lastgroup)))
        pos = m.end()
    return out


class _Parser:
    def __init__(self, src: str, params: tuple):
        self.src, self.params = src, params
        self.toks = _tokenize(src)
        self.i = 0

    def at(self, *texts: str) -> bool:
        kind, text = self.toks[self.i] if self.i < len(self.toks) else ("", "")
        return kind in ("op", "name") and text in texts

    def take(self) -> tuple[str, str]:
        if self.i >= len(self.toks):
            raise FluxError(f"truncated expression {self.src!r}")
        self.i += 1
        return self.toks[self.i - 1]

    def expect(self, text: str) -> None:
        if not self.at(text):
            raise FluxError(f"expected {text!r} in {self.src!r}")
        self.i += 1

    def name(self) -> str:
        kind, text = self.take()
        if kind != "name":
            raise FluxError(f"expected a name, got {text!r} in {self.src!r}")
        return text

    def done(self, node: Node) -> Node:
        if self.i < len(self.toks):
            raise FluxError(
                f"cannot parse expression fragment {self.toks[self.i][1]!r} "
                f"in {self.src!r}")
        return node

    def items(self, close: str, item: Callable) -> tuple:
        out = []
        while not self.at(close):
            out.append(item())
            if not self.at(close):
                self.expect(",")
        self.i += 1
        return tuple(out)

    def chain(self, ops: tuple, operand: Callable) -> Node:
        node = operand()
        while self.at(*ops):
            node = Binary(self.take()[1], node, operand())
        return node

    def expr(self) -> Node:
        if not self.at("if"):
            return self.chain(("or",), lambda: self.chain(("and",), self.negation))
        self.i += 1
        test = self.expr()
        self.expect("then")
        then = self.expr()
        self.expect("else")
        return Cond(test, then, self.expr())

    def negation(self) -> Node:
        if self.at("not"):
            self.i += 1
            return Unary("not", self.negation())
        if self.at("exists"):
            self.i += 1
            arg = self.unary()
            if not isinstance(arg, Ref):
                raise FluxError(f"exists needs a record member in {self.src!r}")
            return Unary("exists", arg)
        node = self.sum()
        if self.at(*_COMPARISONS):
            node = Binary(self.take()[1], node, self.sum())
        return node

    def sum(self) -> Node:
        return self.chain(("+", "-"), lambda: self.chain(("*", "/", "%"), self.unary))

    def unary(self) -> Node:
        if self.at("-"):
            self.i += 1
            return Unary("-", self.unary())
        return self.primary()

    def labelled(self) -> tuple[str, Node]:
        label = self.name()
        self.expect(":")
        return label, self.expr()

    def primary(self) -> Node:
        kind, text = self.take()
        if kind == "str":
            return Lit("string", _unescape_flux_str(text[1:-1]))
        if kind == "num":
            if any(c in text for c in ".eE"):
                return Lit("float", float(text))
            return Lit("int", int(text))
        if kind == "dur":
            return Lit("duration", duration_ns(text))
        if kind in ("time", "regex"):
            return Lit(kind, text)
        if text == "(":
            node = self.expr()
            if not self.at(")"):
                raise FluxError(f"unbalanced parens in {self.src!r}")
            self.i += 1
            return node
        if text == "[":
            return Array(self.items("]", self.expr))
        if text == "{":
            base = None
            if (self.i + 1 < len(self.toks)
                    and self.toks[self.i][0] == "name"
                    and self.toks[self.i + 1] == ("name", "with")):
                base = self.name()
                self.i += 1
            return Record(base, self.items("}", self.labelled))
        if kind != "name" or text in _KEYWORDS:
            raise FluxError(
                f"cannot parse expression fragment {text!r} in {self.src!r}")
        if text in ("true", "false"):
            return Lit("bool", text == "true")
        if text in self.params:
            if self.at("."):
                self.i += 1
                return Ref(text, self.name())
            if self.at("["):
                self.i += 1
                kind, field = self.take()
                if kind != "str":
                    raise FluxError(f"expected a quoted column name in {self.src!r}")
                self.expect("]")
                return Ref(text, _unescape_flux_str(field[1:-1]))
            return Ref(text, None)
        name = text
        while self.at("."):
            self.i += 1
            name += "." + self.name()
        if not self.at("("):
            raise FluxError(
                f"unsupported function or identifier {name!r} in {self.src!r}")
        self.i += 1
        return Call(name, self.items(")", self.labelled))


def parse_fn(src: str) -> Fn:
    """Parse ``(params) => body``."""
    p = _Parser(src, ())
    if not p.at("("):
        raise FluxError(f"expected a function (params) => body, got {src!r}")
    p.i += 1
    params = p.items(")", p.name)
    p.expect("=>")
    p.params = params
    return Fn(params, p.done(p.expr()))


def parse_expr(src: str, params: tuple) -> Node:
    """Parse a bare expression whose members resolve against ``params``."""
    p = _Parser(src, params)
    return p.done(p.expr())


def const(node: Node):
    """The Python value of a literal (a negated number included), or
    None when ``node`` is not a plain literal."""
    match node:
        case Lit("int" | "float" | "string" | "bool", value):
            return value
        case Unary("-", Lit("int" | "float", value)):
            return -value
    return None


def refs(node: Node) -> Iterator[Ref]:
    """Every member reference in ``node``, left to right."""
    match node:
        case Ref():
            yield node
        case Unary(_, arg):
            yield from refs(arg)
        case Binary(_, left, right):
            yield from refs(left)
            yield from refs(right)
        case Cond(test, then, other):
            for n in (test, then, other):
                yield from refs(n)
        case Call(_, pairs) | Record(_, pairs):
            for _, n in pairs:
                yield from refs(n)
        case Array(items):
            for n in items:
                yield from refs(n)


def conjuncts(node: Node) -> list[Node]:
    """The operands of a top-level ``and`` chain."""
    if isinstance(node, Binary) and node.op == "and":
        return [*conjuncts(node.left), *conjuncts(node.right)]
    return [node]


def eq_literals(node: Node, field: str) -> set | None:
    """The set of string values a predicate provably constrains member
    ``field`` to, or None when it is unconstrained.

    Sound and conservative: a disjunction constrains only if every
    disjunct does (the union of their sets); in a conjunction the
    constraining operands intersect and the others (inequalities,
    regexes, other columns) add nothing, since they only remove more
    rows."""
    match node:
        case Binary("or", left, right):
            a, b = eq_literals(left, field), eq_literals(right, field)
            return None if a is None or b is None else a | b
        case Binary("and", left, right):
            a, b = eq_literals(left, field), eq_literals(right, field)
            return b if a is None else a if b is None else a & b
        case Binary("==", Ref(_, name), Lit("string", value)) if name == field:
            return {value}
    return None


def _mod(a, b):
    """Flux (Go) remainder: the sign of the dividend, as Spark's ``%``
    (Python's ``%`` takes the divisor's sign)."""
    r = math.fmod(a, b)
    return int(r) if isinstance(a, int) and isinstance(b, int) else r


_PY_OPS = {
    "+": operator.add, "-": operator.sub, "*": operator.mul,
    "/": operator.truediv, "%": _mod,
    "==": operator.eq, "!=": operator.ne, ">=": operator.ge,
    "<=": operator.le, ">": operator.gt, "<": operator.lt,
}


def compile_scalar(src: str | Node, colname: Callable[[str], str]):
    """Compile an expression (source text over ``r`` and
    ``accumulator``, or a parsed tree) to ``fn(row: dict, acc: dict)``.
    A member of ``accumulator`` reads ``acc``; any other member reads
    ``row[colname(field)]``, and a bare parameter is ``row`` itself.
    Used where the rows are folded one by one in Python: the general
    ``reduce()`` path and keep/drop column predicates."""
    node = parse_expr(src, ("r", "accumulator")) if isinstance(src, str) else src

    def walk(n):
        match n:
            case Lit("int" | "float" | "string" | "bool" | "duration", value):
                return lambda row, acc: value
            case Lit("regex", _):
                raise FluxError("regex literal needs =~ or !~")
            case Ref("accumulator", field):
                return lambda row, acc: acc[field]
            case Ref(_, None):
                return lambda row, acc: row
            case Ref(_, field):
                c = colname(field)
                return lambda row, acc: row[c]
            case Unary("-", arg):
                f = walk(arg)
                return lambda row, acc: -f(row, acc)
            case Unary("not", arg):
                f = walk(arg)
                return lambda row, acc: not f(row, acc)
            case Unary("exists", arg):
                f = walk(arg)
                # a missing float reads NaN from pandas, a missing string None
                return lambda row, acc: (v := f(row, acc)) is not None and v == v
            case Binary("and", left, right):
                a, b = walk(left), walk(right)
                return lambda row, acc: a(row, acc) and b(row, acc)
            case Binary("or", left, right):
                a, b = walk(left), walk(right)
                return lambda row, acc: a(row, acc) or b(row, acc)
            case Binary("=~" | "!~" as op, left, Lit("regex", pattern)):
                f, rx, want = walk(left), re.compile(pattern), op == "=~"
                return lambda row, acc: (
                    isinstance(v := f(row, acc), str)
                    and (rx.search(v) is not None) == want)
            case Binary(op, left, right) if op in _PY_OPS:
                a, b, o = walk(left), walk(right), _PY_OPS[op]
                return lambda row, acc: o(a(row, acc), b(row, acc))
            case Cond(test, then, other):
                c, t, e = walk(test), walk(then), walk(other)
                return lambda row, acc: t(row, acc) if c(row, acc) else e(row, acc)
            case Call(name, _):
                raise FluxError(f"unsupported function {name!r} in a row-by-row fold")
        raise FluxError(
            f"unsupported {type(n).__name__.lower()} expression in a row-by-row fold")

    return walk(node)
