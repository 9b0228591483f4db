"""InfluxQL subset frontend.

Covers the dashboard-query core of InfluxQL 1.x (the language the
provisioned engine serves on ``/query`` via DBRP — semantics per public
InfluxQL docs):

    SELECT <fn>(<field>) [AS <alias>] [, ...] | <field list>
         | <transform>(<agg>(<field>)[, args])          -- nested (Grafana)
         | <agg-arithmetic: mean(v) * 8 + 1, max(v) - min(v)>
         | TOP/BOTTOM/DISTINCT/SAMPLE(...)              -- multi-row
         | ABS/…/SQRT/LOG/POW(<field>[, x])             -- pointwise math
         | EXPONENTIAL_MOVING_AVERAGE/RSI/CMO/KAMA/…(<field>, n)  -- TA
    FROM <measurement>[, <measurement> ...] | /regex/ | (SELECT ...)
    [WHERE <time predicates> [AND <tag> =|!=|=~|!~ ...] [AND (<t> OR <t>)]
           [AND <field> <op> <num>]]
    [GROUP BY time(<interval>[, <offset>])[, <tag> ...]]
           [fill(null|none|0|<num>|previous|linear)]
    [ORDER BY time [ASC|DESC]]
    [LIMIT <n>] [OFFSET <n>] [SLIMIT <n>] [SOFFSET <n>]
    [tz('America/Chicago')]   -- local window alignment + local literals

    SHOW MEASUREMENTS | TAG KEYS | TAG VALUES WITH KEY ... | FIELD KEYS
         | SERIES    [FROM ...] [WHERE ...] [LIMIT n]

Aggregates: count sum mean median mode stddev spread percentile
integral min max first last. Selectors MIN/MAX/FIRST/LAST keep
InfluxDB selector semantics (the row's timestamp). GROUP BY time
windows align to the epoch (plus optional offset); ``fill`` controls
empty windows (requires an explicit WHERE time range, like InfluxDB
itself).

The parser is a small regex/recursive-descent over this grammar; the
compiled plan is pure DataFrame composition (one groupBy per query +
the window-spine join for fill).

Field typing: every read resolves a field's value slot
(f_float / f_str / f_bool) from the frame's ``ftype`` discriminator —
string and bool field values flow through raw selects, star selects,
WHERE (incl. OR groups, per-POINT for cross-field conditions),
type-generic aggregates (COUNT/DISTINCT/MODE/FIRST/LAST), selector
companions, and TOP/BOTTOM/SAMPLE. Numeric-only aggregates on a
non-numeric field yield empty results (stock), never cast errors.
"""

from __future__ import annotations

import operator
import re
from collections.abc import Sequence
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from ..operators import aggregates as agg_ops
from ..operators import selectors as sel_ops
from ..operators import sortlimit as sl_ops
from ..operators.windows import duration_ns, window_spine, window_start_ns
from ..operators.core import push_time_filter
from ..schema import SLOT_OF_FTYPE, promoted_tags, tag_set_key, unify_numeric_value


class InfluxQLError(ValueError):
    pass


_DURATION_RX = re.compile(r"^(\d+)(ns|u|µ|ms|s|m|h|d|w)$")
# field-position regex selections (`SELECT /val/`, `mean(/val/)`)
# carry their pattern behind this marker through the (fn, fld, alias)
# tuples — expanded like `*` restricted to matching keys
_RE_FLD = "\x00re:"
_AGGS = {
    "count": "count", "sum": "sum", "mean": "mean", "median": "median",
    "mode": "mode", "stddev": "stddev", "spread": "spread",
}
# single-row aggregates with extra arguments, computed as group-local
# expressions (percentile rank / trapezoid fold over the group's points)
_ARG_AGGS = {"percentile", "integral"}
_SELECTORS = {"min", "max", "first", "last"}
# functions that emit multiple rows per group — must be the sole selection
_MULTI_ROW = {"top", "bottom", "distinct", "sample"}
# per-point transform functions (windowed per series, not aggregated)
_TRANSFORMS = {
    "derivative", "non_negative_derivative",
    "difference", "non_negative_difference",
    "cumulative_sum", "moving_average", "elapsed",
}
# technical-analysis transforms (InfluxQL 1.8 family) — recursive per
# series, dispatched to the analytics operators
_TA_FNS = {
    "exponential_moving_average", "double_exponential_moving_average",
    "triple_exponential_moving_average", "relative_strength_index",
    "chande_momentum_oscillator", "kaufmans_efficiency_ratio",
    "kaufmans_adaptive_moving_average",
}
# per-row math transforms: FN(field[, arg]) applied pointwise
_MATH_1ARG = {
    "abs", "acos", "asin", "atan", "ceil", "cos", "exp", "floor",
    "ln", "log2", "log10", "round", "sin", "sqrt", "tan",
}
_MATH_2ARG = {"log", "pow", "atan2"}
_MATH_FNS = _MATH_1ARG | _MATH_2ARG
# functions allowed inside arithmetic WHERE conditions (the InfluxQL
# math set; all map 1:1 onto Spark SQL builtins via F.expr)
_EXPR_FNS = _MATH_FNS


@dataclass
class InfluxQLQuery:
    fields: list[tuple[str | None, str, str]]  # (fn, field, alias)
    measurement: str
    time_start_ns: int | None = None
    time_stop_ns: int | None = None
    tag_filters: list[tuple[str, str, str]] = field(default_factory=list)
    field_filters: list[tuple[str, str, float]] = field(default_factory=list)
    # parenthesized OR groups: each inner list of (name, op, value) tag
    # conditions is OR'd; groups AND with everything else
    or_tag_groups: list[list[tuple[str, str, str]]] = field(default_factory=list)
    measurement_regex: str | None = None
    # FROM m1, m2 comma lists; single-measurement queries keep this at
    # [measurement]. Multi-measurement (list or regex) queries emit one
    # series per measurement, as InfluxDB does.
    measurements: list[str] = field(default_factory=list)
    # nested transform-over-aggregate selections:
    # (outer_transform, inner_agg, field, alias) — DERIVATIVE(MEAN(v), 1s)
    nested: list[tuple[str, str, str, str]] = field(default_factory=list)
    # arithmetic selections: (expr_tree, alias); tree nodes are
    # ("num", x) | ("agg", fn, field, args) | ("field", name)
    # | ("bin", op, l, r)
    arith: list[tuple[tuple, str]] = field(default_factory=list)
    # per-row (non-aggregate) arithmetic projections: value * 8 / 1024
    raw_arith: list[tuple[tuple, str]] = field(default_factory=list)
    group_time_ns: int | None = None
    group_time_offset_ns: int = 0
    group_tags: list[str] = field(default_factory=list)
    fill: str | float | None = None
    order_desc: bool = False
    limit: int | None = None
    offset: int = 0
    slimit: int | None = None
    soffset: int = 0
    # extra positional args of transform fns, keyed by output alias
    fn_args: dict[str, list[str]] = field(default_factory=dict)
    # tz('Zone'): GROUP BY time() windows align to local wall clock
    tzname: str | None = None
    # field key → populated value slot ('f_float'/'f_str'/'f_bool'),
    # resolved at execution from the frame's ftype discriminator —
    # empty on float-only frames (the lookup is gated on the string/
    # bool slots existing at all, so suite/subquery frames never pay
    # the small distinct job). Every read takes a field's value from
    # this slot, so string and bool field values flow through /query.
    field_slots: dict = field(default_factory=dict)
    # SELECT *::field — stock star variant that pivots ONLY fields
    # (tags stay off the row); plain * rides tags along
    star_fields_only: bool = False
    # set when star expansion finds no eligible field: the statement
    # answers with no series (stock), enforced by _execute_aggregate's
    # empty short-circuit
    force_empty: bool = False


def _parse_duration(tok: str) -> int:
    m = _DURATION_RX.match(tok)
    if not m:
        raise InfluxQLError(f"bad duration {tok!r}")
    n, unit = int(m.group(1)), m.group(2)
    unit = {"u": "us", "µ": "us"}.get(unit, unit)
    return n * duration_ns(f"1{unit}")


_TIME_RX = re.compile(
    r"time\s*(>=|<=|>|<)\s*"
    r"(?:'([^']+)'|(\d+)(ns|u|µ|ms|s)?"
    r"|now\(\)\s*(?:([+-])\s*(\d+(?:ns|u|µ|ms|s|m|h|d|w)))?)",
    re.IGNORECASE,
)
_TAG_RX = re.compile(r"\"?(\w+)\"?\s*(=|!=)\s*'([^']*)'")
_TAG_REGEX_RX = re.compile(r"\"?(\w+)\"?\s*(=~|!~)\s*/([^/]*)/")
_FIELD_RX = re.compile(r"\"?(\w+)\"?\s*(>=|<=|>|<|=|!=)\s*(-?\d+(?:\.\d+)?)$")
_BOOL_WHERE_RX = re.compile(r"\"?(\w+)\"?\s*(=|!=)\s*(true|false)\s*$", re.I)


def _ts_to_ns(lit: str) -> int:
    import datetime as dt

    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            d = dt.datetime.strptime(lit, fmt).replace(tzinfo=dt.timezone.utc)
            return int(d.timestamp()) * 10**9
        except ValueError:
            continue
    raise InfluxQLError(f"bad time literal {lit!r}")


_ARITH_TOKEN_RX = re.compile(
    r"\s*(\w+\s*\(\s*[^()]*\s*\)|\d+\.\d+|\d+|[+\-*/]|\"[\w]+\"|\w+)"
)


def _parse_select_arith(src: str):
    """Parse ``mean(v) * 8`` / ``max(v) - min(v)`` style SELECT items
    into an expression tree (standard precedence: ``* /`` over
    ``+ -``). Returns None when ``src`` isn't an arithmetic chain of
    aggregate calls and numeric literals (callers fall back to the
    plain single-function grammar)."""
    tokens, pos = [], 0
    while pos < len(src):
        m = _ARITH_TOKEN_RX.match(src, pos)
        if not m:
            return None
        tokens.append(m.group(1))
        pos = m.end()
    if not tokens or not any(t in "+-*/" for t in tokens):
        return None

    def atom(i):
        t = tokens[i]
        fm = re.match(r"(?i)^(\w+)\s*\(\s*\"?([\w*]+)\"?\s*(?:,\s*([^)]*))?\)$", t)
        if fm:
            fn = fm.group(1).lower()
            if fn not in _AGGS and fn not in _SELECTORS and fn not in _ARG_AGGS:
                raise InfluxQLError(f"unsupported function {fn!r} in expression")
            args = [a.strip().strip('"') for a in (fm.group(3) or "").split(",") if a.strip()]
            return ("agg", fn, fm.group(2), tuple(args)), i + 1
        if re.match(r"^\d", t):
            return ("num", float(t)), i + 1
        if re.match(r'^"?\w+"?$', t):
            # bare field reference: SELECT value * 8 / 1024 (the
            # Grafana unit-conversion idiom) — per-row projection atom
            return ("field", t.strip('"')), i + 1
        raise InfluxQLError(f"cannot parse expression token {t!r}")

    def mul(i):
        node, i = atom(i)
        while i < len(tokens) and tokens[i] in "*/":
            op = tokens[i]
            rhs, i = atom(i + 1)
            node = ("bin", op, node, rhs)
        return node, i

    def add(i):
        node, i = mul(i)
        while i < len(tokens) and tokens[i] in "+-":
            op = tokens[i]
            rhs, i = mul(i + 1)
            node = ("bin", op, node, rhs)
        return node, i

    try:
        tree, i = add(0)
    except InfluxQLError:
        raise
    if i != len(tokens):
        raise InfluxQLError(f"trailing tokens in expression {src!r}")
    return tree


def _tree_leaves(tree):
    """The atoms of an expression tree, left to right."""
    if tree[0] == "bin":
        yield from _tree_leaves(tree[2])
        yield from _tree_leaves(tree[3])
    else:
        yield tree


def _tree_atom_kinds(tree) -> set[str]:
    """Atom kinds ('agg'/'field'/'num') present in an expression tree."""
    return {leaf[0] for leaf in _tree_leaves(tree)}


def _tree_fields(tree) -> set[str]:
    """Field keys an expression tree reads: its bare field atoms and
    the fields its aggregate calls read."""
    return {leaf[1] if leaf[0] == "field" else leaf[2]
            for leaf in _tree_leaves(tree) if leaf[0] != "num"}


def _selected_fields(ast: InfluxQLQuery) -> set[str]:
    """Every field key the selection reads: plain and function
    selections, nested transforms and both kinds of arithmetic."""
    out = {f for _fn, f, _a in ast.fields if f}
    out.update(fld for _o, _i, fld, _a in ast.nested)
    for tree, _a in (*ast.arith, *ast.raw_arith):
        out |= _tree_fields(tree)
    return out


def _default_arith_alias(tree) -> str:
    """InfluxQL names unaliased expressions after the first function."""
    if tree[0] == "agg":
        return tree[1]
    if tree[0] == "field":
        return tree[1]
    if tree[0] == "bin":
        return _default_arith_alias(tree[2])
    return "expr"


_QUOTED_SPAN_RX = re.compile(
    r"""'(?:\\.|[^'\\])*'|"(?:\\.|[^"\\])*\"""", re.S
)


def _sub_outside_quotes(pattern: str, repl: str, text: str) -> str:
    """``re.sub`` that leaves single-quoted string literals and
    double-quoted identifiers untouched, so conditions like
    ``tag = 'a<>b'`` and values containing ``'::tag'`` survive."""
    out, pos = [], 0
    for m in _QUOTED_SPAN_RX.finditer(text):
        out.append(re.sub(pattern, repl, text[pos:m.start()]))
        out.append(m.group(0))
        pos = m.end()
    out.append(re.sub(pattern, repl, text[pos:]))
    return "".join(out)


def _search_outside_quotes(pattern: str, text: str):
    """``re.search`` restricted to text outside quoted spans."""
    masked = _QUOTED_SPAN_RX.sub(lambda m: " " * len(m.group(0)), text)
    return re.search(pattern, masked)


#: a /regex/ literal where the grammar allows one — after =~ / !~,
#: FROM, an opening paren (fn(/re/)), a comma, or SELECT. Anchoring on
#: the preceding token keeps division expressions (`a / 2 ... b / 3`)
#: from being mistaken for a regex span.
_REGEX_LIT_SPAN_RX = re.compile(
    r"(?:=~|!~|\bFROM\b|\(|,|\bSELECT\b)\s*/(?:\\.|[^/\\])+/",
    re.I | re.S,
)

#: select-list marker for `*::tag` (replaced before the namespace
#: strip so it survives parsing; expanded to all tag keys at execution)
_STARTAG = "__startag__"


def _mask_quotes_and_regex(text: str) -> str:
    masked = _QUOTED_SPAN_RX.sub(lambda m: " " * len(m.group(0)), text)
    return _REGEX_LIT_SPAN_RX.sub(lambda m: " " * len(m.group(0)), masked)


def _sub_outside_quotes_and_regex(pattern: str, repl: str, text: str) -> str:
    """``re.sub`` skipping quoted spans AND /regex/ literals, so the
    namespace strip leaves a regex field selection whose pattern
    contains ``::field``/``::tag`` intact. ``repl`` must be a plain
    string (no group refs)."""
    masked = _mask_quotes_and_regex(text)
    out, last = [], 0
    for m in re.finditer(pattern, masked):
        out.append(text[last:m.start()])
        out.append(repl)
        last = m.end()
    out.append(text[last:])
    return "".join(out)


def _search_outside_quotes_and_regex(pattern: str, text: str):
    return re.search(pattern, _mask_quotes_and_regex(text))


def _parse_where(where: str, out: InfluxQLQuery, now_ns: int | None = None) -> None:
    """Parse a WHERE clause (time bounds, tag =/!=/=~/!~, field
    comparisons, parenthesized OR groups) into ``out`` — shared by
    SELECT and SHOW parsing. ``now_ns`` anchors ``now() ± duration``
    bounds (the standard Grafana time-picker shape); defaults to the
    wall clock."""
    # `<>` is InfluxQL's alternate not-equals spelling (rewritten only
    # outside quoted literals)
    where = _sub_outside_quotes(r"<>", "!=", where) if where else where
    for cond in re.split(r"(?i)\s+AND\s+", where) if where else []:
        cond = cond.strip()
        if not cond:
            continue
        # fullmatch: a prefix match would swallow trailing tokens
        # (`time < now() ZZGARBAGEZZ` as `time < now()`); stock rejects
        # trailing garbage on every statement form
        tm = _TIME_RX.fullmatch(cond)
        if tm:
            op = tm.group(1)
            if tm.group(2) is None and tm.group(3) is None:
                # now() [± duration]
                import time as _time

                ns = now_ns if now_ns is not None else _time.time_ns()
                if tm.group(6):
                    delta = _parse_duration(tm.group(6))
                    ns = ns - delta if tm.group(5) == "-" else ns + delta
            elif tm.group(2):
                ns = _ts_to_ns(tm.group(2))
                if out.tzname:
                    # with tz(), string time literals are local wall
                    # clock (InfluxQL semantics); epoch literals stay
                    # absolute
                    import datetime as dt
                    from zoneinfo import ZoneInfo

                    local = dt.datetime.fromtimestamp(
                        ns // 10**9, dt.timezone.utc
                    ).replace(tzinfo=ZoneInfo(out.tzname))
                    ns -= int(local.utcoffset().total_seconds()) * 10**9
            else:
                mult = {"ns": 1, "u": 10**3, "µ": 10**3, "ms": 10**6, "s": 10**9}[
                    tm.group(4) or "ns"
                ]
                ns = int(tm.group(3)) * mult
            if op in (">=", ">"):
                out.time_start_ns = ns + (1 if op == ">" else 0)
            else:
                out.time_stop_ns = ns + (1 if op == "<=" else 0)
            continue
        bare = (
            cond[1:-1].strip()
            if cond.startswith("(") and cond.endswith(")")
            else cond
        )
        if re.search(r"(?i)\s+OR\s+", bare):
            # OR disjunction of tag conditions — parenthesized or bare;
            # every member is kept
            group: list[tuple[str, str, object]] = []
            for sub in re.split(r"(?i)\s+OR\s+", bare):
                sub = sub.strip()
                gm = _TAG_RX.fullmatch(sub) or _TAG_REGEX_RX.fullmatch(sub)
                if gm:
                    group.append((gm.group(1), gm.group(2), gm.group(3)))
                    continue
                fm = _FIELD_RX.match(sub)
                if fm:
                    # numeric member: a FIELD condition (stock supports
                    # `(v > 5 OR v < 1)`)
                    group.append(
                        (fm.group(1), fm.group(2), float(fm.group(3)))
                    )
                    continue
                raise InfluxQLError(f"cannot parse OR condition {sub!r}")
            out.or_tag_groups.append(group)
            continue
        fm2 = _FIELD_RX.match(cond)
        if fm2:
            # numeric RHS ⇒ field comparison (v1 tags are strings),
            # = and != included
            out.field_filters.append((fm2.group(1), fm2.group(2), float(fm2.group(3))))
            continue
        bm = _BOOL_WHERE_RX.fullmatch(cond)
        if bm:
            # unquoted boolean literal: a bool-field condition (flag =
            # true). Routed through tag_filters so execution can
            # resolve the name field-first (bool field) or fall back
            # to a string tag compare ('true') like stock.
            out.tag_filters.append(
                (bm.group(1), bm.group(2), bm.group(3).lower())
            )
            continue
        # fullmatch: a prefix match would silently ignore trailing text
        gm = _TAG_RX.fullmatch(cond)
        if gm:
            out.tag_filters.append((gm.group(1), gm.group(2), gm.group(3)))
            continue
        rm = _TAG_REGEX_RX.fullmatch(cond)
        if rm:
            out.tag_filters.append((rm.group(1), rm.group(2), rm.group(3)))
            continue
        # field arithmetic: `value * 2 > 100`, `(value + 1) / 2 <= 5` —
        # stored with a marker prefix and compiled to a Column at
        # execution (identifiers resolve to field columns there)
        em = re.match(
            r"^([\w .+\-*/()]+?)\s*(>=|<=|!=|=|>|<)\s*(-?\d+(?:\.\d+)?)\s*$",
            cond,
        )
        if em and re.search(r"[+\-*/]", em.group(1)):
            out.field_filters.append(
                ("__expr__" + em.group(1).strip(), em.group(2), float(em.group(3)))
            )
            continue
        raise InfluxQLError(f"cannot parse WHERE clause {cond!r}")


def parse_influxql(q: str, now_ns: int | None = None) -> InfluxQLQuery:
    text = q.strip().rstrip(";")
    # ``ident::field`` / ``ident::tag`` (the Chronograf/Grafana
    # query-builder namespace disambiguators) carry no semantics here —
    # field and tag namespaces don't collide in the canonical schema —
    # so strip them everywhere (SELECT, WHERE, GROUP BY, subqueries).
    # ``::<type>`` value casts are type FILTERS in the v1 engine; a
    # typed error beats silently ignoring them.
    # stock star variants BEFORE the namespace strip: `*::field`
    # pivots only fields; a bare `*::tag` select has no field to
    # return — stock rejects it ("statement must have at least one
    # field in select clause")
    star_fields_only = bool(
        _search_outside_quotes_and_regex(r"\*\s*::field\b", text)
    )
    # `*::tag` expands to ALL tag keys as selected columns — replaced
    # with a marker BEFORE the namespace strip, which would otherwise
    # turn `SELECT *::tag, v` into a raw `*` (fields AND tags).
    # A select of ONLY `*::tag` has no field — stock's typed error,
    # checked after the select list is parsed. Both rewrites skip
    # /regex/ literals so a pattern containing `::field`/`::tag`
    # survives intact.
    text = _sub_outside_quotes_and_regex(r"\*\s*::tag\b", _STARTAG, text)
    text = _sub_outside_quotes_and_regex(r"::(?:field|tag)\b", "", text)
    bad_cast = _search_outside_quotes_and_regex(r"::(\w+)", text)
    if bad_cast:
        raise InfluxQLError(
            f"type cast ::{bad_cast.group(1)} is not supported "
            "(::field and ::tag are)"
        )
    tzname = None
    tzm = re.search(r"(?i)\s+tz\(\s*'([^']+)'\s*\)\s*$", text)
    if tzm:
        tzname = tzm.group(1)
        text = text[: tzm.start()]
    m = re.match(
        r"(?is)^SELECT\s+(?P<sel>.+?)\s+FROM\s+"
        r"(?:/(?P<measrx>[^/]+)/|(?P<meas>\"?[\w.\-]+\"?(?:\s*,\s*\"?[\w.\-]+\"?)*))"
        r"(?:\s+WHERE\s+(?P<where>.+?))?"
        r"(?:\s+GROUP\s+BY\s+(?P<group>.+?))?"
        r"(?:\s+ORDER\s+BY\s+time\s+(?P<ord>ASC|DESC))?"
        r"(?:\s+LIMIT\s+(?P<limit>\d+))?"
        r"(?:\s+OFFSET\s+(?P<offset>\d+))?"
        r"(?:\s+SLIMIT\s+(?P<slimit>\d+))?(?:\s+SOFFSET\s+(?P<soffset>\d+))?$",
        text,
    )
    if not m:
        raise InfluxQLError(f"cannot parse: {q!r}")
    out = InfluxQLQuery(fields=[], measurement="")
    out.star_fields_only = star_fields_only
    out.tzname = tzname
    out.measurement_regex = m.group("measrx")
    if m.group("meas"):
        out.measurements = [
            p.strip().strip('"') for p in m.group("meas").split(",")
        ]
        out.measurement = out.measurements[0]

    # SELECT list
    # duplicate output names get stock's _N suffix (`SELECT
    # mean(a), mean(b)` → mean, mean_1), so every later by-name
    # reference is unambiguous
    _alias_seen: dict[str, int] = {}

    def _uniq(alias: str) -> str:
        n = _alias_seen.get(alias)
        if n is None:
            _alias_seen[alias] = 0
            return alias
        _alias_seen[alias] = n + 1
        return f"{alias}_{n + 1}"

    for part in re.split(r",(?![^()]*\))", m.group("sel")):
        part = part.strip()
        # nested transform-over-aggregate: DERIVATIVE(MEAN(value), 1s)
        nm = re.match(
            r"(?i)^(\w+)\s*\(\s*(\w+)\s*\(\s*\"?([\w*]+)\"?\s*\)"
            r"\s*(?:,\s*([^)]*))?\)(?:\s+AS\s+\"?(\w+)\"?)?$",
            part,
        )
        if nm and nm.group(1).lower() in (
            _TRANSFORMS | _TA_FNS | {"holt_winters", "holt_winters_with_fit"}
        ):
            outer, inner = nm.group(1).lower(), nm.group(2).lower()
            if inner not in _AGGS and inner not in _SELECTORS:
                raise InfluxQLError(f"cannot nest {inner!r} inside {outer!r}")
            alias = _uniq(nm.group(5) or outer)
            out.nested.append((outer, inner, nm.group(3), alias))
            if nm.group(4):
                out.fn_args[alias] = [a.strip().strip('"') for a in nm.group(4).split(",")]
            continue
        # arithmetic over aggregates/literals: mean(v) * 8, max(v)-min(v)
        am = re.match(r'(?is)^(.*?)(?:\s+AS\s+"?(\w+)"?)?$', part)
        expr_src, expr_alias = am.group(1).strip(), am.group(2)
        if expr_src == "*":
            # raw star projection: all tags + the field value
            out.fields.append((None, "*", _uniq(expr_alias or "value")))
            continue
        if expr_src == _STARTAG:
            # `*::tag`: all tag keys ride along as columns, expanded
            # against the frame at execution
            out.fields.append((None, _STARTAG, _uniq(expr_alias or "value")))
            continue
        rsel = re.match(r"^/(.+)/$", expr_src)
        if rsel:
            # regex selection: like * restricted to keys matching the
            # pattern (stock matches field AND tag keys)
            out.fields.append(
                (None, _RE_FLD + rsel.group(1), _uniq(expr_alias or "value"))
            )
            continue
        tree = _parse_select_arith(expr_src)
        if tree is not None and tree[0] == "bin":
            kinds = _tree_atom_kinds(tree)
            if "agg" in kinds and "field" in kinds:
                raise InfluxQLError(
                    f"cannot mix aggregate and raw field references in {part!r}"
                )
            if "field" in kinds:
                out.raw_arith.append(
                    (tree, _uniq(expr_alias or _default_arith_alias(tree)))
                )
            else:
                out.arith.append((tree, _uniq(expr_alias or _default_arith_alias(tree))))
            continue
        cd = re.match(
            r'(?i)^count\s*\(\s*distinct\s*\(\s*"?(\w+)"?\s*\)\s*\)'
            r'(?:\s+AS\s+"?(\w+)"?)?$',
            part,
        )
        if cd:
            # COUNT(DISTINCT(field)) — reference names the column `count`
            out.fields.append(("count_distinct", cd.group(1),
                               _uniq(cd.group(2) or "count")))
            continue
        # fn(/re/): the regex literal may itself contain parens
        # (mean(/^(a|b)/)), which the generic fm regex below cannot
        # bracket-match — recognize the regex-argument call first
        fr = re.match(
            r"(?i)^(\w+)\s*\(\s*/(.+)/\s*(?:,\s*([^)]*))?\)"
            r'(?:\s+AS\s+"?(\w+)"?)?$',
            part,
        )
        if fr:
            fn = fr.group(1).lower()
            if (fn not in _AGGS and fn not in _SELECTORS
                    and fn not in _ARG_AGGS and fn not in _MULTI_ROW):
                raise InfluxQLError(f"unsupported function {fn!r}")
            alias = _uniq(fr.group(4) or fn)
            out.fields.append((fn, _RE_FLD + fr.group(2), alias))
            if fr.group(3):
                out.fn_args[alias] = [a.strip().strip('"')
                                      for a in fr.group(3).split(",")]
            continue
        fm = re.match(r"(?i)^(\w+)\s*\(\s*([^)]*)\s*\)(?:\s+AS\s+\"?(\w+)\"?)?$", part)
        if fm:
            fn = fm.group(1).lower()
            if (fn not in _AGGS and fn not in _SELECTORS and fn not in _TRANSFORMS
                    and fn not in _ARG_AGGS and fn not in _MULTI_ROW
                    and fn not in _TA_FNS and fn not in _MATH_FNS):
                raise InfluxQLError(f"unsupported function {fn!r}")
            args = [a.strip().strip('"') for a in fm.group(2).split(",") if a.strip()]
            if not args:
                raise InfluxQLError(f"{fn} needs a field argument")
            alias = _uniq(fm.group(3) or fn)
            fld0 = args[0]
            rm0 = re.match(r"^/(.+)/$", fld0)
            if rm0:
                # agg(/re/): per-field expansion over matching keys,
                # like agg(*) (stock regex field selection)
                fld0 = _RE_FLD + rm0.group(1)
            out.fields.append((fn, fld0, alias))
            if len(args) > 1:
                out.fn_args[alias] = args[1:]
        else:
            cm = re.match(r'^"?([\w*]+)"?(?:\s+AS\s+"?(\w+)"?)?$', part)
            if not cm:
                raise InfluxQLError(f"bad select expression {part!r}")
            out.fields.append((None, cm.group(1),
                               _uniq(cm.group(2) or cm.group(1))))

    if any(f[1] == _STARTAG for f in out.fields):
        # stock: a statement whose select list yields no field errors;
        # tag-star mixed with aggregates is unsupported there too
        if any(f[0] is not None for f in out.fields):
            raise InfluxQLError(
                "cannot mix *::tag with aggregate functions"
            )
        if not ([f for f in out.fields if f[1] != _STARTAG]
                or out.arith or out.raw_arith or out.nested):
            raise InfluxQLError(
                "statement must have at least one field in select clause"
            )

    _parse_where(m.group("where") or "", out, now_ns)

    # GROUP BY — fill() rides on the clause without a comma, so extract
    # it from the raw text first, then parse the remaining tokens.
    group = m.group("group") or ""
    fill_m = re.search(
        r"(?i)fill\s*\(\s*(null|none|previous|linear|-?\d+(?:\.\d+)?)\s*\)", group
    )
    if fill_m:
        v = fill_m.group(1).lower()
        out.fill = float(v) if re.match(r"^-?\d", v) else v
        group = group[: fill_m.start()] + group[fill_m.end():]
    for g in re.split(r",(?![^()]*\))", group) if group.strip() else []:
        g = g.strip()
        if not g:
            continue
        tg = re.match(r"(?i)^time\s*\(\s*(\w+)\s*(?:,\s*(-?\w+)\s*)?\)$", g)
        if tg:
            out.group_time_ns = _parse_duration(tg.group(1))
            if out.group_time_ns <= 0:
                # stock's exact wording: clients match error text
                raise InfluxQLError("time dimension must have positive width")
            if tg.group(2):
                off = tg.group(2)
                sign = -1 if off.startswith("-") else 1
                out.group_time_offset_ns = sign * _parse_duration(off.lstrip("-"))
            continue
        if g == "*":
            # GROUP BY * — every tag, resolved against the frame at
            # execution (Grafana's per-series default)
            out.group_tags.append("*")
            continue
        # a GROUP BY item must be one identifier (bare word, or quoted
        # — quotes may carry spaces); two space-separated tokens like
        # `GROUP BY junk time(1h)` are a missing-comma syntax error in
        # stock InfluxQL, not a never-matching tag key
        if not re.match(r'^"[^"]+"$|^[\w.\-]+$', g):
            raise InfluxQLError(f"bad GROUP BY expression {g!r}")
        out.group_tags.append(g.strip('"'))

    out.order_desc = (m.group("ord") or "").upper() == "DESC"
    out.limit = int(m.group("limit")) if m.group("limit") else None
    out.offset = int(m.group("offset") or 0)
    out.slimit = int(m.group("slimit")) if m.group("slimit") else None
    out.soffset = int(m.group("soffset") or 0)
    return out


def _execute_transform(df: DataFrame, ast: InfluxQLQuery, by: list) -> DataFrame:
    """DERIVATIVE / DIFFERENCE / CUMULATIVE_SUM / MOVING_AVERAGE /
    ELAPSED (+ NON_NEGATIVE_*): per-point windowed transforms.

    InfluxQL merge semantics: points of all series merge into one
    ordered stream unless ``GROUP BY <tag>`` partitions them. First
    points with no predecessor (and suppressed negatives for the
    NON_NEGATIVE variants) drop, as InfluxDB does.
    """
    from ..operators import analytics as an_ops

    transforms = [(fn, fld, al) for fn, fld, al in ast.fields
                  if fn in _TRANSFORMS or fn in _TA_FNS]
    if ast.group_time_ns:
        raise InfluxQLError("transform functions do not support GROUP BY time()")
    if len(transforms) != len(ast.fields):
        raise InfluxQLError("cannot mix transform functions with other select items")
    order = ["time_ns", "ingest_seq"] if "ingest_seq" in df.columns else None

    def one(fn: str, fld: str, alias: str, df: DataFrame = df) -> DataFrame:
        # prefer a physical column of that name — subquery pseudo-points
        # carry their aliases ('value', 'n') as real columns; any other
        # name is a FIELD: read the value slot restricted to that
        # field's own rows (multi-field frames interleave; an unknown
        # field then yields no rows, like v1)
        src = fld if fld in df.columns else "f_float"
        if src == "f_float" and _null_dispatched(fn, fld, df,
                                                 ast.field_slots):
            # numeric-only transform over a string/bool slot field:
            # stock answers with no series (the NULL float slot would
            # leak null rows out of CUMULATIVE_SUM and feed the TA
            # kernels garbage; ELAPSED is any-type and skips this via
            # _ANYTYPE_AGGS)
            df = df.limit(0)
        if src != "f_float":
            from pyspark.sql import types as _T

            if not isinstance(df.schema[src].dataType, _T.NumericType):
                # transform of a non-numeric (subquery-promoted
                # string/bool) column: stock computes nothing — an
                # empty frame with the column re-typed double keeps
                # the output schema and avoids the ANSI cast crash
                # / lag-arithmetic AnalysisException
                df = df.limit(0).withColumn(src, F.lit(None).cast("double"))
        if src == "f_float" and fld != "*" and "field" in df.columns:
            df = df.filter(F.col("field") == fld)
        args = ast.fn_args.get(alias, [])
        if fn in ("derivative", "non_negative_derivative"):
            unit_s = _parse_duration(args[0]) / 1e9 if args else 1.0
            return an_ops.derivative(
                df, unit_seconds=unit_s, non_negative=fn.startswith("non_"),
                value=src, by=by, alias=alias, order=order,
            ).filter(F.col(alias).isNotNull())
        if fn in ("difference", "non_negative_difference"):
            return an_ops.difference(
                df, non_negative=fn.startswith("non_"), value=src, by=by,
                alias=alias, order=order,
            ).filter(F.col(alias).isNotNull())
        if fn == "cumulative_sum":
            return an_ops.cumulative_sum(df, value=src, by=by, alias=alias, order=order)
        if fn == "moving_average":
            if not args:
                raise InfluxQLError("MOVING_AVERAGE needs a window size")
            return an_ops.moving_average(
                df, n=int(args[0]), value=src, by=by, alias=alias, order=order
            )
        if fn == "elapsed":
            unit_s = _parse_duration(args[0]) / 1e9 if args else 1.0
            return an_ops.elapsed(
                df, unit_seconds=unit_s, by=by, alias=alias, order=order
            ).filter(F.col(alias).isNotNull())
        if fn in _TA_FNS:
            if not args:
                raise InfluxQLError(f"{fn.upper()} needs a period argument")
            return _apply_ta(fn, df, src, int(args[0]), by, alias).filter(
                F.col(alias).isNotNull()
            )
        raise InfluxQLError(f"unhandled transform {fn!r}")

    if len(transforms) == 1:
        fn, fld, alias = transforms[0]
        return one(fn, fld, alias).select("time", *by, alias)
    # InfluxQL multi-transform: each computed independently per series,
    # rows aligned on time — a row appears when ANY column is defined
    # (full outer join on the point identity).
    keys = [*by, "time_ns"] + (["ingest_seq"] if "ingest_seq" in df.columns else [])
    acc = None
    for fn, fld, alias in transforms:
        o = one(fn, fld, alias).select(*keys, alias)
        acc = o if acc is None else acc.join(o, on=keys, how="full")
    return acc.select(
        F.timestamp_micros(F.expr("time_ns div 1000")).alias("time"),
        *by,
        *[alias for _, _, alias in transforms],
    )


def _apply_ta(fn: str, df: DataFrame, src: str, n: int, by: list, alias: str) -> DataFrame:
    """Dispatch an InfluxQL technical-analysis transform to its
    analytics operator."""
    from ..operators import analytics as an_ops

    f = {
        "exponential_moving_average": an_ops.exponential_moving_average,
        "double_exponential_moving_average": an_ops.double_ema,
        "triple_exponential_moving_average": an_ops.triple_ema,
        "relative_strength_index": an_ops.relative_strength_index,
        "chande_momentum_oscillator": an_ops.chande_momentum_oscillator,
        "kaufmans_efficiency_ratio": an_ops.kaufmans_er,
        "kaufmans_adaptive_moving_average": an_ops.kaufmans_ama,
    }[fn]
    return f(df, n=n, value=src, by=by, alias=alias)


def _math_expr(fn: str, col: Column, args: list):
    """Pointwise math transform (InfluxQL 1.8): ABS/.../LOG(b)/POW/ATAN2.
    CEIL/FLOOR/ROUND return float64, as InfluxDB does."""
    one = {
        "abs": F.abs, "acos": F.acos, "asin": F.asin, "atan": F.atan,
        "cos": F.cos, "exp": F.exp, "ln": F.log, "log2": F.log2,
        "log10": F.log10, "sin": F.sin, "sqrt": F.sqrt, "tan": F.tan,
        "ceil": lambda c: F.ceil(c).cast("double"),
        "floor": lambda c: F.floor(c).cast("double"),
        "round": lambda c: F.round(c).cast("double"),
    }
    if fn in one:
        return one[fn](col)
    if not args:
        raise InfluxQLError(f"{fn.upper()} needs a second argument")
    x = float(args[0])
    if fn == "log":  # LOG(field, b): log base b
        return F.log(x, col)
    if fn == "pow":
        return F.pow(col, F.lit(x))
    if fn == "atan2":
        return F.atan2(col, F.lit(x))
    raise InfluxQLError(f"unhandled math function {fn!r}")


_SUBQUERY_MEAS = "__subquery__"


def _extract_subquery(text: str) -> tuple[str, str] | None:
    """``SELECT ... FROM ( <inner> ) <tail>`` → (inner, outer-with-
    placeholder); None when FROM names a measurement."""
    m = re.search(r"(?is)\bFROM\s*\(", text)
    if not m:
        return None
    start = m.end() - 1
    depth = 0
    for i in range(start, len(text)):
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                inner = text[start + 1 : i]
                outer = text[: m.start()] + f"FROM {_SUBQUERY_MEAS}" + text[i + 1 :]
                return inner, outer
    raise InfluxQLError("unbalanced parens in FROM subquery")


def _tag_col(name: str, columns) -> Column:
    """A tag's value: its promoted column when the frame has one, else
    its entry in the tags map."""
    return F.col(name) if name in columns else F.col("tags")[name]


def _tag_cond(columns, name: str, op: str, val) -> Column:
    """One tag condition (``=``, ``!=``, ``=~``, ``!~``) as a boolean
    Column — the compiler every statement's tag conditions go through."""
    return _cmp_cond(_tag_col(name, columns), op, val)


def _tag_conditions(where: InfluxQLQuery, columns, statement: str) -> list[Column]:
    """The WHERE clause of a statement that may only name tags (SHOW,
    SHOW CARDINALITY, DELETE, DROP SERIES) as conjuncts: one Column per
    tag condition and one disjunction per OR group. A field or
    arithmetic condition raises, naming ``statement``, before anything
    runs."""
    if where.field_filters or any(
        isinstance(v, float) for g in where.or_tag_groups for _n, _o, v in g
    ):
        raise InfluxQLError(f"{statement} does not support field conditions")
    conds = [_tag_cond(columns, *c) for c in where.tag_filters]
    for group in where.or_tag_groups:
        conds.append(reduce(operator.or_,
                            [_tag_cond(columns, *c) for c in group]))
    return conds


def _parse_where_only(where: str | None) -> InfluxQLQuery:
    """A bare WHERE clause parsed on its own (SHOW, DELETE)."""
    out = InfluxQLQuery(fields=[], measurement="")
    _parse_where(where or "", out)
    return out


def _map_tag_keys(df: DataFrame) -> list[str]:
    """Distinct tag keys of a tags-map frame — ONE small job bounded by
    tag-KEY cardinality (not values, not rows)."""
    return sorted(
        r[0]
        for r in df.select(F.explode(F.map_keys("tags")).alias("k"))
        .distinct()
        .collect()
    )


_TEXT_FORM_RX = re.compile(r"(?is)^\s*(?:SHOW|EXPLAIN)\b")


def parse_statement(text: str, now_ns: int | None = None) -> InfluxQLQuery | None:
    """Parse one v1 data statement, once. A SELECT comes back as the
    InfluxQLQuery that :func:`execute_influxql` runs without parsing it
    again (and resolves in place, so the caller reads the executed
    GROUP BY back from it). None for the forms execute_influxql compiles
    from their text: SHOW, EXPLAIN and ``SELECT … FROM (subquery)``."""
    if (_TEXT_FORM_RX.match(text)
            or _extract_subquery(text.strip().rstrip(";")) is not None):
        return None
    return parse_influxql(text, now_ns)


_INTO_RX = re.compile(
    r'(?is)^\s*(SELECT\s+.+?)\s+INTO\s+"?([\w.\-]+)"?\s+(FROM\s+.+)$'
)


def split_into(text: str) -> tuple[str, str] | None:
    """``SELECT … INTO <target> FROM …`` → (the SELECT without INTO,
    target measurement); None for any other statement."""
    m = _INTO_RX.match(text)
    return (f"{m.group(1)} {m.group(3)}", m.group(2)) if m else None


def select_into(store, org: str, db: str, statement: str,
                points: DataFrame) -> int:
    """Run ``SELECT … INTO <target> FROM …`` over ``points`` and write
    its rows back into bucket ``db`` as points of ``target``; returns
    the number of rows written. The v1 façade and the continuous-query
    runner both write back through here.

    The query's GROUP BY tags stay tags in the target and every other
    result column becomes a field of its own type; GROUP BY * writes
    every string column as a tag (``sources.io._into_split_cols``). One
    Spark job: the row count rides the write as an observation, and the
    type pins and tag keys come from the result schema. A field-type
    conflict raises the store's ``FieldTypeConflict``."""
    from pyspark.sql import Observation

    from ..sources.io import into_tag_keys, into_type_triples, result_to_points

    select, target = split_into(statement)
    ast = parse_influxql(select)
    into_tags = None if "*" in ast.group_tags else list(ast.group_tags)
    result = execute_influxql(points, ast,
                              field_types=store.field_types(org, db))
    obs = Observation()
    store.write_points(
        org, db,
        result_to_points(result, target, tag_cols=into_tags)
        .observe(obs, F.count(F.lit(1)).alias("n")),
        known_types=into_type_triples(result, target, tag_cols=into_tags),
        tag_keys=into_tag_keys(result, tag_cols=into_tags),
    )
    return obs.get["n"]


_DELETE_RX = re.compile(
    r'(?is)^\s*(?P<kw>DELETE|DROP\s+SERIES)\s+FROM\s+"?(?P<meas>[\w.\-]+)"?'
    r"(?:\s+WHERE\s+(?P<where>.+))?\s*$"
)


def measurement_delete(meas: str, where: str | None,
                       statement: str) -> tuple[int, int, Column]:
    """``DELETE FROM m [WHERE …]``, ``DROP SERIES FROM m [WHERE …]`` and
    ``DROP MEASUREMENT m`` → the store delete's ``(start_ns, stop_ns,
    predicate)`` for the points of ``meas`` that the WHERE clause
    selects; ``statement`` is the keyword its errors name. All three
    delete points (a series without points no longer exists here).
    Without a time bound the delete covers the whole signed time range:
    stock deletes MinNanoTime .. MaxNanoTime, so pre-1970 points go too.

    The WHERE clause goes through the same tag-condition compiler as
    SELECT and SHOW, over the stored tags map: a row is deleted exactly
    when SELECT with that WHERE clause returns it. A field or arithmetic
    condition raises, so nothing is deleted (stock rejects fields in a
    delete)."""
    cond = _parse_where_only(where)
    kw = " ".join(statement.upper().split())
    pred = reduce(operator.and_, _tag_conditions(cond, (), kw),
                  F.col("measurement") == meas)
    start = cond.time_start_ns if cond.time_start_ns is not None else -(2**62)
    stop = cond.time_stop_ns if cond.time_stop_ns is not None else 2**62
    return start, stop, pred


# v1 SHOW FIELD KEYS type names differ from our ftype discriminators
_V1_FIELD_TYPES = {"float": "float", "int": "integer", "uint": "unsigned",
                   "string": "string", "bool": "boolean"}

_SHOW_RX = re.compile(
    r"(?is)^SHOW\s+(?P<what>MEASUREMENTS|TAG\s+KEYS|TAG\s+VALUES|FIELD\s+KEYS"
    r"|SERIES)"
    r"(?:\s+ON\s+\"?(?P<db>[\w.\-]+)\"?)?"
    r"(?:\s+FROM\s+(?:/(?P<measrx>[^/]+)/|\"?(?P<meas>[\w.\-]+)\"?))?"
    r"(?:\s+WITH\s+MEASUREMENT\s*(?:=~\s*/(?P<wmrx>[^/]+)/"
    r"|=\s*\"?(?P<wmeq>[\w.\-]+)\"?))?"
    r"(?:\s+WITH\s+KEY\s*(?:=\s*\"?(?P<key>\w+)\"?|=~\s*/(?P<keyrx>[^/]+)/"
    r"|\s+IN\s*\(\s*(?P<keys>[^)]*)\)))?"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+LIMIT\s+(?P<limit>\d+))?\s*$"
)


def _show_scope(points: DataFrame, m: re.Match, statement: str):
    """The rows a SHOW statement reads: FROM and WITH MEASUREMENT narrow
    the measurements, WHERE narrows time and tags (OR groups included).
    Returns the frame, its promoted tag columns and whether it carries
    a tags map."""
    g = m.groupdict()
    df = points
    for rx, eq in ((g["measrx"], g["meas"]), (g.get("wmrx"), g.get("wmeq"))):
        if rx:
            df = df.filter(F.col("measurement").rlike(rx))
        elif eq:
            df = df.filter(F.col("measurement") == eq)
    where = _parse_where_only(g["where"])
    conds = _tag_conditions(where, df.columns, statement)
    df = push_time_filter(df, where.time_start_ns, where.time_stop_ns)
    for c in conds:
        df = df.filter(c)
    return df, promoted_tags(df.columns), "tags" in df.columns


def _tag_key_rows(df: DataFrame, promoted, has_map, *lead) -> DataFrame:
    """One ``tagKey`` row per tag each row carries — the promoted
    columns it has a value in, then its tags-map keys — after the
    ``lead`` columns."""
    parts = [df.filter(F.col(c).isNotNull()).select(*lead, F.lit(c).alias("tagKey"))
             for c in promoted]
    if has_map:
        parts.append(df.select(*lead, F.explode(F.map_keys("tags")).alias("tagKey")))
    if not parts:
        raise InfluxQLError("points DF has no tag columns")
    return reduce(DataFrame.unionByName, parts)


def _series_key(promoted, has_map) -> Column:
    """A row's SHOW SERIES key: the measurement, then its sorted
    ``k=v`` tag pairs, comma-joined."""
    pairs = [
        F.when(F.col(c).isNotNull(),
               F.concat(F.lit(c), F.lit("="), F.col(c).cast("string")))
        for c in promoted
    ]
    arr = F.array_compact(F.array(*pairs)) if pairs else F.array()
    if has_map:
        map_pairs = F.transform(
            F.map_entries(F.coalesce(F.col("tags"), F.create_map())),
            lambda e: F.concat(e["key"], F.lit("="), e["value"]),
        )
        arr = F.concat(arr, map_pairs)
    return F.concat_ws(",", F.concat(F.array("measurement"), F.array_sort(arr)))


def execute_show(points: DataFrame, query: str) -> DataFrame:
    """InfluxQL v1 meta-queries over a canonical points DF — the
    queries a Grafana InfluxQL datasource issues to populate dropdowns
    (reference serves them on v1 ``/query``; shapes per public InfluxQL
    docs):

        SHOW MEASUREMENTS [WHERE ...] [LIMIT n]       → name
        SHOW TAG KEYS [FROM m]                        → measurement, tagKey
        SHOW TAG VALUES [FROM m] WITH KEY = "k"
            | WITH KEY IN ("a","b") | WITH KEY =~ /re/ → key, value
        SHOW FIELD KEYS [FROM m]                      → measurement, fieldKey, fieldType
        SHOW SERIES [FROM m] [WHERE ...]              → key

    All distinct-scans: Catalyst collapses each to a hash aggregate
    over the pruned column set — at 100 TB these read only the
    dictionary-encoded tag/meta columns, never field payloads.
    """
    m = _SHOW_RX.match(query.strip().rstrip(";"))
    if not m:
        raise InfluxQLError(f"cannot parse SHOW query: {query!r}")
    what = re.sub(r"\s+", " ", m.group("what").upper())
    df, promoted, has_map = _show_scope(points, m, "SHOW")

    if what == "MEASUREMENTS":
        out = df.select(F.col("measurement").alias("name")).distinct().orderBy("name")

    elif what == "TAG KEYS":
        out = (_tag_key_rows(df, promoted, has_map, "measurement")
               .distinct().orderBy("measurement", "tagKey"))

    elif what == "TAG VALUES":
        keyrx = m.group("keyrx")
        if m.group("key"):
            keys = [m.group("key")]
        elif m.group("keys") is not None:
            keys = [k.strip().strip("\"'") for k in m.group("keys").split(",") if k.strip()]
        elif keyrx:
            # regex key match: promoted columns by name, map keys JVM-side
            keys = [c for c in promoted if re.search(keyrx, c)]
        else:
            raise InfluxQLError("SHOW TAG VALUES requires WITH KEY")
        parts = [
            df.select(F.lit(k).alias("key"),
                      _tag_col(k, df.columns).cast("string").alias("value"))
            for k in keys
        ]
        if has_map and keyrx:
            parts.append(
                df.select(F.explode("tags").alias("key", "value"))
                .filter(F.col("key").rlike(keyrx))
            )
        if not parts:
            raise InfluxQLError("SHOW TAG VALUES matched no keys")
        out = (reduce(DataFrame.unionByName, parts)
               .filter(F.col("value").isNotNull()).distinct().orderBy("key", "value"))

    elif what == "FIELD KEYS":
        v1_type = F.element_at(
            F.create_map(*[F.lit(x) for kv in _V1_FIELD_TYPES.items() for x in kv]),
            F.col("ftype"),
        )
        out = (
            df.select("measurement", F.col("field").alias("fieldKey"),
                      v1_type.alias("fieldType"))
            .distinct()
            .orderBy("measurement", "fieldKey")
        )

    else:  # SERIES
        out = (df.select(_series_key(promoted, has_map).alias("key"))
               .distinct().orderBy("key"))

    if m.group("limit"):
        out = out.limit(int(m.group("limit")))
    return out


_SHOW_CARD_RX = re.compile(
    r"(?is)^SHOW\s+(?P<what>MEASUREMENT|SERIES|FIELD\s+KEY|TAG\s+KEY|TAG\s+VALUES)\s+"
    r"(?:(?P<exact>EXACT)\s+)?CARDINALITY"
    r"(?:\s+ON\s+\"?(?P<db>[\w.\-]+)\"?)?"
    r"(?:\s+FROM\s+(?:/(?P<measrx>[^/]+)/|\"?(?P<meas>[\w.\-]+)\"?))?"
    r'(?:\s+WITH\s+KEY\s*=\s*"?(?P<key>\w+)"?)?'
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*$"
)


def execute_show_cardinality(points: DataFrame, query: str) -> DataFrame:
    """InfluxQL ``SHOW <x> [EXACT] CARDINALITY`` — the series-growth
    monitoring queries (public InfluxQL 1.8 surface):

        SHOW MEASUREMENT CARDINALITY | SERIES CARDINALITY
        SHOW FIELD KEY CARDINALITY | TAG KEY CARDINALITY
        SHOW TAG VALUES CARDINALITY WITH KEY = "k"

    Without ``EXACT`` this maps to ``approx_count_distinct`` — the
    same estimated-by-sketch contract InfluxDB documents (it serves a
    HyperLogLog estimate), and at 100 TB the only sane default: one
    pass, fixed memory, mergeable partials. ``EXACT`` uses a real
    countDistinct (one shuffle of distinct keys). Output: ``count``.
    """
    m = _SHOW_CARD_RX.match(query.strip().rstrip(";"))
    if not m:
        raise InfluxQLError(f"cannot parse SHOW CARDINALITY query: {query!r}")
    what = re.sub(r"\s+", " ", m.group("what").upper())
    exact = m.group("exact") is not None
    df, promoted, has_map = _show_scope(points, m, "SHOW CARDINALITY")

    def count_distinct_of(frame: DataFrame, col) -> DataFrame:
        agg = (F.count_distinct(col) if exact
               else F.approx_count_distinct(col)).cast("long").alias("count")
        return frame.agg(agg)

    if what == "MEASUREMENT":
        return count_distinct_of(df, F.col("measurement"))
    if what == "FIELD KEY":
        return count_distinct_of(
            df, F.concat_ws("\u001f", "measurement", "field")
        )
    if what == "TAG KEY":
        return count_distinct_of(_tag_key_rows(df, promoted, has_map),
                                 F.col("tagKey"))
    if what == "TAG VALUES":
        if not m.group("key"):
            raise InfluxQLError("SHOW TAG VALUES CARDINALITY requires WITH KEY")
        value = _tag_col(m.group("key"), df.columns)
        return count_distinct_of(df.filter(value.isNotNull()), value)
    return count_distinct_of(df, _series_key(promoted, has_map))


def _execute_multi_row(df: DataFrame, ast: InfluxQLQuery, by: list) -> DataFrame:
    """TOP / BOTTOM / DISTINCT / SAMPLE — InfluxQL functions that emit
    multiple rows per group (so they can't join the single-row
    aggregate list). TOP/BOTTOM/SAMPLE keep the source point's
    timestamp (v1 semantics) and may carry accompanying bare columns
    from the selected rows (``SELECT TOP(value, 3), event_type``);
    DISTINCT emits the window start (or no time column when
    ungrouped)."""
    multi = [f for f in ast.fields if f[0] in _MULTI_ROW]
    extras = [f for f in ast.fields if f not in multi]
    if len(multi) > 1 or any(fn2 is not None for fn2, _, _ in extras):
        raise InfluxQLError(
            "TOP/BOTTOM/DISTINCT/SAMPLE must be the only function selection"
        )
    if extras and multi[0][0] == "distinct":
        raise InfluxQLError("DISTINCT must be the only selection")
    fn, fld, alias = multi[0]
    if fn in ("top", "bottom") and _null_dispatched(
        fn, fld, df, ast.field_slots
    ):
        # stock TOP/BOTTOM support int64/float64 only: over a string
        # or bool field the statement answers with NO series, never
        # lexicographic rows. Covers the TOP(field, tag_key..., N)
        # variant too.
        df = df.limit(0)
    # TOP/BOTTOM/SAMPLE may carry companion FIELDS too:
    # SELECT TOP(value, 3), status — same per-point stitch as the
    # selector-row path
    df = _attach_companion_fields(df, ast, extras)
    df, src = _value_source(df, ast, fld)
    args = ast.fn_args.get(alias) or []
    df, keys = _window_keys(df, ast, by)

    def _with_extras(picked: DataFrame, also: Sequence[str] = ()) -> DataFrame:
        cols = [F.col("time"), *[F.col(t) for t in by], F.col(src).alias(alias)]
        for t in also:
            if t not in by:
                cols.append(F.col(t))
        for _fn, f2, a2 in extras:
            if f2 not in by:
                cols.append(_tag_col(f2, picked.columns).alias(a2))
        return picked.select(*cols)

    if fn in ("top", "bottom"):
        if not args:
            raise InfluxQLError(f"{fn.upper()} needs (field, n)")
        sel = sel_ops.top if fn == "top" else sel_ops.bottom
        tag_keys = list(args[:-1])
        if tag_keys:
            # TOP(field, tag_key..., N): the single greatest point per
            # tag combo, then the N best combos — two window ranks, no
            # self-join (reference semantics: N distinct tag values)
            for t in tag_keys:
                if t not in df.columns:
                    df = df.withColumn(t, _tag_col(t, df.columns))
            per_tag = sel(df, 1, by=[*keys, *tag_keys], value=src)
            picked = sel(per_tag, int(args[-1]), by=keys, value=src)
            out = _with_extras(picked, also=tag_keys)
        else:
            picked = sel(df, int(args[0]), by=keys, value=src)
            out = _with_extras(picked)
    elif fn == "sample":
        if not args:
            raise InfluxQLError("SAMPLE needs (field, n)")
        picked = sel_ops.sample(df, int(args[0]), by=keys)
        out = _with_extras(picked)
    else:  # distinct
        out = df.select(*keys, F.col(src).alias(alias)).distinct()
        if ast.group_time_ns:
            out = out.withColumn("time", _ws_time_expr(ast)).drop("_ws")
    return out


def _execute_text_form(points: DataFrame, query: str, tag_cols, now_ns,
                       field_types) -> DataFrame:
    """The statements compiled from their text: SHOW, EXPLAIN and
    ``SELECT … FROM (subquery)``."""
    if re.match(r"(?is)^\s*SHOW\b", query):
        if re.search(r"(?i)\bCARDINALITY\b", query):
            return execute_show_cardinality(points, query)
        return execute_show(points, query)
    points = unify_numeric_value(points)  # int/uint slots → value column
    em = re.match(r"(?is)^\s*EXPLAIN(\s+ANALYZE)?\s+(.+)$", query.strip())
    if em:
        # v1 EXPLAIN/EXPLAIN ANALYZE: in this engine the truthful answer
        # is the Catalyst plan — EXPLAIN returns the optimized logical +
        # physical plan for the statement; ANALYZE executes it first so
        # AQE's final (adaptive) physical plan is shown.
        inner = execute_influxql(points, em.group(2), tag_cols,
                                 field_types=field_types)
        if em.group(1):
            inner.count()  # drive execution so AQE finalizes the plan
        qe = inner._jdf.queryExecution()
        text = qe.explainString(
            inner._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        spark = points.sparkSession
        return spark.createDataFrame(
            [(i, line) for i, line in enumerate(text.splitlines())],
            "line int, plan string",
        )
    sub = _extract_subquery(query.strip().rstrip(";"))
    if sub is None:
        raise InfluxQLError(f"cannot parse: {query!r}")
    inner_text, outer_text = sub
    inner = execute_influxql(points, inner_text, tag_cols,
                             field_types=field_types)
    if "time" not in inner.columns:
        # aggregate rows without time grouping carry timestamp 0 in
        # InfluxQL (SELECT mean(m) FROM (SELECT mean(v) .. GROUP BY tag))
        inner = inner.withColumn("time", F.timestamp_micros(F.lit(0)))
    pseudo = inner.withColumn(
        "time_ns", F.expr("unix_micros(time) * 1000")
    ).withColumn("measurement", F.lit(_SUBQUERY_MEAS))
    return execute_influxql(pseudo, outer_text, tag_cols, now_ns)


def _queried_measurements(ast: InfluxQLQuery, field_types: dict) -> list[str]:
    """The catalog measurements a SELECT reads (FROM list or regex)."""
    if ast.measurement_regex is not None:
        return [m for m in field_types if re.search(ast.measurement_regex, m)]
    return ast.measurements or [ast.measurement]


def execute_influxql(points: DataFrame, query: str | InfluxQLQuery,
                     tag_cols: tuple[str, ...] = (),
                     now_ns: int | None = None,
                     field_types: dict | None = None) -> DataFrame:
    """Compile + run an InfluxQL query against a canonical points DF.

    ``query`` is the statement text, or a SELECT that
    :func:`parse_statement` already parsed: that one runs without a
    second parse and is resolved in place — afterwards ``group_tags``
    names the columns the result's series are keyed by (GROUP BY *
    expanded, ``measurement`` first on a multi-measurement read).

    ``tag_cols`` names promoted tag columns available for GROUP BY /
    WHERE (a tags-map fallback covers the rest). ``FROM (SELECT ...)``
    subqueries run the inner query first and treat its result as the
    outer query's measurement (DataFrame composition — the inner plan
    feeds the outer directly, no materialization).

    ``field_types`` is the bucket store's field-type catalog
    ``{measurement: {field: ftype}}`` (BucketStore.field_types) — when
    provided, field→slot resolution reads it driver-side with ZERO
    Spark jobs; without it, a frame carrying string or bool slots runs
    one bounded distinct job on the ftype discriminator.

    A SELECT runs in four steps: scope (measurements, time range, field
    slots), WHERE, GROUP BY, then one shape function whose unfinished
    answer :func:`_finish` orders and limits.
    """
    ast = parse_statement(query, now_ns) if isinstance(query, str) else query
    if ast is None:
        return _execute_text_form(points, query, tag_cols, now_ns, field_types)
    df = _scope(points, ast, field_types)
    df = _apply_where(df, ast)
    df, by = _group_by(df, ast)
    shape = _select_shape(ast)
    return _finish(shape(df, ast, by), ast, by, raw=shape is _execute_raw)


def _scope(points: DataFrame, ast: InfluxQLQuery, field_types) -> DataFrame:
    """The rows a SELECT reads — its measurements inside its time range —
    with ``ast.field_slots`` resolved for every name the statement uses
    and ``agg(*)`` expanded against them."""
    points = unify_numeric_value(points)  # int/uint slots → value column
    if ast.measurement_regex is not None:
        df = points.filter(F.col("measurement").rlike(ast.measurement_regex))
    elif len(ast.measurements) > 1:
        df = points.filter(F.col("measurement").isin(ast.measurements))
    else:
        df = points.filter(F.col("measurement") == ast.measurement)
    df = push_time_filter(df, ast.time_start_ns, ast.time_stop_ns)

    # every referenced name that is not a physical column, WHERE names
    # included, so a string condition like status = 'ok' can be
    # recognized as a FIELD condition (stock resolves bare identifiers
    # field-first)
    refs = _selected_fields(ast)
    refs.update(n for n, _o, _v in ast.field_filters
                if not n.startswith("__expr__"))
    refs.update(n for n, _o, _v in ast.tag_filters)
    refs.update(n for group in ast.or_tag_groups for n, _o, _v in group)
    refs = {r for r in refs if r and r != "*" and r not in df.columns
            and not r.startswith(_RE_FLD)}
    if field_types is not None:
        # catalog-driven: zero Spark jobs. Only the QUERIED
        # measurements' maps apply (a field name may type differently
        # across measurements; float wins on a cross-measurement mix).
        slots: dict = {}
        for m in _queried_measurements(ast, field_types):
            for f, t in (field_types.get(m) or {}).items():
                if f in refs:
                    s = SLOT_OF_FTYPE.get(t, "f_float")
                    if f not in slots or s == "f_float":
                        slots[f] = s
        ast.field_slots = {k: v for k, v in slots.items()
                           if v in df.columns}
    else:
        ast.field_slots = _resolve_field_slots(df, refs)
    _expand_star_aggs(ast, df, field_types)
    return df


def _field_cond(columns, slots: dict, name: str, op: str, val) -> tuple[Column, bool]:
    """One field condition as a row-local Column, and whether it reads a
    field's value slot on a tall frame (then it holds on one row of the
    point only, and a per-point WHERE needs :func:`_point_semi`).

    A physical column of that name compares directly. Otherwise the
    field's typed slot is read on that field's rows: a bool field takes
    a ``true``/``false`` literal, and a type mismatch (a number against
    a string/bool field, a string range against a number) matches no
    row, like stock, without an ANSI cast error."""
    if name in columns:
        return _cmp_cond(F.col(name), op, val), False
    slot = slots.get(name, "f_float")
    if slot == "f_bool" and isinstance(val, str):
        val = val.strip().lower() in ("true", "t", "1")
    elif slot in ("f_str", "f_bool") and isinstance(val, float):
        return F.lit(False), False
    elif (slot == "f_float" and isinstance(val, str)
          and op in (">", ">=", "<", "<=")):
        return F.lit(False), False
    cond = _cmp_cond(F.col(slot), op, val)
    if "field" not in columns:
        return cond, False
    return (F.col("field") == name) & cond, True


def _apply_where(df: DataFrame, ast: InfluxQLQuery) -> DataFrame:
    """The SELECT WHERE clause (the time range is already in the scope).

    Tag conditions and a field condition on the only field selected are
    row-local filters that keep their scan-level plan. v1 evaluates
    every other field condition per POINT: the point's rows are kept
    when the condition holds on any of them (:func:`_point_semi`)."""
    slots = ast.field_slots
    # string/bool conditions parse as tag-shaped (quoted RHS); a known
    # string/bool FIELD key of this frame is a field condition (a
    # tags-map read would be NULL and silently drop every row)
    moved = [c for c in ast.tag_filters
             if slots.get(c[0]) in ("f_str", "f_bool") and c[0] not in df.columns]
    ast.tag_filters = [c for c in ast.tag_filters if c not in moved]
    ast.field_filters += moved
    for name, op, val in ast.tag_filters:
        df = df.filter(_tag_cond(df.columns, name, op, val))
    for group in ast.or_tag_groups:
        # any field member makes the whole group point-level (a field's
        # value lives on one row of the point, so a row-local OR would
        # drop the point's other-field rows)
        conds, per_point = [], False
        for name, op, val in group:
            # a numeric member is a field condition (v1 tags are
            # strings), and so is a string/bool field key
            if isinstance(val, float) or (
                    name not in df.columns and "field" in df.columns
                    and slots.get(name) in ("f_str", "f_bool")):
                cond, tall = _field_cond(df.columns, slots, name, op, val)
                per_point |= tall
            else:
                cond = _tag_cond(df.columns, name, op, val)
            conds.append(cond)
        acc = reduce(operator.or_, conds)
        df = _point_semi(df, acc) if per_point else df.filter(acc)
    sel_fields = _selected_fields(ast)
    for name, op, val in ast.field_filters:
        if name.startswith("__expr__"):
            df = _apply_arith_where(df, ast, name[len("__expr__"):], op, val,
                                    sel_fields)
            continue
        cond, tall = _field_cond(df.columns, slots, name, op, val)
        # SELECT v WHERE v > 5 stays row-local and pushdown-able;
        # SELECT value WHERE status = 'ok' is per point
        df = (_point_semi(df, cond) if tall and not sel_fields <= {name}
              else df.filter(cond))
    return df


def _apply_arith_where(df: DataFrame, ast: InfluxQLQuery, raw: str, op: str,
                       val, sel_fields: set) -> DataFrame:
    """An arithmetic WHERE condition (``value * 2 > 100``). Identifiers
    followed by '(' are calls of the InfluxQL math set; the others are
    fields, read per POINT (their per-point values are attached, and a
    string/bool field reads NULL). One float field that is also the
    only field selected stays a row-local, scan-level filter."""
    idents = []
    for mo in re.finditer(r"\b[A-Za-z_]\w*\b", raw):
        if raw[mo.end():].lstrip().startswith("("):
            continue
        if mo.group(0) not in df.columns and mo.group(0) not in idents:
            idents.append(mo.group(0))
    fast = (
        len(idents) <= 1
        and all(ast.field_slots.get(i, "f_float") == "f_float" for i in idents)
        and sel_fields <= set(idents)
    )
    target = df
    if idents and not fast and "field" in df.columns:
        target = _attach_companion_fields(df, ast, [(None, i, i) for i in idents])

    def _swap(mo):
        ident = mo.group(0)
        if raw[mo.end():].lstrip().startswith("("):
            if ident.lower() in _EXPR_FNS:
                return ident
            raise InfluxQLError(
                f"unsupported function {ident}() in WHERE condition")
        if ident in target.columns:
            from pyspark.sql import types as _T

            if not isinstance(target.schema[ident].dataType, _T.NumericType):
                # numeric arithmetic over a string/bool field: stock
                # computes nothing
                return "CAST(NULL AS DOUBLE)"
            return f"`{ident}`"
        return "f_float"

    cond = _cmp_cond(F.expr(re.sub(r"\b[A-Za-z_]\w*\b", _swap, raw)), op, val)
    if target is df:
        return df.filter(cond)
    # the helper columns go again, so the shapes see the untouched tall frame
    added = [c for c in target.columns if c not in df.columns]
    return _point_semi(target, cond).drop(*added)


def _group_by(df: DataFrame, ast: InfluxQLQuery) -> tuple[DataFrame, list[str]]:
    """Resolve the GROUP BY in place and return the series key columns:
    ``*`` becomes every promoted tag column plus the tags-map keys the
    queried rows carry (one small distinct job bounded by tag-key
    cardinality), and a multi-measurement read (comma list / regex)
    leads with ``measurement`` — it never merges points across
    measurements, like InfluxDB's per-measurement series. Each group tag
    living in the tags map becomes a column here, once for every
    shape."""
    by = list(ast.group_tags)
    if "*" in by:
        by = promoted_tags(df.columns)
        if "tags" in df.columns:
            by = sorted(set(by) | set(_map_tag_keys(df)))
    multi_meas = ast.measurement_regex is not None or len(ast.measurements) > 1
    if multi_meas and "measurement" not in by:
        by = ["measurement", *by]
    ast.group_tags = by
    for t in by:
        if t not in df.columns:
            df = df.withColumn(t, _tag_col(t, df.columns))
    return df, by


def _select_shape(ast: InfluxQLQuery):
    """The shape function that answers a resolved SELECT: transform,
    multi-row (TOP/BOTTOM/DISTINCT/SAMPLE), nested, selector row, raw or
    aggregate. Each takes ``(df, ast, by)`` and returns the answer
    before ORDER BY and the limits."""
    fns = [fn for fn, _f, _a in ast.fields]
    if any(fn in _TRANSFORMS or fn in _TA_FNS for fn in fns):
        return _execute_transform
    if any(fn in _MULTI_ROW for fn in fns):
        return _execute_multi_row
    if ast.nested:
        return _execute_nested
    # single selector + accompanying bare columns: InfluxDB selector
    # queries return the SELECTED POINT, so named tags/fields ride
    # along (SELECT LAST(value), event_type ... / SELECT
    # PERCENTILE(value, 95), event_type ... GROUP BY event_type)
    fn_fields = [fn for fn in fns if fn is not None]
    if (None in fns and len(fn_fields) == 1
            and fn_fields[0] in ("first", "last", "max", "min", "percentile")
            and not ast.arith and not ast.raw_arith):
        return _execute_selector_row
    has_agg = any(fn and fn not in _MATH_FNS for fn in fns) or bool(ast.arith)
    if ast.raw_arith and has_agg:
        # InfluxQL rejects mixing raw projections with aggregates
        # query-wide; dropping either silently would be worse
        raise InfluxQLError(
            "cannot mix raw field expressions with aggregate selections"
        )
    return _execute_aggregate if has_agg else _execute_raw


def is_raw(ast: InfluxQLQuery) -> bool:
    """Whether the SELECT answers one row per point. :func:`_finish`
    hands such an answer out sorted by series, then time in the
    statement's direction."""
    return _select_shape(ast) is _execute_raw


def _execute_raw(df: DataFrame, ast: InfluxQLQuery, by: list) -> DataFrame:
    """Raw selections — fields, ``*``, ``*::tag``, ``/regex/``, math
    functions and per-row arithmetic: one row per point.

    Named fields read only their OWN rows of the tall frame. Two or more
    of them are pivoted per point first (stock v1 merges the fields of
    one point into ONE row), so every projection, cross-field
    arithmetic included, reads physical per-point columns; a
    single-field select keeps its scan-level plan."""
    if ast.group_time_ns:
        # stock v1 rejects raw projections windowed by time
        raise InfluxQLError("GROUP BY requires at least one aggregate function")
    slot_fields = {fld for _fn, fld, _a in ast.fields
                   if fld not in ("*", _STARTAG) and not fld.startswith(_RE_FLD)
                   and fld not in df.columns}
    for tree, _alias in ast.raw_arith:
        slot_fields |= {f for f in _tree_fields(tree)
                        if f != "*" and f not in df.columns}
    if slot_fields and "field" in df.columns:
        df = df.filter(F.col("field").isin(sorted(slot_fields)))
        if len(slot_fields) >= 2:
            df, key = _with_point_key(df)
            carry = [F.first("tags").alias("tags")] if "tags" in df.columns else []
            if "ingest_seq" in df.columns:
                carry.append(F.min("ingest_seq").alias("ingest_seq"))
            df = _pivot_fields(
                df, [*key, "time"], carry,
                {f: ast.field_slots.get(f, "f_float") for f in slot_fields},
            ).drop("_pt_tags")

    def _raw_col(tree):
        kind = tree[0]
        if kind == "num":
            return F.lit(tree[1])
        if kind == "field":
            return _numeric_value_col(tree[1], df, ast.field_slots)
        _, op, l, r = tree
        lc, rc = _raw_col(l), _raw_col(r)
        return {"+": lc + rc, "-": lc - rc, "*": lc * rc, "/": lc / rc}[op]

    # when EVERY selected item consumes a string/bool field numerically
    # (math fns, raw arithmetic), stock answers with no series, never
    # null rows. A numeric or any-type sibling keeps the statement
    # alive with the null column riding along.
    nd_items = [fn in _MATH_FNS and _null_dispatched(fn, fld, df, ast.field_slots)
                for fn, fld, _a in ast.fields]
    for tree, _a in ast.raw_arith:
        tfs = _tree_fields(tree)
        nd_items.append(bool(tfs) and all(
            _null_dispatched("mean", f, df, ast.field_slots) for f in tfs))
    if nd_items and all(nd_items):
        df = df.limit(0)

    sel = [F.col("time"), *[F.col(t) for t in by]]
    for fn, fld, alias in ast.fields:
        if fld == _STARTAG and fn is None:
            # `*::tag`: every tag key as a column, no field pivot. Field
            # columns the multi-field pivot promoted are NOT tags.
            sel += _tag_columns(df, by, slot_fields, None)
            continue
        if (fld == "*" or fld.startswith(_RE_FLD)) and fn is None:
            # SELECT *: every tag rides along with the field values
            # (InfluxDB 1.x star semantics), SELECT *::field only the
            # fields; SELECT /re/ is the star restricted to keys
            # matching the pattern (stock matches field AND tag keys)
            rx = fld[len(_RE_FLD):] if fld.startswith(_RE_FLD) else None
            if not ast.star_fields_only:
                sel += _tag_columns(df, by, (), rx)
            if "field" in df.columns:
                return _star_pivot(df, sel, rx)
            sel.append(F.col("f_float").alias(alias))
            continue
        if fn in _MATH_FNS:
            col = _math_expr(fn, _numeric_value_col(fld, df, ast.field_slots),
                             ast.fn_args.get(alias, []))
        else:
            col = _field_value_col(fld, df, ast.field_slots)
        sel.append(col.alias(alias))
    for tree, alias in ast.raw_arith:
        # per-row field arithmetic (SELECT value * 8 / 1024 ...) — a
        # plain Column projection, whole-stage-codegen'd
        sel.append(_raw_col(tree).alias(alias))
    return df.select(*sel)


def _tag_columns(df: DataFrame, by: list, skip, rx: str | None) -> list[Column]:
    """Every tag of ``df`` outside ``by`` and ``skip`` (whose key matches
    ``rx``) as a column: promoted columns directly, tags-map keys
    materialized, storage columns never."""
    cols = [F.col(t) for t in promoted_tags(df.columns)
            if t not in by and t not in skip
            and (rx is None or re.search(rx, t))]
    if "tags" in df.columns:
        cols += [F.col("tags")[t].alias(t) for t in _map_tag_keys(df)
                 if t not in df.columns and t not in by
                 and (rx is None or re.search(rx, t))]
    return cols


def _star_pivot(df: DataFrame, sel: list, rx: str | None) -> DataFrame:
    """The stock ``SELECT *`` shape: one column per FIELD KEY (matching
    ``rx``) per row identity ``sel``, named by the field and typed by its
    slot. Deliberately NOT read from the field-type catalog: stock star
    columns are the fields with points IN THE QUERIED RANGE, which only
    the filtered frame knows — one (field, ftype) distinct bounded by
    field-key cardinality."""
    if "ftype" in df.columns:
        pairs = df.select("field", "ftype").distinct().collect()
    else:
        pairs = [(r[0], "float")
                 for r in df.select("field").distinct().collect()]
    fmap: dict = {}
    for f, ftype in pairs:
        if rx is not None and not re.search(rx, f):
            continue
        s = SLOT_OF_FTYPE.get(ftype, "f_float")
        if s not in df.columns:
            s = "f_float"
        if f not in fmap or s == "f_float":
            fmap[f] = s
    if not fmap:
        # regex matched no FIELD key (tags-only or nothing): stock
        # answers with no series
        return df.select(*sel).limit(0)
    slot_cols = [c for c in ("f_float", "f_str", "f_bool") if c in df.columns]
    return _pivot_fields(df.select(*sel, F.col("field"), *slot_cols),
                         df.select(*sel).columns, [], fmap)


def _pivot_fields(df: DataFrame, keys: list, carry: list, slots: dict) -> DataFrame:
    """One row per ``keys`` group with one column per field of ``slots``
    (field → value slot): the field's value from its own row of the tall
    frame. ``carry`` are further aggregate Columns kept alongside."""
    return df.groupBy(*keys).agg(*carry, *[
        F.first(F.when(F.col("field") == f, F.col(s)), ignorenulls=True).alias(f)
        for f, s in sorted(slots.items())
    ])


def _with_point_key(frame: DataFrame) -> tuple[DataFrame, list[str]]:
    """``frame`` with its rows' v1 point identity, and the identity's
    columns: measurement, timestamp and the series tag set — the tags
    map as its ``tag_set_key`` string ``_pt_tags``, and every promoted
    tag column. The rows of one point (one per field) share it."""
    key = [c for c in ("measurement", "time_ns") if c in frame.columns]
    if "tags" in frame.columns:
        frame = frame.withColumn("_pt_tags", tag_set_key(F.col("tags")))
        key.append("_pt_tags")
    return frame, key + promoted_tags(frame.columns)


def _point_semi(frame: DataFrame, cond: Column) -> DataFrame:
    """Keep every row of the POINTS where ``cond`` holds on any of the
    point's rows — v1's per-point WHERE over the tall frame. One
    left-semi join on the point identity (null-safe: a promoted tag may
    be NULL); AQE broadcasts the passing side when the predicate is
    selective."""
    frame, key = _with_point_key(frame)
    passing = (frame.filter(cond)
               .select(*[F.col(k).alias(f"_pk{i}") for i, k in enumerate(key)])
               .distinct())
    on = reduce(operator.and_, [frame[k].eqNullSafe(passing[f"_pk{i}"])
                                for i, k in enumerate(key)])
    return frame.join(passing, on, how="leftsemi").drop("_pt_tags")


def _attach_companion_fields(df: DataFrame, ast: InfluxQLQuery, bare) -> DataFrame:
    """Attach companion FIELD values as per-point physical columns.

    ``SELECT LAST(value), status`` returns the PICKED point's other
    field values (stock v1) — in the tall frame those live on sibling
    rows, so stitch them on with one window over the point identity
    (a tags-map read would come back NULL). Which bare names are
    fields comes from the ftype slot
    map; when the frame is float-only (slot lookup skipped at query
    entry) a forced lookup resolves just the bare names — one distinct
    job bounded by field-key cardinality, only on this query shape.
    """
    if "field" not in df.columns:
        return df
    names = {f2 for _fn2, f2, _a2 in bare
             if f2 != "*" and f2 not in df.columns}
    if not names:
        return df
    unknown = names - set(ast.field_slots)
    if unknown:
        ast.field_slots = {
            **_resolve_field_slots(df, unknown, force=True),
            **ast.field_slots,
        }
    comp = [f2 for f2 in sorted(names) if f2 in ast.field_slots]
    if not comp:
        return df
    from pyspark.sql import Window as W

    df, key = _with_point_key(df)
    wpt = W.partitionBy(*key)
    for f2 in comp:
        df = df.withColumn(
            f2,
            F.first(
                F.when(F.col("field") == f2, F.col(ast.field_slots[f2])),
                ignorenulls=True,
            ).over(wpt),
        )
    return df.drop("_pt_tags")


def _value_source(df: DataFrame, ast: InfluxQLQuery, fld: str) -> tuple[DataFrame, str]:
    """The column a selector reads for ``fld``: a physical column of that
    name, else the field's typed slot (FIRST/LAST/DISTINCT of a string
    field read the string slot) over that field's own rows."""
    if fld != "*" and fld in df.columns:
        return df, fld
    if fld != "*" and "field" in df.columns:
        df = df.filter(F.col("field") == fld)
    return df, ast.field_slots.get(fld, "f_float")


def _execute_selector_row(df: DataFrame, ast: InfluxQLQuery, by: list) -> DataFrame:
    """Single selector with accompanying bare columns — a row-pick per
    group (window rank), NOT an aggregate: the output carries the
    selected point's timestamp and its tag/field values. Selector tie
    rules match the aggregate path (extreme value → earliest time;
    ingest order breaks exact-time ties). PERCENTILE picks the actual
    point at nearest-rank max(1, ⌈n·p/100⌉) in value order."""
    from pyspark.sql import Window as W

    bare = [f for f in ast.fields if f[0] is None]
    fn, fld, alias = next(f for f in ast.fields if f[0] is not None)
    if fn in ("min", "max", "percentile") and _null_dispatched(
        fn, fld, df, ast.field_slots
    ):
        # numeric-only selectors over a string/bool field: stock
        # answers with no series even when companions are selected
        df = df.limit(0)
    df = _attach_companion_fields(df, ast, bare)
    df, src = _value_source(df, ast, fld)
    df, keys = _window_keys(df, ast, by)
    part = W.partitionBy(*keys) if keys else W.partitionBy(F.lit(1))
    seq = ["ingest_seq"] if "ingest_seq" in df.columns else []
    tie_asc = [F.asc("time_ns"), *[F.asc(c) for c in seq]]
    if fn == "percentile":
        args = ast.fn_args.get(alias) or []
        if not args:
            raise InfluxQLError("PERCENTILE needs (field, p)")
        qv = float(args[0]) / 100.0
        ranked = df.withColumn(
            "_rn", F.row_number().over(part.orderBy(F.asc(src), *tie_asc))
        ).withColumn("_cnt", F.count(F.lit(1)).over(part))
        picked = ranked.filter(
            F.col("_rn")
            == F.greatest(F.lit(1), F.ceil(F.lit(qv) * F.col("_cnt")).cast("int"))
        )
    else:
        ob = {
            "first": tie_asc,
            "last": [F.desc("time_ns"), *[F.desc(c) for c in seq]],
            "max": [F.desc(src), *tie_asc],
            "min": [F.asc(src), *tie_asc],
        }[fn]
        picked = df.withColumn("_rn", F.row_number().over(part.orderBy(*ob))).filter(
            F.col("_rn") == 1
        )
    if ast.group_time_ns:
        picked = picked.withColumn("time", _ws_time_expr(ast))
    cols = [F.col("time"), *[F.col(t) for t in by], F.col(src).alias(alias)]
    for _fn, f2, a2 in bare:
        if f2 not in by:  # a group key is already projected
            cols.append(_tag_col(f2, picked.columns).alias(a2))
    return picked.select(*cols)


def _cmp_cond(c: Column, op: str, val):
    """One WHERE comparison as a boolean Column (v1 operator set)."""
    if op == "=~":
        return c.rlike(val)
    if op == "!~":
        return ~c.rlike(val)
    return {">": c > val, ">=": c >= val, "<": c < val, "<=": c <= val,
            "=": c == val, "!=": c != val}[op]


def _resolve_field_slots(df: DataFrame, names: set, force: bool = False) -> dict:
    """field key → value slot, from the frame's ``ftype`` column.

    One distinct job bounded by field-key cardinality (column-pruned to
    the two dictionary-encoded discriminator columns), run once per
    query and ONLY when the frame carries a string or bool slot — suite
    frames and subquery pseudo-frames are float-only and skip it, so
    their plans (and the bench) are untouched. ``force=True`` bypasses
    that gate for the rare paths that need to know whether a bare name
    IS a field key at all (selector-row companions on float-only
    frames). A field key never mixes types in one shard (line-protocol
    write enforcement); if a frame somehow does, the float slot wins
    (numeric operators stay correct)."""
    if not names or "field" not in df.columns or "ftype" not in df.columns:
        return {}
    if not force and "f_str" not in df.columns and "f_bool" not in df.columns:
        return {}
    rows = (
        df.filter(F.col("field").isin(sorted(names)))
        .select("field", "ftype")
        .distinct()
        .collect()
    )
    out: dict = {}
    for r in rows:
        slot = SLOT_OF_FTYPE.get(r[1], "f_float")
        if r[0] not in out or slot == "f_float":
            out[r[0]] = slot
    return {k: v for k, v in out.items() if v in df.columns}


def _numeric_value_col(fld: str, df: DataFrame, slots: dict | None = None):
    """Value column for NUMERIC consumption (math fns, arithmetic):
    a non-numeric physical column (subquery-promoted string/bool)
    reads NULL instead of crashing the ANSI cast at runtime (stock
    computes nothing for them); slot-typed string/bool fields read
    NULL too."""
    if fld != "*" and fld in df.columns:
        from pyspark.sql import types as _T

        if not isinstance(df.schema[fld].dataType, _T.NumericType):
            return F.lit(None).cast("double")
    elif fld != "*" and (slots or {}).get(fld, "f_float") != "f_float":
        # slot-typed string/bool field consumed numerically (abs(s),
        # s * 2): the typed slot read would crash the ANSI cast at
        # runtime — stock computes nothing; NULL here, and the
        # raw-select path empties the statement when EVERY item is
        # null-dispatched
        return F.lit(None).cast("double")
    return _field_value_col(fld, df, slots)


def _field_value_col(fld: str, df: DataFrame, slots: dict | None = None):
    """The value Column a named field reads: a physical column of that
    name (promoted / subquery alias), else the TYPED value slot
    RESTRICTED to rows of that field — on a multi-field measurement
    every field's rows share the tall frame, so an unconditional slot
    read would mix fields (``mean(c)`` averaging c AND u). The slot
    comes from ``slots`` (ftype-resolved, so string/bool fields read
    their own slot). One conditional projection — aggregation stays
    single-pass, no extra shuffle."""
    if fld != "*" and fld in df.columns:
        return F.col(fld)
    if fld != "*" and "field" in df.columns:
        slot = (slots or {}).get(fld, "f_float")
        return F.when(F.col("field") == fld, F.col(slot))
    return F.col("f_float")


def _field_value_sql(fld: str, df: DataFrame, slots: dict | None = None) -> str:
    """SQL-text twin of :func:`_field_value_col` for F.expr sites."""
    if fld != "*" and fld in df.columns:
        return fld
    if fld != "*" and "field" in df.columns:
        esc = fld.replace("'", "''")
        slot = (slots or {}).get(fld, "f_float")
        return f"(CASE WHEN field = '{esc}' THEN {slot} END)"
    return "f_float"


# THE v1 FUNCTION TYPING TABLE (stock 1.8 docs).
# Functions that accept ANY field type (int64/float64/string/boolean):
#   COUNT, COUNT(DISTINCT), DISTINCT, MODE, FIRST, LAST, SAMPLE,
#   ELAPSED (time deltas — value type irrelevant).
# Everything else the engine serves is NUMERIC-ONLY (int64/float64):
#   aggregates  SUM MEAN MEDIAN STDDEV SPREAD INTEGRAL PERCENTILE
#   selectors   MIN MAX TOP BOTTOM
#   transforms  DERIVATIVE NON_NEGATIVE_DERIVATIVE DIFFERENCE
#               NON_NEGATIVE_DIFFERENCE CUMULATIVE_SUM MOVING_AVERAGE
#   TA family   EMA/DEMA/TEMA RSI CMO KAUFMANS_* HOLT_WINTERS
#   math fns    ABS ACOS ... (all of _MATH_FNS)
# Over a string/bool field a numeric-only function answers NO series
# (never null rows, never an ANSI cast error); in a mixed select the
# null-dispatched column rides along as null. _null_dispatched is the
# single predicate every execution path consults.
_ANYTYPE_AGGS = ("count", "count_distinct", "mode", "first", "last",
                 "distinct", "sample", "elapsed")

_NUMERIC_FTYPES = ("float", "int", "uint")


def _star_field_map(df: DataFrame, ast, field_types) -> dict:
    """field key → ftype for the queried measurement(s) — catalog-
    driven (zero jobs) when the store passes its field-type catalog,
    else one distinct bounded by field-key cardinality. Subquery
    pseudo-frames (no ``field`` column) expose their numeric physical
    columns as float fields, like stock's subquery field set."""
    if field_types is not None:
        out: dict = {}
        for m in _queried_measurements(ast, field_types):
            for f, t in (field_types.get(m) or {}).items():
                if f not in out or t in _NUMERIC_FTYPES:
                    out[f] = t
        return out
    if "field" not in df.columns:
        from pyspark.sql import types as _T

        # subquery pseudo-frame: promoted physical columns ARE the
        # field set — including string/bool ones with their actual
        # ftype, so count(*)/first(*)/last(*) over a subquery see
        # them; the _ANYTYPE_AGGS / numeric-only split downstream
        # filters eligibility per fn
        out = {}
        for f in df.schema.fields:
            if (f.name in ("time", "time_ns", "measurement", "tags",
                           "ingest_seq") or f.name.startswith("_")
                    or f.name in ast.group_tags):
                # a column the outer query groups by is a TAG here
                continue
            if isinstance(f.dataType, _T.NumericType):
                out[f.name] = "float"
            elif isinstance(f.dataType, _T.StringType):
                out[f.name] = "string"
            elif isinstance(f.dataType, _T.BooleanType):
                out[f.name] = "bool"
        return out
    if "ftype" in df.columns:
        rows = df.select("field", "ftype").distinct().collect()
    else:
        rows = [(r[0], "float")
                for r in df.select("field").distinct().collect()]
    out = {}
    for f, t in rows:
        if f not in out or t in _NUMERIC_FTYPES:
            out[f] = t
    return out


def _expand_star_aggs(ast, df: DataFrame, field_types) -> None:
    """``agg(*)`` → one aggregate per field (stock v1: ``SELECT
    mean(*) FROM m`` answers columns ``mean_<field>`` for every
    eligible field — ALL fields for the any-type aggregates, numeric
    fields only for the rest — never the raw float slot across a
    multi-field measurement's interleaved rows).
    Expansion happens once at query entry so every downstream path
    (aggregate, selector-row, nested) sees ordinary named fields.
    Regex selections (``mean(/val/)``, marked ``_RE_FLD``) expand the
    same way over the matching field keys."""

    def _is_star(fld: str) -> bool:
        return fld == "*" or fld.startswith(_RE_FLD)

    if not any(_is_star(fld) and fn is not None and fn not in _MATH_FNS
               for fn, fld, _a in ast.fields):
        return
    fmap = _star_field_map(df, ast, field_types)
    new_fields = []
    for fn, fld, alias in ast.fields:
        if not _is_star(fld) or fn is None or fn in _MATH_FNS:
            new_fields.append((fn, fld, alias))
            continue
        if fn in _MULTI_ROW:
            raise InfluxQLError(f"expected field argument in {fn}()")
        rx = fld[len(_RE_FLD):] if fld.startswith(_RE_FLD) else None
        if fn in _ANYTYPE_AGGS:
            eligible = sorted(fmap)
        else:
            eligible = sorted(f for f, t in fmap.items()
                              if t in _NUMERIC_FTYPES)
        if rx is not None:
            eligible = [f for f in eligible if re.search(rx, f)]
        args = ast.fn_args.pop(alias, None)
        if not eligible:
            # no eligible field → stock answers with no series: keep a
            # phantom entry for schema shape and force the aggregate
            # path's empty short-circuit
            ast.force_empty = True
            phantom = "\x00no_star_field"
            ast.field_slots[phantom] = (
                "f_str" if "f_str" in df.columns else "f_float"
            )
            new_fields.append((fn, phantom, alias))
            continue
        for f in eligible:
            a2 = f"{alias}_{f}"
            new_fields.append((fn, f, a2))
            if args:
                ast.fn_args[a2] = list(args)
        for f in eligible:
            if (f not in ast.field_slots and f not in df.columns
                    and "field" in df.columns):
                slot = SLOT_OF_FTYPE.get(fmap[f], "f_float")
                if slot in df.columns:
                    ast.field_slots[f] = slot
    ast.fields = new_fields


def _null_dispatched(fn, fld, df: DataFrame, slots: dict | None) -> bool:
    """True when this aggregate call reads the NULL dispatch column: a
    numeric-only aggregate over a string/bool-typed field slot, or over
    a non-numeric PHYSICAL column (subquery-promoted string/bool, which
    an ANSI cast would crash on at runtime). Used by
    :func:`_execute_aggregate` to short-circuit to stock's EMPTY series
    when every selected aggregate is null-dispatched (``SELECT
    mean(status) FROM m`` answers with no series, not one null-valued
    row)."""
    if fn is None or fn in _ANYTYPE_AGGS:
        return False
    if fld == "*":
        return False
    if fld in df.columns:
        from pyspark.sql import types as _T

        return not isinstance(df.schema[fld].dataType, _T.NumericType)
    return (slots or {}).get(fld, "f_float") != "f_float"


def _agg_expr(fn: str, fld: str, alias: str, args: list, df: DataFrame,
              slots: dict | None = None):
    """One InfluxQL aggregate/selector as a Spark aggregate Column.

    Type dispatch mirrors stock v1: COUNT/DISTINCT/MODE/FIRST/LAST
    accept any field type (they read the ftype-resolved slot);
    numeric-only aggregates (MEAN/SUM/.../MIN/MAX/PERCENTILE/INTEGRAL)
    on a string/bool field read a NULL column and aggregate to nothing,
    like stock's empty result — never an ANSI cast error."""
    col = _field_value_col(fld, df, slots)
    if _null_dispatched(fn, fld, df, slots):
        col = F.lit(None).cast("double")
    if fn in _AGGS:
        if fn == "spread":
            return (F.max(col) - F.min(col)).alias(alias)
        if fn == "mode":
            return F.mode(col).alias(alias)
        return agg_ops.AGG_FNS[fn](col).alias(alias)
    if fn == "count_distinct":
        # COUNT(DISTINCT(f)): exact — one shuffle of distinct keys per
        # group, partial distinct map-side (Spark expands to a two-stage
        # aggregate); swap to approx_count_distinct only via the
        # cardinality API, never silently
        return F.count_distinct(col).alias(alias)
    if fn in ("min", "max"):
        # selector semantics: extreme value, ties → earliest time ⇒
        # always min_by over (±value, time); null ordering rows
        # (other fields of a multi-field measurement) are skipped by
        # min_by/max_by's null-ordering semantics
        order = F.when(
            col.isNotNull(),
            F.struct(col if fn == "min" else -col, F.col("time_ns")),
        )
        return F.min_by(col, order).alias(alias)
    if fn in ("first", "last"):
        pick = F.min_by if fn == "first" else F.max_by
        t_order = F.when(col.isNotNull(), F.col("time_ns"))
        return pick(col, t_order).alias(alias)
    if fn == "percentile":
        # InfluxQL PERCENTILE(f, p): the actual data value at rank
        # round(n·p/100 + ½) ≡ max(1, ⌈n·p/100⌉) — a group-local
        # sort+pick (groups are windows/series, bounded; the
        # scalable global path is operators.aggregates.quantile)
        if not args:
            raise InfluxQLError("PERCENTILE needs (field, p)")
        qv = float(args[0]) / 100.0
        src_e = _field_value_sql(fld, df)
        return F.expr(
            f"element_at(array_sort(collect_list({src_e})), "
            f"greatest(1, cast(ceil({qv!r} * count({src_e})) as int)))"
        ).alias(alias)
    if fn == "integral":
        # trapezoid fold over the group's time-sorted points —
        # InfluxQL INTEGRAL(f[, unit]); group-local like PERCENTILE
        unit_s = _parse_duration(args[0]) / 1e9 if args else 1.0
        src_e = _field_value_sql(fld, df)
        # struct field order = sort order: time first; other-field
        # rows carry v = NULL and contribute nothing after the filter
        arr = (
            "array_sort(filter(collect_list("
            f"struct(time_ns as t, {src_e} as v)), x -> x.v is not null))"
        )
        return F.expr(
            f"aggregate(zip_with(slice({arr}, 1, size({arr}) - 1), "
            f"slice({arr}, 2, size({arr}) - 1), "
            f"(p, c) -> (c.v + p.v) / 2 * (c.t - p.t) / 1e9 / {unit_s!r}), "
            f"cast(0.0 as double), (acc, x) -> acc + x)"
        ).alias(alias)
    if fn is None:
        raise InfluxQLError(
            "mixing bare columns with aggregates requires a single selector "
            "(FIRST/LAST/MAX/MIN/PERCENTILE) or TOP/BOTTOM/SAMPLE"
        )
    raise InfluxQLError(f"unsupported aggregate {fn!r}")


def _walk_agg_nodes(tree):
    return (leaf for leaf in _tree_leaves(tree) if leaf[0] == "agg")


def _tree_col(tree, names: dict):
    kind = tree[0]
    if kind == "num":
        return F.lit(tree[1])
    if kind == "agg":
        return F.col(names[tree[1:]])
    _, op, l, r = tree
    lc, rc = _tree_col(l, names), _tree_col(r, names)
    return {"+": lc + rc, "-": lc - rc, "*": lc * rc, "/": lc / rc}[op]


def _local_ns(ns: int, tzname: str) -> int:
    """UTC epoch-ns → local wall-clock epoch-ns (driver-side, for the
    constant spine bounds; the per-row shift is JVM-side)."""
    import datetime as dt
    from zoneinfo import ZoneInfo

    d = dt.datetime.fromtimestamp(ns // 10**9, tz=dt.timezone.utc).astimezone(
        ZoneInfo(tzname)
    )
    return ns + int(d.utcoffset().total_seconds()) * 10**9


def _window_src_ns(ast: InfluxQLQuery) -> Column:
    """Epoch-ns column the GROUP BY time() windows align on: UTC by
    default; with ``tz('Zone')`` the *local* wall-clock epoch, so
    window boundaries land on local midnights/hours (InfluxQL tz
    semantics). DST-aware via the JVM tz database."""
    if ast.tzname:
        return F.unix_micros(F.from_utc_timestamp(F.col("time"), ast.tzname)) * 1000
    return F.col("time_ns")


def _ws_time_expr(ast: InfluxQLQuery) -> Column:
    """Window-start (``_ws``) back to a UTC instant for the result's
    ``time`` column (inverse of the tz shift when tz() is active)."""
    t = F.timestamp_micros(F.expr("_ws div 1000"))
    return F.to_utc_timestamp(t, ast.tzname) if ast.tzname else t


def _window_keys(df: DataFrame, ast: InfluxQLQuery, by: list) -> tuple[DataFrame, list]:
    """A shape's group keys: the series tags, then the GROUP BY time()
    window start ``_ws`` (added to ``df``) when the statement has one."""
    if not ast.group_time_ns:
        return df, list(by)
    return df.withColumn("_ws", window_start_ns(
        _window_src_ns(ast), ast.group_time_ns, ast.group_time_offset_ns,
    )), [*by, "_ws"]


def _execute_aggregate(df: DataFrame, ast: InfluxQLQuery, by: list) -> DataFrame:
    """The aggregate/selector/arithmetic SELECT core: one groupBy over
    (tags[, window start]), arithmetic combined post-agg, fill over the
    window spine. No ordering/limits — ``_finish`` applies those."""
    # stock v1 parity: when EVERY selected aggregate is numeric-only
    # over a string/bool field, the whole statement answers with NO
    # series (probed against stock 1.x: `SELECT mean(status) FROM m`
    # → {"statement_id":0}, no values). Aggregate over an empty frame
    # (schema preserved) and disable fill so the window spine cannot
    # resurrect the dropped windows — GROUP BY time + fill(0) of a
    # string field is empty too.
    agg_calls = [(fn, fld) for fn, fld, _a in ast.fields if fn is not None]
    for tree, _a in ast.arith:
        agg_calls.extend((n[1], n[2]) for n in _walk_agg_nodes(tree))
    force_empty = ast.force_empty or (bool(agg_calls) and all(
        _null_dispatched(fn, fld, df, ast.field_slots) for fn, fld in agg_calls
    ))
    if force_empty:
        import dataclasses as _dc

        df = df.limit(0)
        ast = _dc.replace(ast, fill=None)
    df, keys = _window_keys(df, ast, by)

    aggs = [
        _agg_expr(fn, fld, alias, ast.fn_args.get(alias) or [], df,
                  ast.field_slots)
        for fn, fld, alias in ast.fields
    ]
    # arithmetic selections: each distinct aggregate call becomes one
    # internal agg column; the expression combines them post-groupBy
    internal: dict[tuple, str] = {}
    for tree, _alias in ast.arith:
        for node in _walk_agg_nodes(tree):
            key = node[1:]
            if key not in internal:
                ia = f"__x{len(internal)}"
                internal[key] = ia
                aggs.append(_agg_expr(node[1], node[2], ia, list(node[3]), df,
                                      ast.field_slots))
    out = df.groupBy(*keys).agg(*aggs)
    for tree, alias in ast.arith:
        out = out.withColumn(alias, _tree_col(tree, internal))
    if internal:
        out = out.drop(*internal.values())

    value_cols = [a for _, _, a in ast.fields] + [a for _, a in ast.arith]
    if ast.group_time_ns and ast.fill not in (None, "none"):
        if ast.time_start_ns is None or ast.time_stop_ns is None:
            raise InfluxQLError("fill() needs an explicit WHERE time range")
        start, stop = ast.time_start_ns, ast.time_stop_ns
        if ast.tzname:
            # the spine lives in the local wall-clock epoch domain
            start, stop = _local_ns(start, ast.tzname), _local_ns(stop, ast.tzname)
        spine = window_spine(
            df, start, stop, ast.group_time_ns, by=by,
            offset=ast.group_time_offset_ns,
        ).withColumnRenamed("_start_ns", "_ws").drop("_stop_ns")
        out = spine.join(out, on=keys, how="left")
        # v1 semantics: COUNT of an empty interval is 0, never null —
        # fill() does not override it (the long-standing upstream
        # behavior users hit with fill(null)+count)
        for (fn, _fld, alias) in ast.fields:
            if fn == "count" and alias in value_cols:
                out = out.withColumn(
                    alias, F.coalesce(F.col(alias), F.lit(0))
                )
        if isinstance(ast.fill, float):
            from pyspark.sql import types as _T

            for c in value_cols:
                # numeric fill literal applies to NUMERIC columns only
                # (coalesce(string_col, 0.0) casts the strings to double
                # under ANSI and crashes at runtime on the first
                # non-numeric value); string/bool aggregates keep null
                # for empty windows
                if isinstance(out.schema[c].dataType, _T.NumericType):
                    out = out.withColumn(
                        c, F.coalesce(F.col(c), F.lit(ast.fill))
                    )
        elif ast.fill == "previous":
            from pyspark.sql import Window as W

            w = W.partitionBy(*by).orderBy("_ws").rowsBetween(W.unboundedPreceding, 0)
            for c in value_cols:
                out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
        # "null" → the spine join already produced null rows
        elif ast.fill == "linear":
            from pyspark.sql import Window as W
            from pyspark.sql import types as _T

            for c in value_cols:
                # linear interpolation is numeric-only (stock: string/
                # bool columns keep null in empty windows); lerp
                # arithmetic on a boolean `last(flag)` column would be
                # an AnalysisException
                if not isinstance(out.schema[c].dataType, _T.NumericType):
                    continue
                wp = W.partitionBy(*by).orderBy("_ws").rowsBetween(W.unboundedPreceding, 0)
                wn = W.partitionBy(*by).orderBy("_ws").rowsBetween(0, W.unboundedFollowing)
                v, t = F.col(c), F.col("_ws")
                obs_t = F.when(v.isNotNull(), t)
                pv = F.last(v, ignorenulls=True).over(wp)
                pt = F.last(obs_t, ignorenulls=True).over(wp)
                nv = F.first(v, ignorenulls=True).over(wn)
                nt = F.first(obs_t, ignorenulls=True).over(wn)
                lerp = F.when(v.isNotNull(), v).otherwise(
                    F.when(pv.isNotNull() & nv.isNotNull(),
                           pv + (nv - pv) * (t - pt) / (nt - pt))
                )
                out = out.withColumn(c, lerp)

    if ast.group_time_ns:
        # stock column order: time leads every windowed series
        out = out.withColumn("time", _ws_time_expr(ast)).drop("_ws")
        out = out.select("time",
                         *[c for c in out.columns if c != "time"])
    if force_empty:
        # an ungrouped groupBy().agg() over the empty frame still emits
        # ONE null row (SQL global-aggregate semantics) — stock answers
        # with no series at all; limit(0) folds the plan to an empty
        # LocalRelation (OptimizeLimitZero), schema preserved
        out = out.limit(0)
    return out


def _execute_nested(df: DataFrame, ast: InfluxQLQuery, by: list) -> DataFrame:
    """Transform-over-aggregate nesting — the classic Grafana InfluxQL
    shape ``SELECT DERIVATIVE(MEAN(v), 1s) ... GROUP BY time(10s)``:
    aggregate per window first (full fill/spine semantics), then run
    the per-point transform over the *aggregated* series."""
    import dataclasses

    from ..operators import analytics as an_ops

    if not ast.group_time_ns:
        raise InfluxQLError("transform(aggregate(..)) needs GROUP BY time()")
    if ast.fields:
        raise InfluxQLError("cannot mix nested transforms with plain selections")
    inner_fields = [
        (inner, fld, f"__n{i}") for i, (_o, inner, fld, _a) in enumerate(ast.nested)
    ]
    inner_ast = dataclasses.replace(ast, fields=inner_fields, nested=[], arith=[])
    aggd = _execute_aggregate(df, inner_ast, by).withColumn(
        "time_ns", F.expr("unix_micros(time) * 1000")
    )
    hw = [x for x in ast.nested if x[0] in ("holt_winters", "holt_winters_with_fit")]
    if hw:
        # HOLT_WINTERS(agg(v), N[, S]) — forecast-only output (InfluxDB
        # returns just the N predicted points), so it can't row-align
        # with other transforms. HOLT_WINTERS_WITH_FIT additionally
        # emits the in-sample one-step predictions, and fits α/β(/γ)
        # by Nelder-Mead like the reference engine (forecast values are
        # engine-specific → rows-only checkable).
        if len(ast.nested) != 1:
            raise InfluxQLError("HOLT_WINTERS must be the only selection")
        outer, _inner, _fld, alias = ast.nested[0]
        with_fit = outer == "holt_winters_with_fit"
        args = ast.fn_args.get(alias, [])
        if not args:
            raise InfluxQLError("HOLT_WINTERS needs (N[, seasonality])")
        from pyspark.sql import types as _T

        if not isinstance(aggd.schema["__n0"].dataType, _T.NumericType):
            # HOLT_WINTERS(FIRST(s), ...): numeric-only — no series
            aggd = aggd.limit(0).withColumn(
                "__n0", F.lit(None).cast("double"))
        out = an_ops.holt_winters(
            aggd, n=int(args[0]),
            interval_seconds=ast.group_time_ns / 1e9,
            seasonality=int(args[1]) if len(args) > 1 else 0,
            value="__n0", by=by,
            fit=with_fit, include_fitted=with_fit,
        )
        return (
            out.withColumn("time", F.timestamp_micros(F.expr("time_ns div 1000")))
            .withColumnRenamed("hw", alias)
            .select("time", *by, alias)
        )
    aliases = []
    from pyspark.sql import types as _T

    for i, (outer, _inner, _fld, alias) in enumerate(ast.nested):
        src, args = f"__n{i}", ast.fn_args.get(alias, [])
        if (outer != "elapsed" and src in aggd.columns
                and not isinstance(aggd.schema[src].dataType,
                                   _T.NumericType)):
            # numeric-only outer transform over an any-type inner's
            # string/bool output (MOVING_AVERAGE(FIRST(s), 2) would
            # crash the ANSI cast): stock answers no series. NULL
            # input: the rows drop via the row-align keep filter
            # below. ELAPSED is any-type (time deltas).
            aggd = aggd.withColumn(src, F.lit(None).cast("double"))
        if outer in ("derivative", "non_negative_derivative"):
            unit_s = _parse_duration(args[0]) / 1e9 if args else 1.0
            aggd = an_ops.derivative(
                aggd, unit_seconds=unit_s, non_negative=outer.startswith("non_"),
                value=src, by=by, alias=alias, order=["time_ns"],
            )
        elif outer in ("difference", "non_negative_difference"):
            aggd = an_ops.difference(
                aggd, non_negative=outer.startswith("non_"), value=src,
                by=by, alias=alias, order=["time_ns"],
            )
        elif outer == "cumulative_sum":
            aggd = an_ops.cumulative_sum(aggd, value=src, by=by, alias=alias,
                                         order=["time_ns"])
        elif outer == "moving_average":
            if not args:
                raise InfluxQLError("MOVING_AVERAGE needs a window size")
            aggd = an_ops.moving_average(aggd, n=int(args[0]), value=src,
                                         by=by, alias=alias, order=["time_ns"])
        elif outer == "elapsed":
            unit_s = _parse_duration(args[0]) / 1e9 if args else 1.0
            aggd = an_ops.elapsed(aggd, unit_seconds=unit_s, by=by, alias=alias,
                                  order=["time_ns"])
        elif outer in _TA_FNS:
            # EMA(MEAN(v), 10) GROUP BY time(1h) — the Grafana TA shape
            if not args:
                raise InfluxQLError(f"{outer.upper()} needs a period argument")
            aggd = _apply_ta(outer, aggd, src, int(args[0]), by, alias)
        else:
            raise InfluxQLError(f"unhandled nested transform {outer!r}")
        aliases.append(alias)
    keep = None
    for a in aliases:
        c = F.col(a).isNotNull()
        keep = c if keep is None else (keep | c)
    return aggd.filter(keep).select("time", *by, *aliases)


def _finish(out: DataFrame, ast: InfluxQLQuery, by: list, raw: bool) -> DataFrame:
    """ORDER BY, SLIMIT/SOFFSET and LIMIT/OFFSET of every SELECT shape.

    SLIMIT keeps whole series (ranked by key); LIMIT keeps the first
    rows of each series in time order (in the statement's direction),
    or in value order when the answer has no time column. A ``raw``
    answer (one row per point) comes out sorted by series, then time,
    even without ORDER BY; the other shapes sort only for ORDER BY
    time DESC, before the limits."""
    has_time = "time" in out.columns
    ties = [c for c in ("ingest_seq",) if c in out.columns]
    order = (["time", *ties] if has_time
             else [c for c in out.columns if c not in by])
    if ast.order_desc and has_time and not raw:
        out = out.orderBy(F.desc("time"))
    if ast.slimit is not None and by:
        out = sl_ops.slimit(out, ast.slimit, series=by, soffset=ast.soffset)
    if ast.limit is not None:
        out = sl_ops.limit(out, ast.limit, ast.offset, by=by, order=order,
                           desc=ast.order_desc)
    if raw:
        out = out.orderBy(*by, *[F.desc(c) if ast.order_desc else F.col(c)
                                 for c in order])
    return out
