"""Flux-subset string frontend.

Parses the pipe-forward dashboard dialect of Flux (the language the
provisioned engine serves on ``POST /api/v2/query`` — consumption shown
at ``/root/reference/README.md:406-410``) and compiles it onto the
operator library via :class:`..plans.pipeline.Pipeline`.

Supported pipeline stages (the telemetry-dashboard core):

    from(bucket: "b")
    range(start: <time|duration|int>, stop: ...)
    filter(fn: (r) => <boolean expression over r.cols>)
    group(columns: ["a"], mode: "by"|"except")
    window(every: 1m) / aggregateWindow(every: 1m, fn: mean,
        createEmpty: false)
    count/sum/mean/median/mode/stddev/spread/skew  ()
    min/max/first/last/top(n:)/bottom(n:)/unique/distinct(column:)
    derivative(unit: 1s, nonNegative: bool) / difference() /
        increase() / cumulativeSum() / elapsed() /
        movingAverage(n:) / timedMovingAverage(period:) /
        exponentialMovingAverage(n:)
    fill(value: X | usePrevious: true, column: "c")
    sort(columns: [...], desc: bool) / limit(n:, offset:) / tail(n:)
    keep/drop(columns: [...]) / rename(columns: {a: "b"}) /
        set(key:, value:) / duplicate(column:, as:)
    pivot(rowKey:[...], columnKey: ["_field"], valueColumn: "_value")
    yield(name: "...")

Standalone schema-introspection calls (dashboard variable queries) are
also served: ``schema.measurements(bucket:)``, ``schema.fieldKeys``,
``schema.tagKeys``, ``schema.tagValues(bucket:, tag:)``.

Flux column names map onto the canonical points schema:
``_measurement → measurement``, ``_field → field``, ``_value →
f_float``, ``_time → time`` (and tag names pass through — promoted
columns or ``tags['k']``).
"""

from __future__ import annotations

import calendar
import contextlib
import dataclasses
import datetime as dt
import operator
import re
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, functions as F

from ..operators.core import ns_to_us
from ..operators.errors import OperatorValidationError
from ..operators.windows import duration_ns, duration_parts
from ..plans.pipeline import Pipeline, from_points, merge_range_bounds
from ..schema import SLOT_OF_FTYPE, tag_set_key
from .flux_expr import (
    Array, Binary, Call, Cond, FluxError, Lit, Record, Ref, Unary,
    _unescape_flux_str, compile_scalar, conjuncts, const, eq_literals,
    parse_expr, parse_fn, refs,
)


@contextlib.contextmanager
def flux_runtime_errors():
    """Uniform Python-API error contract for action time.

    ``execute_flux`` returns a lazy DataFrame, so DATA-DEPENDENT
    rejections — stock's typed conversion failure (``toFloat()`` of a
    non-numeric string: ``cannot convert string "ok" to float``,
    shaped via try_cast + assert_true in :func:`_checked_str_cast`) —
    surface at ``collect()`` as a raw ``SparkRuntimeException
    [USER_RAISED_EXCEPTION]``, not a :class:`FluxError`. The HTTP
    facade already re-shapes them on the wire (400 / mid-stream
    annotated error table — that boundary is unchanged); driver-side
    callers wrap the ACTION in this context manager to get the same
    typed error::

        with flux_runtime_errors():
            rows = execute_flux(pts, script).collect()

    Only the engine-authored assert_true shape is converted; any other
    runtime exception (a genuine engine bug, an executor OOM) passes
    through untouched.
    """
    try:
        yield
    except Exception as e:  # noqa: BLE001 — filtered below, re-raised
        cond = None
        for probe in ("getCondition", "getErrorClass"):
            fn = getattr(e, probe, None)
            if callable(fn):
                try:
                    cond = fn()
                except Exception:  # pragma: no cover - defensive
                    cond = None
                if cond:
                    break
        m = re.search(r'cannot convert string "[^"]*" to \w+', str(e))
        if cond == "USER_RAISED_EXCEPTION" and m:
            raise FluxError(m.group(0)) from None
        raise


COLMAP = {
    "_measurement": "measurement",
    "_field": "field",
    "_value": "f_float",
    "_time": "time",
    "_start": "_start_ns",
    "_stop": "_stop_ns",
}

# When an aggregate stage has replaced the raw series, `_value` should
# resolve to its single result column (Flux rebinds _value; our stages
# keep the fn-named alias) — enables count() |> group() |> sum() etc.
_VALUE_RESULT_ALIASES = (
    "count", "sum", "mean", "median", "mode", "stddev", "spread", "skew",
    "quantile", "integral", "timeWeightedAvg",
)

_DUR_RX = re.compile(
    r"^-?\d+(ns|us|ms|mo|s|m|h|d|w|y)(\d+(ns|us|ms|mo|s|m|h|d|w|y))*$"
)


def _split_pipeline(q: str) -> list[str]:
    """Split on |> at depth 0 (not inside strings/parens)."""
    stages, buf, depth, instr = [], [], 0, False
    i = 0
    while i < len(q):
        c = q[i]
        if instr:
            buf.append(c)
            if c == "\\" and i + 1 < len(q):
                buf.append(q[i + 1])
                i += 2
                continue
            if c == '"':
                instr = False
            i += 1
            continue
        if c == '"':
            instr = True
            buf.append(c)
        elif c in "([{":
            depth += 1
            buf.append(c)
        elif c in ")]}":
            depth -= 1
            buf.append(c)
        elif c == "|" and depth == 0 and q[i : i + 2] == "|>":
            stages.append("".join(buf).strip())
            buf = []
            i += 2
            continue
        else:
            buf.append(c)
        i += 1
    if "".join(buf).strip():
        stages.append("".join(buf).strip())
    return stages


class _StageArgs(dict):
    """Stage-argument dict whose missing-key access is a typed
    FluxError naming the stage — a mis-spelled required argument
    (``top(n. 2)``) must not escape as a bare KeyError."""

    def __init__(self, stage_name: str, args: dict):
        super().__init__(args)
        self._stage = stage_name

    def __missing__(self, key):
        raise FluxError(
            f"{self._stage}() missing required argument {key!r} "
            f"(got: {sorted(k for k in self)})"
        )


def _parse_stage(stage: str) -> tuple[str, str]:
    m = re.match(r"(?s)^(\w+(?:\.\w+)?)\s*\((.*)\)$", stage.strip())
    if not m:
        raise FluxError(f"cannot parse stage {stage!r}")
    return m.group(1), m.group(2).strip()


def _split_top(argstr: str) -> list[str]:
    """Split on top-level commas (respecting nesting + strings +
    lambdas) — the shared scanner under ``_split_args`` and
    ``_record_refs``."""
    depth, instr, buf = 0, False, []
    parts = []
    for c in argstr:
        if instr:
            buf.append(c)
            if c == '"':
                instr = False
            continue
        if c == '"':
            instr = True
            buf.append(c)
        elif c in "([{":
            depth += 1
            buf.append(c)
        elif c in ")]}":
            depth -= 1
            buf.append(c)
        elif c == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(c)
    if "".join(buf).strip():
        parts.append("".join(buf))
    return parts


def _split_args(argstr: str) -> dict[str, str]:
    """Top-level k: v pairs (respecting nesting + strings + lambdas)."""
    args: dict[str, str] = {}
    for p in _split_top(argstr):
        k, _, v = p.partition(":")
        args[k.strip()] = v.strip()
    return args


def _time_to_ns(tok: str, now_ns: int) -> int:
    tok = tok.strip()
    if tok == "now()":
        return now_ns
    if tok in ("today()", "yesterday()"):
        # Flux today(): midnight UTC of now; yesterday(): the day before
        day_ns = 86_400 * 10**9
        midnight = now_ns - now_ns % day_ns
        return midnight if tok == "today()" else midnight - day_ns
    if _DUR_RX.match(tok):
        months, ns = duration_parts(tok)
        if months:
            # calendar-relative (range(start: -1mo)): shift now by whole
            # months with day clamping, Flux/Go time.AddDate semantics
            d = dt.datetime.fromtimestamp(now_ns // 10**9, dt.timezone.utc)
            mi = d.year * 12 + (d.month - 1) + months
            y, m = divmod(mi, 12)
            last = calendar.monthrange(y, m + 1)[1]
            shifted = d.replace(year=y, month=m + 1, day=min(d.day, last))
            base = int(shifted.timestamp()) * 10**9 + now_ns % 10**9
            return base + ns
        return now_ns + ns
    if re.match(r"^\d+$", tok):
        return int(tok) * 10**9  # unix seconds
    iso = tok.strip('"')
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ", "%Y-%m-%d"):
        try:
            d = dt.datetime.strptime(iso, fmt).replace(tzinfo=dt.timezone.utc)
            return int(d.timestamp() * 10**6) * 1000
        except ValueError:
            continue
    raise FluxError(f"bad time literal {tok!r}")


def _shift_bound_ns(bound: int | None, duration: str) -> int | None:
    """Shift one epoch-ns range bound by a Flux duration (timeShift).

    Mirrors ``operators.core.time_shift``'s per-row semantics on the
    carried bounds: fixed units are an integer add; calendar months
    use Go ``time.AddDate`` day clamping (same as ``_time_to_ns``'s
    relative-month path). A non-Flux duration (SQL interval text) is
    accepted by time_shift but not parseable here — keep the bound
    unshifted.
    """
    if bound is None:
        return None
    try:
        months, ns = duration_parts(duration.strip())
    except (ValueError, KeyError, AttributeError):
        return bound
    if months:
        d = dt.datetime.fromtimestamp(bound // 10**9, dt.timezone.utc)
        mi = d.year * 12 + (d.month - 1) + months
        y, m = divmod(mi, 12)
        last = calendar.monthrange(y, m + 1)[1]
        shifted = d.replace(year=y, month=m + 1, day=min(d.day, last))
        return int(shifted.timestamp()) * 10**9 + bound % 10**9 + ns
    return bound + ns


def _colname(df: DataFrame, name: str) -> str:
    mapped = COLMAP.get(name, name)
    if mapped in df.columns:
        return mapped
    # join-suffixed flux names: _value_c → f_float_c etc.
    for flux, real in COLMAP.items():
        if name.startswith(flux + "_"):
            cand = real + name[len(flux):]
            if cand in df.columns:
                return cand
    if mapped == "f_float":
        # an aggregate replaced the raw series: _value now means its
        # (single) result column
        hits = [c for c in df.columns if c in _VALUE_RESULT_ALIASES]
        if len(hits) == 1:
            return hits[0]
        # a type-preserving window/aggregate landed its result in a
        # typed slot — _value means that slot
        slot_hits = [c for c in ("f_str", "f_bool") if c in df.columns]
        if len(slot_hits) == 1:
            return slot_hits[0]
    return mapped


#: resolved live slot per DataFrame OBJECT: every slot consumer
#: (_reject_non_numeric_agg, each r._value token in a map(), reduce(),
#: bare min/max) would otherwise run its own full-frame distinct at
#: plan time. Within one stage the frame object is stable, so N probes
#: collapse to 1; stages that KNOW the outgoing slot (map retype)
#: pre-seed the cache for their output frame. Weak keys: entries die
#: with the frame, no lifetime management.
import weakref

_LIVE_SLOT_CACHE: "weakref.WeakKeyDictionary[DataFrame, list]" = (
    weakref.WeakKeyDictionary()
)
#: SUPERSET entries: stages that can only
#: REMOVE rows (filter/range) propagate their input's live set here —
#: a superset of the true live set. Ordering/presence consumers
#: (sort, selectors, count, fill, conversions) are superset-safe:
#: inside a group exactly one slot is non-null regardless, so a stale
#: extra slot in the ordering tuple is a constant-NULL no-op. The
#: typed-error check is NOT superset-safe (stock's filter drops empty
#: tables, so a numeric aggregate after filtering a mix down to floats
#: must NOT raise) — it reads the exact cache only.
_LIVE_SLOT_SUPERSET: "weakref.WeakKeyDictionary[DataFrame, list]" = (
    weakref.WeakKeyDictionary()
)
#: probe-job counter, read by the plan-time-cost test (tests assert a
#: multi-stage mixed script runs ≤1 distinct probe)
_PROBE_RUNS = 0

#: catalog class map per frame: {(measurement, field): type-class} —
#: seeded from the bucket's _field_types.json by seed_live_slots and
#: propagated alongside the live-slot caches; lets the group-collision
#: check prove NON-collision from catalog pins with zero jobs. Sound
#: because pins are a SUPERSET of live rows:
#: single-class pins at the group granularity → no collision in any
#: subset. Never used to prove a collision (a pin can outlive its
#: rows; stock errors on live tables only).
_CATALOG_CLASS_CACHE: "weakref.WeakKeyDictionary[DataFrame, dict]" = (
    weakref.WeakKeyDictionary()
)

#: collision-probe job counter (the group-regroup distinct scan),
#: read by the plan-time-cost tests
_COLLISION_PROBE_RUNS = 0


def _live_slots(df: DataFrame, exact: bool = True) -> list[str]:
    """The value slots the frame's ftype discriminator says are live —
    one bounded distinct job (≤5 field types) per frame, memoized in
    ``_LIVE_SLOT_CACHE``. Frames without the discriminator or the
    extra slots are float-only by construction. ``exact=False``
    additionally accepts a propagated SUPERSET entry (see
    ``_LIVE_SLOT_SUPERSET``) — callers whose semantics tolerate a
    stale extra slot skip the probe job entirely."""
    if not _has_typed_slots(df):
        return ["f_float"]
    hit = _LIVE_SLOT_CACHE.get(df)
    if hit is not None:
        return hit
    if not exact:
        sup = _LIVE_SLOT_SUPERSET.get(df)
        if sup is not None:
            return sup
    live = ([s for s in _probe_slots(df, "ftype") if s in df.columns]
            or ["f_float"])
    _LIVE_SLOT_CACHE[df] = live
    return live


def cached_live_slots(df: DataFrame) -> list[str] | None:
    """The live-slot entry already known for ``df`` — exact, else the
    catalog superset — or None. Never runs a job."""
    hit = _LIVE_SLOT_CACHE.get(df)
    return hit if hit is not None else _LIVE_SLOT_SUPERSET.get(df)


def _probe_slots(df: DataFrame, ftype_col: str) -> list[str]:
    """The slots ``ftype_col`` says are live: one bounded distinct job
    (≤5 field types), counted in ``_PROBE_RUNS``."""
    global _PROBE_RUNS
    _PROBE_RUNS += 1
    return sorted({
        SLOT_OF_FTYPE.get(r[0], "f_float")
        for r in df.select(ftype_col).distinct().collect()
        if r[0] is not None
    }) or ["f_float"]


def _slot_cols(df: DataFrame) -> list[str]:
    """The frame's physical value slots, canonical order."""
    return [s for s in ("f_float", "f_str", "f_bool") if s in df.columns]


def _has_typed_slots(df: DataFrame) -> bool:
    """Whether the frame carries string/bool slots and the ftype
    discriminator that says which slot a row populates."""
    return "ftype" in df.columns and any(
        s in df.columns for s in ("f_str", "f_bool"))


#: group-key tuples proven type-uniform per frame (memo for
#: _reject_group_schema_collision's bounded probe)
_GROUP_UNIFORM_CACHE: "weakref.WeakKeyDictionary[DataFrame, set]" = (
    weakref.WeakKeyDictionary()
)


def _reject_group_schema_collision(df: DataFrame, group_key) -> None:
    """Stock Flux cannot materialize a table whose ``_value`` column
    mixes datatypes: a regroup that merges a string series and a float
    series into ONE table (``group(columns: ["host"])`` over a mixed
    measurement) fails with ``schema collision detected``. The engine's
    per-group typed machinery is only correct when each group is
    single-typed, so the consumers that would otherwise silently
    compute on a franken-table (``group(host) |> mode()`` emitting a
    row with BOTH slots populated) raise the stock error instead.

    Cost: plan-time ZERO when the group key carries the type
    discriminators (measurement+field — the overwhelmingly common
    shape) or the frame is single-typed; otherwise one bounded
    distinct job ((groups × ≤5 ftypes) rows), memoized per frame+key.
    Int/uint fold into the float class per the engine's documented
    numeric unification, so only float/string/bool collide."""
    if "ftype" not in df.columns:
        return
    gk = tuple(k for k in group_key if k in df.columns)
    if {"measurement", "field"} <= set(gk) or {"series_key", "field"} <= set(gk):
        return
    if len(_live_slots(df, exact=False)) == 1:
        return
    checked = _GROUP_UNIFORM_CACHE.get(df)
    if checked is not None and gk in checked:
        return
    cat = _CATALOG_CLASS_CACHE.get(df)
    if cat:
        # catalog proof of NON-collision: if every group at the
        # key's granularity is single-class per the bucket's type pins,
        # no subset of rows can collide — zero jobs. Field-level keys
        # check per field name, measurement-level per measurement,
        # anything else (tag-only keys like ["host"]) needs the whole
        # bucket single-class; otherwise the bounded probe below runs
        # (tag→type co-location is data, not catalog).
        by: dict = {}
        for (m, f), classes in cat.items():
            key = f if "field" in gk else m if "measurement" in gk else None
            by.setdefault(key, set()).update(classes)
        if all(len(v) == 1 for v in by.values()):
            _GROUP_UNIFORM_CACHE.setdefault(df, set()).add(gk)
            return
    global _COLLISION_PROBE_RUNS
    _COLLISION_PROBE_RUNS += 1
    cls = F.when(F.col("ftype").isin("float", "int", "uint"), "float") \
        .otherwise(F.col("ftype"))
    base = df.select(*gk, cls.alias("_tcls")).distinct()
    if gk:
        offender = (base.groupBy(*gk)
                    .agg(F.collect_set("_tcls").alias("_ts"))
                    .filter(F.size("_ts") > 1).limit(1).collect())
    else:
        row = base.agg(F.collect_set("_tcls").alias("_ts")).collect()[0]
        offender = [row] if len(row["_ts"]) > 1 else []
    if offender:
        ts = sorted(offender[0]["_ts"])
        raise FluxError(
            'schema collision detected: column "_value" is both of '
            f"type {ts[0]} and type {ts[1]}"
        )
    _GROUP_UNIFORM_CACHE.setdefault(df, set()).add(gk)


#: per-side live-slot memo for join-suffixed frames: df -> {sfx: slot}
_SUFFIX_SLOT_CACHE: "weakref.WeakKeyDictionary[DataFrame, dict]" = (
    weakref.WeakKeyDictionary()
)


def _suffixed_live_slot(df: DataFrame, name: str) -> str:
    """Resolve a join-suffixed float binding (``f_float_b``) to its
    side's live slot via that side's own discriminator (``ftype_b`` —
    join outputs carry every per-side column), so a map() read of
    ``r._value_b`` on a string side reads its strings, not the dead
    ``f_float_b``. Single-typed sides resolve
    (one bounded distinct, memoized per frame+side); mixed sides keep
    the float binding."""
    m = re.match(r"^f_float(_\w+)$", name)
    if not m:
        return name
    sfx = m.group(1)
    if f"ftype{sfx}" not in df.columns:
        return name
    extra = [s for s in (f"f_str{sfx}", f"f_bool{sfx}") if s in df.columns]
    if not extra:
        return name
    memo = _SUFFIX_SLOT_CACHE.setdefault(df, {})
    if sfx not in memo:
        memo[sfx] = _probe_slots(df, f"ftype{sfx}")
    live = memo[sfx]
    cand = f"{live[0]}{sfx}"
    return cand if len(live) == 1 and cand in df.columns else name


def _typed_field_pivot(df: DataFrame, grouping, val: str):
    """Per-type field pivot, shared by the ``pivot`` stage and
    ``schema.fieldsAsCols``: on a mixed measurement each output column
    reads its ftype's slot (never all-NULL DOUBLE columns pivoted from
    the dead float slot). The
    (field, ftype) distinct is bounded by field-key cardinality.
    Returns None when the frame is float-only (plain pivot applies)."""
    if not (val == "f_float" and _has_typed_slots(df)):
        return None
    fmap: dict = {}
    for r in df.select("field", "ftype").distinct().collect():
        s = SLOT_OF_FTYPE.get(r[1], "f_float")
        if s not in df.columns:
            s = "f_float"
        if r[0] not in fmap or s == "f_float":
            fmap[r[0]] = s
    if not any(s != "f_float" for s in fmap.values()):
        return None
    return df.groupBy(*grouping).agg(*[
        F.first(F.when(F.col("field") == f, F.col(s)),
                ignorenulls=True).alias(f)
        for f, s in sorted(fmap.items())
    ])


def _carry_slot_cache(src: DataFrame, dst: DataFrame,
                      demote: bool = False,
                      carry_catalog: bool = True) -> None:
    """Copy src's live-slot cache entry onto dst (a frame derived by a
    stage that cannot ADD live types). ``demote=True`` (row-removing
    stages) lands the entry in the superset cache regardless of the
    source's confidence; otherwise the entry keeps its confidence.
    ``carry_catalog=False`` (rename touching measurement/field): the
    (m, f)-keyed class map no longer describes the frame's rows."""
    if dst is src or "ftype" not in dst.columns:
        return
    # the catalog class map stays valid through every ftype-keeping
    # stage (they preserve measurement/field/ftype triples; row
    # removal only shrinks the superset the pins already cover)
    if carry_catalog:
        cat = _CATALOG_CLASS_CACHE.get(src)
        if cat is not None and dst not in _CATALOG_CLASS_CACHE:
            _CATALOG_CLASS_CACHE[dst] = cat
    hit = _LIVE_SLOT_CACHE.get(src)
    sup = hit if hit is not None else _LIVE_SLOT_SUPERSET.get(src)
    if sup is None:
        return
    pruned = [s for s in sup if s in dst.columns] or ["f_float"]
    if demote or hit is None:
        if dst not in _LIVE_SLOT_CACHE and dst not in _LIVE_SLOT_SUPERSET:
            _LIVE_SLOT_SUPERSET[dst] = pruned
    elif dst not in _LIVE_SLOT_CACHE:
        _LIVE_SLOT_CACHE[dst] = pruned


def _pred_eq_literals(pred, flux_col: str) -> set | None:
    """The set of values a filter predicate (a parsed body, or its
    source over ``r``) provably constrains ``flux_col`` to, or None when
    unconstrained — :func:`.flux_expr.eq_literals` over the one tree,
    so ``and`` binds tighter than ``or`` and string literals never
    split."""
    return eq_literals(
        parse_expr(pred, ("r",)) if isinstance(pred, str) else pred, flux_col)


def _narrow_catalog_on_filter(src: DataFrame, dst: DataFrame, pred) -> None:
    """Narrow the catalog class map and live-slot superset through a
    measurement/field equality filter: ``filter(fn: (r) =>
    r._measurement == "m")`` is THE standard Flux idiom, and after it
    the surviving rows can only carry m's pinned classes — so a
    single-class measurement inside a multi-class bucket keeps
    zero-probe plans for every downstream consumer, including
    group(columns:) collision checks. Sound because narrowing only
    SHRINKS the superset the pins already cover."""
    cat = _CATALOG_CLASS_CACHE.get(src)
    if cat is None or dst is src:
        return
    meas = _pred_eq_literals(pred, "_measurement")
    fld = _pred_eq_literals(pred, "_field")
    if meas is None and fld is None:
        return
    narrowed = {
        (m, f): c for (m, f), c in cat.items()
        if (meas is None or m in meas) and (fld is None or f in fld)
    }
    if not narrowed:
        # the filter names nothing the catalog pins (e.g. a write
        # landed between the field_types() read and execution):
        # install NOTHING so the runtime probe self-heals — an empty
        # map would falsely prove "no collision" and an f_float
        # superset default re-binds the dead float slot (as in
        # seed_live_slots)
        return
    _CATALOG_CLASS_CACHE[dst] = narrowed
    live = sorted({SLOT_OF_FTYPE[c] for cls in narrowed.values() for c in cls
                   if c in SLOT_OF_FTYPE})
    live = [s for s in live if s in dst.columns]
    if not live:
        return  # no recognized classes: leave the probe to self-heal
    if dst not in _LIVE_SLOT_CACHE and dst not in _LIVE_SLOT_SUPERSET:
        _LIVE_SLOT_SUPERSET[dst] = live


def seed_live_slots(df: DataFrame, ftypes, exact: bool = False,
                    catalog: dict | None = None) -> None:
    """Pre-seed the live-slot cache from CATALOG knowledge: a
    store-backed session knows the bucket's field-type pins, so the
    from() frame never needs a runtime ftype probe. Catalog pins are a
    SUPERSET of the live data (a pin can outlive its rows — zero-row
    INTO pins, deletes), so callers seed the superset cache unless
    they can vouch the types have live rows.

    ``catalog`` — the bucket's full ``{measurement: {field: ftype}}``
    map (``BucketStore.field_types``) — additionally seeds the
    class-map cache so ``group(columns:)`` collision checks on
    store-backed frames resolve from the pins with zero probe jobs."""
    live = sorted({SLOT_OF_FTYPE[t] for t in ftypes if t in SLOT_OF_FTYPE})
    live = [s for s in live if s in df.columns]
    if not live:
        # NO recognized catalog types (deleted types file, incomplete
        # known_types caller): seed NOTHING so the runtime probe runs
        # and self-heals — defaulting to f_float here understated the
        # superset while string/bool rows existed, and superset
        # consumers silently bound the dead float slot
        return
    (_LIVE_SLOT_CACHE if exact else _LIVE_SLOT_SUPERSET)[df] = live
    if catalog:
        fold = {"float": "float", "int": "float", "uint": "float"}
        # values are SETS of classes so union() can merge two buckets'
        # maps soundly (a (m, f) pinned float in one bucket and string
        # in another merges to both classes, never a false "safe")
        _CATALOG_CLASS_CACHE[df] = {
            (m, f): {fold.get(t, t)}
            for m, fields in catalog.items() for f, t in fields.items()
        }


def _checked_str_cast(c: Column, spark_type: str, flux_type: str) -> Column:
    """Cast a STRING column with stock Flux's runtime-error contract:
    an unparseable value fails the query with ``cannot convert string
    "<v>" to <type>`` (stock: strconv parse error) instead of leaking
    Spark's raw ANSI ``NumberFormatException``. try_cast probes
    parseability; assert_true carries the stock-shaped message. NULLs
    pass through."""
    tc = c.try_cast(spark_type)
    ok = c.isNull() | tc.isNotNull()
    msg = F.concat(F.lit('cannot convert string "'), c,
                   F.lit(f'" to {flux_type}'))
    return F.when(F.assert_true(ok, msg).isNull(), tc)


def _value_slot_runtime(df: DataFrame, col: str) -> str:
    """Resolve which slot ``_value`` denotes for ops whose semantics
    need the ACTUAL values (distinct/unique/sort): when the frame
    carries string/bool slots and its ftype discriminator says exactly
    one non-float type is live, that slot is the value column.
    Mixed frames (>1 live type) return ``col`` untouched — the ops
    that can handle a mix per-group (count/distinct/unique) consult
    :func:`_live_slots` directly."""
    if col != "f_float" or not _has_typed_slots(df):
        return col
    live = _live_slots(df, exact=False)
    if len(live) == 1:
        return live[0]
    # a SUPERSET entry saying "mixed" may be stale (a filter narrowed
    # the mix to one type) — resolve EXACTLY before declaring the
    # binding ambiguous, so single-slot callers (duplicate, map reads)
    # never bind the dead float slot of a truly-uniform frame
    live = _live_slots(df)
    return live[0] if len(live) == 1 else col


def _slot_of_sparktype(dtype) -> tuple[str, str]:
    """Which value slot (and ftype tag) a compiled map() expression's
    Spark type lands in: the engine folds all numerics into the double
    ``f_float`` slot (schema.unify_numeric_value's documented
    divergence — int surfaces as float downstream), strings into
    ``f_str``, booleans into ``f_bool``."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.StringType):
        return "f_str", "string"
    if isinstance(dtype, T.BooleanType):
        return "f_bool", "bool"
    return "f_float", "float"


def _reject_non_numeric_agg(df: DataFrame, col: str, fn: str) -> None:
    """Stock Flux rejects numeric-only aggregates over string/bool
    series with a typed runtime error. Resolves the live slots via the
    same bounded probe as :func:`_value_slot_runtime` (no job on
    float-only frames) and raises the stock-shaped message. A MIXED
    frame (union of a string and a float stream) raises too — stock
    computes per table and the non-numeric table errors the query
    rather than averaging the float rows alone.

    Also consults the column's ACTUAL Spark type — a windowed
    string result (carried in ``f_str``, or any string/bool column
    named directly, e.g. ``mean(column: "host")``) is the same typed
    error in stock regardless of the ftype discriminator."""
    if col in df.columns:
        dt = dict(df.dtypes).get(col)
        if dt == "string":
            raise FluxError(
                f"unsupported input type for {fn} aggregate: string"
            )
        if dt == "boolean":
            raise FluxError(
                f"unsupported input type for {fn} aggregate: bool"
            )
    if col != "f_float" or "ftype" not in df.columns:
        return
    # a superset entry (the catalog's type pins) can prove the string
    # and bool slots absent; only a superset naming one of them needs
    # the exact probe (a pin can outlive its rows)
    if not {"f_str", "f_bool"} & set(_live_slots(df, exact=False)):
        return
    bad = [s for s in _live_slots(df) if s in ("f_str", "f_bool")]
    if bad:
        t = "string" if bad[0] == "f_str" else "bool"
        raise FluxError(
            f"unsupported input type for {fn} aggregate: {t}"
        )


def _col(df: DataFrame, name: str) -> Column:
    name = _colname(df, name)
    if name in df.columns:
        return F.col(name)
    if "tags" in df.columns:
        return F.col("tags")[name]
    raise FluxError(f"unknown column {name!r}")


def _bit_shift(kind: str, a: Column, b: Column) -> Column:
    """bitwise shift with Go/Flux >= 64 semantics: the
    JVM masks the count mod 64 (shiftleft(a, 64) == a), Go shifts out
    to 0 (or sign-fill for the arithmetic right shift)."""
    a64, bi = a.cast("long"), b.cast("int")
    fn = {"l": "shiftleft", "r": "shiftright", "u": "shiftrightunsigned"}[kind]
    shifted = F.call_function(fn, a64, bi)
    sat = (
        F.call_function("shiftright", a64, F.lit(63))  # sign-fill
        if kind == "r"
        else F.lit(0).cast("long")
    )
    return F.when(bi >= F.lit(64), sat).otherwise(shifted)


def _lit(v: str):
    v = v.strip()
    if v.startswith('"'):
        return v[1:-1]
    if v in ("true", "false"):
        return v == "true"
    if re.match(r"^-?\d+\.\d+$", v):
        return float(v)
    if re.match(r"^-?\d+$", v):
        return int(v)
    return v


def _int_lit(v: str) -> int:
    """A stage argument that must be a Flux int literal — a typed
    FluxError otherwise (every user-input parse raises the typed error
    itself). ``limit(n: true)`` / ``limit(n: 1.5)`` are type errors in
    stock, not n=1."""
    parsed = _lit(v)
    if not isinstance(parsed, int) or isinstance(parsed, bool):
        raise FluxError(
            f"invalid argument: expected an integer, got {v.strip()!r}"
        )
    return parsed


def _float_lit(v: str) -> float:
    """A stage argument that must be a Flux float (or int) literal —
    bools and strings are typed errors, not 1.0 coercions."""
    parsed = _lit(v)
    if not isinstance(parsed, (int, float)) or isinstance(parsed, bool):
        raise FluxError(
            f"invalid argument: expected a number, got {v.strip()!r}"
        )
    return float(parsed)


def _strlist(v: str) -> list[str]:
    return [s.strip().strip('"') for s in v.strip("[]").split(",") if s.strip()]


def _aw_time_src(args) -> str:
    """aggregateWindow's ``timeSrc:`` — "_stop" (default) or "_start";
    anything else is a typed error, not a silent stop-stamp."""
    src = _lit(args.get("timeSrc", '"_stop"'))
    if src not in ("_start", "_stop"):
        raise FluxError(
            f"aggregateWindow() timeSrc must be \"_start\" or \"_stop\", "
            f"got {src!r}"
        )
    return src


def _location_value(expr: str) -> str:
    """A Flux location value → a JVM timezone id.

    ``timezone.location(name: "America/Chicago")`` → the named IANA
    zone; ``timezone.fixed(offset: -8h)`` → ``GMT-08:00`` (Flux fixed
    offsets are east-positive, same sign convention as the GMT ids);
    a bare string literal passes through. Reference consumption: the
    provisioned engine serves stock Flux, whose ``option location``
    re-aligns window boundaries to local wall clock."""
    s = expr.strip()
    m = re.match(r'^timezone\.location\s*\(\s*name\s*:\s*"([^"]+)"\s*\)$', s)
    if m:
        return m.group(1)
    m = re.match(r"^timezone\.fixed\s*\(\s*offset\s*:\s*([-\w]+)\s*\)$", s)
    if m:
        off_ns = duration_ns(m.group(1))
        if off_ns % (60 * 10**9):
            raise FluxError(
                "timezone.fixed(offset:) must be a whole number of minutes"
            )
        mins = abs(off_ns) // (60 * 10**9)
        if mins == 0:
            return "UTC"
        sign = "+" if off_ns > 0 else "-"
        return f"GMT{sign}{mins // 60:02d}:{mins % 60:02d}"
    if s.startswith('"') and s.endswith('"'):
        return _lit(s)
    raise FluxError(f"unsupported location value {expr!r}")


# Flux stdlib functions usable inside map(): labeled-argument calls
# compiled to JVM-side Column expressions (no UDF). Each entry maps
# (ordered arg labels) -> Column builder.
_MAP_FUNCS: dict = {
    "strings.toUpper": (("v",), lambda v: F.upper(v)),
    "strings.toLower": (("v",), lambda v: F.lower(v)),
    "strings.trimSpace": (("v",), lambda v: F.trim(v)),
    "strings.trim": (("v", "cutset"), lambda v, c: F.btrim(v, c)),
    "strings.trimLeft": (("v", "cutset"), lambda v, c: F.ltrim(v, c)),
    "strings.trimRight": (("v", "cutset"), lambda v, c: F.rtrim(v, c)),
    "strings.strlen": (("v",), lambda v: F.length(v).cast("long")),
    "strings.replaceAll": (("v", "t", "u"), lambda v, t, u: F.replace(v, t, u)),
    "strings.substring": (
        ("v", "start", "end"),
        lambda v, s, e: F.substring(v, s + F.lit(1), e - s),
    ),
    "strings.containsStr": (("v", "substr"), lambda v, s: F.contains(v, s)),
    "strings.repeat": (("v", "i"), lambda v, i: F.repeat(v, i)),
    # Go strings.Index semantics: 0-based, -1 when absent (instr is
    # 1-based with 0-absent, so the -1 shift gives both)
    "strings.index": (
        ("v", "substr"),
        lambda v, s: (F.instr(v, s) - F.lit(1)).cast("long"),
    ),
    "strings.hasPrefix": (("v", "prefix"), lambda v, p: F.startswith(v, p)),
    "strings.hasSuffix": (("v", "suffix"), lambda v, p: F.endswith(v, p)),
    "math.abs": (("x",), lambda x: F.abs(x)),
    "math.sqrt": (("x",), lambda x: F.sqrt(x)),
    "math.exp": (("x",), lambda x: F.exp(x)),
    "math.log": (("x",), lambda x: F.log(x)),
    "math.log2": (("x",), lambda x: F.log2(x)),
    "math.log10": (("x",), lambda x: F.log10(x)),
    "math.pow": (("x", "y"), lambda x, y: F.pow(x, y)),
    "math.floor": (("x",), lambda x: F.floor(x).cast("double")),
    "math.ceil": (("x",), lambda x: F.ceil(x).cast("double")),
    "math.round": (("x",), lambda x: F.round(x, 0)),
    "math.trunc": (("x",), lambda x: x.cast("long").cast("double")),
    "math.mMax": (("x", "y"), lambda x, y: F.greatest(x, y)),
    # bitwise package (Flux stdlib `bitwise.`): s* operates on int64,
    # u* on uint64. The engine models uint as the int64 slot (two's-
    # complement bit pattern), so and/or/xor/not/clear/set/lshift are
    # bit-identical across both families; only right-shift differs
    # (arithmetic vs logical) — srshift uses sign-extending shiftright,
    # urshift uses shiftrightunsigned. All JVM-side Column ops.
    "bitwise.sand": (("a", "b"), lambda a, b: a.bitwiseAND(b)),
    "bitwise.sor": (("a", "b"), lambda a, b: a.bitwiseOR(b)),
    "bitwise.sxor": (("a", "b"), lambda a, b: a.bitwiseXOR(b)),
    "bitwise.snot": (("a",), lambda a: F.bitwise_not(a.cast("long"))),
    "bitwise.sclear": (
        ("a", "b"),
        lambda a, b: a.bitwiseAND(F.bitwise_not(b.cast("long"))),
    ),
    "bitwise.sset": (("a", "b"), lambda a, b: a.bitwiseOR(b)),
    "bitwise.slshift": (("a", "b"), lambda a, b: _bit_shift("l", a, b)),
    "bitwise.srshift": (("a", "b"), lambda a, b: _bit_shift("r", a, b)),
    "bitwise.uand": (("a", "b"), lambda a, b: a.bitwiseAND(b)),
    "bitwise.uor": (("a", "b"), lambda a, b: a.bitwiseOR(b)),
    "bitwise.uxor": (("a", "b"), lambda a, b: a.bitwiseXOR(b)),
    "bitwise.unot": (("a",), lambda a: F.bitwise_not(a.cast("long"))),
    "bitwise.uclear": (
        ("a", "b"),
        lambda a, b: a.bitwiseAND(F.bitwise_not(b.cast("long"))),
    ),
    "bitwise.uset": (("a", "b"), lambda a, b: a.bitwiseOR(b)),
    "bitwise.ulshift": (("a", "b"), lambda a, b: _bit_shift("l", a, b)),
    "bitwise.urshift": (
        ("a", "b"),
        lambda a, b: _bit_shift("u", a, b),
    ),
    # experimental time arithmetic: d arrives as a ns-long literal
    # (factor() parses duration tokens via duration_ns); µs-precision
    # timestamp math matches the engine's time column resolution
    "experimental.addDuration": (
        ("d", "to"),
        lambda d, to: F.timestamp_micros(
            F.unix_micros(to) + F.floor(d / 1000).cast("long")
        ),
    ),
    "experimental.subDuration": (
        ("d", "from"),
        lambda d, frm: F.timestamp_micros(
            F.unix_micros(frm) - F.floor(d / 1000).cast("long")
        ),
    ),
    # date package: truncation via exact ns arithmetic (units w/d/h/m/s
    # — epoch-aligned like window()); extractors via Spark datetime fns
    "date.truncate": (
        ("t", "unit"),
        lambda t, u: F.timestamp_micros(
            (
                (F.unix_micros(t) * 1000 - F.pmod(F.unix_micros(t) * 1000, u))
                / F.lit(1000)
            ).cast("long")
        ),
    ),
    "date.hour": (("t",), lambda t: F.hour(t).cast("long")),
    "date.minute": (("t",), lambda t: F.minute(t).cast("long")),
    "date.second": (("t",), lambda t: F.second(t).cast("long")),
    "date.monthDay": (("t",), lambda t: F.dayofmonth(t).cast("long")),
    "date.month": (("t",), lambda t: F.month(t).cast("long")),
    "date.year": (("t",), lambda t: F.year(t).cast("long")),
    # Flux weekDay: Sunday = 0
    "date.weekDay": (("t",), lambda t: (F.dayofweek(t) - 1).cast("long")),
    "math.mMin": (("x", "y"), lambda x, y: F.least(x, y)),
    # type conversions: float()/int()/uint()/string() — Flux int()
    # truncates toward zero (Spark cast semantics, unlike SQL round)
    "float": (("v",), lambda v: v.cast("double")),
    "int": (("v",), lambda v: v.cast("long")),
    "uint": (("v",), lambda v: v.cast("long")),
    "string": (("v",), lambda v: v.cast("string")),
    "bool": (("v",), lambda v: v.cast("boolean")),
    # time(v:): epoch-ns int or RFC3339 string → timestamp. Branch on
    # the string form per row (digits = ns) — JVM-side, no UDF; a
    # timestamp input stringifies non-numeric and round-trips.
    "time": (
        ("v",),
        lambda v: F.when(
            v.cast("string").rlike("^-?[0-9]+$"),
            F.timestamp_micros(ns_to_us(v)),
        ).otherwise(F.to_timestamp(v.cast("string"))),
    ),
    # duration(v:): Flux's duration type has no table representation;
    # the engine errors on storing it. We keep the integer-ns form
    # (the arithmetic-compatible representation all window/shift args
    # accept) — documented divergence.
    "duration": (("v",), lambda v: v.cast("long")),
    # display(v:): Flux's human string form — Spark's string cast
    # matches for ints/floats/bools/strings (compound types diverge
    # on brace style; acceptable for the logging idiom it serves)
    "display": (("v",), lambda v: v.cast("string")),
}


#: map functions whose result is a string (drives ``+``-as-concat) or a
#: boolean (valid as a predicate); every other result is numeric
_MAP_FN_KIND = {
    **dict.fromkeys((
        "strings.toUpper", "strings.toLower", "strings.trimSpace",
        "strings.trim", "strings.trimLeft", "strings.trimRight",
        "strings.replaceAll", "strings.substring", "strings.repeat",
        "string", "display"), "str"),
    **dict.fromkeys((
        "strings.containsStr", "strings.hasPrefix", "strings.hasSuffix",
        "bool"), "bool"),
}

#: operand kind → the Flux type name used in stock's binary-expression
#: type errors (the engine's arithmetic runs in doubles, so "num" reads
#: as float)
_FLUX_KIND = {"num": "float", "str": "string", "bool": "bool"}

#: Spark dtype → Flux kind of a compared column
_SPARK_KIND = {"boolean": "bool", "string": "string", "double": "float",
               "float": "float", "bigint": "int", "int": "int",
               "smallint": "int", "tinyint": "int"}

_ARITH = {"+": operator.add, "-": operator.sub, "*": operator.mul,
          "/": operator.truediv, "%": operator.mod}

_COMPARE = {
    "==": operator.eq, "!=": operator.ne, ">": operator.gt,
    ">=": operator.ge, "<": operator.lt, "<=": operator.le,
    "=~": lambda c, v: c.rlike(v),
    # Flux !~: matches-regex negated; a null operand (missing tag)
    # propagates null and the filter drops the row, the engine's
    # null-comparison behavior
    "!~": lambda c, v: ~c.rlike(v),
}


class _Columns:
    """The Column walk of one expression tree over ``df``: each node
    compiles to ``(Column, kind)``, kind "num", "str" or "bool" — the
    Flux type that picks ``+``-as-concat and the stock type errors.
    ``stage`` names the Flux stage in its errors. All JVM-side, no UDF."""

    def __init__(self, df: DataFrame, stage: str):
        self.df = df
        self.dtypes = dict(df.dtypes)
        self.stage = stage

    def name_of(self, ref: Ref) -> str:
        """The name member ``ref`` reads in ``df``: its field. reduce()'s
        accumulator is no column of ``df``, so reading it stops the walk
        (and sends the fold to its sequential path)."""
        if ref.param == "accumulator":
            raise FluxError(f"{self.stage}(): accumulator.{ref.field} is "
                            "not a column of the input rows")
        if ref.field is None:
            raise FluxError(f"{ref.param!r} is a record, not a value")
        return ref.field

    def predicate(self, node) -> Column:
        col, kind = self.value(node)
        if kind != "bool":
            raise FluxError(
                f"cannot parse predicate: expected a bool, got {_FLUX_KIND[kind]}")
        return col

    def value(self, node) -> tuple[Column, str]:
        df = self.df
        match node:
            case Lit("string", v):
                return F.lit(v), "str"
            case Lit("bool", v):
                return F.lit(v), "bool"
            case Lit("int" | "float" | "duration", v):
                return F.lit(v), "num"
            case Lit("regex", _):
                raise FluxError("regex literal needs =~ or !~")
            case Ref():
                return self.member(self.name_of(node))
            case Unary("-", arg):
                col, kind = self.value(arg)
                if kind != "num":
                    raise FluxError(
                        f"unsupported unary expression -{_FLUX_KIND[kind]}")
                return -col, "num"
            case Unary("not", Unary("exists", ref)):
                return _col(df, self.name_of(ref)).isNull(), "bool"
            case Unary("exists", ref):
                return _col(df, self.name_of(ref)).isNotNull(), "bool"
            case Unary("not", arg):
                return ~self.predicate(arg), "bool"
            case Binary("and", left, right):
                return self.predicate(left) & self.predicate(right), "bool"
            case Binary("or", left, right):
                return self.predicate(left) | self.predicate(right), "bool"
            case Binary(op, Ref() as ref, right) if (
                    op in _COMPARE and (lit := _cmp_literal(right))):
                return _compare_member(df, self.name_of(ref), op, lit), "bool"
            case Binary("=~" | "!~" as op, left, Lit("regex", pattern)):
                col, kind = self.value(left)
                if kind != "str":
                    raise FluxError(
                        f"type conflict: {_FLUX_KIND[kind]} {op} regexp")
                return _COMPARE[op](col, pattern), "bool"
            case Binary(op, left, right):
                (a, ka), (b, kb) = self.value(left), self.value(right)
                if op in _COMPARE:
                    if ka != kb:
                        raise FluxError(f"type conflict: {_FLUX_KIND[ka]} "
                                        f"{op} {_FLUX_KIND[kb]}")
                    return _COMPARE[op](a, b), "bool"
                if op == "+" and "str" in (ka, kb):
                    # Flux string concatenation. Lenient divergence:
                    # stock only concats string + string; number
                    # operands are stringified here rather than rejected
                    return F.concat(a.cast("string"), b.cast("string")), "str"
                if ka != "num" or kb != "num":
                    # stock type-errors arithmetic over string/bool
                    # operands; the slot binding would compile it and
                    # fail with an ANSI cast at collect time
                    raise FluxError("unsupported binary expression "
                                    f"{_FLUX_KIND[ka]} {op} {_FLUX_KIND[kb]}")
                return _ARITH[op](a, b), "num"
            case Cond(test, then, other):
                cond = self.predicate(test)
                col, kind = self.value(then)
                return F.when(cond, col).otherwise(self.value(other)[0]), kind
            case Call(name, args):
                return self.call(name, dict(args))
        raise FluxError(
            f"unsupported {type(node).__name__.lower()} in an expression")

    def member(self, name: str) -> tuple[Column, str]:
        """A record member read as a value. ``_value`` binds the live
        slot; a join-suffixed ``_value_<side>`` its side's live slot."""
        df, dtypes = self.df, self.dtypes
        real = _colname(df, name)
        if real not in dtypes:
            # tags-map fallback: tag values are strings by model
            return _col(df, name), "str"
        if real == "f_float":
            # r._value on a string/bool-typed frame means that slot, as
            # in the comparison binding
            resolved = _value_slot_runtime(df, real)
            if (resolved == "f_float"
                    and any(s in dtypes for s in ("f_str", "f_bool"))
                    and len(_live_slots(df)) > 1):
                # MIXED frame: a read of _value cannot bind one slot —
                # stock evaluates per table and the op type-errors the
                # mismatched table, failing the query; the dead-slot
                # binding silently nulled every non-float row instead
                live_t = {"f_float": "float", "f_str": "string",
                          "f_bool": "bool"}
                types = " and ".join(live_t[s] for s in _live_slots(df))
                raise FluxError(
                    f"type conflict in {self.stage}(): _value is {types} "
                    "across input tables")
            real = resolved
        elif real.startswith("f_float_"):
            real = _suffixed_live_slot(df, real)
        kind = ("str" if dtypes[real] == "string"
                else "bool" if dtypes[real] == "boolean" else "num")
        return F.col(real), kind

    def call(self, name: str, args: dict) -> tuple[Column, str]:
        if name in _MAP_FUNCS:
            labels, builder = _MAP_FUNCS[name]
            got = {k: self.value(v)[0] for k, v in args.items()}
            try:
                col = builder(*[got[k] for k in labels])
            except KeyError as missing:
                raise FluxError(f"{name} missing argument {missing}") from None
            return col, _MAP_FN_KIND.get(name, "num")
        if name == "contains":
            value, members = args.get("value"), args.get("set")
            vals = ([const(m) for m in members.items]
                    if isinstance(members, Array) else [None])
            if not isinstance(value, Ref) or None in vals:
                raise FluxError(
                    "contains() needs value: r.<column> and set: [literals]")
            return _col(self.df, self.name_of(value)).isin(vals), "bool"
        if name in ("geo.ST_Distance", "geo.ST_DWithin", "geo.ST_Contains"):
            return self.geo(name, args)
        raise FluxError(f"unsupported function or identifier {name!r}")

    def geo(self, fn: str, args: dict) -> tuple[Column, str]:
        """``geo.ST_Distance/ST_DWithin/ST_Contains``: region is a
        literal record, geometry a {lat:, lon:} record whose values may
        read row columns. Haversine km, all Column trig."""
        from ..operators import geo as geo_ops

        if "geometry" not in args or "region" not in args:
            raise FluxError(f"{fn} requires region: and geometry:")
        geometry = args["geometry"]
        g = ({k: self.value(v)[0] for k, v in geometry.fields}
             if isinstance(geometry, Record) else {})
        if "lat" not in g or "lon" not in g:
            raise FluxError(f"{fn} geometry must be a {{lat:, lon:}} record")
        region = _geo_region(args["region"])
        if fn == "geo.ST_Contains":
            try:
                return (geo_ops.region_strict_predicate(
                    region, g["lat"], g["lon"]), "bool")
            except OperatorValidationError as e:
                raise FluxError(str(e)) from None
        if not ({"lat", "lon"} <= region.keys() and "radius" not in region):
            raise FluxError(
                f"{fn} needs a point region ({{lat:, lon:}}) — distances "
                "to box/circle/polygon edges are not supported"
            )
        dist = geo_ops.haversine_km(
            g["lat"], g["lon"], F.lit(region["lat"]), F.lit(region["lon"])
        )
        if fn == "geo.ST_Distance":
            return dist, "num"
        radius_km = _number(args.get("distance"))
        if radius_km is None:
            raise FluxError(
                "geo.ST_DWithin requires distance: as a numeric literal")
        return dist <= F.lit(radius_km), "bool"


def _cmp_literal(node) -> Lit | None:
    """The literal of a ``member <op> literal`` comparison, a negated
    number folded in; None for any other right operand."""
    match node:
        case Lit("duration", _):
            return None
        case Lit():
            return node
        case Unary("-", Lit("int" | "float" as kind, v)):
            return Lit(kind, -v)
    return None


def _compare_member(df: DataFrame, name: str, op: str, lit: Lit) -> Column:
    """``r.<name> <op> <literal>``: the member binds the slot the
    literal's type selects, and operand kinds follow stock's rules."""
    c = _col(df, name)
    real = _colname(df, name)
    if real in df.columns:
        if real == "f_float":
            # the live slot, not the physical default — a string
            # series' _value IS its f_str, so the comparison reads it
            # (mixed frames resolve to f_float and keep the documented
            # lenient per-literal slot binding below)
            resolved = _value_slot_runtime(df, real)
            if resolved != real:
                real, c = resolved, F.col(resolved)
        bound_kind = _SPARK_KIND.get(dict(df.dtypes).get(real))
    else:
        bound_kind = "string"  # tags-map access
    val, lit_kind = lit.value, lit.kind
    if lit.kind == "time":
        # RFC3339 time literal: compare on the exact-ns column
        # (canonical frames always carry time_ns; the µs timestamp
        # column would silently truncate sub-µs bounds)
        val, lit_kind = _time_to_ns(lit.value, 0), None
        if _colname(df, name) == "time":
            if "time_ns" in df.columns:
                c = F.col("time_ns")
            elif "time" in df.columns:
                # keep()/drop() may have pruned time_ns; re-derive it
                # from the µs timestamp rather than comparing a
                # timestamp column against an epoch-ns long
                c = F.unix_micros(F.col("time")) * F.lit(1000)
            else:
                raise FluxError(
                    "time comparison requires a _time column in the frame"
                )
    elif lit.kind in ("string", "bool", "regex"):
        # _value compared to a string/bool literal binds that typed slot
        # (stock Flux's _value is typed per table); a regex on _value
        # can only match the string slot. Join-suffixed _value_<side>
        # binds its side's slot.
        slot = "f_bool" if lit.kind == "bool" else "f_str"
        if lit.kind != "regex" or op in ("=~", "!~"):
            sfx = (real[len("f_float"):]
                   if real == "f_float" or real.startswith("f_float_") else None)
            if sfx is not None and slot + sfx in df.columns:
                c = F.col(slot + sfx)
                bound_kind = "bool" if lit.kind == "bool" else "string"
    elif name == "_value" or COLMAP.get(name) == "f_float":
        val, lit_kind = float(val), "float"
    # cross-type comparison rules (stock Flux): a comparison whose
    # operand types conflict is a runtime "type conflict" error, never
    # an ANSI cast failure or a read of the dead float slot. Applied
    # only when the bound column's kind is KNOWABLE: single-typed
    # frames (live-slot resolution above) and tag accesses. Mixed
    # frames keep the documented lenient slot binding — stock accepts
    # the common `r._field == "x" and r._value == <lit>` idiom through
    # and-short-circuiting, which the slot binding reproduces without
    # per-row type dispatch.
    if bound_kind and lit_kind:
        if lit_kind == "regex":
            if op in ("=~", "!~") and bound_kind != "string":
                raise FluxError(f"type conflict: {bound_kind} {op} regexp")
        elif not (bound_kind == lit_kind
                  or {bound_kind, lit_kind} <= {"int", "float"}):
            raise FluxError(f"type conflict: {bound_kind} {op} {lit_kind}")
    return _COMPARE[op](c, val)


def _number(node) -> float | None:
    """A numeric literal's value as a float, else None."""
    v = const(node)
    return float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else None


def _geo_region(node) -> dict:
    """A Flux geo region record → dict: box {minLat,...}, circle {lat,
    lon, radius}, polygon {points: [{lat, lon}, ...]}, or a bare point
    {lat, lon} (the ST_* geometry form)."""
    if not isinstance(node, Record):
        raise FluxError("geo region must be a record literal")
    fields = dict(node.fields)
    if "points" not in fields:
        out = {k: _number(v) for k, v in fields.items()}
        bad = [k for k, v in out.items() if v is None]
        if bad:
            raise FluxError(f"geo region field {bad[0]} must be numeric")
        return out
    if not isinstance(fields["points"], Array):
        raise FluxError("polygon region needs points: [{lat:, lon:}, ...]")
    pts = []
    for rec in fields["points"].items:
        kv = dict(rec.fields) if isinstance(rec, Record) else {}
        lat, lon = _number(kv.get("lat")), _number(kv.get("lon"))
        if lat is None or lon is None:
            raise FluxError("polygon point needs numeric lat:/lon:")
        pts.append({"lat": lat, "lon": lon})
    return {"points": pts}


def _additive_terms(node) -> list[tuple[str, object]]:
    """The signed top-level terms of an additive chain: ``a + b*c - d``
    → ``[("+", a), ("+", b*c), ("-", d)]``."""
    if isinstance(node, Binary) and node.op in ("+", "-"):
        return [*_additive_terms(node.left), (node.op, node.right)]
    return [("+", node)]


def _negate_head(node):
    """A leading ``-`` as Flux binds it: to the first factor of a
    product."""
    if isinstance(node, Binary) and node.op in ("*", "/", "%"):
        return Binary(node.op, _negate_head(node.left), node.right)
    return Unary("-", node)


def _reads_accumulator(node) -> bool:
    return any(ref.param == "accumulator" for ref in refs(node))


def _linear_increment(cols: _Columns, key: str, node) -> Column | None:
    """If the reduce() field update has the associative shape
    ``accumulator.key + f(r)`` (in any additive arrangement, incl.
    conditional branches), the per-row increment Column f(r); else
    None (→ the general sequential fold runs instead)."""
    acc = Ref("accumulator", key)
    if node == acc:
        return F.lit(0.0)
    if isinstance(node, Cond):
        inc_t = _linear_increment(cols, key, node.then)
        inc_e = _linear_increment(cols, key, node.other)
        if inc_t is None or inc_e is None:
            return None
        try:
            return F.when(cols.predicate(node.test), inc_t).otherwise(inc_e)
        except FluxError:
            return None
    terms = _additive_terms(node)
    rest = [(s, t) for s, t in terms if t != acc]
    if ([s for s, t in terms if t == acc] != ["+"]
            or any(_reads_accumulator(t) for _, t in rest)):
        return None
    (sign, inc), *tail = rest
    inc = _negate_head(inc) if sign == "-" else inc
    for sign, t in tail:
        inc = Binary(sign, inc, t)
    try:
        return cols.value(inc)[0]
    except FluxError:
        return None


def _fold_term(cols: _Columns, key: str, node, identity):
    """The fast-path ``(increment, op)`` of one accumulator field, or
    None when the field must fold sequentially."""
    acc = Ref("accumulator", key)
    if node == acc:
        return None, "const"
    if isinstance(node, Call) and node.name in ("math.mMax", "math.mMin"):
        a = dict(node.args)
        other = (a.get("y") if a.get("x") == acc
                 else a.get("x") if a.get("y") == acc else None)
        if other is not None and not _reads_accumulator(other):
            return (cols.value(other)[0],
                    "max" if node.name == "math.mMax" else "min")
    # the "sum" fast path is only valid for numeric accumulators: a
    # string identity (e.g. {s: ""} built via accumulator.s + r.host)
    # matches the same shape but must fold sequentially
    if isinstance(identity, (int, float)) and not isinstance(identity, bool):
        inc = _linear_increment(cols, key, node)
        if inc is not None:
            return inc, "sum"
    return None


def _reduce_stage(pipe, df, args, call):
    """Flux ``reduce(fn: (r, accumulator) => ({...}), identity: {...})``.

    Fast path: every accumulator field whose update is ``acc + f(r)``
    (incl. conditional increments) or ``math.mMax/mMin(acc, f(r))``
    compiles to ONE ``groupBy().agg()`` — map-side combine, no Python.
    Note the fast path folds in unordered (associative) fashion: for
    float sums this can differ from Flux's sequential fold by last-ulp
    rounding; integer-valued accumulators are exact.

    Fallback: any non-associative field (products, string builds,
    order-dependent logic) sends the WHOLE fold to
    ``operators.fold.pandas_fold`` — a literal sequential fold of each
    group in pipeline order, through the closure walk of the same tree.
    """
    from ..operators import fold as _fold

    if "fn" not in args or "identity" not in args:
        raise FluxError("reduce() requires fn: and identity:")
    ident = parse_expr(args["identity"], ())
    identity = ({k: const(v) for k, v in ident.fields}
                if isinstance(ident, Record) and ident.base is None else None)
    if identity is None or None in identity.values():
        raise FluxError(f"reduce identity must be a record of literals, "
                        f"got {args['identity']!r}")
    body = parse_fn(args["fn"]).body
    if not isinstance(body, Record) or body.base is not None:
        raise FluxError(f"cannot parse reduce fn {args['fn']!r}")
    fields = dict(body.fields)
    unknown = set(fields) - set(identity)
    if unknown:
        raise FluxError(f"reduce fn writes fields missing from identity: {unknown}")
    updates = {k: fields.get(k, Ref("accumulator", k)) for k in identity}

    by = list(pipe.group_key)
    cols = _Columns(df, call.name)
    terms = {}
    for k, ident in identity.items():
        term = _fold_term(cols, k, updates[k], ident)
        if term is None:
            break
        terms[k] = (ident, *term)
    else:
        return pipe._with(_fold.linear_fold(df, by, terms))

    # general sequential fold (pandas_fold). r._value resolves to
    # the frame's LIVE slot, so a string-building reduce over a string
    # series reads strings; float-only frames keep the plan-time binding.
    vslot = (_value_slot_runtime(df, "f_float")
             if "f_float" in df.columns else "f_float")

    def _resolve(n: str) -> str:
        c = _colname(df, n)
        return vslot if c == "f_float" else c

    steps = {k: compile_scalar(node, _resolve) for k, node in updates.items()}

    def step(acc: dict, row: dict) -> dict:
        return {k: fn(row, acc) for k, fn in steps.items()}

    read = {_resolve(ref.field) for node in updates.values()
            for ref in refs(node) if ref.param != "accumulator" and ref.field}
    needed = by + sorted(
        {c for c in df.columns
         if c in (vslot, "f_float", "time_ns", "ingest_seq")}
        | (read & set(df.columns))
    )
    pruned = df.select(*dict.fromkeys(needed))
    return pipe._with(
        _fold.pandas_fold(pruned, by, pipe.order, identity, step))


def _split_statements(q: str) -> list[str]:
    """Top-level statements of a Flux script: ``name = <pipeline>``
    assignments and the final result pipeline. A statement continues on
    lines starting with ``|>`` or while brackets are open."""
    stmts: list[str] = []
    buf: list[str] = []
    depth = 0
    for raw in q.splitlines():
        line = raw.rstrip()
        if not line.strip() or line.lstrip().startswith("//"):
            continue
        # import statements bind stdlib package names (interpolate,
        # math, strings, ...) — the dispatcher resolves dotted names
        # directly, so the import line itself is a no-op
        if depth == 0 and not buf and re.match(r'^\s*import\s+"[^"]+"\s*$', line):
            continue
        if buf and depth == 0 and not line.lstrip().startswith("|>"):
            stmts.append("\n".join(buf))
            buf = []
        buf.append(line)
        instr = False
        prev = ""
        for c in line:
            if instr:
                if c == '"' and prev != "\\":
                    instr = False
            elif c == '"':
                instr = True
            elif c in "([{":
                depth += 1
            elif c in ")]}":
                depth -= 1
            prev = c
    if buf:
        stmts.append("\n".join(buf))
    return stmts


def _split_toplevel_records(s: str) -> list[str]:
    """``[{..}, {..}]`` → the ``{..}`` record strings (depth-aware:
    commas inside records don't split)."""
    s = s.strip()
    if s.startswith("[") and s.endswith("]"):
        s = s[1:-1]
    out, depth, buf, instr = [], 0, [], False
    for ch in s:
        if ch == '"':
            instr = not instr
        if not instr:
            if ch in "{[(":
                depth += 1
            elif ch in "}])":
                depth -= 1
            elif ch == "," and depth == 0:
                if "".join(buf).strip():
                    out.append("".join(buf).strip())
                buf = []
                continue
        buf.append(ch)
    if "".join(buf).strip():
        out.append("".join(buf).strip())
    return out


def _record_refs(s: str) -> list[tuple[str, str]]:
    """``{k1: v1, k2: v2}`` → [(k1, v1), ...] (identifier values).
    Quote/depth-aware via the shared top-level scanner: a quoted value
    may contain a comma."""
    inner = s.strip()
    if inner.startswith("{") and inner.endswith("}"):
        inner = inner[1:-1]
    out = []
    for part in _split_top(inner):
        if part.strip():
            k, _, v = part.partition(":")
            out.append((k.strip(), v.strip()))
    return out


#: schema.* (2.x) and v1.* (the influxdata/influxdb/v1 package Grafana's
#: Flux datasource emits) introspection calls — same dispatcher
_SCHEMA_RX = re.compile(
    r'^\s*(?:import\s+"[^"]+"\s*)*(?:schema|v1)\.(\w+)\s*\((.*)\)\s*$', re.DOTALL
)


def _schema_fn(points: DataFrame, fn: str, args: dict, tag_cols) -> DataFrame:
    """``schema.measurements/fieldKeys/tagKeys/tagValues`` — the
    dashboard-variable introspection calls. One distinct-aggregate scan
    each; output is a single sorted ``_value`` column (the InfluxDB
    result shape). ``tag_cols`` names promoted tag columns for frames
    that materialize hot tags instead of a map."""
    spark = points.sparkSession
    if fn == "measurements":
        out = points.select(F.col("measurement").alias("_value")).distinct()
    elif fn == "fieldKeys":
        out = points.select(F.col("field").alias("_value")).distinct()
    elif fn == "tagKeys":
        if "tags" in points.columns:
            out = points.select(
                F.explode(F.map_keys("tags")).alias("_value")
            ).distinct()
        else:
            out = spark.createDataFrame([(c,) for c in tag_cols], "_value string")
    elif fn == "tagValues":
        tag = _lit(args["tag"])
        col = F.col(tag) if tag in points.columns else F.col("tags")[tag]
        out = (
            points.select(col.cast("string").alias("_value"))
            .filter(F.col("_value").isNotNull())
            .distinct()
        )
    else:
        raise FluxError(f"unsupported schema function {fn!r}")
    return out.orderBy("_value")


def _predicate_columns(df: DataFrame, fn_src: str) -> list[str]:
    """Columns of ``df`` matched by a ``(column) => <predicate on
    column>`` function (the keep/drop fn: form). Column names are
    plan-time metadata, so the predicate runs in Python (the closure
    walk), not per row. Matching is done on the FLUX-visible name
    (f_float ↔ _value etc.) so ``column =~ /^_/`` selects what a Flux
    user expects."""
    fn = parse_fn(fn_src)
    if len(fn.params) != 1 or any(ref.field for ref in refs(fn.body)):
        raise FluxError(f"unsupported keep/drop fn predicate {fn_src!r}")
    test = compile_scalar(fn.body, str)
    rev = {real: flux for flux, real in COLMAP.items()}
    # engine plumbing a Flux user never sees — not part of the visible
    # column set the predicate ranges over
    internal = {"time_ns", "ingest_seq", "_ts_raw", "ftype", "props", "tags"}
    out = []
    for c in df.columns:
        if c in internal:
            continue
        hit = test(rev.get(c, c), None)
        if not isinstance(hit, bool):
            raise FluxError(f"unsupported keep/drop fn predicate {fn_src!r}")
        if hit:
            out.append(c)
    return out


def _tags_map_col(df: DataFrame) -> Column | None:
    """The frame's tag set as a map Column: the ``tags`` map when
    present, else parsed from the serialized ``series_key``."""
    if "tags" in df.columns:
        return F.col("tags")
    if "series_key" in df.columns:
        return F.str_to_map(
            F.split(F.col("series_key"), r"\|").getItem(1),
            F.lit(","), F.lit("="),
        )
    return None


def _frame_tag_keys(df: DataFrame) -> list[str]:
    """Distinct tag KEYS of the frame — one small job bounded by
    tag-key cardinality."""
    m = _tags_map_col(df)
    if m is None:
        return []
    return sorted(
        r[0]
        for r in df.select(F.explode(F.map_keys(m)).alias("k")).distinct().collect()
        if r[0]
    )


def _with_tags_map(df: DataFrame, newmap: Column) -> DataFrame:
    """Apply a rewritten tags map: update the ``tags`` column when
    present and re-serialize ``series_key`` (same format as
    schema.series_key) so downstream grouping follows the new tag
    set."""
    if "tags" in df.columns:
        df = df.withColumn("tags", newmap)
        newmap = F.col("tags")
    if "series_key" in df.columns:
        key = tag_set_key(newmap)
        meas = (
            F.col("measurement") if "measurement" in df.columns
            else F.split(F.col("series_key"), r"\|").getItem(0)
        )
        fieldp = (
            F.col("field") if "field" in df.columns
            else F.split(F.col("series_key"), r"\|").getItem(2)
        )
        df = df.withColumn("series_key", F.concat_ws("|", meas, key, fieldp))
    return df


def _remove_tags_from_key(df: DataFrame, names: list[str]) -> DataFrame:
    """Stock keep()/drop() regroup semantics for the tags-map model:
    removing a tag key must merge series that differ only in it, so
    BOTH the tags map and the serialized series_key are rewritten to
    exclude ``names``."""
    m = _tags_map_col(df)
    if m is None:
        return df
    return _with_tags_map(
        df, F.map_filter(m, lambda k, v: ~k.isin(*names) & (k != ""))
    )


def _rename_tag_in_key(df: DataFrame, old: str, new: str) -> DataFrame:
    """Stock rename() for a map-resident tag key: rewrite the tags map
    (and series_key) so the tag keeps grouping under its new name (the
    key is not a real column)."""
    m = _tags_map_col(df)
    if m is None:
        return df
    renamed = F.transform_keys(
        m, lambda k, v: F.when(k == old, F.lit(new)).otherwise(k)
    )
    return _with_tags_map(df, renamed)


def _series_key_sans_field(df: DataFrame) -> DataFrame:
    """The stored ``series_key`` embeds the field name as its trailing
    ``|``-segment (schema.series_key: measurement|tags|field). Once
    ``_field`` pivots into columns, rows of different fields belong to
    the SAME output series — strip the suffix so the key no longer
    splits them into one half-null row per field."""
    if "series_key" in df.columns:
        df = df.withColumn(
            "series_key", F.regexp_replace("series_key", r"\|[^|]*$", "")
        )
    return df


def _promote_value(pipe, alias: str):
    """Flux value-transform stages (derivative/difference/increase/
    cumulativeSum/movingAverage/…EMA) REPLACE ``_value``; the
    underlying operators append a named result column instead. Rebind
    that column to ``f_float`` (the ``_value`` mapping) so downstream
    stages — aggregates, ``filter(fn: (r) => r._value …)``, further
    transforms — see the transformed series, not the raw one
    (``derivative() |> mean()`` averages the derivative)."""
    df2 = pipe.df.drop("f_float").withColumnRenamed(alias, "f_float")
    return pipe._with(df2)


def execute_flux(
    points: DataFrame,
    query: str,
    now_ns: int | None = None,
    group_key: tuple[str, ...] = ("measurement", "field"),
    tag_cols: tuple[str, ...] = (),
    sink=None,
    result_name: str | None = None,
) -> DataFrame:
    """Compile + run a Flux script against a canonical points DF.

    Supports multi-statement scripts: ``x = from(...) |> ...``
    assignments feeding ``join(tables: {a: x, b: y}, on: [...])`` /
    ``union(tables: [x, y])`` sources, plus ``map()`` arithmetic — the
    Grafana-dashboard dialect beyond single pipes.

    ``result_name`` selects one of the script's ``yield(name:)``
    results; without it the last result pipeline (or last yield) wins.
    ``execute_flux_multi`` returns every yielded result by name.
    """
    _, result = _execute_flux_script(
        points, query, now_ns, group_key, tag_cols, sink, result_name
    )
    return result


def execute_flux_multi(
    points: DataFrame,
    query: str,
    now_ns: int | None = None,
    group_key: tuple[str, ...] = ("measurement", "field"),
    tag_cols: tuple[str, ...] = (),
    sink=None,
) -> dict[str, DataFrame]:
    """All named results of a multi-yield Flux script, keyed by yield
    name (``_result`` for unnamed); single-result scripts come back as
    ``{"_result": df}``."""
    yields, result = _execute_flux_script(
        points, query, now_ns, group_key, tag_cols, sink, None
    )
    if not yields:
        return {"_result": result}
    return {k: p.df for k, p in yields.items()}


# Test-injectable transport for http.post: callable(url, headers: dict,
# body: bytes) -> status int. None → real urllib POST. The hook is the
# same honest escape hatch the multimodal decode_fn uses: production
# behavior is real, tests swap in a recorder without a live listener.
HTTP_POST_TRANSPORT = None


def _default_http_transport(url: str, headers: dict, body: bytes) -> int:
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, data=body, method="POST")
    for k, v in headers.items():
        req.add_header(k, v)
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status
    except urllib.error.HTTPError as e:
        return e.code
    except OSError as e:  # connection refused / DNS / socket timeout
        raise FluxError(f"http.post to {url!r} failed: {e}") from None


def _http_post_stmt(argstr: str) -> int:
    """Flux stdlib ``http.post(url:, headers:, data:)`` as a script
    statement (the task/alert side-channel idiom). Driver-side, one
    call per statement — never inside a distributed plan. Returns the
    HTTP status code like stock. ``data`` accepts a string literal or
    ``bytes(v: "...")``; ``headers`` a record of string literals."""
    args = _split_args(argstr)
    if "url" not in args:
        raise FluxError("http.post requires url:")
    url = _lit(args["url"])
    if not re.match(r"^https?://", url):
        raise FluxError(f"http.post url must be http(s), got {url!r}")
    headers = {}
    if "headers" in args:
        rec = args["headers"].strip()
        if not (rec.startswith("{") and rec.endswith("}")):
            raise FluxError("http.post headers: must be a record literal")
        for k, v in _record_refs(rec):
            headers[k.strip('"')] = _lit(v)
    body = b""
    if "data" in args:
        d = args["data"].strip()
        bm = re.match(r'^bytes\s*\(\s*v\s*:\s*("(?:[^"\\]|\\.)*")\s*\)$',
                      d, re.DOTALL)
        raw = bm.group(1) if bm else d
        if not (raw.startswith('"') and raw.endswith('"')):
            raise FluxError(
                'http.post data: must be a string or bytes(v: "...") literal'
            )
        # single-pass unescape of the standard Flux string escapes
        body = _unescape_flux_str(_lit(raw)).encode()
    transport = HTTP_POST_TRANSPORT or _default_http_transport
    return int(transport(url, headers, body))


def _execute_flux_script(
    points, query, now_ns, group_key, tag_cols, sink, result_name
):
    import time as _time

    sm = _SCHEMA_RX.match(query)
    if sm:
        return {}, _schema_fn(points, sm.group(1), _split_args(sm.group(2)), tag_cols)

    now_ns = now_ns if now_ns is not None else _time.time_ns()
    env: dict[str, Pipeline] = {}
    yields: dict[str, Pipeline] = {}
    result: Pipeline | None = None
    location = "UTC"
    # Options are HOISTED script-wide (Flux semantics): an `option`
    # statement takes effect for every query in the script regardless
    # of where it appears, so pre-scan all statements before running
    # any pipeline. Last assignment wins.
    statements = []
    for stmt in _split_statements(query):
        om = re.match(
            r"^\s*option\s+(location|now)\s*=\s*(.*)$", stmt, re.DOTALL
        )
        if not om:
            statements.append(stmt)
        elif om.group(1) == "location":
            # option location = timezone.location(name:)/fixed(offset:)
            # — window/aggregateWindow boundaries move to local
            # wall-clock marks for the whole script
            location = _location_value(om.group(2))
        else:
            # option now = () => <time> — pins now() for relative
            # ranges (the task/dashboard replay idiom)
            nm = re.match(r"^\(\s*\)\s*=>\s*(.+)$", om.group(2).strip())
            if not nm:
                raise FluxError("option now must be () => <time literal>")
            now_ns = _time_to_ns(nm.group(1).strip(), now_ns)
    for stmt in statements:
        am = re.match(r"^\s*(\w+)\s*=(?![=~>])\s*(.*)$", stmt, re.DOTALL)
        name, body = (am.group(1), am.group(2)) if am else (None, stmt)
        hm = re.match(r"^\s*http\.post\s*\((.*)\)\s*$", body, re.DOTALL)
        if hm:
            status = _http_post_stmt(hm.group(1))
            if name:
                # `code = http.post(...)` binds a scalar, not a table;
                # a 1-row frame keeps it referenceable (array.from-like)
                env[name] = Pipeline(
                    points.sparkSession.createDataFrame(
                        [(status,)], "status: long"),
                    (), order=())
            continue
        try:
            pipe = _run_pipeline(points, body, now_ns, group_key, env,
                                 sink=sink, yields=yields, location=location)
        except OperatorValidationError as e:
            # plan-time argument validation deep in the operator layer
            # (duration units, calendar window constraints, ...) is
            # USER-INPUT rejection — surface it as the typed error
            # every frontend consumer handles (e.g. `every: 1mo10d`,
            # period/every calendar mismatches). ONLY the dedicated
            # validation type
            # converts: a plain ValueError escaping
            # here is an engine bug and surfaces as one.
            raise FluxError(str(e)) from None
        if name:
            env[name] = pipe
        else:
            result = pipe
    if result_name is not None:
        if result_name not in yields:
            raise FluxError(
                f"no yield named {result_name!r} (have {sorted(yields)})"
            )
        return yields, yields[result_name].df
    if result is None and yields:
        # assignment-only script whose yields carry the results
        result = next(reversed(yields.values()))
    if result is None:
        raise FluxError("script has no result pipeline (only assignments)")
    return yields, result.df


def _source_stage(
    points: DataFrame,
    stage: str,
    group_key: tuple[str, ...],
    env: dict[str, Pipeline],
) -> Pipeline:
    """First stage of a pipeline: from() / join() / union() / variable."""
    if re.fullmatch(r"\w+", stage.strip()):
        ref = stage.strip()
        if ref not in env:
            raise FluxError(f"unknown table variable {ref!r}")
        return env[ref]
    name, argstr = _parse_stage(stage)
    args = _StageArgs(name, _split_args(argstr) if argstr else {})
    if name == "from":
        p = from_points(points, group_key=group_key)
        # carry a catalog seed (control/httpapi.py seed_live_slots)
        # across from_points' unify projection — the session's
        # catalog-known type set rides the whole pipe via the
        # stage-loop propagation, so catalog-known buckets never pay
        # a plan-time ftype probe on the hot consumers
        _carry_slot_cache(points, p.df)
        return p
    if name == "sql.from":
        # stdlib sql.from from SCRIPT TEXT: driverName "derby" maps to
        # the embedded driver Spark ships; any other value is passed
        # through as a JDBC driver class name
        from ..sources.aux_sources import sql_from as _sql_from

        drv = _lit(args.get("driverName", '""')) or None
        if drv == "derby":
            drv = "org.apache.derby.jdbc.EmbeddedDriver"
        # Flux string escapes (\" \\) must be unescaped before the
        # query text reaches the JDBC engine
        query = _lit(args["query"]).replace('\\"', '"').replace("\\\\", "\\")
        df = _sql_from(
            points.sparkSession, _lit(args["dataSourceName"]), query, driver=drv,
        )
        return Pipeline(df, (), order=())
    if name == "csv.from":
        if "csv" in args:
            # csv.from(csv: "...") — inline ANNOTATED CSV text (the
            # Flux stdlib's other form). The literal keeps \n
            # escapes from the script text.
            from .annotated_csv import from_annotated_csv

            text = _lit(args["csv"]).replace("\\n", "\n").replace('\\"', '"')
            df = from_annotated_csv(points.sparkSession, text)
            return Pipeline(df, (), order=())
        from ..sources.aux_sources import csv_from as _csv_from

        df = _csv_from(points.sparkSession, _lit(args["file"]))
        return Pipeline(df, (), order=())
    if name == "array.from":
        from ..sources.aux_sources import array_from as _array_from

        rows = [
            {k: _lit(v) for k, v in _record_refs(rec)}
            for rec in _split_toplevel_records(args["rows"])
        ]
        if not rows:
            raise FluxError("array.from needs rows: [{...}, ...]")
        df = _array_from(points.sparkSession, rows)
        return Pipeline(df, (), order=())
    if name == "union":
        refs = _strlist(args["tables"])
        if not refs:
            raise FluxError("union needs tables: [a, b, ...]")
        pipes = []
        for r in refs:
            if r not in env:
                raise FluxError(f"unknown table variable {r!r}")
            pipes.append(env[r])
        acc = pipes[0]
        for p in pipes[1:]:
            acc = acc.union(p)
        # live-slot seeding: union is THE mixed-frame producer —
        # when every branch carries a cache entry (catalog seed +
        # stage propagation), the merged set seeds the output so the
        # first slot consumer after union() skips its probe. Exact
        # only if every branch is exact; any superset branch demotes.
        sets, exact = [], True
        for p in pipes:
            e = _LIVE_SLOT_CACHE.get(p.df)
            if e is None:
                e = _LIVE_SLOT_SUPERSET.get(p.df)
                exact = False
            if e is None:
                sets = None
                break
            sets.append(e)
        if sets is not None and "ftype" in acc.df.columns:
            merged = sorted({s for e in sets for s in e
                             if s in acc.df.columns}) or ["f_float"]
            (_LIVE_SLOT_CACHE if exact else _LIVE_SLOT_SUPERSET)[acc.df] = merged
        # catalog class maps merge per (measurement, field) — set-union
        # of classes, so conflicting pins across buckets keep BOTH
        # classes and can never prove a false "no collision";
        # any branch without a map leaves the union unseeded
        cats = [_CATALOG_CLASS_CACHE.get(p.df) for p in pipes]
        if all(c is not None for c in cats):
            merged_cat: dict = {}
            for c in cats:
                for k, classes in c.items():
                    merged_cat.setdefault(k, set()).update(classes)
            _CATALOG_CLASS_CACHE[acc.df] = merged_cat
        return acc
    if name in ("join", "experimental.join"):
        refs = _record_refs(args["tables"])
        if len(refs) != 2:
            raise FluxError("join supports exactly two tables")
        (lk, lv), (rk, rv) = refs
        for v in (lv, rv):
            if v not in env:
                raise FluxError(f"unknown table variable {v!r}")
        left, right = env[lv], env[rv]
        on = [COLMAP.get(c, c) for c in _strlist(args["on"])]
        # typed error, not AnalysisException, when a join key is gone
        # (e.g. on: ["_time"] after an aggregate dropped the time
        # column)
        for c, flux_name in zip(on, _strlist(args["on"])):
            for side, p in ((lk, left), (rk, right)):
                if c not in p.df.columns:
                    raise FluxError(
                        f"join on: column {flux_name!r} does not exist "
                        f"in table {side!r} (columns: "
                        f"{sorted(p.df.columns)})"
                    )
        # method: (public Flux join arg) — inner default; left/right/
        # full map 1:1 onto Spark join types (cross is rejected: a
        # cross join on a time-series stream is a mistake at any scale)
        method = _lit(args.get("method", '"inner"'))
        if method not in ("inner", "left", "right", "full"):
            raise FluxError(f"unsupported join method {method!r}")
        spark_how = {"inner": "inner", "left": "left_outer",
                     "right": "right_outer", "full": "full_outer"}[method]
        # Flux suffixes colliding non-join columns with the record keys
        overlap = sorted((set(left.df.columns) & set(right.df.columns)) - set(on))
        ldf, rdf = left.df, right.df
        for c in overlap:
            ldf = ldf.withColumnRenamed(c, f"{c}_{lk}")
            rdf = rdf.withColumnRenamed(c, f"{c}_{rk}")
        joined = ldf.join(rdf, on, spark_how)
        gk = tuple(c for c in left.group_key if c in joined.columns) or tuple(on)
        order = tuple(
            c for c in ("time_ns", "time") if c in joined.columns
        ) or tuple(on)
        return Pipeline(joined, gk, order=order,
                        range_bounds=merge_range_bounds(left.range_bounds,
                                                        right.range_bounds))
    jm = re.match(r"^join\.(inner|left|right|full|time)$", name)
    if jm:
        return _join_package(jm.group(1), args, env)
    raise FluxError(f"pipeline must start with from/join/union/variable, got {name!r}")


def _join_package(kind: str, args: dict, env: dict) -> Pipeline:
    """The modern Flux ``join`` package (``import "join"``):
    ``join.inner/left/right/full(left:, right:, on: (l, r) => ...,
    as: (l, r) => ({...}))`` and ``join.time`` (equality on ``_time``).

    Supported surface: ``on`` as a conjunction of ``l.<c> == r.<c>``
    equalities (the only on-shape the engine's planner accepts too),
    ``as`` as a record literal — ``({l with k: <expr>, ...})`` /
    ``({r with ...})`` / an explicit record — whose values are the
    same arithmetic/scalar expressions ``map()`` accepts, over
    ``l.<col>`` / ``r.<col>`` refs. Anything else is a typed error.
    One hash shuffle per side on the join keys, same as ``join()``.
    """
    how = {"inner": "inner", "left": "left_outer", "right": "right_outer",
           "full": "full_outer", "time": "inner"}[kind]
    for k in ("left", "right"):
        if k not in args:
            args[k]  # typed missing-argument error
    lv, rv = args["left"].strip(), args["right"].strip()
    for v in (lv, rv):
        if v not in env:
            raise FluxError(f"unknown table variable {v!r}")
    left, right = env[lv], env[rv]

    pairs: list[tuple[str, str]] = []
    if kind == "time":
        tcol = "time_ns" if (
            "time_ns" in left.df.columns and "time_ns" in right.df.columns
        ) else "time"
        pairs = [(tcol, tcol)]
    else:
        for part in conjuncts(parse_fn(args["on"]).body):
            match part:
                case Binary("==", Ref("l", lname), Ref("r", rname)) if (
                        lname and rname):
                    pairs.append((_colname(left.df, lname),
                                  _colname(right.df, rname)))
                case _:
                    raise FluxError(
                        f"join.{kind} on: must be l.<col> == r.<col> "
                        "equalities")
    for (lc, rc) in pairs:
        if lc not in left.df.columns:
            raise FluxError(f"join.{kind}: left has no column {lc!r}")
        if rc not in right.df.columns:
            raise FluxError(f"join.{kind}: right has no column {rc!r}")

    ldf = left.df.select([F.col(c).alias(f"l_{c}") for c in left.df.columns])
    rdf = right.df.select([F.col(c).alias(f"r_{c}") for c in right.df.columns])
    cond = None
    for lc, rc in pairs:
        c = ldf[f"l_{lc}"] == rdf[f"r_{rc}"]
        cond = c if cond is None else cond & c
    joined = ldf.join(rdf, cond, how)

    if "as" not in args:
        args["as"]  # typed missing-argument error
    as_fn = parse_fn(args["as"])
    record = as_fn.body
    if not isinstance(record, Record) or len(as_fn.params) != 2:
        raise FluxError(f"join.{kind} as: must return a record literal")
    side = dict(zip(as_fn.params, ("l", "r")))
    frames = {"l": left.df, "r": right.df}

    class _SideColumns(_Columns):
        def name_of(self, ref: Ref) -> str:
            """``l.x`` / ``r["x"]`` → the prefixed joined column,
            resolving the Flux name against the owning side's frame:
            l._value on a string/bool side binds ITS live slot, as the
            join-suffixed binding does."""
            s = side[ref.param]
            real = _colname(frames[s], super().name_of(ref))
            return f"{s}_{_value_slot_runtime(frames[s], real)}"

    sel: dict[str, Column] = {}
    base = side.get(record.base)
    if base:
        for c in frames[base].columns:
            sel[c] = F.col(f"{base}_{c}")
    cols = _SideColumns(joined, f"join.{kind}")
    for k, node in record.fields:
        sel[COLMAP.get(k, k)] = cols.value(node)[0]
    if not sel:
        raise FluxError(f"join.{kind} as: record is empty")
    out = joined.select([c.alias(n) for n, c in sel.items()])
    if "time" in out.columns and "time_ns" not in out.columns:
        out = out.withColumn("time_ns", F.expr("unix_micros(time) * 1000"))
    base_pipe = left if base != "r" else right
    gk = tuple(c for c in base_pipe.group_key if c in out.columns) or tuple(
        lc for lc, _ in pairs if lc in out.columns
    )
    order = tuple(c for c in ("time_ns", "time") if c in out.columns)
    return Pipeline(out, gk, order=order,
                    range_bounds=merge_range_bounds(left.range_bounds,
                                                    right.range_bounds))


@dataclasses.dataclass(frozen=True)
class Stage:
    """One Flux pipeline function: its handler and the properties the
    stage loop acts on. ``run(pipe, df, args, call)`` builds the stage
    (``df`` is ``pipe.df``) and returns the new Pipeline.

    - ``time_ordered``: orders on ``_time``. A frame that kept only the
      visible ``_time`` gets its ``time_ns`` twin back; a frame with no
      time axis (e.g. after a bare aggregate) is a typed error.
    - ``value_input``: transforms the ``_value`` series; a frame with no
      resolvable value column (e.g. after pivot) is a typed error.
    - ``numeric_input``: stock Flux rejects string/bool input with
      "unsupported input type", instead of computing NULLs from the
      float slot.
    - ``keeps_ftype``: cannot change a surviving row's ftype, so the
      output inherits the input's live-slot and catalog cache entries
      and an N-stage mixed script probes at most once.
    - ``removes_rows``: may drop whole typed tables, so the inherited
      live set is only a superset (see ``_LIVE_SLOT_SUPERSET``).
    """

    run: Callable
    time_ordered: bool = False
    value_input: bool = False
    numeric_input: bool = False
    keeps_ftype: bool = False
    removes_rows: bool = False


class _Call(NamedTuple):
    """What a stage handler reads besides its pipe and arguments."""

    name: str
    argstr: str
    now_ns: int
    location: str
    sink: Callable | None
    yields: dict | None
    src: DataFrame  # the stage's input, before the prechecks


def _run_pipeline(
    points: DataFrame,
    body: str,
    now_ns: int,
    group_key: tuple[str, ...],
    env: dict[str, Pipeline],
    sink=None,
    yields: dict[str, Pipeline] | None = None,
    location: str = "UTC",
) -> Pipeline:
    stages = _split_pipeline(body)
    if not stages:
        raise FluxError("empty pipeline")
    pipe = _source_stage(points, stages[0], group_key, env)
    for stage in stages[1:]:
        name, argstr = _parse_stage(stage)
        spec = _STAGES.get(name)
        if spec is None:
            raise FluxError(f"unsupported Flux function {name!r}")
        src = pipe.df
        pipe = _precheck(spec, name, pipe)
        call = _Call(name, argstr, now_ns, location, sink, yields, src)
        args = _StageArgs(name, _split_args(argstr) if argstr else {})
        out = spec.run(pipe, pipe.df, args, call)
        if spec.keeps_ftype:
            _carry_slot_cache(src, out.df, demote=spec.removes_rows)
        pipe = out
    return pipe


def _precheck(spec: Stage, name: str, pipe: Pipeline) -> Pipeline:
    """The typed errors a stage's flags promise, raised before any
    operator runs (instead of an AnalysisException from inside it)."""
    df = pipe.df
    if spec.time_ordered:
        if "time_ns" not in df.columns and "time" in df.columns:
            # µs precision: the visible column's own
            pipe = pipe._with(
                df.withColumn("time_ns", F.expr("unix_micros(time) * 1000")),
                order=pipe.order if pipe.order else ("time_ns",),
            )
            df = pipe.df
        if "time_ns" not in df.columns:
            raise FluxError(f"{name}() requires a _time column")
    if spec.value_input and _colname(df, "_value") not in df.columns:
        raise FluxError(f"{name}() has no value column to transform")
    if spec.numeric_input:
        # the resolved column, so the Spark-dtype check also covers a
        # window result carried in f_str/f_bool
        _reject_non_numeric_agg(df, _colname(df, "_value"), name)
    return pipe


def _value_binding(df: DataFrame, col: str, group_key) -> str | list[str]:
    """The value column(s) a type-generic stage (selector, sort, fill,
    count, mode) reads for ``col``.

    On a mixed frame the float slot means every slot: each group is
    single-typed, so exactly one slot per row is non-null and a stage
    that orders or aggregates the slot list handles each group by its
    own typed values. A stale superset entry that overstates the mix
    only adds constant-NULL slots, so no exact probe is forced. Such a
    frame must not merge types inside one group (stock's schema
    collision). Otherwise ``col`` resolves to the single live slot."""
    if col == "f_float" and len(_live_slots(df, exact=False)) > 1:
        _reject_group_schema_collision(df, group_key)
        return _slot_cols(df)
    return _value_slot_runtime(df, col)


def _with_presence(pipe: Pipeline) -> Pipeline:
    """Add ``_vpresent``, the coalesced slots of a mixed frame: each row
    populates exactly one slot, so counting it counts every typed row."""
    df = pipe.df
    return pipe._with(df.withColumn("_vpresent", F.coalesce(*[
        F.col(s).cast("string") for s in _slot_cols(df)])))


def _stage_tz(args, call: _Call) -> str:
    """A stage's ``location:`` argument, else the script's option."""
    return (_location_value(args["location"]) if "location" in args
            else call.location)


def _range_stage(pipe, df, args, call):
    from ..operators.core import push_time_filter

    # start: is required: a mis-spelled key must not skip the filter
    start = _time_to_ns(args["start"], call.now_ns)
    stop = _time_to_ns(args["stop"], call.now_ns) if "stop" in args else None
    # the bounds ride the Pipeline, so they survive variable bindings and
    # union()/join() to reach a createEmpty spine downstream
    return pipe._with(push_time_filter(df, start, stop),
                      range_bounds=(start, stop))


def _filter_stage(pipe, df, args, call):
    # args["fn"], not the raw argstr: sibling args like onEmpty: stay
    # out of the predicate text
    body = parse_fn(args["fn"] if "fn" in args else call.argstr).body
    out = pipe.filter(_Columns(df, call.name).predicate(body))
    # measurement/field equality filters narrow the catalog pins and the
    # live-slot superset: a single-class measurement in a multi-class
    # bucket keeps zero-probe plans downstream
    _narrow_catalog_on_filter(df, out.df, body)
    return out


def _group_stage(pipe, df, args, call):
    cols = [COLMAP.get(c, c) for c in _strlist(args.get("columns", "[]"))]
    mode = _lit(args.get("mode", '"by"'))
    if mode == "by":
        for c in cols:
            if c in df.columns:
                continue
            if "tags" not in df.columns:
                raise FluxError(
                    f"group(columns:) references unknown column {c!r}")
            # an un-promoted tag: materialize it from the map
            pipe = pipe._with(df.withColumn(c, F.col("tags")[c]))
            df = pipe.df
    return pipe.group(cols, mode=mode)


def _window_stage(pipe, df, args, call):
    return pipe.window(args["every"], period=args.get("period"),
                       offset=args.get("offset", "0"),
                       tz=_stage_tz(args, call))


def _aggregate_window_stage(pipe, df, args, call):
    from ..operators.aggregates import AGG_FNS

    create_empty = _lit(args.get("createEmpty", "false")) is True
    # a createEmpty spine needs bounds: stock's range() defaults its stop
    # to now(), so an open-ended range(start:) spines to the query's now
    bounds = list(pipe.range_bounds)
    if create_empty:
        if bounds[0] is None:
            raise FluxError(
                "aggregateWindow(createEmpty: true) requires a bounded range()")
        if bounds[1] is None:
            bounds[1] = call.now_ns

    def spine() -> dict:
        return dict(create_empty=create_empty, range_start=bounds[0],
                    range_stop=bounds[1], offset=args.get("offset", "0"),
                    time_src=_aw_time_src(args), tz=_stage_tz(args, call))

    fnarg = args.get("fn", "mean").strip()
    # table-function form: fn: (tables=<-) => tables |> <stage>(...)
    lm = re.match(
        r"^\(\s*tables\s*=\s*<-\s*\)\s*=>\s*tables\s*\|>\s*"
        r"([\w.]+)\s*\((.*)\)\s*$",
        fnarg, re.DOTALL,
    )
    if lm and lm.group(1) in AGG_FNS and not lm.group(2).strip():
        fnarg, lm = lm.group(1), None  # e.g. tables |> mean()
    if lm:
        iname = lm.group(1)
        iargs = _StageArgs(iname, _split_args(lm.group(2))
                           if lm.group(2).strip() else {})
        if iname != "quantile":
            raise FluxError(
                f"aggregateWindow fn: tables |> {iname}() is not "
                "supported (named aggregates and quantile are)"
            )
        from ..operators.aggregates import quantile as _qtl
        from ..operators.windows import aggregate_window_custom

        qv = _float_lit(iargs["q"])
        meth = _lit(iargs.get("method", '"estimate_tdigest"'))
        vcol = _colname(df, "_value")
        # aggregateWindow re-windows: an earlier window()'s bounds leave
        # the key so its own _start_ns/_stop_ns replace them
        by = tuple(
            k for k in pipe.group_key if k not in ("_start_ns", "_stop_ns"))
        out = aggregate_window_custom(
            df, args["every"],
            lambda d, keys: _qtl(d, qv, method=meth, column=vcol, by=keys,
                                 alias="_value_agg"),
            by=by, **spine(),
        )
        return pipe._with(out, group_key=by).rename({"_value_agg": "f_float"})
    vcol = _colname(df, _lit(args.get("column", '"_value"')))
    slots = None
    had_ftype = "ftype" in df.columns
    if fnarg in ("first", "last", "count", "mode", "min", "max"):
        # type-generic window fns read the live slot; min/max are
        # selectors and compare any orderable type, as bare min()/max()
        bound = _value_binding(df, vcol, pipe.group_key)
        if isinstance(bound, str):
            vcol = bound
        elif fnarg == "count":
            pipe, vcol = _with_presence(pipe), "_vpresent"
        else:
            slots = bound
    else:
        _reject_non_numeric_agg(df, vcol, fnarg)
    if slots is None and vcol not in pipe.df.columns:
        raise FluxError(
            f"aggregateWindow() has no value column {vcol!r} to aggregate")
    pipe = pipe.aggregate_window(args["every"], fnarg, column=vcol,
                                 alias="_value_agg", slots=slots, **spine())
    if slots is None:
        # the result lands in its source slot with ftype restamped, so a
        # downstream numeric stage still sees the type evidence
        dest = (vcol if vcol in ("f_str", "f_bool") and fnarg != "count"
                else "f_float")
        pipe = pipe.rename({"_value_agg": dest})
        if had_ftype:
            ft = {"f_str": "string", "f_bool": "bool"}.get(dest, "float")
            pipe = pipe._with(pipe.df.withColumn("ftype", F.lit(ft)))
            _LIVE_SLOT_CACHE[pipe.df] = [dest]
    else:
        # windowing preserves each group's type: the output's live set is
        # the input's, at the input's confidence
        cache = (_LIVE_SLOT_CACHE if df in _LIVE_SLOT_CACHE
                 else _LIVE_SLOT_SUPERSET)
        cache[pipe.df] = _live_slots(df, exact=False)
    if fnarg in ("first", "last", "min", "max", "mode"):
        # a type-preserving fn keeps each window's value in its source
        # slot, so the catalog pins stay valid; conversion fns such as
        # mean retype to float and are probed again downstream
        _carry_slot_cache(call.src, pipe.df)
    return pipe


def _aggregate_stage(pipe, df, args, call):
    name = call.name
    col = _colname(df, _lit(args.get("column", '"_value"')))
    if name in ("count", "mode"):
        # type-generic aggregates read the live slot; numeric ones keep
        # the float binding
        bound = _value_binding(df, col, pipe.group_key)
        if isinstance(bound, str):
            col = bound
        elif name == "count":
            pipe, col = _with_presence(pipe), "_vpresent"
            df = pipe.df
        else:
            # mode per slot: each group's mode lands in its own slot and
            # the dead slots stay NULL; the wire facade splits the result
            # per ftype like any slot frame
            gk = [k for k in pipe.group_key if k in df.columns]
            out = df.groupBy(*gk).agg(
                *[F.mode(F.col(s)).alias(s) for s in bound],
                F.first("ftype", ignorenulls=True).alias("ftype"),
            )
            # at the input's confidence: a superset must not pose as exact
            cache = (_LIVE_SLOT_CACHE if df in _LIVE_SLOT_CACHE
                     else _LIVE_SLOT_SUPERSET)
            cache[out] = _live_slots(df, exact=False)
            return pipe._with(out)
    else:
        _reject_non_numeric_agg(df, col, name)
    if col not in df.columns:
        raise FluxError(f"{name}(column:) references unknown column {col!r}")
    return pipe.aggregate(name, column=col, alias=name)


def _min_max_stage(pipe, df, args, call):
    # selectors pick a row by value order: Flux compares any sortable
    # type (lexicographic strings, false < true)
    vcol = _value_binding(
        df, _colname(df, _lit(args.get("column", '"_value"'))),
        pipe.group_key)
    if isinstance(vcol, str) and vcol not in df.columns:
        raise FluxError(f"{call.name}() has no value column to select on")
    return pipe.min(vcol) if call.name == "min" else pipe.max(vcol)


def _first_last_stage(pipe, df, args, call):
    # time selectors read no value slot, but a regrouped mixed table
    # cannot materialize in stock either
    _reject_group_schema_collision(df, pipe.group_key)
    return pipe.first() if call.name == "first" else pipe.last()


def _top_bottom_stage(pipe, df, args, call):
    tcols = _strlist(args["columns"]) if "columns" in args else ["_value"]
    vcol = _value_binding(df, _colname(df, tcols[0]), pipe.group_key)
    if isinstance(vcol, str) and vcol not in df.columns:
        raise FluxError(
            f"{call.name}(columns:) references unknown column {vcol!r}")
    n = _int_lit(args["n"])
    return pipe.top(n, vcol) if call.name == "top" else pipe.bottom(n, vcol)


def _derivative_stage(pipe, df, args, call):
    unit_s = duration_ns(args.get("unit", "1s")) / 1e9
    return _promote_value(pipe.derivative(
        unit_seconds=unit_s,
        non_negative=_lit(args.get("nonNegative", "false")) is True,
    ), "derivative")


def _difference_stage(pipe, df, args, call):
    # each listed column is replaced in place (columns: ["_value"] is the
    # f_float slot, so _value is promoted for free); the first row of a
    # table is dropped once, after all columns
    from ..operators import difference as _difference

    kf = _lit(args.get("keepFirst", "false")) is True
    iz = _lit(args.get("initialZero", "false")) is True
    nn = _lit(args.get("nonNegative", "false")) is True
    order = list(pipe.order) or ["time_ns"]
    out = df
    for c in _strlist(args.get("columns", '["_value"]')):
        real = _colname(out, c)
        if real not in out.columns:
            raise FluxError(
                f"difference(columns:) references unknown column {c!r}")
        out = _difference(out, nn, real, by=pipe.group_key, order=order,
                          alias=real, keep_first=True, initial_zero=iz)
    if not kf:
        from pyspark.sql import Window as _W

        w = _W.partitionBy(*pipe.group_key).orderBy(*order)
        out = (out.withColumn("_has_prev", F.lag(order[0]).over(w).isNotNull())
               .filter(F.col("_has_prev")).drop("_has_prev"))
    return pipe._with(out)


def _increase_stage(pipe, df, args, call):
    from ..operators import increase

    return _promote_value(pipe._with(
        increase(df, by=pipe.group_key, order=list(pipe.order))), "increase")


def _cumulative_sum_stage(pipe, df, args, call):
    return _promote_value(pipe.cumulative_sum(), "cumulative_sum")


def _moving_average_stage(pipe, df, args, call):
    return _promote_value(
        pipe.moving_average(_int_lit(args["n"])), "moving_average")


def _ema_stage(pipe, df, args, call):
    return _promote_value(
        pipe.exponential_moving_average(_int_lit(args["n"])), "ema")


def _elapsed_stage(pipe, df, args, call):
    # elapsed() adds the duration column (in unit: counts) and keeps
    # _value; each table's first record has no predecessor and is dropped
    from ..operators import elapsed

    unit_s = duration_ns(args.get("unit", "1s")) / 1e9
    out = elapsed(df, unit_seconds=unit_s, by=pipe.group_key,
                  order=list(pipe.order))
    return pipe._with(out.filter(F.col("elapsed").isNotNull()))


def _timed_moving_average_stage(pipe, df, args, call):
    from ..operators import timed_moving_average

    period_s = int(duration_ns(args["period"]) // 10**9)
    return _promote_value(pipe._with(
        timed_moving_average(df, period_s, by=pipe.group_key)),
        "timed_moving_average")


def _fill_stage(pipe, df, args, call):
    # fill writes the typed column: a string literal never lands in the
    # double f_float slot
    col = _value_binding(
        df, _colname(df, _lit(args.get("column", '"_value"'))),
        pipe.group_key)
    mixed = not isinstance(col, str)
    if not mixed and col not in df.columns:
        raise FluxError(f"fill(column:) references unknown column {col!r}")
    if _lit(args.get("usePrevious", "false")) is True:
        if not pipe.order:
            raise FluxError("fill(usePrevious:) needs an ordered frame")
        # a mixed frame forward-fills every slot: a group's dead slots
        # are all-NULL and stay so (no cross-type bleed)
        for s in (col if mixed else [col]):
            pipe = pipe.fill(use_previous=True, column=s)
        return pipe
    v = _lit(args["value"])
    vt = ("bool" if isinstance(v, bool)
          else "string" if isinstance(v, str) else "float")
    if mixed:
        # the literal's type picks the slot and only rows of that type
        # fill: a literal in a dead slot would surface as data to every
        # slot-list consumer. The type must be live somewhere, checked
        # exactly: a stale superset on a uniform frame must raise the
        # stock type error, not fill nothing.
        slot = {"bool": "f_bool", "string": "f_str"}.get(vt, "f_float")
        live_exact = _live_slots(df)
        if slot not in df.columns or slot not in live_exact:
            have = {"f_float": "float", "f_str": "string", "f_bool": "bool"}
            raise FluxError(
                f"fill: value type {vt} does not match column "
                f"type {have.get(live_exact[0], 'float')}")
        types = [t for t, s in SLOT_OF_FTYPE.items() if s == slot]
        return pipe._with(df.withColumn(
            slot,
            F.when(F.col("ftype").isin(*types),
                   F.coalesce(F.col(slot), F.lit(v)))
            .otherwise(F.col(slot)),
        ))
    # stock type-checks the literal against the column; int literals
    # fill float columns (the float slot is the int storage)
    dt = dict(df.dtypes).get(col)
    ct = {"string": "string", "boolean": "bool"}.get(dt, "float")
    if dt is not None and vt != ct:
        raise FluxError(
            f"fill: value type {vt} does not match column type {ct}")
    return pipe.fill(value=v, column=col)


def _sort_stage(pipe, df, args, call):
    # _colname, not raw COLMAP: after an aggregate, _value means the
    # result column
    cols = []
    for c in _strlist(args.get("columns", '["_time"]')):
        bound = _value_binding(df, _colname(df, c), pipe.group_key)
        cols.extend([bound] if isinstance(bound, str) else bound)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        # map-resident tag keys: materialize before sorting
        m = _tags_map_col(df)
        tag_keys = set(_frame_tag_keys(df)) if m is not None else set()
        for c in list(missing):
            if c in tag_keys:
                df = df.withColumn(c, m[c])
                missing.remove(c)
        pipe = pipe._with(df)
    if missing:
        raise FluxError(f"sort(columns:) references unknown columns {missing}")
    return pipe.sort(cols, desc=_lit(args.get("desc", "false")) is True)


def _limit_stage(pipe, df, args, call):
    return pipe.limit(_int_lit(args["n"]), _int_lit(args.get("offset", "0")))


def _tail_stage(pipe, df, args, call):
    return pipe.tail(_int_lit(args["n"]))


def _keep_drop_stage(pipe, df, args, call):
    name = call.name
    if "fn" in args:
        # keep/drop(fn: (column) => column <op> lit): columns are known
        # at plan time, so the predicate is evaluated in Python
        cols = _predicate_columns(df, args["fn"])
    else:
        cols = [COLMAP.get(c, c) for c in _strlist(args["columns"])]
        if "f_float" in cols and (
                "f_str" in df.columns or "f_bool" in df.columns):
            # _value covers every value slot, and keep() also keeps the
            # ftype discriminator for slot resolution and the wire facade
            extra = [s for s in ("f_str", "f_bool") if s in df.columns]
            if name == "keep" and "ftype" in df.columns:
                extra.append("ftype")
            cols = cols + [c for c in extra if c not in cols]
    # tag keys live in the tags map / series_key: keeping or dropping one
    # rewrites the series key (stock regroup), not a column projection
    tag_keys = (_frame_tag_keys(df)
                if ("tags" in df.columns or "series_key" in df.columns)
                else [])
    if name == "drop":
        # a dropped tag leaves series_key/tags even when an earlier stage
        # materialized it as a column: series that differ only in it merge
        dropped_tags = [c for c in cols if c in tag_keys]
        if dropped_tags:
            pipe = pipe._with(_remove_tags_from_key(df, dropped_tags))
        return pipe.drop([c for c in cols if c in pipe.df.columns])
    kept_tags = [c for c in cols if c in tag_keys and c not in df.columns]
    if kept_tags:
        # kept tags become real columns and join the group key
        tmap = _tags_map_col(df)
        for t in kept_tags:
            df = df.withColumn(t, tmap[t])
        pipe = pipe._with(df)
    pipe = pipe.keep([c for c in cols if c in df.columns])
    extra_key = tuple(t for t in kept_tags if t not in pipe.group_key)
    if extra_key:
        pipe = pipe._with(pipe.df, group_key=(*pipe.group_key, *extra_key))
    return pipe


def _rename_stage(pipe, df, args, call):
    mapping = {}
    for part in args.get("columns", "{}").strip("{}").split(","):
        if ":" in part:
            k, _, v = part.partition(":")
            mapping[COLMAP.get(k.strip(), k.strip())] = v.strip().strip('"')
    # renaming measurement/field (in either direction) voids the
    # (m, f)-keyed catalog map; the live-slot entry is name-independent
    keeps_mf = not ({*mapping, *mapping.values()}
                    & {"measurement", "field", "_measurement", "_field"})
    if "f_float" in mapping and _has_typed_slots(df):
        # renaming _value on a slot-typed frame moves the live slot; stock
        # removes _value from the table, so the other slots and the
        # discriminator go too. A mixed frame's per-table types cannot
        # share one physical column: a documented engine limit.
        live = _value_slot_runtime(df, "f_float")
        if live == "f_float" and len(_live_slots(df)) > 1:
            raise FluxError(
                "rename: cannot rename _value on a mixed-type "
                "frame (tables carry different value types)"
            )
        mapping[live] = mapping.pop("f_float")
        drop_slots = [s for s in (*_slot_cols(df), "ftype")
                      if s != live and s in df.columns]
        if drop_slots:
            pipe = pipe._with(df.drop(*drop_slots))
            df = pipe.df
    # map-resident tag keys rename inside the tags map / series_key
    tag_renames = {k: v for k, v in mapping.items() if k not in df.columns}
    if tag_renames and ("tags" in df.columns or "series_key" in df.columns):
        keys = set(_frame_tag_keys(df))
        for k, v in tag_renames.items():
            if k in keys:
                df = _rename_tag_in_key(df, k, v)
                del mapping[k]
        pipe = pipe._with(df)
    pipe = pipe.rename(mapping)
    _carry_slot_cache(call.src, pipe.df, carry_catalog=keeps_mf)
    return pipe


def _retype_value(df: DataFrame, dest: str, ft: str, value: Column) -> DataFrame:
    """Write a retyped ``_value`` into slot ``dest``: the other slots
    are nulled, ftype is restamped and the live-slot cache seeded."""
    dtypes = dict(df.dtypes)
    out = df.withColumn(dest, value)  # before the nulling: value may read a slot
    for s in _slot_cols(df):
        if s != dest:
            out = out.withColumn(s, F.lit(None).cast(dtypes[s]))
    out = out.withColumn("ftype", F.lit(ft))
    _LIVE_SLOT_CACHE[out] = [dest]
    return out


def _set_stage(pipe, df, args, call):
    # Flux names resolve to engine columns: set(key: "_measurement")
    # rewrites `measurement`, so a following to() writes the new name
    skey = _lit(args["key"])
    sval = _lit(args["value"])
    real = _colname(df, skey)
    if skey == "_value" and real == "f_float" and _has_typed_slots(df):
        # set() values are strings: a _value target retypes the series
        return pipe._with(_retype_value(df, "f_str", "string", F.lit(sval)))
    return pipe._with(df.withColumn(real if real in df.columns else skey,
                                    F.lit(sval)))


def _duplicate_stage(pipe, df, args, call):
    src = _value_slot_runtime(df, _colname(df, _lit(args["column"])))
    if src not in df.columns:
        raise FluxError(
            f"duplicate(column:) references unknown column {src!r}")
    dst = _lit(args["as"])
    if dst == "_time" and src.endswith("_ns"):
        # duplicate(column: "_stop", as: "_time") rebinds the window edge
        # as the point time: both time representations follow
        return pipe._with(df.withColumn("time_ns", F.col(src)).withColumn(
            "time", F.timestamp_micros(F.expr(f"{src} div 1000"))))
    if dst == "_value" and _has_typed_slots(df):
        # duplicating into _value retypes the series to the source's type
        dest, ft = _slot_of_sparktype(df.schema[src].dataType)
        value = F.col(src).cast("double") if dest == "f_float" else F.col(src)
        return pipe._with(_retype_value(df, dest, ft, value))
    return pipe._with(df.withColumn(COLMAP.get(dst, dst), F.col(src)))


def _typed_pivot_pipe(pipe, typed: DataFrame) -> Pipeline:
    """The pipe over a per-type field pivot: key and order keep only
    the columns the pivot kept."""
    return pipe._with(
        typed,
        group_key=tuple(c for c in pipe.group_key if c in typed.columns),
        order=tuple(c for c in pipe.order if c in typed.columns)
        or (("time",) if "time" in typed.columns else ()),
    )


def _pivot_stage(pipe, df, args, call):
    row_key = [COLMAP.get(c, c) for c in _strlist(args["rowKey"])]
    col_keys = [COLMAP.get(c, c) for c in _strlist(args["columnKey"])]
    val = _colname(df, _lit(args["valueColumn"]))
    missing = [c for c in (*row_key, *col_keys, val) if c not in df.columns]
    if missing:
        raise FluxError(f"pivot() references unknown columns {missing}")
    # stock pivot is per table: the group key joins the rowKey
    grouping = list(dict.fromkeys(
        c for c in (*pipe.group_key, *row_key)
        if c in df.columns and c not in col_keys and c != val))
    if "field" in col_keys:
        df = _series_key_sans_field(df)
    if len(col_keys) > 1:
        # Flux names multi-key output columns by joining the key values
        # with "_": one concatenated key pivots the same
        joined = F.concat_ws("_", *[F.col(c) for c in col_keys])
        df = df.withColumn("_pivot_key", joined)
        return pipe._with(df).pivot(grouping, "_pivot_key", val)
    typed = (_typed_field_pivot(df, grouping, val)
             if col_keys[0] == "field" else None)
    if typed is not None:
        return _typed_pivot_pipe(pipe, typed)
    return pipe._with(df).pivot(grouping, col_keys[0], val)


def _map_stage(pipe, df, args, call):
    record = parse_fn(args["fn"]).body
    if not isinstance(record, Record):
        raise FluxError(f"cannot parse map fn {args['fn']!r}")
    extension = record.base is not None
    # every field expression sees the original record r (Flux record
    # extension), hence one withColumns call
    cols = _Columns(df, call.name)
    updates: dict[str, Column] = {}
    retype_ftype = None
    value_dest = None
    for k, node in record.fields:
        target = _colname(df, k)
        expr_col = cols.value(node)[0]
        if target == "f_float" and "ftype" in df.columns:
            # a _value write on a slot-typed frame lands in the slot of
            # the expression's type (stock map may retype a table); the
            # dtype comes from plan-time analysis, no Spark job
            live = _live_slots(df, exact=False)
            dtype = df.select(expr_col.alias("_t")).schema[0].dataType
            dest, ft = _slot_of_sparktype(dtype)
            updates[dest] = (expr_col.cast("double")
                             if dest == "f_float" else expr_col)
            value_dest = dest
            if live != [dest]:
                # a retype, or a mixed frame: stock map retypes every
                # table to the expression's type, so the other slots
                # are nulled and ftype restamped
                dtypes_m = dict(df.dtypes)
                for s in _slot_cols(df):
                    if s != dest:
                        updates.setdefault(s, F.lit(None).cast(dtypes_m[s]))
                retype_ftype = ft
            continue
        updates[target if target in df.columns else k] = expr_col
    out = df.withColumns(updates)
    if retype_ftype is not None and "ftype" in out.columns:
        out = out.withColumn("ftype", F.lit(retype_ftype))
    # a rewritten _time carries its engine twin: a stale time_ns would
    # window and sort on the old times
    if "time" in updates and "time_ns" in out.columns:
        out = out.withColumn("time_ns", F.expr("unix_micros(time) * 1000"))
    if not extension:
        # record replacement (no `r with`): stock map drops every
        # non-group-key column not in the new record
        plumbing = {"time_ns", "ingest_seq"} if "time" in (
            *updates, *pipe.group_key) else set()
        out = out.select(*dict.fromkeys(
            c for c in (*pipe.group_key, *updates, *plumbing)
            if c in out.columns))
    # map keeps the row set, so the outgoing live slot is the write
    # target, or the input's resolution: downstream stages skip a probe
    seed = [value_dest] if value_dest else _LIVE_SLOT_CACHE.get(df)
    if seed and "ftype" in out.columns:
        _LIVE_SLOT_CACHE[out] = seed
    return pipe._with(out)


def _monitor_check_stage(pipe, df, args, call):
    # batch twin of streaming/tasks.py ThresholdCheck: _level from the
    # crit/warn/info predicates (crit wins), data: keys become literal
    # columns, messageFn compiles through the map scalar compiler
    levels = [(lvl, _Columns(df, call.name).predicate(parse_fn(args[lvl]).body))
              for lvl in ("crit", "warn", "info") if lvl in args]
    if not levels:
        raise FluxError(
            "monitor.check() needs at least one of crit:/warn:/info:")
    level_col = None
    for lvl, pred in levels:
        level_col = (F.when(pred, lvl) if level_col is None
                     else level_col.when(pred, lvl))
    out = df.withColumn("_level", level_col.otherwise("ok"))
    if "data" in args:
        for k, v in _record_refs(args["data"]):
            out = out.withColumn(k, F.lit(_lit(v)))
    if "messageFn" in args:
        msg = parse_fn(args["messageFn"]).body
        out = out.withColumn("_message", _Columns(out, call.name).value(msg)[0])
    return pipe._with(out)


def _monitor_state_changes_stage(pipe, df, args, call):
    # keep rows whose per-series _level differs from the previous
    # status, optionally constrained by fromLevel/toLevel
    if "_level" not in df.columns:
        raise FluxError(
            "monitor.stateChanges() requires a _level column "
            "(pipe through monitor.check() first)"
        )
    tcol = pipe.time_ns_col
    if tcol not in df.columns:
        raise FluxError("monitor.stateChanges() requires a _time column")
    from pyspark.sql import Window as _W

    keys = [k for k in pipe.group_key if k in df.columns]
    w = (_W.partitionBy(*[F.col(k) for k in keys]).orderBy(tcol)
         if keys else _W.orderBy(tcol))
    staged = df.withColumn("_prev_level", F.lag("_level").over(w))
    prev = F.col("_prev_level")
    cond = prev.isNotNull() & (prev != F.col("_level"))
    to_lvl = _lit(args.get("toLevel", '"any"'))
    from_lvl = _lit(args.get("fromLevel", '"any"'))
    if to_lvl != "any":
        cond = cond & (F.col("_level") == to_lvl)
    if from_lvl != "any":
        cond = cond & (prev == from_lvl)
    return pipe._with(staged.filter(cond).drop("_prev_level"))


def _monitor_deadman_stage(pipe, df, args, call):
    # stock definition: each series' last row, dead = _time < t
    if "t" not in args:
        raise FluxError("monitor.deadman() missing required t:")
    t_ns = _time_to_ns(args["t"], call.now_ns)
    pipe = pipe.last()
    return pipe._with(
        pipe.df.withColumn("dead", F.col("time_ns") < F.lit(t_ns)))


def _sql_to_stage(pipe, df, args, call):
    # writes the table to a JDBC target and passes the stream through
    from ..sources.aux_sources import sql_to as _sql_to

    drv = _lit(args.get("driverName", '""')) or None
    if drv == "derby":
        drv = "org.apache.derby.jdbc.EmbeddedDriver"
    _sql_to(df, _lit(args["dataSourceName"]), _lit(args["table"]),
            driver=drv)
    return pipe


def _time_shift_stage(pipe, df, args, call):
    from ..operators.core import time_shift

    # _start/_stop shift with _time, so a createEmpty spine downstream
    # sees the shifted interval
    return pipe._with(
        time_shift(df, _lit(args["duration"])),
        range_bounds=tuple(_shift_bound_ns(b, _lit(args["duration"]))
                           for b in pipe.range_bounds),
    )


def _truncate_time_column_stage(pipe, df, args, call):
    from ..operators.core import truncate_time

    return pipe._with(truncate_time(df, _lit(args["unit"])))


#: conversion stage → (Spark cast type, Flux type name)
_CONVERSIONS = {
    "toInt": ("long", "int"), "toFloat": ("double", "float"),
    "toString": ("string", "string"), "toBool": ("boolean", "boolean"),
    "toUInt": ("long", "uint"), "toDuration": ("long", "duration"),
}


def _conversion_stage(pipe, df, args, call):
    # conversions rebind _value to the cast value: toInt truncates toward
    # zero like Spark's cast; toUInt = toInt (no unsigned 64-bit column);
    # toTime reads epoch-ns ints; toDuration keeps integer ns
    cur = _colname(df, "_value")
    if cur not in df.columns:
        raise FluxError(f"{call.name}() has no _value column to convert")
    src = _value_slot_runtime(df, cur)
    if call.name == "toTime":
        return pipe._with(df.withColumn(
            src, F.timestamp_micros(ns_to_us(F.col(src)))))
    spark_type, flux_t = _CONVERSIONS[call.name]
    dtypes_all = dict(df.dtypes)

    def _cast_one(colname):
        # string → non-string: stock's runtime conversion error, not a
        # raw ANSI cast failure
        if dtypes_all.get(colname) == "string" and spark_type != "string":
            return _checked_str_cast(F.col(colname), spark_type, flux_t)
        return F.col(colname).cast(spark_type)

    # slot routing only on frames that carry the typed slots (bucket
    # reads); a float-only pipe retypes f_float in place, and the
    # single-slot serializer reads the Spark type directly
    if cur != "f_float" or not _has_typed_slots(df):
        return pipe._with(df.withColumn(src, _cast_one(src)))
    live = _live_slots(df, exact=False)
    # on a mixed frame exactly one slot per row is non-null, so the
    # coalesce of per-slot casts is the row's own value converted
    conv = (F.coalesce(*[_cast_one(s) for s in live]) if len(live) > 1
            else _cast_one(live[0]))
    dest, ft = {"string": ("f_str", "string"),
                "boolean": ("f_bool", "bool")}.get(
        spark_type, ("f_float", "float"))
    value = conv.cast("double") if dest == "f_float" else conv
    return pipe._with(_retype_value(df, dest, ft, value))


def _columns_stage(pipe, df, args, call):
    # one row per Flux-visible column label
    rev = {real: flux for flux, real in COLMAP.items()}
    internal = {"time_ns", "ingest_seq", "_ts_raw", "ftype", "props", "tags"}
    if "f_float" in df.columns:
        # the extra typed slots are _value, already labeled via f_float
        internal |= {"f_str", "f_bool"}
    else:
        # a typed window/aggregate result carried in its source slot is
        # the _value label
        slot_hits = [c for c in ("f_str", "f_bool") if c in df.columns]
        if len(slot_hits) == 1:
            rev = {**rev, slot_hits[0]: "_value"}
    labels = [rev.get(c, c) for c in df.columns if c not in internal]
    return _label_rows(pipe, labels, args)


def _keys_stage(pipe, df, args, call):
    # one row per group-key column label (columns() lists every column)
    rev = {real: flux for flux, real in COLMAP.items()}
    return _label_rows(
        pipe, sorted({rev.get(c, c) for c in pipe.group_key}), args)


def _label_rows(pipe, labels, args) -> Pipeline:
    out_col = _lit(args.get("column", '"_value"'))
    return pipe._with(pipe.df.sparkSession.createDataFrame(
        [(label,) for label in labels], f"`{out_col}` string"))


def _key_values_stage(pipe, df, args, call):
    # (_key, _value) rows: the distinct values of each requested column,
    # a union of per-column distincts (no driver collect)
    parts = []
    for kname in _strlist(args["keyColumns"]):
        real = _value_slot_runtime(df, _colname(df, kname))
        src = (
            F.col(real) if real in df.columns
            else F.col("tags")[kname] if "tags" in df.columns
            else None
        )
        if src is None:
            raise FluxError(f"keyValues: unknown column {kname!r}")
        parts.append(df.select(
            F.lit(kname).alias("_key"), src.cast("string").alias("_value"),
        ).distinct())
    acc = parts[0]
    for p in parts[1:]:
        acc = acc.unionByName(p)
    return pipe._with(acc)


def _unique_stage(pipe, df, args, call):
    from ..operators.selectors import unique as _unique

    col = _value_slot_runtime(
        df, _colname(df, _lit(args.get("column", '"_value"'))))
    if col not in df.columns:
        raise FluxError(f"unique(column:) references unknown column {col!r}")
    if col == "f_float" and len(_live_slots(df, exact=False)) > 1:
        _reject_group_schema_collision(df, pipe.group_key)
        # a mixed frame keys on the coalesced value: types are uniform
        # inside a group, so string renderings cannot collide
        key = F.coalesce(*[F.col(s).cast("string") for s in _slot_cols(df)])
        return pipe._with(_unique(df.withColumn("_uval", key), "_uval",
                                  by=pipe.group_key).drop("_uval"))
    return pipe._with(_unique(df, col, by=pipe.group_key))


def _distinct_stage(pipe, df, args, call):
    from ..operators.selectors import distinct_rows

    col = _value_slot_runtime(
        df, _colname(df, _lit(args.get("column", '"_value"'))))
    tag_distinct = False
    if col not in df.columns:
        # a map-resident tag key (the dashboard-variable idiom)
        m = _tags_map_col(df)
        if m is None or col not in _frame_tag_keys(df):
            raise FluxError(
                f"distinct(column:) references unknown column {col!r}")
        df = df.withColumn(col, m[col])
        pipe = pipe._with(df)
        tag_distinct = True
    if (not tag_distinct and col == "f_float"
            and len(_live_slots(df, exact=False)) > 1):
        _reject_group_schema_collision(df, pipe.group_key)
        # a mixed frame takes the distinct of the slot list (+ ftype for
        # the serializer): one slot per row is non-null, so it equals
        # the per-type distinct stock computes per table
        keep = list(dict.fromkeys([*pipe.group_key, "ftype", *_slot_cols(df)]))
        return pipe._with(df.select(*keep).distinct())
    out = distinct_rows(df, col, by=pipe.group_key)
    if tag_distinct:
        # stock distinct() rebinds the selected values to _value
        out = out.drop(*[s for s in ("f_float", "f_int", "f_uint", "f_bool")
                         if s in out.columns]).withColumnRenamed(col, "f_str")
    return pipe._with(out)


def _sample_stage(pipe, df, args, call):
    from ..operators.selectors import sample as _sample

    return pipe._with(_sample(df, _int_lit(args["n"]), by=pipe.group_key,
                              pos=_int_lit(args.get("pos", "-1"))))


def _quantile_stage(pipe, df, args, call):
    from ..operators.aggregates import quantile as _quantile

    vcol = _colname(df, _lit(args.get("column", '"_value"')))
    if vcol not in df.columns:
        raise FluxError("quantile() has no value column to aggregate")
    return pipe._with(_quantile(
        df, _float_lit(args["q"]),
        method=_lit(args.get("method", '"estimate_tdigest"')),
        by=pipe.group_key, alias="quantile", column=vcol,
    ))


def _integral_stage(pipe, df, args, call):
    from ..operators.aggregates import integral as _integral

    return pipe._with(_integral(
        df, duration_ns(args.get("unit", "1s")) / 1e9, by=pipe.group_key))


def _state_stage(pipe, df, args, call):
    from ..operators import analytics as _an

    pred = _Columns(df, call.name).predicate(parse_fn(args["fn"]).body)
    # column: names the output (default: the stage name)
    out_col = _lit(args.get("column", f'"{call.name}"'))
    if call.name == "stateCount":
        return pipe._with(_an.state_count(
            df, pred, by=pipe.group_key, order=list(pipe.order),
            alias=out_col))
    unit_s = duration_ns(args.get("unit", "1s")) / 1e9
    return pipe._with(_an.state_duration(
        df, pred, unit_s, by=pipe.group_key, order=list(pipe.order),
        alias=out_col))


def _state_tracking_stage(pipe, df, args, call):
    # the legacy combined form of stateCount/stateDuration
    from ..operators import analytics as _an

    pred = _Columns(df, call.name).predicate(parse_fn(args["fn"]).body)
    count_col = args.get("countColumn")
    dur_col = args.get("durationColumn")
    if count_col is None and dur_col is None:
        raise FluxError(
            "stateTracking() needs countColumn: and/or durationColumn:")
    out = df
    if count_col is not None:
        out = _an.state_count(out, pred, by=pipe.group_key,
                              order=list(pipe.order), alias=_lit(count_col))
    if dur_col is not None:
        unit_s = duration_ns(args.get("durationUnit", "1s")) / 1e9
        out = _an.state_duration(out, pred, unit_s, by=pipe.group_key,
                                 order=list(pipe.order), alias=_lit(dur_col))
    return pipe._with(out)


def _histogram_stage(pipe, df, args, call):
    from ..operators.analytics import histogram as _hist

    try:
        bins = [float(b) for b in _strlist(args["bins"])]
    except ValueError:
        raise FluxError(
            f"histogram bins: must be numbers, got {args['bins']!r}"
        ) from None
    vcol = _colname(df, _lit(args.get("column", '"_value"')))
    if vcol not in df.columns:
        raise FluxError("histogram() has no value column to bin")
    if "le" in df.columns:
        raise FluxError(
            "histogram() output column 'le' already exists in input")
    return pipe._with(_hist(df, bins, value=vcol, by=pipe.group_key))


def _histogram_quantile_stage(pipe, df, args, call):
    from ..operators.analytics import histogram_quantile as _hq

    return pipe._with(
        _hq(df, _float_lit(args["quantile"]), by=pipe.group_key))


def _interpolate_linear_stage(pipe, df, args, call):
    from ..operators.windows import interpolate_linear as _interp

    return pipe._with(_interp(
        df, args["every"], by=pipe.group_key,
        range_start=pipe.range_bounds[0], range_stop=pipe.range_bounds[1],
    ))


#: technical-analysis stage → (operators.analytics function, result column)
_INDICATORS = {
    "doubleEMA": ("double_ema", "dema"),
    "tripleEMA": ("triple_ema", "tema"),
    "kaufmansER": ("kaufmans_er", "ker"),
    "kaufmansAMA": ("kaufmans_ama", "kama"),
    "chandeMomentumOscillator": ("chande_momentum_oscillator", "cmo"),
    "relativeStrengthIndex": ("relative_strength_index", "rsi"),
    "tripleExponentialDerivative": ("triple_exponential_derivative", "trix"),
}


def _indicator_stage(pipe, df, args, call):
    from ..operators import analytics as _an

    fn_name, out_alias = _INDICATORS[call.name]
    # stock replaces _value with the indicator, so a downstream
    # mean()/filter reads the indicator, not the raw series
    return _promote_value(pipe._with(getattr(_an, fn_name)(
        df, _int_lit(args["n"]), by=pipe.group_key)), out_alias)


def _covariance_stage(pipe, df, args, call):
    from ..operators import analytics as _an

    cols = [_colname(df, c)
            for c in _strlist(args.get("columns", '["_value"]'))]
    if len(cols) != 2:
        raise FluxError(f"{call.name} needs columns: [x, y]")
    for c in cols:
        # numeric-only statistics
        _reject_non_numeric_agg(df, c, call.name)
    use_pearson = (call.name == "pearsonr"
                   or _lit(args.get("pearsonr", "false")) is True)
    fn = _an.pearsonr if use_pearson else _an.covariance
    # valueDst is an output name: known Flux names map to their physical
    # columns, custom names stay verbatim
    dst_name = _lit(args.get("valueDst", '"_value"'))
    dst = COLMAP.get(dst_name, dst_name)
    return pipe._with(fn(df, cols[0], cols[1], by=pipe.group_key, alias=dst))


def _hour_selection_stage(pipe, df, args, call):
    from ..operators.core import hour_selection

    return pipe._with(hour_selection(
        df, _int_lit(args["start"]), _int_lit(args["stop"]),
        tz=_stage_tz(args, call)))


def _time_weighted_avg_stage(pipe, df, args, call):
    from ..operators.aggregates import time_weighted_avg as _twa

    return pipe._with(_twa(df, by=pipe.group_key))


def _holt_winters_stage(pipe, df, args, call):
    from ..operators.analytics import holt_winters as _hw

    # withFit also emits the in-sample one-step predictions
    with_fit = _lit(args.get("withFit", "false")) is True
    hw_out = _hw(
        df, _int_lit(args["n"]), duration_ns(args["interval"]) / 1e9,
        seasonality=_int_lit(args.get("seasonality", "0")),
        by=pipe.group_key, fit=with_fit, include_fitted=with_fit,
    )
    # the forecast is the stream's _value; the operator's pruned schema
    # dropped the display time, so it is derived again
    hw_out = hw_out.withColumn(
        "time", F.timestamp_micros(ns_to_us(F.col("time_ns"))))
    return _promote_value(pipe._with(hw_out), "hw")


def _highest_lowest_stage(pipe, df, args, call):
    from ..operators import selectors as _sel

    # the operator is the stage name in snake case (highestMax → highest_max)
    fn = getattr(_sel, re.sub(r"([A-Z])", r"_\1", call.name).lower())
    # max/current rank by the live slot (sort-based selectors); the
    # mean-based variants are numeric-only in stock
    if call.name in ("highestAverage", "lowestAverage"):
        _reject_non_numeric_agg(df, "f_float", call.name)
        vcol = "f_float"
    else:
        vcol = _value_slot_runtime(df, "f_float")
        if vcol not in df.columns:
            vcol = "f_float"
    return pipe._with(fn(df, _int_lit(args["n"]), series=pipe.group_key,
                         value=vcol))


def _to_stage(pipe, df, args, call):
    # the task write stage: ``sink`` is the store-backed callable a
    # facade or task runner provides
    if call.sink is None:
        raise FluxError("to() requires a store-backed session")
    call.sink(df, _lit(args["bucket"]))
    return pipe


def _yield_stage(pipe, df, args, call):
    # every yield registers the pipeline state at that point
    if call.yields is not None:
        call.yields[_lit(args.get("name", '"_result"'))] = pipe
    return pipe


def _events_duration_stage(pipe, df, args, call):
    # time until the next event of the same series; the last event
    # closes against stop:, the stop column, or the range stop
    from pyspark.sql.window import Window as _W

    unit = duration_ns(args.get("unit", "1ns"))
    out_col = _lit(args.get("columnName", '"duration"'))
    w = _W.partitionBy(*pipe.group_key).orderBy(
        *[F.col(c) for c in (pipe.order or ("time_ns",))])
    nxt = F.lead("time_ns").over(w)
    # an explicit stopColumn binds that column (COLMAP-resolved) and is
    # a typed error when absent, never a silent fallback to _stop_ns
    stop_name = _lit(args.get("stopColumn", '"_stop"'))
    stop_col = COLMAP.get(stop_name, stop_name)
    if "stop" in args:
        tail_stop = F.lit(_time_to_ns(args["stop"], call.now_ns))
    elif stop_col in df.columns:
        tail_stop = F.col(stop_col)
    elif "stopColumn" in args:
        raise FluxError(
            f"events.duration() stopColumn {stop_name!r} is not a "
            "column of the input")
    elif pipe.range_bounds[1] is not None:
        tail_stop = F.lit(pipe.range_bounds[1])
    else:
        raise FluxError(
            "events.duration() needs stop:, a stop column, or a "
            "bounded range()")
    diff = F.coalesce(nxt, tail_stop) - F.col("time_ns")
    return pipe._with(df.withColumn("_ed_diff", diff).withColumn(
        out_col, F.expr(f"_ed_diff div {unit}")).drop("_ed_diff"))


def _fields_as_cols_stage(pipe, df, args, call):
    # pivot(rowKey: ["_time"], columnKey: ["_field"], valueColumn:
    # "_value") within each series table
    val = _colname(df, "_value")
    if val not in df.columns:
        raise FluxError(f"{call.name}() has no value column to pivot")
    row_key = [c for c in (*pipe.group_key, "time", "time_ns")
               if c in df.columns and c != "field"]
    if "field" not in df.columns:
        raise FluxError(f"{call.name}() requires a _field column")
    sans = _series_key_sans_field(df)
    typed = _typed_field_pivot(
        sans, [c for c in row_key if c in sans.columns], val)
    if typed is not None:
        return _typed_pivot_pipe(pipe, typed)
    return pipe._with(sans).pivot(row_key, "field", val)


def _extract_stage(pipe, df, args, call):
    # stream-termination extractors: Flux returns an array or record to
    # the script; here the matching column (one column) or record (one
    # row) comes back as a frame (same values)
    name = call.name
    if name in ("findColumn", "findRecord", "tableFind"):
        body = parse_fn(args["fn"]).body
        if body != Lit("bool", True):
            df = df.filter(_Columns(df, name).predicate(body))
    if name in ("getColumn", "findColumn"):
        col = _value_slot_runtime(
            df, _colname(df, _lit(args.get("column", '"_value"'))))
        if col not in df.columns:
            raise FluxError(
                f"{name}(column:) references unknown column {col!r}")
        return pipe._with(df.select(col), group_key=())
    if name in ("getRecord", "findRecord"):
        idx = _int_lit(args.get("idx", "0"))
        order_cols = [c for c in pipe.order if c in df.columns]
        if order_cols:
            df = df.orderBy(*order_cols)
        return pipe._with(df.offset(idx).limit(1), group_key=())
    return pipe._with(df)  # tableFind: the filtered tables themselves


def _geo_stage(pipe, df, args, call):
    """The ``experimental/geo`` pipeline stages. Rows gain lat/lon
    columns via shapeData/toRows (pivoting the lat/lon fields); the
    filters compile to JVM Column predicates (operators/geo.py). The
    filter stages auto-shape a raw points frame the way stock
    filterRows pivots internally, so
    ``from |> range |> geo.filterRows(region:)`` works directly."""
    from ..operators import geo as geo_ops

    name = call.name

    def _shaped(level: int = 10, lat_f: str = "lat", lon_f: str = "lon"):
        if "lat" in df.columns and "lon" in df.columns:
            return pipe
        if "field" not in df.columns:
            raise FluxError(
                f"{name}() needs lat/lon columns or lat/lon fields to pivot"
            )
        shaped = geo_ops.shape_data(
            _series_key_sans_field(df), lat_f, lon_f, level,
            field_col="field", value_col=_colname(df, "_value"),
        )
        return pipe._with(
            shaped,
            group_key=tuple(c for c in pipe.group_key if c != "field"),
        )

    if name == "geo.toRows":
        return _shaped()
    if name == "geo.shapeData":
        # typed-FluxError arg validation
        for req in ("latField", "lonField"):
            if req not in args:
                raise FluxError(f"geo.shapeData requires {req}:")
        return _shaped(
            level=_int_lit(args.get("level", "10")),
            lat_f=_lit(args["latField"]),
            lon_f=_lit(args["lonField"]),
        )
    if "region" not in args:
        raise FluxError(f"{name}() requires region:")
    region = _geo_region(parse_expr(args["region"], ()))
    shaped = _shaped()
    lat, lon = F.col("lat"), F.col("lon")
    try:
        if name == "geo.gridFilter":
            pred = geo_ops.region_grid_predicate(region, lat, lon)
        elif name == "geo.strictFilter":
            pred = geo_ops.region_strict_predicate(region, lat, lon)
        else:  # geo.filterRows: coarse cover + (default) exact filter
            pred = geo_ops.region_grid_predicate(region, lat, lon)
            strict = _lit(args.get("strict", "true"))
            if strict in (True, "true"):
                pred = pred & geo_ops.region_strict_predicate(region, lat, lon)
    except OperatorValidationError as e:
        raise FluxError(str(e)) from None
    return shaped.filter(pred)


_AGGREGATE = Stage(_aggregate_stage)
_INDICATOR = Stage(_indicator_stage, value_input=True, numeric_input=True)
_SERIES_TRANSFORM = dict(time_ordered=True, value_input=True,
                         numeric_input=True)

#: every Flux function that can follow a pipeline's source, by name. A
#: new function is one entry here plus its handler.
_STAGES: dict[str, Stage] = {
    "range": Stage(_range_stage, keeps_ftype=True, removes_rows=True),
    "filter": Stage(_filter_stage, keeps_ftype=True, removes_rows=True),
    "group": Stage(_group_stage, keeps_ftype=True),
    "window": Stage(_window_stage, time_ordered=True, keeps_ftype=True),
    "aggregateWindow": Stage(_aggregate_window_stage, time_ordered=True),
    "count": _AGGREGATE,
    "sum": _AGGREGATE,
    "mean": _AGGREGATE,
    "median": _AGGREGATE,
    "mode": _AGGREGATE,
    "stddev": _AGGREGATE,
    "spread": _AGGREGATE,
    "skew": _AGGREGATE,
    "min": Stage(_min_max_stage, keeps_ftype=True),
    "max": Stage(_min_max_stage, keeps_ftype=True),
    "first": Stage(_first_last_stage, time_ordered=True, keeps_ftype=True),
    "last": Stage(_first_last_stage, time_ordered=True, keeps_ftype=True),
    "top": Stage(_top_bottom_stage, keeps_ftype=True),
    "bottom": Stage(_top_bottom_stage, keeps_ftype=True),
    "derivative": Stage(_derivative_stage, **_SERIES_TRANSFORM),
    "difference": Stage(_difference_stage, **_SERIES_TRANSFORM),
    "increase": Stage(_increase_stage, **_SERIES_TRANSFORM),
    "cumulativeSum": Stage(_cumulative_sum_stage, **_SERIES_TRANSFORM),
    "elapsed": Stage(_elapsed_stage, time_ordered=True, keeps_ftype=True,
                     removes_rows=True),
    "movingAverage": Stage(_moving_average_stage, **_SERIES_TRANSFORM),
    "timedMovingAverage": Stage(_timed_moving_average_stage,
                                **_SERIES_TRANSFORM),
    "exponentialMovingAverage": Stage(_ema_stage, **_SERIES_TRANSFORM),
    "doubleEMA": _INDICATOR,
    "tripleEMA": _INDICATOR,
    "kaufmansER": _INDICATOR,
    "kaufmansAMA": _INDICATOR,
    "chandeMomentumOscillator": _INDICATOR,
    "relativeStrengthIndex": _INDICATOR,
    "tripleExponentialDerivative": Stage(_indicator_stage),
    "holtWinters": Stage(_holt_winters_stage, **_SERIES_TRANSFORM),
    "fill": Stage(_fill_stage, keeps_ftype=True),
    "sort": Stage(_sort_stage, keeps_ftype=True),
    "limit": Stage(_limit_stage, keeps_ftype=True, removes_rows=True),
    "tail": Stage(_tail_stage, keeps_ftype=True, removes_rows=True),
    "keep": Stage(_keep_drop_stage, keeps_ftype=True),
    "drop": Stage(_keep_drop_stage, keeps_ftype=True),
    # carries its own cache: a measurement/field rename voids the catalog
    "rename": Stage(_rename_stage),
    "set": Stage(_set_stage),
    "duplicate": Stage(_duplicate_stage),
    "pivot": Stage(_pivot_stage),
    "map": Stage(_map_stage),
    "reduce": Stage(_reduce_stage),
    "monitor.check": Stage(_monitor_check_stage, keeps_ftype=True),
    "monitor.stateChanges": Stage(_monitor_state_changes_stage,
                                  keeps_ftype=True, removes_rows=True),
    "monitor.deadman": Stage(_monitor_deadman_stage, time_ordered=True),
    "sql.to": Stage(_sql_to_stage),
    "timeShift": Stage(_time_shift_stage, time_ordered=True,
                       keeps_ftype=True),
    "truncateTimeColumn": Stage(_truncate_time_column_stage,
                                time_ordered=True, keeps_ftype=True),
    "toInt": Stage(_conversion_stage),
    "toFloat": Stage(_conversion_stage),
    "toString": Stage(_conversion_stage),
    "toBool": Stage(_conversion_stage),
    "toUInt": Stage(_conversion_stage),
    "toTime": Stage(_conversion_stage),
    "toDuration": Stage(_conversion_stage),
    "columns": Stage(_columns_stage),
    "keys": Stage(_keys_stage),
    "keyValues": Stage(_key_values_stage),
    "unique": Stage(_unique_stage, keeps_ftype=True, removes_rows=True),
    "distinct": Stage(_distinct_stage),
    "sample": Stage(_sample_stage, keeps_ftype=True, removes_rows=True),
    "quantile": Stage(_quantile_stage, numeric_input=True),
    "integral": Stage(_integral_stage, **_SERIES_TRANSFORM),
    "stateCount": Stage(_state_stage, time_ordered=True, keeps_ftype=True),
    "stateDuration": Stage(_state_stage, time_ordered=True,
                           keeps_ftype=True),
    "stateTracking": Stage(_state_tracking_stage),
    "histogram": Stage(_histogram_stage, numeric_input=True),
    "histogramQuantile": Stage(_histogram_quantile_stage,
                               numeric_input=True),
    "interpolate.linear": Stage(_interpolate_linear_stage,
                                time_ordered=True),
    "covariance": Stage(_covariance_stage),
    "pearsonr": Stage(_covariance_stage),
    "hourSelection": Stage(_hour_selection_stage, time_ordered=True,
                           keeps_ftype=True, removes_rows=True),
    "timeWeightedAvg": Stage(_time_weighted_avg_stage, time_ordered=True,
                             value_input=True),
    "highestMax": Stage(_highest_lowest_stage),
    "highestAverage": Stage(_highest_lowest_stage),
    "highestCurrent": Stage(_highest_lowest_stage),
    "lowestMin": Stage(_highest_lowest_stage),
    "lowestAverage": Stage(_highest_lowest_stage),
    "lowestCurrent": Stage(_highest_lowest_stage),
    "to": Stage(_to_stage),
    "yield": Stage(_yield_stage),
    "events.duration": Stage(_events_duration_stage, time_ordered=True),
    "schema.fieldsAsCols": Stage(_fields_as_cols_stage),
    "v1.fieldsAsCols": Stage(_fields_as_cols_stage),
    "getColumn": Stage(_extract_stage),
    "findColumn": Stage(_extract_stage),
    "getRecord": Stage(_extract_stage),
    "findRecord": Stage(_extract_stage),
    "tableFind": Stage(_extract_stage),
    "geo.filterRows": Stage(_geo_stage),
    "geo.gridFilter": Stage(_geo_stage),
    "geo.strictFilter": Stage(_geo_stage),
    "geo.shapeData": Stage(_geo_stage),
    "geo.toRows": Stage(_geo_stage),
}
