"""Fluent pipeline builder with Flux group-key semantics.

A Flux query is a pipe of table-stream transforms; the subtle part
(SURVEY.md §7 hard-part 3) is the **group key**: ``group()``,
``window()`` mutate it, aggregates collapse per it, and per-series
operators (limit, sort, derivative...) implicitly operate *within* it.
A naive Spark translation silently computes globals.

:class:`Pipeline` wraps a DataFrame + the current group key and routes
every operator through the library with ``by=self.group_key`` — so a
pipe reads like Flux and executes like idiomatic Spark. The IR is just
(DataFrame, group_key, time column names); Catalyst owns everything
downstream — ``.df`` hands back the declarative plan at any point.

Example::

    from_points(points, group_key=["measurement", "field"])
        .range(start, stop)
        .filter(F.col("event_type") == "click")
        .group(["event_type"])
        .aggregate_window("1h", "mean")
        .fill(0.0, column="mean")
        .df
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame, functions as F

from .. import operators as ops
from ..operators.errors import OperatorValidationError


def merge_range_bounds(
    a: tuple[int | None, int | None], b: tuple[int | None, int | None],
) -> tuple[int | None, int | None]:
    """Combine two streams' ``range()`` bounds (union/join paths).

    Stock Flux carries ``_start``/``_stop`` per table; one physical
    frame gets the covering interval: min start, max stop. ``None``
    start means *unbounded* (no ``range()`` ran — downstream
    ``createEmpty`` must stay the typed error), so it poisons the
    merge. ``None`` stop means *defaults to query now()*, which
    dominates any explicit past stop, so it wins the max.
    """
    start = None if a[0] is None or b[0] is None else min(a[0], b[0])
    stop = None if a[1] is None or b[1] is None else max(a[1], b[1])
    return (start, stop)


@dataclass(frozen=True)
class Pipeline:
    df_: DataFrame
    group_key: tuple[str, ...] = ()
    time_col: str = "time"
    time_ns_col: str = "time_ns"
    order: tuple[str, ...] = ("time_ns",)
    # whether `order` is descending — set by sort(desc:), consumed by
    # the order-sensitive presentation stages (limit/tail)
    order_desc: bool = False
    # the epoch-ns (start, stop) of the last range() stage — set by
    # range(), preserved by every stage (replace()), min/max-merged by
    # union()/join(), read back from env bindings by the bounds
    # consumers (aggregateWindow createEmpty spine, interpolate.linear,
    # events.duration tail close). None start = no range() ran; None
    # stop = range defaulted its stop to the query's now(). The bounds
    # live on the Pipeline so they survive variable bindings.
    range_bounds: tuple = (None, None)

    # ------------------------------------------------------------- plumbing

    @property
    def df(self) -> DataFrame:
        return self.df_

    def _with(self, df: DataFrame, **changes) -> "Pipeline":
        new = replace(self, df_=df, **changes)
        if "order" not in changes:
            # ordering columns an aggregate/projection removed can't
            # order downstream stages (keep/drop already did this
            # locally; any stage that reshapes the frame needs it)
            pruned = tuple(c for c in new.order if c in df.columns)
            if pruned != new.order:
                new = replace(new, order=pruned)
        return new

    def explain(self, mode: str = "formatted") -> "Pipeline":
        self.df_.explain(mode)
        return self

    # -------------------------------------------------------- source shaping

    def range(self, start=None, stop=None) -> "Pipeline":
        if isinstance(start, int) or isinstance(stop, int):
            # epoch-ns bounds: use the sargable path (adds a raw-column
            # superset predicate so parquet row-group pruning applies)
            s = start if isinstance(start, int) else None
            e = stop if isinstance(stop, int) else None
            return self._with(
                ops.push_time_filter(self.df_, s, e,
                                     time_ns_col=self.time_ns_col),
                range_bounds=(s, e),
            )
        return self._with(ops.range_time(self.df_, start, stop, self.time_col))

    def filter(self, predicate: Column | str) -> "Pipeline":
        return self._with(self.df_.filter(predicate))

    def map(self, **exprs: Column) -> "Pipeline":
        return self._with(self.df_.withColumns(dict(exprs)))

    def keep(self, columns: Sequence[str]) -> "Pipeline":
        kept = ops.keep(self.df_, list(columns))
        return self._with(
            kept,
            group_key=tuple(c for c in self.group_key if c in kept.columns),
            # ordering columns that were projected away can't order
            # downstream limit/tail — fall back to what survives
            order=tuple(c for c in self.order if c in kept.columns)
            or (("time",) if "time" in kept.columns else ()),
        )

    def drop(self, columns: Sequence[str]) -> "Pipeline":
        dropped = ops.drop(self.df_, list(columns))
        return self._with(
            dropped,
            group_key=tuple(c for c in self.group_key if c not in columns),
            order=tuple(c for c in self.order if c in dropped.columns)
            or (("time",) if "time" in dropped.columns else ()),
        )

    def rename(self, columns: dict[str, str]) -> "Pipeline":
        return self._with(
            ops.rename(self.df_, columns),
            group_key=tuple(columns.get(c, c) for c in self.group_key),
        )

    # ------------------------------------------------------------- grouping

    def group(self, columns: Sequence[str] = (), mode: str = "by") -> "Pipeline":
        """Flux ``group(columns:, mode: by/except)`` — set the group key.

        No data movement happens here: the key re-binds which columns
        later operators partition by (the shuffle happens inside those
        operators, once, on the right key).
        """
        if mode == "by":
            key = tuple(columns)
        elif mode == "except":
            # the "except" universe is the key-able columns only —
            # value/time columns (and their internal twins) are never
            # part of a Flux group key
            never = {
                "f_float", "f_int", "f_uint", "f_str", "f_bool",
                "time", "time_ns", "ingest_seq", "_ts_raw", "props",
                # storage internals, not Flux columns: the tags MAP is
                # not orderable (sorting a key containing it is an
                # AnalysisException), and ftype is the slot
                # discriminator, never a user-visible group key
                "tags", "ftype",
                # per-branch range bounds stamped by union()
                "_rb_start_ns", "_rb_stop_ns",
            }
            key = tuple(
                c for c in self.df_.columns
                if c not in columns and c not in never
            )
        else:
            raise OperatorValidationError("mode must be 'by' or 'except'")
        return replace(self, group_key=key)

    def window(self, every, period=None, offset=0, tz: str = "UTC") -> "Pipeline":
        """Flux ``window()``: adds ``_start``/``_stop`` to the group key.

        ``_stop_ns`` rides in the key too (functionally dependent on
        ``_start_ns`` — no extra grouping cost) so windowed aggregates
        keep BOTH edges, as Flux tables do; the classic
        ``window |> mean |> duplicate(column: "_stop", as: "_time")``
        idiom depends on it.

        ``every: inf`` is the documented UN-window: the window columns
        leave the group key (each series becomes one table again) —
        the ``window |> agg |> window(every: inf)`` flatten idiom."""
        if isinstance(every, str) and every.strip() == "inf":
            key = tuple(
                k for k in self.group_key if k not in ("_start_ns", "_stop_ns")
            )
            return self._with(
                self.df_.drop("_start_ns", "_stop_ns"), group_key=key
            )
        w = ops.window(self.df_, every, period, offset, self.time_ns_col,
                       self.time_col, tz)
        # re-windowing REPLACES prior bounds (Flux window() semantics):
        # the bound columns are overwritten and must not repeat in the key
        base = tuple(k for k in self.group_key if k not in ("_start_ns", "_stop_ns"))
        return self._with(w, group_key=(*base, "_start_ns", "_stop_ns"))

    # ----------------------------------------------------------- aggregates

    def aggregate(self, fn: str, column: str = "f_float", alias: str | None = None) -> "Pipeline":
        out = ops.aggregate(self.df_, fn, column, by=self.group_key, alias=alias)
        return self._with(out)

    def aggregate_window(
        self, every, fn: str, column: str = "f_float", create_empty: bool = False,
        range_start=None, range_stop=None, alias: str | None = None,
        offset: str | int = 0, time_src: str = "_stop", tz: str = "UTC",
        slots: Sequence[str] | None = None,
    ) -> "Pipeline":
        # aggregateWindow re-windows: stale bounds from an earlier
        # window() leave the key (its own _start_ns/_stop_ns replace them)
        by = [k for k in self.group_key if k not in ("_start_ns", "_stop_ns")]
        out = ops.aggregate_window(
            self.df_, every, fn, column, by=by,
            create_empty=create_empty, range_start=range_start, range_stop=range_stop,
            alias=alias, time_ns=self.time_ns_col, offset=offset,
            time_src=time_src, tz=tz, slots=slots,
        )
        return self._with(out, group_key=tuple(by))

    # ------------------------------------------------------------ selectors

    def first(self) -> "Pipeline":
        return self._with(ops.first(self.df_, self.group_key, self.time_ns_col))

    def last(self) -> "Pipeline":
        return self._with(ops.last(self.df_, self.group_key, self.time_ns_col))

    def min(self, column: str = "f_float") -> "Pipeline":
        return self._with(ops.min_selector(self.df_, self.group_key, column, self.time_ns_col))

    def max(self, column: str = "f_float") -> "Pipeline":
        return self._with(ops.max_selector(self.df_, self.group_key, column, self.time_ns_col))

    def top(self, n: int, column: str = "f_float") -> "Pipeline":
        return self._with(ops.top(self.df_, n, self.group_key, column, self.time_ns_col))

    def bottom(self, n: int, column: str = "f_float") -> "Pipeline":
        return self._with(ops.bottom(self.df_, n, self.group_key, column, self.time_ns_col))

    # ------------------------------------------------------------ transforms

    def derivative(self, unit_seconds: float = 1.0, non_negative: bool = False,
                   column: str = "f_float") -> "Pipeline":
        return self._with(
            ops.derivative(self.df_, unit_seconds, non_negative, column,
                           self.group_key, self.time_ns_col, order=list(self.order))
        )

    def difference(self, non_negative: bool = False, column: str = "f_float",
                   keep_first: bool = False, initial_zero: bool = False) -> "Pipeline":
        return self._with(
            ops.difference(self.df_, non_negative, column, self.group_key,
                           order=list(self.order), keep_first=keep_first,
                           initial_zero=initial_zero)
        )

    def cumulative_sum(self, column: str = "f_float") -> "Pipeline":
        return self._with(
            ops.cumulative_sum(self.df_, column, self.group_key, order=list(self.order))
        )

    def moving_average(self, n: int, column: str = "f_float") -> "Pipeline":
        return self._with(
            ops.moving_average(self.df_, n, column, self.group_key, order=list(self.order))
        )

    def exponential_moving_average(self, n: int, column: str = "f_float") -> "Pipeline":
        return self._with(
            ops.exponential_moving_average(self.df_, n, column, self.group_key, self.time_ns_col)
        )

    def fill(self, value=None, use_previous: bool = False, column: str = "f_float") -> "Pipeline":
        if use_previous and not self.order:
            raise OperatorValidationError("fill(usePrevious:) needs an ordered frame")
        # fill(value:) is a pure coalesce — no ordering involved; the
        # order column only drives the usePrevious forward-fill window
        order = self.order[0] if self.order else "__unused"
        return self._with(
            ops.fill(self.df_, column, value, use_previous, self.group_key,
                     order=order)
        )

    # ------------------------------------------------------------ sort/limit

    def sort(self, columns: Sequence[str], desc: bool = False) -> "Pipeline":
        # Flux sort() re-orders each table AND establishes the order
        # that downstream presentation stages consume — sort |> limit
        # is the canonical Flux top-N idiom (limit takes the first n
        # rows of the CURRENT order, not first-n-by-time)
        return self._with(
            ops.sort(self.df_, list(columns), desc),
            order=tuple(columns), order_desc=desc,
        )

    def _order_or_fallback(self) -> list[str]:
        cols = [c for c in self.order if c in self.df_.columns]
        if cols:
            return cols
        # everything orderable was projected away: any deterministic
        # order is better than an unresolvable-column error
        return [self.df_.columns[0]]

    def _live_group_key(self) -> list[str]:
        return [c for c in self.group_key if c in self.df_.columns]

    def limit(self, n: int, offset: int = 0) -> "Pipeline":
        return self._with(
            ops.limit(self.df_, n, offset, self._live_group_key(),
                      order=self._order_or_fallback(), desc=self.order_desc)
        )

    def tail(self, n: int) -> "Pipeline":
        return self._with(
            ops.tail(self.df_, n, 0, self._live_group_key(),
                     order=self._order_or_fallback(), desc=self.order_desc)
        )

    # -------------------------------------------------------------- combine

    def union(self, other: "Pipeline") -> "Pipeline":
        """Flux ``union(tables:)``.

        One physical frame carries one merged ``range_bounds`` interval
        (min start / max stop) — but stock Flux spines each table to
        its OWN ``_stop``, so when the branches' bounds differ, each
        side's bounds ride along as literal ``_rb_start_ns`` /
        ``_rb_stop_ns`` columns (zero runtime cost: constants folded
        into the scan projection). ``aggregate_window(createEmpty:)``
        consumes them to build a per-branch spine and ``group(mode:
        except)`` / the wire facade treat them as internals, so the
        shorter branch gets no null spine windows beyond its own stop.
        Only fully int-bounded branches stamp; an unbounded branch
        drops the mechanism for the whole union (merged-bounds
        behavior, documented in COVERAGE.md).
        """
        a, b = self.range_bounds, other.range_bounds
        ldf, rdf = self.df_, other.df_
        both_int = all(isinstance(x, int) for x in (*a, *b))
        carrying = "_rb_start_ns" in ldf.columns or "_rb_start_ns" in rdf.columns
        if both_int and (a != b or carrying):
            if "_rb_start_ns" not in ldf.columns:
                ldf = ldf.withColumn("_rb_start_ns", F.lit(a[0])) \
                         .withColumn("_rb_stop_ns", F.lit(a[1]))
            if "_rb_start_ns" not in rdf.columns:
                rdf = rdf.withColumn("_rb_start_ns", F.lit(b[0])) \
                         .withColumn("_rb_stop_ns", F.lit(b[1]))
        elif carrying:
            # one side lost its bounds (no range() / open stop): the
            # per-branch spine cannot cover it — fall back to the
            # merged interval for every branch rather than spine some
            # branches and not others
            ldf = ldf.drop("_rb_start_ns", "_rb_stop_ns")
            rdf = rdf.drop("_rb_start_ns", "_rb_stop_ns")
        return self._with(
            ldf.unionByName(rdf, allowMissingColumns=True),
            range_bounds=merge_range_bounds(a, b),
        )

    def join(self, other: "Pipeline", on: Sequence[str], how: str = "inner") -> "Pipeline":
        return self._with(
            self.df_.join(other.df_, list(on), how),
            range_bounds=merge_range_bounds(self.range_bounds,
                                            other.range_bounds),
        )

    def pivot(self, row_key: Sequence[str], column_key: str, value_column: str,
              values: Sequence[str] | None = None) -> "Pipeline":
        out = ops.pivot(self.df_, list(row_key), column_key, value_column, values)
        return self._with(
            out,
            # the pivoted key and value columns are gone — the group
            # key (and order) must not reference them downstream
            group_key=tuple(c for c in self.group_key if c in out.columns),
            order=tuple(c for c in self.order if c in out.columns)
            or (("time",) if "time" in out.columns else ()),
        )

    def yield_(self) -> DataFrame:
        """Flux ``yield()`` — hand the declarative plan to the caller."""
        return self.df_


def from_points(
    df: DataFrame, group_key: Sequence[str] = ("measurement", "field")
) -> Pipeline:
    """Start a pipeline from a canonical points DataFrame."""
    from ..schema import unify_numeric_value

    df = unify_numeric_value(df)  # int/uint slots → the _value column
    order = ("time_ns", "ingest_seq") if "ingest_seq" in df.columns else ("time_ns",)
    return Pipeline(df, tuple(group_key), order=order)


def from_bucket(store, org: str, bucket: str,
                group_key: Sequence[str] = ("measurement", "series_key", "field")) -> Pipeline:
    """Flux ``from(bucket:)`` — scan a bucket (LWW-resolved).

    Seeds the live-slot and catalog class caches from the bucket's
    field-type pins, so DSL callers get the same zero-probe plans as
    the HTTP facade."""
    points = store.read_points(org, bucket)
    cat = store.field_types(org, bucket)
    if cat:
        from ..frontends.flux import seed_live_slots

        seed_live_slots(
            points,
            {t for fields in cat.values() for t in fields.values()},
            catalog=cat,
        )
    pipe = from_points(points, group_key)
    if cat:
        from ..frontends.flux import _carry_slot_cache

        _carry_slot_cache(points, pipe.df)
    return pipe
