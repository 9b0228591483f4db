"""Projection / filter / column operators (SURVEY.md §2.2.2).

Flux semantics per public InfluxDB 2.0/Flux docs for the engine the
reference pins (``influxdb:2.0.9``, ``/root/reference/recipe.yaml:110``).
All operators are thin declarative wrappers — Catalyst handles pushdown
(``filter``/``keep`` reach the parquet scan as PushedFilters/ReadSchema).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def ns_to_us(ns: Column) -> Column:
    """Exact epoch-ns → epoch-µs (floor division by 1000).

    ``(ns / 1000).cast("long")`` routes through a double whose ulp at
    current-epoch magnitude (~2^60 ns) is 256 ns, so the truncated µs
    can be off by ±1 µs (e.g. 1755000000000000896 ns → …001 µs instead
    of …000). Integral ``div`` over the remainder-stripped value is
    exact for any long, negatives included (floor, matching ``pmod``).
    """
    ns = ns.cast("long")
    return F.call_function("div", ns - F.pmod(ns, F.lit(1000)), F.lit(1000))


def range_time(
    df: DataFrame,
    start=None,
    stop=None,
    time_col: str = "time",
) -> DataFrame:
    """Flux ``range(start, stop)``: half-open ``[start, stop)`` filter.

    Mandatory first step of every Flux query; maps to a partition-prunable
    time predicate. Accepts timestamps/strings/epoch-ns ints.
    """
    out = df
    c = F.col(time_col)
    if start is not None:
        out = out.filter(c >= F.lit(start))
    if stop is not None:
        out = out.filter(c < F.lit(stop))
    return out


def filter_expr(df: DataFrame, predicate: Column | str) -> DataFrame:
    """Flux ``filter(fn:)`` — row predicate, pushed down by Catalyst."""
    return df.filter(predicate)


#: name of the optional raw-storage time column adapters may carry so
#: time-range filters stay sargable (see push_time_filter)
RAW_TIME_COL = "_ts_raw"


def push_time_filter(
    df: DataFrame,
    start_ns: int | None = None,
    stop_ns: int | None = None,
    time_ns_col: str = "time_ns",
    raw_col: str = RAW_TIME_COL,
) -> DataFrame:
    """Half-open ``[start_ns, stop_ns)`` filter that reaches the scan.

    ``time_ns`` is often *derived* (e.g. µs-truncated from a raw ns
    column for oracle parity) — parquet can't translate a predicate on
    an arithmetic expression into row-group stats, so a plain
    ``time_ns >= X`` filter scans the whole time dimension at 100 TB.
    When the frame carries the raw storage column, this adds the
    equivalent *superset* predicate on it (``raw >= start`` /
    ``raw < stop + 1µs`` — implied by the exact predicate, ≤1 µs of
    slack), which IS sargable: row-group min/max skipping and partition
    pruning work again. The exact ``time_ns`` predicate still applies,
    so results are unchanged.
    """
    # The raw column's dtype tracks whatever the parquet shipped
    # (epoch-ns LONG or TIMESTAMP(_NTZ) — see sources.io); literals are
    # emitted in that same type so the predicate stays a plain
    # column-vs-constant comparison the scan can use (a cast on the
    # *literal* constant-folds; a cast on the *column* would not push).
    import datetime as _dt

    from pyspark.sql import types as T

    def _raw_lit(ns: int, raw_type):
        if isinstance(raw_type, T.LongType):
            return F.lit(int(ns))
        us = int(ns) // 1000  # floor to µs: superset of the exact ns bound
        dt = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=us)
        lit = F.lit(dt)  # naive datetime → TIMESTAMP, UTC session tz
        if isinstance(raw_type, T.TimestampNTZType):
            lit = lit.cast("timestamp_ntz")
        return lit

    raw_type = df.schema[raw_col].dataType if raw_col in df.columns else None
    # bucket-store frames carry the physical `day` PARTITION column
    # (time_ns div DAY_NS, sources/bucket.py write_points): the
    # equivalent superset predicate on it prunes whole day DIRECTORIES
    # before any footer is opened — without it a 2-day CQ recompute
    # window would list every file of the bucket's history.
    # `div` truncation is monotone non-decreasing in time_ns, so the
    # day bounds are implied by the exact time_ns bounds on both
    # signs of the epoch.
    # provenance-gated: only the bucket store's own
    # partition column qualifies — read_points marks it with column
    # metadata; a user-computed column named `day` (e.g. added by map()
    # before a range push) must not be silently range-filtered.
    has_day = (
        "day" in df.columns
        and isinstance(df.schema["day"].dataType, T.LongType)
        and df.schema["day"].metadata.get("spark_graft.partition") == "day"
    )
    from ..sources.bucket import DAY_NS as _DAY_NS

    def _day_of(ns: int) -> int:
        q, r = divmod(int(ns), _DAY_NS)
        # match Spark's `div` (truncate toward zero) used at write time
        return q if (int(ns) >= 0 or r == 0) else q + 1

    c = F.col(time_ns_col)
    if start_ns is not None:
        df = df.filter(c >= F.lit(start_ns))
        if raw_type is not None:
            df = df.filter(F.col(raw_col) >= _raw_lit(start_ns, raw_type))
        if has_day:
            df = df.filter(F.col("day") >= F.lit(_day_of(start_ns)))
    if stop_ns is not None:
        df = df.filter(c < F.lit(stop_ns))
        if raw_type is not None:
            df = df.filter(F.col(raw_col) < _raw_lit(int(stop_ns) + 1000, raw_type))
        if has_day:
            df = df.filter(F.col("day") <= F.lit(_day_of(int(stop_ns) - 1)))
    return df


def map_columns(df: DataFrame, **exprs: Column) -> DataFrame:
    """Flux ``map(fn:)`` — computed/rewritten columns."""
    return df.withColumns(dict(exprs))


def keep(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Flux ``keep(columns:)`` — projection to the listed columns."""
    present = [c for c in columns if c in df.columns]
    return df.select(*present)


def drop(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Flux ``drop(columns:)``."""
    return df.drop(*[c for c in columns if c in df.columns])


def rename(df: DataFrame, columns: dict[str, str]) -> DataFrame:
    """Flux ``rename(columns: {old: new})``."""
    return df.withColumnsRenamed(columns)


def set_constant(df: DataFrame, key: str, value) -> DataFrame:
    """Flux ``set(key:, value:)`` — constant string column."""
    return df.withColumn(key, F.lit(value))


def duplicate(df: DataFrame, column: str, as_: str) -> DataFrame:
    """Flux ``duplicate(column:, as:)``."""
    return df.withColumn(as_, F.col(column))


def time_shift(df: DataFrame, duration: str, time_col: str = "time",
               time_ns_col: str | None = "time_ns") -> DataFrame:
    """Flux ``timeShift(duration:)`` — shift the time column(s).

    ``duration`` is a Flux duration (``1h``, ``-10m``) or a SQL
    interval string (``'1 hour'``). When the frame carries the
    authoritative ``time_ns`` column it shifts too (integer add), so
    downstream window/ordering semantics stay consistent.
    """
    try:
        from .windows import duration_parts

        months, fixed = duration_parts(duration.strip())
    except (ValueError, KeyError, AttributeError):  # not a Flux duration → SQL interval
        months, fixed = 0, None
    if months:
        # calendar months/years (1mo, -1y, 1mo10d): per-row calendar
        # arithmetic with day clamping — make_interval is JVM-side
        cal = F.col(time_col) + F.make_interval(F.lit(0), F.lit(months))
        ns_delta = (
            (F.unix_micros(cal) - F.unix_micros(F.col(time_col))) * 1000
            + F.lit(fixed)
        )
    elif fixed is not None:
        ns_delta = F.lit(fixed)
    else:
        shifted = F.col(time_col) + F.expr(f"INTERVAL {duration}")
        ns_delta = (F.unix_micros(shifted) - F.unix_micros(F.col(time_col))) * 1000
    updates = {
        time_col: F.timestamp_micros(
            F.unix_micros(F.col(time_col)) + ns_to_us(ns_delta)
        )
    }
    if time_ns_col is not None and time_ns_col in df.columns:
        updates[time_ns_col] = F.col(time_ns_col) + ns_delta
    return df.withColumns(updates)


def truncate_time(df: DataFrame, unit: str, time_col: str = "time") -> DataFrame:
    """Flux ``truncateTimeColumn(unit:)`` — floor timestamps to unit."""
    return df.withColumn(time_col, F.date_trunc(unit, F.col(time_col)))


def hour_selection(
    df: DataFrame, start: int, stop: int, time_ns: str = "time_ns",
    tz: str = "UTC",
) -> DataFrame:
    """Flux ``hourSelection(start:, stop:)`` — keep rows whose hour of
    day lies in ``[start, stop]`` (inclusive both ends; a wrapped
    range like ``start: 22, stop: 2`` selects the overnight hours).
    ``tz`` = the ``location:`` arg / ``option location`` — hours read
    off the local wall clock.

    Pure integer arithmetic on epoch-ns, so the predicate stays inside
    whole-stage codegen and (unlike a timestamp-function rewrite) can
    combine with the range() pushdown; the tz path swaps in the JVM's
    zone-aware hour extraction (still codegen'd, no Python).
    """
    if tz != "UTC":
        hour = F.hour(
            F.from_utc_timestamp(
                F.timestamp_micros(F.expr(f"`{time_ns}` div 1000")), tz
            )
        )
    else:
        hour = F.expr(f"`{time_ns}` div {3600 * 10**9}") % 24
    if start <= stop:
        return df.filter((hour >= start) & (hour <= stop))
    return df.filter((hour >= start) | (hour <= stop))


def pivot(
    df: DataFrame,
    row_key: Sequence[str],
    column_key: str,
    value_column: str,
    values: Sequence[str] | None = None,
    agg: Column | None = None,
) -> DataFrame:
    """Flux ``pivot(rowKey, columnKey, valueColumn)``.

    ``values`` (the distinct column-key values) should be passed when
    known: it removes the extra distinct-collect job Spark otherwise
    runs — significant at 100 TB. ``agg`` overrides the per-cell
    aggregate (Flux uses last-on-conflict; default here ``first``).
    """
    gb = df.groupBy(*row_key)
    pv = gb.pivot(column_key, list(values)) if values else gb.pivot(column_key)
    return pv.agg(agg if agg is not None else F.first(value_column))


def fields_as_cols(df: DataFrame, tag_cols: Sequence[str] = ()) -> DataFrame:
    """``schema.fieldsAsCols()`` — wide view of the tall points schema.

    One row per (measurement, tags, time); one column per field key.
    Numeric slots coalesce into a double value (InfluxDB numeric fields);
    string/bool fields pivot separately in a full implementation.
    """
    value = F.coalesce(
        F.col("f_float"),
        F.col("f_int").cast("double"),
        F.col("f_uint").cast("double"),
    )
    keys = ["measurement", *tag_cols, "time", "time_ns"]
    return (
        df.withColumn("_v", value)
        .groupBy(*keys)
        .pivot("field")
        .agg(F.first("_v"))
    )
