"""Time windows: window / aggregateWindow / fill / interpolate
(SURVEY.md §2.2.6 — the heart of the engine).

Two window mechanisms, picked by semantics:

- **Tumbling** windows use integer ns arithmetic
  (``time_ns div every * every``) — exact, epoch-aligned identically to
  DuckDB's ``time_bucket``, whole-stage-codegen'd, and groupable without
  struct columns. At 100 TB this is a plain hash aggregate with map-side
  partials.
- **Sliding** (period > every) uses ``F.window(time, period, slide)``
  which explodes rows into their overlapping windows JVM-side.

``createEmpty: true`` (and InfluxQL ``GROUP BY time() fill(...)``) needs
rows for windows with no data — impossible from groupBy alone. We build
a **window spine**: ``F.sequence`` over the aligned ns range, exploded,
cross-joined with the (small) distinct series set, then left-joined with
the aggregated data. The spine is tiny (windows × series) relative to
the raw data, so the join broadcasts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from .aggregates import AGG_FNS
from .core import ns_to_us
from .errors import OperatorValidationError

NS = {"ns": 1, "us": 10**3, "ms": 10**6, "s": 10**9, "m": 60 * 10**9,
      "h": 3600 * 10**9, "d": 86400 * 10**9, "w": 7 * 86400 * 10**9}

#: Flux calendar units — variable length, resolved against the calendar
#: (UTC; the session timezone is pinned in session.py / sources.io).
_CAL_MONTHS = {"mo": 1, "y": 12}


def duration_parts(d: int | str) -> tuple[int, int]:
    """Split a Flux duration into ``(calendar_months, fixed_ns)``.

    Flux treats ``mo``/``y`` as calendar units (variable physical
    length) that may mix with fixed units (``1mo10d``); fixed-only
    durations return ``(0, ns)``. Both parts carry the sign.
    """
    if isinstance(d, int):
        return 0, d
    s = d.strip()
    sign = 1
    if s.startswith("-"):
        sign, s = -1, s[1:]
    months = ns = 0
    num = ""
    i = 0
    while i < len(s):
        c = s[i]
        if c.isdigit():
            num += c
            i += 1
            continue
        two = s[i : i + 2]
        if two in _CAL_MONTHS:
            months += int(num) * _CAL_MONTHS[two]
            num, i = "", i + 2
        elif two in NS:
            ns += int(num) * NS[two]
            num, i = "", i + 2
        elif c == "y":
            months += int(num) * 12
            num, i = "", i + 1
        elif c in NS:
            ns += int(num) * NS[c]
            num, i = "", i + 1
        else:
            raise OperatorValidationError(f"bad duration unit at {s[i:]!r} in {d!r}")
    return sign * months, sign * ns


def duration_ns(d: int | str) -> int:
    """Parse a Flux-style duration ('1m', '30s', '1h30m', '-5m') to ns."""
    if isinstance(d, int):
        return d
    d = d.strip()
    sign = 1
    if d.startswith("-"):
        sign, d = -1, d[1:]
    total, num = 0, ""
    i = 0
    while i < len(d):
        c = d[i]
        if c.isdigit():
            num += c
            i += 1
            continue
        # unit may be 2 chars (ns, us, ms)
        unit = d[i : i + 2] if d[i : i + 2] in NS else c
        total += int(num) * NS[unit]
        num = ""
        i += len(unit)
    return sign * total


def window_start_ns(time_ns: Column, every_ns: int, offset_ns: int = 0) -> Column:
    """Epoch-aligned window start (ns) for a tumbling window.

    Integer arithmetic only: ``floor(x/const)`` in doubles is lossy at
    epoch-ns magnitude (~2^60; double ulp there is 256 ns).
    """
    if every_ns <= 0:
        # plan-time rejection: a zero/negative width would reach the
        # modulo and crash executors with REMAINDER_BY_ZERO. Wording
        # matches stock Flux's interval errors
        raise OperatorValidationError(
            "duration used as an interval cannot be zero" if every_ns == 0
            else "duration used as an interval cannot be negative"
        )
    shifted = time_ns - F.lit(offset_ns)
    return (shifted - shifted % F.lit(every_ns) + F.lit(offset_ns)).cast("long")


def _month_index(ts: Column) -> Column:
    """Months since 1970-01 of a timestamp Column (UTC calendar)."""
    return (F.year(ts) - F.lit(1970)) * F.lit(12) + F.month(ts) - F.lit(1)


def _month_start_ns(mi: Column, tz: str = "UTC") -> Column:
    """Epoch-ns of the first instant of month-index ``mi`` in ``tz``.

    ``make_timestamp(..., tz)`` keeps the calendar fixed even if a
    caller overrides the session timezone; with a Flux
    ``option location`` the month boundary is local midnight."""
    y = (F.lit(1970) + F.floor(mi / F.lit(12))).cast("int")
    m = (F.pmod(mi, F.lit(12)) + F.lit(1)).cast("int")
    ts = F.make_timestamp(
        y, m, F.lit(1), F.lit(0), F.lit(0), F.lit(0), F.lit(tz)
    )
    return (F.unix_micros(ts) * F.lit(1000)).cast("long")


# --------------------------------------------------------------- timezones
# Flux `option location = timezone.location(name:)` / `timezone.fixed
# (offset:)` — window boundaries land on LOCAL wall-clock marks (local
# midnight for 1d windows, including 23/25-hour days at DST
# transitions). Implementation: map each instant to its wall-clock ns
# (`from_utc_timestamp`, JVM tz database — pure Column exprs, still
# whole-stage-codegen'd), bucket with the same integer arithmetic as
# the UTC path, then map the boundary wall-times back to instants
# (`to_utc_timestamp`). Mirrors the InfluxQL tz() machinery
# (frontends/influxql.py) at the operator layer.


def to_local_ns(time_ns: Column, tz: str) -> Column:
    """Instant (epoch ns) → wall-clock ns in ``tz`` (the naive local
    datetime re-read as UTC). Sub-µs remainder is carried through so
    ns-precision rows keep exact bucketing. The µs split uses exact
    integral division (``ns_to_us``) — the double route's ulp at
    epoch-ns magnitude is 256 ns, enough to move a row across a local
    window boundary."""
    ts = F.timestamp_micros(ns_to_us(time_ns))
    return F.unix_micros(F.from_utc_timestamp(ts, tz)) * F.lit(1000) + F.pmod(
        time_ns, F.lit(1000)
    )


def local_to_instant_ns(local_ns: Column, tz: str) -> Column:
    """Wall-clock ns in ``tz`` → instant (epoch ns). Nonexistent local
    times in a spring-forward gap resolve the way the JVM resolves
    them (shifted forward) — same rule upstream applies."""
    ts = F.timestamp_micros(ns_to_us(local_ns))
    return F.unix_micros(F.to_utc_timestamp(ts, tz)) * F.lit(1000) + F.pmod(
        local_ns, F.lit(1000)
    )


def tz_offset_ns(tz: str, ns: int) -> int:
    """Driver-side UTC offset of ``tz`` at instant ``ns`` — for spine
    bound computation only (two calls per query, never per row).
    Handles the fixed "GMT±HH:MM" ids that ``timezone.fixed`` compiles
    to without a zoneinfo lookup."""
    import datetime as _dt

    if len(tz) > 3 and tz[:3].upper() in ("GMT", "UTC") and tz[3] in "+-":
        sign = 1 if tz[3] == "+" else -1
        hh, _, mm = tz[4:].partition(":")
        return sign * (int(hh) * 3600 + int(mm or 0) * 60) * 10**9
    from zoneinfo import ZoneInfo

    d = _dt.datetime.fromtimestamp(ns / 1e9, ZoneInfo(tz))
    return int(d.utcoffset().total_seconds()) * 10**9


def month_window_bounds(
    time_ns: Column, every_months: int, offset_months: int = 0,
    tz: str = "UTC", offset_fixed_ns: int = 0,
) -> tuple[Column, Column]:
    """``(start_ns, stop_ns)`` of the calendar-month window holding each
    row — Flux ``window(every: 1mo/3mo/1y)``.

    Pure JVM Column arithmetic (year/month extract → month index →
    ``make_timestamp``): whole-stage-codegen'd, no Python, and groupable
    exactly like the fixed-width path, so at 100 TB a monthly rollup is
    still a plain hash aggregate with map-side partials. With a
    non-UTC ``tz`` the month index is read off the LOCAL calendar and
    the bounds are local-midnight instants.
    """
    src = (time_ns - F.lit(offset_fixed_ns)) if offset_fixed_ns else time_ns
    ts = F.timestamp_micros(ns_to_us(src))
    if tz != "UTC":
        ts = F.from_utc_timestamp(ts, tz)
    mi = _month_index(ts) - F.lit(offset_months)
    wm = (F.floor(mi / F.lit(every_months)) * F.lit(every_months)).cast(
        "int"
    ) + F.lit(offset_months)
    start_b = _month_start_ns(wm, tz)
    stop_b = _month_start_ns(wm + F.lit(every_months), tz)
    if offset_fixed_ns:
        start_b = start_b + F.lit(offset_fixed_ns)
        stop_b = stop_b + F.lit(offset_fixed_ns)
    return start_b, stop_b


def _check_calendar_every(months: int, fixed_ns: int, period, every) -> None:
    if fixed_ns:
        # stock Flux interval-package wording
        raise OperatorValidationError(
            "duration used as an interval cannot mix month and "
            "nanosecond units"
        )
    if months <= 0:
        raise OperatorValidationError(
            "duration used as an interval cannot be zero" if months == 0
            else "duration used as an interval cannot be negative"
        )
    if period is not None and period != every:
        raise OperatorValidationError("calendar windows support period == every only")


def _calendar_offset_parts(offset) -> tuple[int, int]:
    """Calendar-window offset split into (months, fixed_ns). Stock
    accepts mixed offsets (``every: 1mo, offset: -4d``): the month
    part shifts the month lattice, the fixed part shifts every window
    boundary by that many ns — windows run e.g. from the 2nd 00:00 of
    each month."""
    return duration_parts(offset) if offset else (0, 0)


def _window_bucket(
    every: str | int, offset: str | int, time_ns: str, tz: str = "UTC"
) -> tuple[Column, Column, Column]:
    """``(bucket_col, start_from_bucket, stop_from_bucket)`` for a
    tumbling window of ``every`` — fixed-width integer arithmetic, or
    calendar-month bounds when ``every`` uses ``mo``/``y`` units.
    ``bucket_col`` is the groupBy key computed from the row's
    ``time_ns``; the other two are expressions over the post-aggregate
    ``_bucket`` column.

    The bucket is kept in the window's NATIVE lattice — local
    wall-clock ns for a tz window, month index for a calendar window —
    and both bounds are derived from that one value. Deriving the stop
    by round-tripping the start *instant* back to local is not
    identity at a DST spring-forward gap (the JVM shifts nonexistent
    local times forward), which made the aggregate's ``_stop_ns``
    disagree with the spine's and silently drop that window's row from
    ``createEmpty`` output.

    With ``tz`` (Flux ``option location``) the bucketing runs on
    wall-clock ns and the emitted bounds are mapped back to instants,
    so a 1d window is the 23/25-hour local day at a DST transition —
    still one codegen'd hash aggregate, no Python in the row path."""
    b = F.col("_bucket")
    months, fixed = duration_parts(every)
    if months:
        _check_calendar_every(months, fixed, None, every)
        om, ons = _calendar_offset_parts(offset)
        # fixed offset remainder: shift rows onto the unshifted month
        # lattice, shift the emitted bounds back (t ∈ [ms+ons, next+ons)
        # ⟺ t-ons ∈ [ms, next))
        src = F.col(time_ns) - F.lit(ons) if ons else F.col(time_ns)
        ts = F.timestamp_micros(ns_to_us(src))
        if tz != "UTC":
            ts = F.from_utc_timestamp(ts, tz)
        mi = _month_index(ts) - F.lit(om)
        bucket = (F.floor(mi / F.lit(months)) * F.lit(months)).cast(
            "int"
        ) + F.lit(om)
        start_b = _month_start_ns(b, tz)
        stop_b = _month_start_ns(b + F.lit(months), tz)
        if ons:
            start_b, stop_b = start_b + F.lit(ons), stop_b + F.lit(ons)
        return bucket, start_b, stop_b
    every_n = duration_ns(every)
    offset_n = duration_ns(offset) if offset else 0
    if tz != "UTC":
        bucket = window_start_ns(
            to_local_ns(F.col(time_ns), tz), every_n, offset_n
        )
        return (
            bucket,
            local_to_instant_ns(b, tz),
            local_to_instant_ns(b + F.lit(every_n), tz),
        )
    bucket = window_start_ns(F.col(time_ns), every_n, offset_n)
    return bucket, b, b + F.lit(every_n)


def window(
    df: DataFrame,
    every: str | int,
    period: str | int | None = None,
    offset: str | int = 0,
    time_ns: str = "time_ns",
    time_col: str = "time",
    tz: str = "UTC",
) -> DataFrame:
    """Flux ``window(every:, period:, offset:)`` — assign window bounds.

    Adds ``_start_ns``/``_stop_ns`` (and µs ``_start``/``_stop``) to each
    row. Tumbling path (period == every) is pure column arithmetic;
    sliding uses Spark's native window explode. ``tz`` (Flux ``option
    location``) aligns bounds to local wall-clock marks.
    """
    months, _fixed = duration_parts(every)
    if months:
        _check_calendar_every(months, _fixed, period, every)
        om, ons = _calendar_offset_parts(offset)
        start_c, stop_c = month_window_bounds(
            F.col(time_ns), months, om, tz, offset_fixed_ns=ons)
        out = df.withColumn("_start_ns", start_c).withColumn("_stop_ns", stop_c)
        return (
            out.withColumn(
                "_start", F.timestamp_micros(ns_to_us(F.col("_start_ns")))
            ).withColumn(
                "_stop", F.timestamp_micros(ns_to_us(F.col("_stop_ns")))
            )
        )
    every_n = duration_ns(every)
    offset_n = duration_ns(offset) if offset else 0
    period_n = duration_ns(period) if period is not None else every_n
    if period_n == every_n:
        if tz != "UTC":
            bucket_c, start_e, stop_e = _window_bucket(
                every, offset, time_ns, tz
            )
            out = (
                df.withColumn("_bucket", bucket_c)
                .withColumn("_start_ns", start_e)
                .withColumn("_stop_ns", stop_e)
                .drop("_bucket")
            )
        else:
            start = window_start_ns(F.col(time_ns), every_n, offset_n)
            out = df.withColumn("_start_ns", start).withColumn(
                "_stop_ns", start + F.lit(every_n)
            )
    elif tz != "UTC":
        # Sliding windows on the LOCAL lattice: explode each row into
        # the ceil(period/every) candidate window starts ending at its
        # aligned local bucket, keep those that actually contain the
        # row, then map the wall-clock bounds back to instants. Same
        # row-multiplication factor as F.window's native explode; all
        # Column arithmetic, codegen'd.
        local = to_local_ns(F.col(time_ns), tz)
        s_max = local - F.pmod(local - F.lit(offset_n), F.lit(every_n))
        n_wins = -(-period_n // every_n)  # ceil
        starts = F.sequence(
            s_max - F.lit((n_wins - 1) * every_n), s_max, F.lit(every_n)
        )
        out = (
            df.withColumn("_local_start", F.explode(starts))
            .filter(
                (F.col("_local_start") <= local)
                & (local < F.col("_local_start") + F.lit(period_n))
            )
            .withColumn(
                "_start_ns", local_to_instant_ns(F.col("_local_start"), tz)
            )
            .withColumn(
                "_stop_ns",
                local_to_instant_ns(
                    F.col("_local_start") + F.lit(period_n), tz
                ),
            )
            .drop("_local_start")
        )
    else:
        secs = lambda n: f"{n // 10**9} seconds"  # noqa: E731
        win = F.window(F.col(time_col), secs(period_n), secs(every_n),
                       secs(offset_n) if offset_n else None)
        out = (
            df.withColumn("_w", win)
            .withColumn("_start_ns", F.unix_micros("_w.start") * 1000)
            .withColumn("_stop_ns", F.unix_micros("_w.end") * 1000)
            .drop("_w")
        )
    return (
        out.withColumn("_start", F.timestamp_micros(ns_to_us(F.col("_start_ns"))))
        .withColumn("_stop", F.timestamp_micros(ns_to_us(F.col("_stop_ns"))))
    )


def window_spine(
    df: DataFrame,
    start,
    stop,
    every: str | int,
    by: Sequence[str] = (),
    offset: str | int = 0,
    tz: str = "UTC",
) -> DataFrame:
    """All (series × window) rows covering [start, stop) — for createEmpty.

    ``start``/``stop`` are epoch-ns ints. Returns columns: by... ,
    ``_start_ns``, ``_stop_ns``. Distinct series is an aggregate of the
    data (small); the sequence explode happens once per series. With
    ``tz`` the lattice is generated in wall-clock space (two
    driver-side offset lookups for the bounds; per-window conversion
    stays a Column expression), so spine keys match the local-bucketed
    aggregate's keys bit-for-bit.
    """
    months, fixed = duration_parts(every)
    if months:
        _check_calendar_every(months, fixed, None, every)
        om, ons = _calendar_offset_parts(offset)
        import datetime as _dt

        def _mi(ns: int) -> int:
            if tz != "UTC":
                ns += tz_offset_ns(tz, ns)
            d = _dt.datetime.fromtimestamp(ns // 10**9, _dt.timezone.utc)
            return (d.year - 1970) * 12 + d.month - 1

        first_mi = (_mi(start - ons) - om) // months * months + om
        last_mi = (_mi(stop - 1 - ons) - om) // months * months + om
        seq = F.sequence(F.lit(first_mi), F.lit(last_mi), F.lit(months))
        if by:
            spine = df.select(*by).distinct().withColumn("_mi", F.explode(seq))
        else:
            spine = df.sparkSession.range(1).select(F.explode(seq).alias("_mi"))
        sp_start = _month_start_ns(F.col("_mi"), tz)
        sp_stop = _month_start_ns(F.col("_mi") + F.lit(months), tz)
        if ons:
            sp_start, sp_stop = sp_start + F.lit(ons), sp_stop + F.lit(ons)
        return (
            spine.withColumn("_start_ns", sp_start)
            .withColumn("_stop_ns", sp_stop)
            .drop("_mi")
        )
    every_n = duration_ns(every)
    offset_n = duration_ns(offset) if offset else 0
    if tz != "UTC":
        lo = start + tz_offset_ns(tz, start)
        hi = stop + tz_offset_ns(tz, stop)
        first_w = (lo - offset_n) // every_n * every_n + offset_n
        seq = F.sequence(F.lit(first_w), F.lit(hi - 1), F.lit(every_n))
        if by:
            spine = df.select(*by).distinct().withColumn("_local", F.explode(seq))
        else:
            spine = df.sparkSession.range(1).select(F.explode(seq).alias("_local"))
        return (
            spine.withColumn(
                "_start_ns", local_to_instant_ns(F.col("_local"), tz)
            )
            .withColumn(
                "_stop_ns",
                local_to_instant_ns(F.col("_local") + F.lit(every_n), tz),
            )
            .drop("_local")
        )
    first_w = (start - offset_n) // every_n * every_n + offset_n
    seq = F.sequence(F.lit(first_w), F.lit(stop - 1), F.lit(every_n))
    if by:
        series = df.select(*by).distinct()
        spine = series.withColumn("_start_ns", F.explode(seq))
    else:
        spine = df.sparkSession.range(1).select(F.explode(seq).alias("_start_ns"))
    return spine.withColumn("_stop_ns", F.col("_start_ns") + F.lit(every_n))


def aggregate_window(
    df: DataFrame,
    every: str | int,
    fn: str,
    value: str = "f_float",
    by: Sequence[str] = ("measurement", "field"),
    create_empty: bool = False,
    range_start=None,
    range_stop=None,
    time_src: str = "_stop",
    offset: str | int = 0,
    alias: str | None = None,
    time_ns: str = "time_ns",
    tz: str = "UTC",
    slots: Sequence[str] | None = None,
) -> DataFrame:
    """Flux ``aggregateWindow(every:, fn:, createEmpty:, timeSrc:)``.

    Window + aggregate per series; optionally emit empty windows as null
    rows (requires range_start/range_stop, epoch ns). The result's
    ``time``/``time_ns`` is the window ``_stop`` by default (Flux
    default ``timeSrc: "_stop"``). ``tz`` = Flux ``option location``.

    ``slots`` (MIXED frames): aggregate each typed value slot
    independently and carry the ``ftype`` discriminator through — the
    slot-shaped twin of the single-column path. A series has one type,
    so inside each (series, window) group exactly one slot is non-null:
    the type-generic fns (first/last/min/max/mode) read their group's
    live slot and emit NULL for the dead ones, preserving every table's
    values where the single-column path silently nulled non-float
    groups. first/last become ``min_by``/``max_by`` on the time axis —
    deterministic, unlike row-order ``F.first`` over a shuffle.
    """
    out_alias = alias or fn
    # per-branch range bounds stamped by Pipeline.union: each
    # union branch aggregates — and spines — as its own table, to its
    # OWN stop, like stock Flux (the bounds are literal columns, so
    # the extra key costs nothing: constant-folded, no added shuffle
    # cardinality beyond the branch split stock also has)
    rb = [c for c in ("_rb_start_ns", "_rb_stop_ns") if c in df.columns]
    by = [*by, *rb]
    bucket_col, start_e, stop_e = _window_bucket(every, offset, time_ns, tz)
    if slots:
        slot_fns = {
            "first": lambda c: F.min_by(c, F.when(c.isNotNull(),
                                                  F.col(time_ns))),
            "last": lambda c: F.max_by(c, F.when(c.isNotNull(),
                                                 F.col(time_ns))),
            "min": F.min,
            "max": F.max,
            "mode": lambda c: F.mode(c),
        }
        if fn not in slot_fns:
            raise OperatorValidationError(
                f"aggregate_window(slots=): {fn!r} is not type-generic"
            )
        aggs = [slot_fns[fn](F.col(s)).alias(s) for s in slots]
        aggs.append(F.first("ftype", ignorenulls=True).alias("ftype"))
    else:
        aggs = [AGG_FNS[fn](F.col(value)).alias(out_alias)]
    grouped = (
        df.withColumn("_bucket", bucket_col)
        .groupBy(*by, "_bucket")
        .agg(*aggs)
        .withColumn("_start_ns", start_e)
        .withColumn("_stop_ns", stop_e)
        .drop("_bucket")
    )
    if create_empty:
        assert range_start is not None and range_stop is not None, (
            "createEmpty needs explicit range bounds"
        )
        spine = window_spine(df, range_start, range_stop, every, by, offset, tz)
        if rb:
            # the merged-interval lattice is a superset of every
            # branch's (same every/offset grid, merged start ≤ branch
            # start) — clip each branch's spine to the windows that
            # intersect its own carried range, so a 1h-bounded branch
            # never gets null windows from a 2h sibling (stock spines
            # each table to its own _stop)
            spine = spine.filter(
                (F.col("_start_ns") < F.col("_rb_stop_ns"))
                & (F.col("_stop_ns") > F.col("_rb_start_ns"))
            )
        grouped = spine.join(grouped, on=[*by, "_start_ns", "_stop_ns"], how="left")
        if slots:
            # empty windows join NULL ftype — backfill with the
            # series' own type so the wire splitter keeps them in the
            # right table (one window-max per series, no extra job)
            grouped = grouped.withColumn(
                "ftype",
                F.coalesce(F.col("ftype"),
                           F.max("ftype").over(W.partitionBy(*by))),
            )
        if fn == "count":
            # Flux quirk, faithfully kept: count() of an empty table is
            # 0, so createEmpty windows report 0 for count while every
            # other aggregate reports null
            grouped = grouped.withColumn(
                out_alias, F.coalesce(F.col(out_alias), F.lit(0))
            )
    if rb:
        grouped = grouped.drop(*rb)  # consumed: internal carriers only
    src = "_stop_ns" if time_src == "_stop" else "_start_ns"
    return (
        grouped.withColumn("time_ns", F.col(src))
        .withColumn("time", F.timestamp_micros(ns_to_us(F.col(src))))
    )


def aggregate_window_custom(
    df: DataFrame,
    every: str | int,
    agg_builder,
    by: Sequence[str] = ("measurement", "field"),
    create_empty: bool = False,
    range_start=None,
    range_stop=None,
    time_src: str = "_stop",
    offset: str | int = 0,
    time_ns: str = "time_ns",
    tz: str = "UTC",
) -> DataFrame:
    """``aggregateWindow`` whose aggregate is a table function: Flux's
    ``fn: (tables=<-) => tables |> quantile(q: ...)`` form.

    ``agg_builder(windowed_df, keys)`` receives the frame with a
    ``_start_ns`` window column appended to ``keys`` and must return
    one row per key tuple (any groupBy- or window-rank-based operator
    qualifies — same shuffle shape as the named-fn path)."""
    rb = [c for c in ("_rb_start_ns", "_rb_stop_ns") if c in df.columns]
    by = [*by, *rb]  # per-branch union bounds (see aggregate_window)
    bucket_col, start_e, stop_e = _window_bucket(every, offset, time_ns, tz)
    win = df.withColumn("_bucket", bucket_col)
    grouped = (
        agg_builder(win, [*by, "_bucket"])
        .withColumn("_start_ns", start_e)
        .withColumn("_stop_ns", stop_e)
        .drop("_bucket")
    )
    if create_empty:
        assert range_start is not None and range_stop is not None, (
            "createEmpty needs explicit range bounds"
        )
        spine = window_spine(df, range_start, range_stop, every, by, offset, tz)
        if rb:
            spine = spine.filter(
                (F.col("_start_ns") < F.col("_rb_stop_ns"))
                & (F.col("_stop_ns") > F.col("_rb_start_ns"))
            )
        grouped = spine.join(grouped, on=[*by, "_start_ns", "_stop_ns"], how="left")
    if rb:
        grouped = grouped.drop(*rb)
    src = "_stop_ns" if time_src == "_stop" else "_start_ns"
    return (
        grouped.withColumn("time_ns", F.col(src))
        .withColumn("time", F.timestamp_micros(ns_to_us(F.col(src))))
    )


def fill(
    df: DataFrame,
    column: str,
    value=None,
    use_previous: bool = False,
    by: Sequence[str] = (),
    order: str = "time_ns",
) -> DataFrame:
    """Flux ``fill(value:)`` / ``fill(usePrevious:)``; InfluxQL
    ``fill(0)`` / ``fill(previous)``.

    ``usePrevious`` is a per-series forward-fill:
    ``last(ignorenulls) over (partition by series order by time)``.
    """
    if use_previous:
        w = W.partitionBy(*by).orderBy(order).rowsBetween(W.unboundedPreceding, 0)
        filled = F.last(F.col(column), ignorenulls=True).over(w)
    else:
        filled = F.coalesce(F.col(column), F.lit(value))
    return df.withColumn(column, filled)


def interpolate_linear(
    df: DataFrame,
    every: str | int,
    value: str = "f_float",
    by: Sequence[str] = ("measurement", "field"),
    range_start=None,
    range_stop=None,
    time_ns: str = "time_ns",
) -> DataFrame:
    """Flux ``interpolate.linear(every:)`` — resample onto an every-grid,
    linearly interpolating between surrounding real points.

    Union (grid ∪ data) per series, bracket each grid row with the
    previous/next real observation via unbounded window fills, then a
    closed-form lerp. Two window passes over data+spine, no UDFs.
    """
    every_n = duration_ns(every)
    if range_start is not None and range_stop is not None:
        spine = window_spine(df, range_start, range_stop, every_n, by).select(
            *by, F.col("_start_ns").alias(time_ns), F.lit(1).alias("_grid")
        )
    else:
        # bounds omitted: derive the grid lazily from each series' own
        # [min, max] INSIDE the plan — no driver-side pre-scan job.
        # Result-identical to a global-bounds
        # spine: both grids live on the same {k·every} lattice and
        # grid rows outside a series' observed range produce null
        # lerps that the final filter drops anyway.
        lo = F.lit(range_start) if range_start is not None else F.min(time_ns)
        hi = F.lit(range_stop) if range_stop is not None else F.max(time_ns) + 1
        bounds = df.groupBy(*by).agg(lo.alias("_lo"), hi.alias("_hi"))
        first_w = F.col("_lo") - F.col("_lo") % F.lit(every_n)  # epoch-ns ≥ 0
        seq = F.sequence(first_w, F.col("_hi") - 1, F.lit(every_n))
        spine = bounds.select(
            *by, F.explode(seq).alias(time_ns), F.lit(1).alias("_grid")
        )
    data = df.select(*by, time_ns, value).withColumn("_grid", F.lit(0))
    unioned = data.unionByName(spine.withColumn(value, F.lit(None).cast("double")),
                               allowMissingColumns=True)

    # order (time, _grid): a real observation at a grid timestamp sorts
    # BEFORE its grid row, so the grid row's backward fill sees it.
    # Forward-looking fill uses a REVERSED running frame, not
    # rowsBetween(0, unboundedFollowing): Spark evaluates growing-start
    # frames O(n²) per partition (re-aggregated per row), which turns a
    # sub-second window into minutes at 100k rows/series.
    wp = W.partitionBy(*by).orderBy(time_ns, "_grid").rowsBetween(W.unboundedPreceding, 0)
    wn = (
        W.partitionBy(*by)
        .orderBy(F.desc(time_ns), F.desc("_grid"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    v, t = F.col(value), F.col(time_ns)
    obs_t = F.when(v.isNotNull(), t)
    # NOTE (measured, kept): referencing the raw window
    # expressions from the lerp CASE makes Catalyst extract TEN
    # running-last() accumulators (7 asc + 3 desc) where four would
    # suffice — but the four-bracket-column rewrite (materialize
    # _pv/_pt/_nv/_nt once, reference as columns) measured ~15% SLOWER
    # in a same-session interleaved A/B (best 0.59 vs 0.73 s at sf0.1,
    # 3 of 4 rounds, rows identical): the extra projections and the
    # wider rows carried between the two window sorts cost more than
    # the redundant accumulators, each of which only tracks one
    # last-seen value.
    prev_v = F.last(v, ignorenulls=True).over(wp)
    prev_t = F.last(obs_t, ignorenulls=True).over(wp)
    next_v = F.last(v, ignorenulls=True).over(wn)
    next_t = F.last(obs_t, ignorenulls=True).over(wn)
    lerp = (
        F.when(v.isNotNull(), v)
        .when(prev_t == t, prev_v)  # exact hit: grid row takes the real value
        .when(
            prev_v.isNotNull() & next_v.isNotNull(),
            prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t),
        )
    )
    return (
        unioned.withColumn(value, lerp)
        .filter(F.col("_grid") == 1)
        .filter(F.col(value).isNotNull())
        .drop("_grid")
        .withColumn("time", F.timestamp_micros(ns_to_us(F.col(time_ns))))
    )


def session_window(
    df: DataFrame,
    gap: str | int,
    by: Sequence[str] = (),
    time_col: str = "time",
    extra_aggs: Sequence[Column] = (),
) -> DataFrame:
    """Event sessionization (Spark extension beyond Flux/InfluxQL):
    consecutive events closer than ``gap`` merge into one session per
    series key; a session spans [first event, last event + gap).

    Uses Spark's native ``F.session_window`` — the sort-merge session
    aggregation Catalyst plans natively (and Structured Streaming
    supports with state), so the same call works in both batch and
    streaming mode. One shuffle on the series key.

    Returns one row per (by..., session): ``session_start``,
    ``session_end`` (last + gap), ``n_events``, ``first_event``,
    ``last_event``, plus any ``extra_aggs``.
    """
    gap_ns = duration_ns(gap)
    if gap_ns <= 0:
        raise OperatorValidationError("session gap must be positive")
    sw = F.session_window(F.col(time_col), f"{gap_ns // 10**9} seconds")
    out = df.groupBy(*[F.col(c) for c in by], sw.alias("_session")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(time_col).alias("first_event"),
        F.max(time_col).alias("last_event"),
        *extra_aggs,
    )
    return (
        out.withColumn("session_start", F.col("_session.start"))
        .withColumn("session_end", F.col("_session.end"))
        .drop("_session")
    )
