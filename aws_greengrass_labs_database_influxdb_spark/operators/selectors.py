"""Selector operators (SURVEY.md §2.2.5).

InfluxDB selectors return the *original row(s)* — not just the value.
Tie rules (public InfluxDB docs): ``min``/``max`` pick the row with the
earliest ``_time`` among equal values; ``first``/``last`` pick by time
with (series-internal) stable order. We implement them with
``min_by``/``max_by`` over composite structs, which Spark executes as a
single map-side-combinable aggregate — no window shuffle-and-sort, and
no second pass. ``top``/``bottom`` use per-series ``row_number`` (these
genuinely need a per-series sort).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W, functions as F


def _keep_row(df: DataFrame, by: Sequence[str], order, alias: str,
              pick=F.min_by) -> DataFrame:
    """Return one original row per group: min_by/max_by over the given
    order struct (rows whose order expression is NULL are skipped by
    the aggregate's null-ordering semantics). A group with NO eligible
    row (every order expr NULL — e.g. an all-spine createEmpty group)
    is DROPPED, matching stock: selectors ignore null values and an
    empty selection yields an empty table, never an invented all-NULL
    row."""
    others = [c for c in df.columns]
    row = F.struct(*[F.col(c) for c in others])
    agg = pick(row, order).alias("_row")
    out = df.groupBy(*by).agg(agg).filter(F.col("_row").isNotNull())
    return out.select(*[F.col(f"_row.{c}").alias(c) for c in others])


def _tiebreak(df: DataFrame, seq: str = "ingest_seq") -> list:
    """Deterministic final tie-break when an ingest sequence exists."""
    return [F.col(seq)] if seq in df.columns else []


def _opt_time(df: DataFrame, time_ns: str, negate: bool = False) -> list:
    """Time tie-break term — empty when the frame has no time column
    (a value selector after an aggregate drops the time axis)."""
    if time_ns in df.columns:
        c = F.col(time_ns)
        return [-c if negate else c]
    return []


def _value_presence(df: DataFrame):
    """Row-has-a-value predicate for first/last (stock: "the first/
    last NON-NULL record") — slot frames check every slot; plain
    frames check f_float; frames with no value column (post-pivot)
    have no null-skip rule to apply."""
    if "ftype" in df.columns:
        vals = [s for s in ("f_float", "f_str", "f_bool")
                if s in df.columns]
        if vals:
            return _present(vals)
    if "f_float" in df.columns:
        return F.col("f_float").isNotNull()
    return None


def first(df: DataFrame, by: Sequence[str], time_ns: str = "time_ns") -> DataFrame:
    """Flux ``first()``: the first NON-NULL-valued row per series
    (null-valued rows — createEmpty spines, fill-less windows — are
    skipped, stock semantics, so last() over a spined window never
    returns the empty tail row)."""
    order = F.struct(F.col(time_ns), *_tiebreak(df))
    guard = _value_presence(df)
    if guard is not None:
        order = F.when(guard, order)
    return _keep_row(df, by, order, "first")


def last(df: DataFrame, by: Sequence[str], time_ns: str = "time_ns") -> DataFrame:
    """Flux ``last()``: the last NON-NULL-valued row per series (see
    :func:`first`)."""
    tb = [-c for c in _tiebreak(df)]
    order = F.struct(-F.col(time_ns), *tb)
    guard = _value_presence(df)
    if guard is not None:
        order = F.when(guard, order)
    return _keep_row(df, by, order, "last")


def _value_tuple(value) -> list[str]:
    """Selector value spec: a single column, or — for MIXED frames —
    the slot tuple (f_float, f_str, f_bool). Inside one group
    exactly one slot is non-null (a series has a single type), so
    ordering by the tuple orders each group by its own typed values;
    the dead slots are constant NULL and never influence the order."""
    return list(value) if isinstance(value, (list, tuple)) else [value]


def _present(vals: Sequence[str]):
    """Non-null guard over the value spec — rows with no value in ANY
    slot never win the selection, and a group whose live slot is not
    f_float still selects its own row."""
    if len(vals) == 1:
        return F.col(vals[0]).isNotNull()
    return F.coalesce(*[F.col(v).cast("string") for v in vals]).isNotNull()


def min_selector(
    df: DataFrame, by: Sequence[str], value="f_float", time_ns: str = "time_ns"
) -> DataFrame:
    """InfluxQL MIN: row with smallest value; ties → earliest time.
    Works on any orderable type (strings compare lexicographic, bools
    false<true — Flux selector semantics); null-valued rows are
    skipped via the null order guard. ``value`` may be a slot tuple
    (mixed frames — see :func:`_value_tuple`)."""
    vals = _value_tuple(value)
    order = F.when(
        _present(vals),
        F.struct(*[F.col(v) for v in vals], *_opt_time(df, time_ns),
                 *_tiebreak(df)),
    )
    return _keep_row(df, by, order, "min")


def max_selector(
    df: DataFrame, by: Sequence[str], value="f_float", time_ns: str = "time_ns"
) -> DataFrame:
    """InfluxQL MAX: row with largest value; ties → earliest time.
    max_by over (value, -time, -seq) instead of min_by over the negated
    value, so non-numeric orderable types select too. ``value`` may be
    a slot tuple (mixed frames)."""
    tb = [-c for c in _tiebreak(df)]
    vals = _value_tuple(value)
    order = F.when(
        _present(vals),
        F.struct(*[F.col(v) for v in vals],
                 *_opt_time(df, time_ns, negate=True), *tb),
    )
    return _keep_row(df, by, order, "max", pick=F.max_by)


def top(
    df: DataFrame,
    n: int,
    by: Sequence[str],
    value="f_float",
    time_ns: str = "time_ns",
) -> DataFrame:
    """Flux ``top(n:)``: n rows with largest value per series.
    ``value`` may be a slot tuple (mixed frames): each group ranks
    by its own live slot — the dead slots are constant NULL inside a
    group, so they never reorder rows."""
    tns = [F.asc(time_ns)] if time_ns in df.columns else []
    vals = _value_tuple(value)
    w = W.partitionBy(*by).orderBy(
        *[F.desc(v) for v in vals], *tns, *_tiebreak(df))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") <= n) & _present(vals))
        .drop("_rn")
    )


def bottom(
    df: DataFrame,
    n: int,
    by: Sequence[str],
    value="f_float",
    time_ns: str = "time_ns",
) -> DataFrame:
    """Flux ``bottom(n:)``: n rows with smallest value per series.
    ``value`` may be a slot tuple (mixed frames) — see :func:`top`."""
    tns = [F.asc(time_ns)] if time_ns in df.columns else []
    vals = _value_tuple(value)
    w = W.partitionBy(*by).orderBy(
        *[F.asc_nulls_last(v) for v in vals], *tns, *_tiebreak(df))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") <= n) & _present(vals))
        .drop("_rn")
    )


def sample(
    df: DataFrame,
    n: int,
    by: Sequence[str],
    seed: int = 42,
    pos: int = -1,
    order: Sequence[str] = ("time_ns", "ingest_seq"),
) -> DataFrame:
    """Flux ``sample(n:, pos:)`` / InfluxQL ``SAMPLE``.

    ``pos >= 0`` is the Flux contract: deterministically keep every
    n-th row per series starting at offset ``pos`` (time order) —
    reproducible, so the DuckDB oracle covers it. ``pos = -1`` is the
    InfluxQL behavior: a random n rows per series (RNG streams are
    engine-specific → rows-only checking).

    Random-mode contract: a given ``seed`` yields the SAME selection on
    every run over the same data (``F.rand(seed)`` is deterministic per
    row position), and across seeds the selection is uniform — pinned
    by a chi-square test (tests/test_operators_golden.py) over a seed
    sweep: per-row selection counts fit the uniform null at α=0.001.
    """
    if pos >= 0:
        w = W.partitionBy(*by).orderBy(*[c for c in order if c in df.columns])
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") - 1) % n == pos)
            .drop("_rn")
        )
    w = W.partitionBy(*by).orderBy(F.rand(seed))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def unique(df: DataFrame, column: str, by: Sequence[str] = ()) -> DataFrame:
    """Flux ``unique(column:)``: rows whose value occurs exactly once."""
    w = W.partitionBy(*by, column)
    return (
        df.withColumn("_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_n") == 1)
        .drop("_n")
    )


def distinct_rows(df: DataFrame, column: str, by: Sequence[str] = ()) -> DataFrame:
    """Flux ``distinct(column:)``: distinct values per group key."""
    return df.select(*by, column).distinct()


def _ranked_series(
    df: DataFrame, n: int, series: Sequence[str], agg, desc: bool
) -> DataFrame:
    """highest*/lowest*: rank whole series by an aggregate, keep top n.

    Two-phase: per-series aggregate (small — one row per series), global
    rank over that *aggregated* frame (cheap), then a broadcast semi-join
    back to the full data. The big table shuffles once at most.
    """
    per_series = df.groupBy(*series).agg(agg.alias("_rank_v"))
    order = F.desc("_rank_v") if desc else F.asc("_rank_v")
    # orderBy+limit plans TakeOrderedAndProject — no single-partition
    # window even at high series cardinality
    keep = per_series.orderBy(order, *series).limit(n).select(*series)
    return df.join(F.broadcast(keep), on=list(series), how="left_semi")


def highest_max(df, n, series, value="f_float"):
    """Flux ``highestMax(n:)``: keep the n series with the largest max."""
    return _ranked_series(df, n, series, F.max(value), desc=True)


def highest_average(df, n, series, value="f_float"):
    """Flux ``highestAverage(n:)``."""
    return _ranked_series(df, n, series, F.avg(value), desc=True)


def highest_current(df, n, series, value="f_float", time_ns="time_ns"):
    """Flux ``highestCurrent(n:)``: rank series by their latest value."""
    return _ranked_series(df, n, series, F.max_by(value, time_ns), desc=True)


def lowest_min(df, n, series, value="f_float"):
    """Flux ``lowestMin(n:)``."""
    return _ranked_series(df, n, series, F.min(value), desc=False)


def lowest_average(df, n, series, value="f_float"):
    """Flux ``lowestAverage(n:)``."""
    return _ranked_series(df, n, series, F.avg(value), desc=False)


def lowest_current(df, n, series, value="f_float", time_ns="time_ns"):
    """Flux ``lowestCurrent(n:)``."""
    return _ranked_series(df, n, series, F.max_by(value, time_ns), desc=False)
