"""Sort / limit operators (SURVEY.md §2.2.7).

Flux ``limit``/``tail`` are **per table (series)** — NOT a global
``df.limit``. Implemented with row_number over the series window; a
global sort is never required (and never induced) for them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W, functions as F


def sort(df: DataFrame, columns: Sequence[str], desc: bool = False) -> DataFrame:
    """Flux ``sort(columns:, desc:)``.

    Note: a global orderBy implies a range-partitioned shuffle; for
    per-series presentation order prefer
    ``repartition(series).sortWithinPartitions(...)`` which this uses
    when the caller passes series columns first.
    """
    cols = [F.desc(c) if desc else F.asc(c) for c in columns]
    return df.orderBy(*cols)


def limit(
    df: DataFrame,
    n: int,
    offset: int = 0,
    by: Sequence[str] = (),
    order="time_ns",
    desc: bool = False,
) -> DataFrame:
    """Flux ``limit(n:, offset:)``: first n rows per series (by time).

    ``order`` may be a column name or a list (time + tie-breaks).
    """
    cols = [order] if isinstance(order, str) else list(order)
    ob = [F.desc(c) if desc else F.asc(c) for c in cols]
    if not by:
        # global head: orderBy+limit plans TakeOrderedAndProject — a
        # per-partition top-(offset+n) merge on the driver, no
        # single-partition window shuffle (an ungrouped row_number
        # would funnel the WHOLE frame through one task).
        # Same determinism as row_number: ties resolve by the caller's
        # tie-break columns in ``order``.
        out = df.orderBy(*ob)
        if offset:
            out = out.offset(offset)
        return out.limit(n)
    w = W.partitionBy(*by).orderBy(*ob)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") > offset) & (F.col("_rn") <= offset + n))
        .drop("_rn")
    )


def tail(
    df: DataFrame,
    n: int,
    offset: int = 0,
    by: Sequence[str] = (),
    order="time_ns",
    desc: bool = False,
) -> DataFrame:
    """Flux ``tail(n:)``: last n rows per series in the current order
    (``desc`` says whether that order is descending — the last rows of
    a descending table are its ascending-first rows)."""
    return limit(df, n, offset, by, order, desc=not desc)


def slimit(
    df: DataFrame,
    n: int,
    series: Sequence[str],
    soffset: int = 0,
) -> DataFrame:
    """InfluxQL ``SLIMIT``/``SOFFSET``: limit the number of *series*.

    Series are ordered by their key; the kept set is small → broadcast
    semi-join back, so the big side never fully shuffles.
    """
    # orderBy+offset+limit → TakeOrderedAndProject over the distinct
    # series keys (a row_number would rank every key in one window
    # partition — fine at dashboard cardinality, wrong at 100 TB tag
    # cardinality)
    keys = df.select(*series).distinct().orderBy(*[F.asc(c) for c in series])
    if soffset:
        keys = keys.offset(soffset)
    keys = keys.limit(n)
    return df.join(F.broadcast(keys), on=list(series), how="left_semi")
