"""Annotated-CSV result serialization (Flux response format).

A Flux query result is a stream of tables keyed by group key; the CSV
carries three annotation rows — ``#group`` (is the column part of the
group key), ``#datatype``, ``#default`` — then the header and data rows,
with a ``table`` index column numbering tables within the result
(public InfluxDB 2.0 annotated-CSV spec).

Delivery is one Spark pass for a dashboard-sized answer and stays
O(one partition) of driver memory for any answer:

- :func:`sorted_rows` runs ONE bounded top-K job,
  ``orderBy(group key, frame row order).limit(BOUND + 1).collect()``.
  The frame's own row order (``monotonically_increasing_id`` taken
  before the sort) is the tiebreak, so rows inside a table keep the
  order the query gave them; top-K alone is not stable.
- An answer of more than ``BOUND`` rows is streamed instead
  (:func:`stream_rows`): the same order as a Spark ``orderBy``, read
  through ``toLocalIterator()`` one partition at a time.
- An answer that is already in wire order (:func:`given_rows`) is read
  in that order by the same two paths, without a second sort.

Both paths emit the same bytes. ``BOUND`` is a fixed row count, not an
option: it caps the driver memory of the one-job path.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, functions as F, types as T

#: Largest answer, in rows, delivered by the one-job path.
BOUND = 10_000

#: The frame-order tiebreak column (never part of an answer).
_ORDER = "__row_order"


def sorted_rows(df: DataFrame, key=(), observe=None, drop=()) -> list | None:
    """The rows of ``df`` ordered by ``key`` then the frame's own row
    order, from ONE Spark job — or None when there are more than
    ``BOUND`` of them. ``observe`` is an ``(Observation, *exprs)``
    tuple evaluated over every row of that same job; the ``drop``
    columns do not reach the driver."""
    src = df.observe(*observe) if observe else df
    out = (src.withColumn(_ORDER, F.monotonically_increasing_id())
           .orderBy(*key, _ORDER)
           .drop(_ORDER, *drop)
           .limit(BOUND + 1).collect())
    return out if len(out) <= BOUND else None


def stream_rows(df: DataFrame, key=()) -> Iterable:
    """The large-answer path of :func:`sorted_rows`: the same order,
    pulled one partition at a time."""
    if key:
        df = (df.withColumn(_ORDER, F.monotonically_increasing_id())
              .orderBy(*key, _ORDER).drop(_ORDER))
    return df.toLocalIterator(prefetchPartitions=True)


def ordered_rows(df: DataFrame, key=()) -> Iterable:
    """:func:`sorted_rows`, falling back to :func:`stream_rows`."""
    rows = sorted_rows(df, key)
    return stream_rows(df, key) if rows is None else rows


def given_rows(df: DataFrame) -> Iterable:
    """The rows of an already sorted ``df`` in its own order: one
    bounded job, or a stream above ``BOUND``."""
    rows = df.limit(BOUND + 1).collect()
    return df.toLocalIterator(prefetchPartitions=True) if len(rows) > BOUND else rows


_DTYPES = {
    T.StringType(): "string",
    T.DoubleType(): "double",
    T.FloatType(): "double",
    T.LongType(): "long",
    T.IntegerType(): "long",
    T.BooleanType(): "boolean",
    T.TimestampType(): "dateTime:RFC3339",
}


def _dtype(dt: T.DataType) -> str:
    for k, v in _DTYPES.items():
        if isinstance(dt, type(k)):
            return v
    return "string"


def _fmt(v, delimiter: str = ",", datetime_format: str | None = None) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if hasattr(v, "isoformat"):  # datetime (tz-naive UTC micros)
        if datetime_format == "RFC3339":
            # stock Go time.Format(RFC3339): fractional seconds dropped
            return v.strftime("%Y-%m-%dT%H:%M:%S") + "Z"
        if datetime_format == "RFC3339Nano":
            # trailing zeros trimmed, exactly Go's RFC3339Nano
            s = v.strftime("%Y-%m-%dT%H:%M:%S")
            if v.microsecond:
                s += "." + f"{v.microsecond:06d}".rstrip("0")
            return s + "Z"
        s = v.isoformat()
        return s + "Z" if "+" not in s and not s.endswith("Z") else s
    s = str(v)
    if any(c in s for c in delimiter + '"\n'):
        s = '"' + s.replace('"', '""') + '"'
    return s


def iter_annotated_csv(
    df: DataFrame,
    group_key: tuple[str, ...] = (),
    result_name: str = "_result",
    annotations: tuple[str, ...] = ("group", "datatype", "default"),
    header: bool = True,
    table_ids: dict | None = None,
    delimiter: str = ",",
    comment_prefix: str = "#",
    datetime_format: str | None = None,
    rows: Iterable | None = None,
) -> Iterator[str]:
    """Stream a result DataFrame as Flux annotated-CSV chunks.

    Tables split on the group key; ``table`` numbers them in sorted
    group-key order. ``rows`` are the frame's rows already in that
    order (see :func:`ordered_rows`, which runs when they are not
    given). ``annotations``/``header``/``delimiter``/
    ``comment_prefix``/``datetime_format`` mirror the v2 dialect
    object: annotation rows are emitted only when requested, cells
    join on the dialect delimiter (values containing it get quoted),
    annotation markers use the dialect comment prefix, and timestamps
    honor RFC3339 (stock: fractional seconds dropped) vs RFC3339Nano
    (fraction with trailing zeros trimmed). ``datetime_format=None``
    keeps the engine's lossless isoformat (micros kept) for internal
    round-trips. Pass a shared ``table_ids`` dict to continue table
    numbering across multiple blocks of one result (datatype splits).
    """
    d, p = delimiter, comment_prefix
    cols = df.columns
    dtypes = [_dtype(f.dataType) for f in df.schema.fields]
    head = ""
    if "group" in annotations:
        head += (
            p + "group" + d + "false" + d + "false" + d
            + d.join("true" if c in group_key else "false" for c in cols)
            + "\r\n"
        )
    if "datatype" in annotations:
        head += p + "datatype" + d + "string" + d + "long" + d + d.join(dtypes) + "\r\n"
    if "default" in annotations:
        head += p + "default" + d + result_name + d + d + d * (len(cols) - 1) + "\r\n"
    if header:
        head += d + "result" + d + "table" + d + d.join(cols) + "\r\n"
    if head:
        yield head
    if rows is None:
        rows = ordered_rows(df, group_key)
    if table_ids is None:
        table_ids = {}
    buf: list[str] = []
    for r in rows:
        key = tuple(str(r[k]) for k in group_key) if group_key else ()
        tid = table_ids.setdefault(key, len(table_ids))
        buf.append(
            d + d + str(tid) + d
            + d.join(_fmt(r[c], d, datetime_format) for c in cols) + "\r\n"
        )
        if len(buf) >= 1000:
            yield "".join(buf)
            buf = []
    if buf:
        yield "".join(buf)


def to_annotated_csv(
    df: DataFrame,
    group_key: tuple[str, ...] = (),
    result_name: str = "_result",
) -> str:
    """Materialized convenience wrapper (small dashboard responses)."""
    return "".join(iter_annotated_csv(df, group_key, result_name))


def from_annotated_csv(spark, text: str) -> DataFrame:
    """Flux ``csv.from(csv: ...)``: parse annotated CSV back into a
    DataFrame (inverse of the writer — round-trip tested).

    Honors ``#datatype`` for column types (string/long/double/boolean/
    RFC3339 timestamps) and ``#default`` for empty ``result`` cells.
    The ``result``/``table`` bookkeeping columns are kept (Flux keeps
    them too — ``drop()`` removes them downstream). Parsing happens
    driver-side: csv.from is Flux's *literal/small-table* source (the
    bulk path is the parquet bucket store), so inputs are dashboards'
    inline tables, not data lakes.
    """
    import csv as _csv
    import datetime as dt
    import io

    dtypes: list[str] = []
    defaults: list[str] = []
    header: list[str] = []
    rows = []
    for rec in _csv.reader(io.StringIO(text)):
        if not rec or all(c == "" for c in rec):
            continue
        if rec[0] == "#group":
            continue
        if rec[0] == "#datatype":
            dtypes = rec[1:]
            continue
        if rec[0] == "#default":
            defaults = rec[1:]
            continue
        if rec[0].startswith("#"):  # unknown annotation — skip
            continue
        if not header:
            header = rec[1:]
            continue
        rows.append(rec[1:])
    if not header:
        raise ValueError("annotated CSV has no header row")

    def conv(v: str, dtype: str, default: str):
        if v == "":
            v = default
        if v == "":
            return None
        if dtype == "long":
            return int(v)
        if dtype in ("double", "unsignedLong"):
            return float(v)
        if dtype == "boolean":
            return v == "true"
        if dtype.startswith("dateTime"):
            return dt.datetime.fromisoformat(v.replace("Z", "+00:00")).replace(
                tzinfo=None
            )
        return v

    dtypes = dtypes or ["string"] * len(header)
    defaults = (defaults + [""] * len(header))[: len(header)]
    data = [
        tuple(conv(v, t, d) for v, t, d in zip(row, dtypes, defaults))
        for row in rows
    ]
    spark_types = {
        "string": T.StringType(), "long": T.LongType(), "double": T.DoubleType(),
        "boolean": T.BooleanType(), "unsignedLong": T.DoubleType(),
    }
    fields = [
        T.StructField(
            name,
            T.TimestampType() if t.startswith("dateTime")
            else spark_types.get(t, T.StringType()),
            True,
        )
        for name, t in zip(header, dtypes)
    ]
    return spark.createDataFrame(data, T.StructType(fields))
