"""Canonical point schema for the time-series data plane.

The InfluxDB 2.x data model (org → bucket → measurement → series =
measurement+tagset, points = series+timestamp+fields; field types
float/int/uint/string/bool; ns timestamps) is schema-on-write — any
measurement/tag/field springs into existence on first write (reference:
line-protocol consumption pattern, ``/root/reference/README.md:292-297``;
bucket provisioning ``/root/reference/recipe.yaml:20-21``).

We therefore keep ONE fixed, tall schema so arbitrary measurements need
no migration, and derive pivoted wide views per measurement on demand.

Nanosecond fidelity: Spark's TimestampType is µs. ``time_ns`` (long,
epoch ns) is authoritative for ordering/ties; ``time`` (µs timestamp)
drives window/date functions. This is a deliberate two-column design —
see SURVEY.md §7 "hard parts".
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T

# Field-type discriminator values for the `ftype` column.
FT_FLOAT = "float"
FT_INT = "int"
FT_UINT = "uint"
FT_STR = "string"
FT_BOOL = "bool"

POINTS_SCHEMA = T.StructType(
    [
        T.StructField("measurement", T.StringType(), False),
        T.StructField("time", T.TimestampType(), True),
        T.StructField("time_ns", T.LongType(), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("field", T.StringType(), False),
        T.StructField("f_float", T.DoubleType(), True),
        T.StructField("f_int", T.LongType(), True),
        T.StructField("f_uint", T.DecimalType(20, 0), True),
        T.StructField("f_str", T.StringType(), True),
        T.StructField("f_bool", T.BooleanType(), True),
        T.StructField("ftype", T.StringType(), False),
        # monotone ingest sequence for last-write-wins upsert resolution
        T.StructField("ingest_seq", T.LongType(), True),
    ]
)

POINTS_COLUMNS = [f.name for f in POINTS_SCHEMA.fields]

# ftype discriminator → the slot a query reads it from. int/uint map to
# f_float because unify_numeric_value folds them at query entry.
SLOT_OF_FTYPE = {
    FT_FLOAT: "f_float",
    FT_INT: "f_float",
    FT_UINT: "f_float",
    FT_STR: "f_str",
    FT_BOOL: "f_bool",
}


def unify_numeric_value(df: DataFrame) -> DataFrame:
    """Fold the integer value slots into ``f_float`` at QUERY entry.

    The tall schema stores each field value in its typed slot
    (``f_float``/``f_int``/``f_uint``); every numeric operator reads
    ``f_float``. Without this fold, integer line-protocol fields
    (``c=5i`` — counters, the most common telemetry shape) would
    aggregate to NULL. The fold is a per-row coalesce —
    one map-side projection, no shuffle — and is applied only when an
    integer slot exists, so float-only frames (and their plan
    fingerprints) are untouched.

    Divergence, documented: int values surface as double downstream
    (annotated-CSV datatype, sums beyond 2^53 lose exactness). The
    storage slots themselves are NOT modified — writes/compaction keep
    full type fidelity; string/bool fields stay in their slots.
    """
    if "f_float" not in df.columns:
        return df
    parts = [F.col("f_float")]
    if "f_int" in df.columns:
        parts.append(F.col("f_int").cast("double"))
    if "f_uint" in df.columns:
        parts.append(F.col("f_uint").cast("double"))
    if len(parts) == 1:
        return df
    return df.withColumn("f_float", F.coalesce(*parts))


# Columns of the canonical points schema and of a bucket scan
# (``series_key``, ``day``) that are not tags. Every other column of a
# points frame whose name does not start with "_" (engine-internal, such
# as the raw scan-time companion) is a promoted tag column.
_NON_TAG_COLS = frozenset(
    {"measurement", "time", "time_ns", "tags", "field", "ftype", "ingest_seq",
     "f_float", "f_int", "f_uint", "f_str", "f_bool", "props",
     "series_key", "day"}
)


def promoted_tags(columns) -> list[str]:
    """The promoted tag columns among ``columns``, in frame order."""
    return [c for c in columns
            if c not in _NON_TAG_COLS and not c.startswith("_")]


def tag_set_key(tags: Column) -> Column:
    """A tags map serialized as its key-sorted ``k=v`` pairs joined by
    commas — the one string form of a tag set. Spark cannot group on a
    map, so every grouping, join or window over series identity keys on
    this string instead."""
    return F.concat_ws(
        ",",
        F.transform(
            F.array_sort(F.map_keys(tags)),
            lambda k: F.concat_ws("=", k, F.element_at(tags, k)),
        ),
    )


def series_key(df: DataFrame, tag_cols: list[str] | None = None) -> DataFrame:
    """Add a deterministic ``series_key`` string column.

    A series is measurement + tag set (+ field key). MapType columns are
    not orderable/groupable-safe across engines, so we serialize sorted
    ``k=v`` pairs — stable, and usable as a shuffle/window key.
    """
    if tag_cols is not None:
        parts = [F.concat_ws("=", F.lit(c), F.col(c).cast("string")) for c in tag_cols]
        key = F.concat_ws(",", *parts)
    else:
        key = tag_set_key(F.col("tags"))
    return df.withColumn(
        "series_key", F.concat_ws("|", F.col("measurement"), key, F.col("field"))
    )


def events_to_points(events: DataFrame) -> DataFrame:
    """Reshape the driver's ``events`` table into canonical points.

    measurement='events', tags={event_type, user_id}, field='value'.
    This is the telemetry-shaped stand-in the bench/correctness queries
    use (the reference's real workload is telemetry dashboards,
    ``/root/reference/README.md:292-297``).
    """
    return events.select(
        F.lit("events").alias("measurement"),
        F.col("ts").alias("time"),
        (F.unix_micros(F.col("ts")) * F.lit(1000)).alias("time_ns"),
        F.create_map(
            F.lit("event_type"), F.col("event_type"),
            F.lit("user_id"), F.col("user_id").cast("string"),
        ).alias("tags"),
        F.lit("value").alias("field"),
        F.col("value").alias("f_float"),
        F.lit(None).cast("long").alias("f_int"),
        F.lit(None).cast("decimal(20,0)").alias("f_uint"),
        F.lit(None).cast("string").alias("f_str"),
        F.lit(None).cast("boolean").alias("f_bool"),
        F.lit(FT_FLOAT).alias("ftype"),
        F.col("event_id").alias("ingest_seq"),
    )
