"""Table loaders for the driver-generated test data.

``events.parquet``'s ``ts`` column has shipped as BOTH parquet
TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across driver regenerations
(round 3 flipped it under us mid-round), so the loader is
schema-adaptive:

- TIMESTAMP(NANOS): Spark's vectorized reader rejects it by default; we
  flip ``spark.sql.legacy.parquet.nanosAsLong`` (runtime-settable) so
  the column arrives as epoch-ns LONG — exactly our authoritative
  ``time_ns`` representation.
- TIMESTAMP(MICROS): arrives as TIMESTAMP_NTZ (or TIMESTAMP when
  isAdjustedToUTC); ``nanosAsLong`` ignores it. We derive ``time_ns``
  as ``unix_micros * 1000``.

Note on oracle parity: DuckDB's TIMESTAMP is µs — it truncates/reads
the same parquet column at µs. ``events_points`` therefore µs-truncates
``time_ns`` so both engines compute on identical values; the engine
itself remains ns-capable (the parser/store keep full ns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..schema import FT_FLOAT, SLOT_OF_FTYPE

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The driver may hand us a vanilla session (no engine conf): pin
    # UTC so the NTZ->LTZ cast in events_points is value-identity on
    # any host timezone. Runtime-settable; a no-op under get_spark().
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def events_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → canonical points, tags promoted to columns.

    Promoted tag columns (``event_type``, ``user_id``) instead of a map:
    parquet min/max stats and dictionary pushdown work on plain string
    columns but not on MapType access — SURVEY.md §4.2 ("materialize hot
    tags").
    """
    ev = load_table(spark, sf_dir, "events")
    ts_type = ev.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # TIMESTAMP(NANOS) read as epoch-ns LONG via nanosAsLong.
        # µs-truncate with *integer* arithmetic — double division of
        # epoch-ns (~1.7e18) loses precision (ulp=256 ns) and silently
        # shifts values.
        time = F.timestamp_micros(F.expr("ts div 1000"))
        time_ns = (F.col("ts") - F.col("ts") % 1000).cast("long")
    elif isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
        # TIMESTAMP(MICROS): already µs precision, no truncation needed.
        # NTZ→LTZ cast is value-identity under the UTC session timezone
        # (session.py pins spark.sql.session.timeZone=UTC).
        time = F.col("ts").cast("timestamp")
        time_ns = (F.unix_micros(time) * F.lit(1000)).cast("long")
    else:  # pragma: no cover - future driver regenerations
        raise TypeError(f"events.ts has unsupported dtype {ts_type}")
    return ev.select(
        F.lit("events").alias("measurement"),
        time.alias("time"),
        time_ns.alias("time_ns"),
        F.col("event_type"),
        F.col("user_id"),
        F.lit("value").alias("field"),
        F.col("value").alias("f_float"),
        F.lit(FT_FLOAT).alias("ftype"),
        F.col("event_id").alias("ingest_seq"),
        F.col("props"),
        # raw storage time: time_ns above is DERIVED (µs-truncated), so
        # predicates on it can't reach parquet row-group stats; range
        # filters add a superset predicate on this raw column instead
        # (operators.core.push_time_filter) — that one is sargable
        F.col("ts").alias("_ts_raw"),
    )


def _into_split_cols(result: DataFrame, tag_cols=None):
    """INTO column mapping, schema-only (shared by
    :func:`result_to_points` and :func:`into_type_triples` so the
    write and its type pins agree).

    Two modes, both stock (InfluxDB 1.x INTO semantics):

    * ``tag_cols=None`` (GROUP BY * / callers without query
      provenance): every string column is a TAG, numeric columns are
      float fields — the CQ downsample shape.
    * explicit ``tag_cols`` (from the query's GROUP BY list):
      exactly those columns are tags; EVERY other non-time column of a
      writable type becomes a FIELD with its own type — stock keeps
      selected string fields as string fields and converts ungrouped
      tags to fields.
    """
    from pyspark.sql import types as T

    if tag_cols is None:
        tags = [
            f.name for f in result.schema.fields
            if isinstance(f.dataType, T.StringType) and f.name != "time"
        ]
    else:
        tags = [c for c in tag_cols if c in result.columns]
    field_cols = []
    for f in result.schema.fields:
        if f.name in ("time", *tags):
            continue
        if isinstance(f.dataType, (T.DoubleType, T.FloatType, T.LongType,
                                   T.IntegerType, T.DecimalType)):
            field_cols.append((f.name, FT_FLOAT))
        elif tag_cols is not None and isinstance(f.dataType, T.StringType):
            field_cols.append((f.name, "string"))
        elif tag_cols is not None and isinstance(f.dataType, T.BooleanType):
            field_cols.append((f.name, "bool"))
    return tags, field_cols


def into_type_triples(result: DataFrame, measurement: str,
                      tag_cols=None) -> list:
    """The (measurement, field, ftype) triples ``result_to_points``
    will write — derived from the result SCHEMA alone, so write_points
    can skip its type-pin distinct job entirely (single-execution
    writes)."""
    _tags, field_cols = _into_split_cols(result, tag_cols)
    return [(measurement, c, t) for c, t in field_cols]


def into_tag_keys(result: DataFrame, tag_cols=None) -> list[str]:
    """The tag keys ``result_to_points`` will write, from the result
    SCHEMA alone (the write's tag-key catalog entry)."""
    return _into_split_cols(result, tag_cols)[0]


def result_to_points(result: DataFrame, measurement: str,
                     tag_cols=None) -> DataFrame:
    """Convert a query result back into canonical points — the write
    half of ``SELECT ... INTO <measurement>`` (the v1 continuous-query
    idiom: downsample a measurement into another one).

    Column mapping (InfluxDB 1.x INTO semantics): ``time`` is
    required; tags are the query's GROUP BY tags when the caller
    passes them (``tag_cols`` — every other column becomes a
    FIELD of its own type, so selected string fields stay string
    fields and ungrouped tags convert to fields, like stock), else
    every string column (the GROUP BY * downsample shape). One tall
    row per (point, field). ``ingest_seq`` is left null — the store's
    write path stamps its shared allocator, so LWW ordering is
    consistent with every other write.
    """
    from ..schema import POINTS_SCHEMA

    if "time" not in result.columns:
        raise ValueError("INTO requires a time column in the result")
    tags, field_cols = _into_split_cols(result, tag_cols)
    if not field_cols:
        raise ValueError("INTO requires at least one field result column")
    nd = F.lit(None).cast("double")
    ns_ = F.lit(None).cast("string")
    nb = F.lit(None).cast("boolean")
    # an EMPTY tag list must still write a map<string,string> — a bare
    # map_from_arrays(array(), array()) infers void element types and
    # parquet then records boolean keys, breaking every later read of
    # the measurement's directory
    tags_col = F.map_from_arrays(
        F.array(*[F.lit(t) for t in tags]),
        F.array(*[F.col(t).cast("string") for t in tags]),
    ).cast("map<string,string>") if tags else F.lit(None).cast(
        "map<string,string>")
    parts = []
    for c, ft in field_cols:
        slot = SLOT_OF_FTYPE.get(ft, "f_float")
        vals = {
            "f_float": F.col(c).cast("double") if slot == "f_float" else nd,
            "f_str": F.col(c).cast("string") if slot == "f_str" else ns_,
            "f_bool": F.col(c).cast("boolean") if slot == "f_bool" else nb,
        }
        parts.append(
            result.select(
                F.lit(measurement).alias("measurement"),
                F.col("time"),
                F.expr("unix_micros(time) * 1000").alias("time_ns"),
                tags_col.alias("tags"),
                F.lit(c).alias("field"),
                vals["f_float"].alias("f_float"),
                F.lit(None).cast("long").alias("f_int"),
                F.lit(None).cast("decimal(20,0)").alias("f_uint"),
                vals["f_str"].alias("f_str"),
                vals["f_bool"].alias("f_bool"),
                F.lit(ft).alias("ftype"),
                F.lit(None).cast("long").alias("ingest_seq"),
            ).filter(F.col(slot).isNotNull())
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(*[f.name for f in POINTS_SCHEMA.fields])


def canonicalize_result(df: DataFrame) -> DataFrame:
    """Coerce a query-result frame into the canonical points schema for
    write-back (Flux ``to(bucket:)``): the ``aggregateWindow |> to()``
    task shape arrives with measurement/field/f_float/time and no tags
    or type slots — missing canonical columns fill with nulls/defaults;
    ``ingest_seq`` stays null for the store's allocator to stamp.

    A string column outside the points schema (``set(key: "rack",
    value: "r9")``) is a tag, as stock ``to()`` writes it: it joins the
    tags map, replacing a map entry of the same key; a NULL cell adds
    no tag.
    """
    from pyspark.sql import types as T

    from ..schema import POINTS_SCHEMA, promoted_tags

    cols = set(df.columns)
    if "measurement" not in cols:
        raise ValueError(
            'write-back needs a measurement column (use set(key: "_measurement"))'
        )
    if not any(s in cols for s in ("f_float", "f_str", "f_bool")):
        raise ValueError("write-back needs a _value column")
    if "time_ns" not in cols and "time" not in cols:
        raise ValueError("write-back needs a time column")
    out = df
    extra = [c for c in promoted_tags(df.columns)
             if isinstance(df.schema[c].dataType, T.StringType)]
    if extra:
        empty = F.create_map().cast("map<string,string>")
        kept = F.map_filter(F.coalesce(F.col("tags"), empty),
                            lambda k, _v: ~k.isin(extra)) if "tags" in cols else empty
        added = F.map_filter(
            F.create_map(*[x for c in extra for x in (F.lit(c), F.col(c))]),
            lambda _k, v: v.isNotNull())
        out = out.withColumn("tags", F.map_concat(kept, added))
    if "time_ns" not in cols:
        out = out.withColumn("time_ns", F.expr("unix_micros(time) * 1000"))
    if "time" not in cols:
        out = out.withColumn(
            "time", F.timestamp_micros(F.expr("time_ns div 1000"))
        )
    # a typed window result arrives slot-shaped (f_str/f_bool + ftype,
    # no f_float): missing slots fill with NULLs and a present
    # ftype discriminator is preserved; the FT_FLOAT default only
    # applies to the float-only task shape
    ft_default = FT_FLOAT
    if "f_float" not in cols:
        ft_default = "string" if "f_str" in cols else "bool"
    defaults = {
        "tags": F.lit(None).cast(T.MapType(T.StringType(), T.StringType())),
        "field": F.lit("value"),
        "f_float": F.lit(None).cast("double"),
        "f_int": F.lit(None).cast("long"),
        "f_uint": F.lit(None).cast("decimal(20,0)"),
        "f_str": F.lit(None).cast("string"),
        "f_bool": F.lit(None).cast("boolean"),
        "ftype": F.lit(ft_default),
        "ingest_seq": F.lit(None).cast("long"),
    }
    for name, default in defaults.items():
        if name not in out.columns:
            out = out.withColumn(name, default)
    return out.select(*[f.name for f in POINTS_SCHEMA.fields])


def write_result(store, org: str, df: DataFrame, bucket: str) -> None:
    """Flux ``to(bucket:)`` over a bucket store: create the target
    bucket when missing, then write the result as points (the sink of
    an HTTP query and of a Flux task run alike)."""
    store.create_bucket(org, bucket)
    store.write_points(org, bucket, canonicalize_result(df))
