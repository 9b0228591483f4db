"""InfluxQL frontend + annotated CSV + pipeline builder tests."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from aws_greengrass_labs_database_influxdb_spark.frontends import (
    InfluxQLError,
    execute_influxql,
    parse_influxql,
    to_annotated_csv,
)
from aws_greengrass_labs_database_influxdb_spark.plans import from_points
from aws_greengrass_labs_database_influxdb_spark.sources.io import events_points

T0 = 1704067200_000_000_000


@pytest.fixture(scope="module")
def pts(spark, sf_dir):
    return events_points(spark, sf_dir).cache()


# ------------------------------------------------------------------ parser

def test_parse_basic_aggregate():
    ast = parse_influxql(
        "SELECT mean(value) AS avg_v FROM events "
        "WHERE time >= '2024-01-01' AND time < '2024-01-31' "
        "GROUP BY time(1h), event_type fill(0) ORDER BY time DESC LIMIT 5"
    )
    assert ast.measurement == "events"
    assert ast.fields == [("mean", "value", "avg_v")]
    assert ast.group_time_ns == 3600 * 10**9
    assert ast.group_tags == ["event_type"]
    assert ast.fill == 0.0
    assert ast.order_desc and ast.limit == 5
    assert ast.time_start_ns == T0


def test_parse_selector_and_filters():
    ast = parse_influxql(
        "SELECT max(value), first(value) FROM events "
        "WHERE event_type = 'click' AND value > 100"
    )
    assert ast.fields[0][0] == "max"
    assert ast.tag_filters == [("event_type", "=", "click")]
    assert ast.field_filters == [("value", ">", 100.0)]


@pytest.mark.parametrize(
    "bad",
    [
        "DELETE FROM events",
        "SELECT frobnicate(value) FROM events",
        "SELECT mean(value) FROM events WHERE frobnicate ??",
    ],
)
def test_parse_errors(bad):
    with pytest.raises(InfluxQLError):
        parse_influxql(bad)


# ---------------------------------------------------------------- execution

def test_influxql_group_by_time_matches_dataframe(pts, spark):
    out = execute_influxql(
        pts,
        "SELECT mean(*) AS mean_v, count(*) AS n FROM events "
        "WHERE time >= '2024-01-01' AND time < '2024-01-31' GROUP BY time(1h), event_type",
    )
    from aws_greengrass_labs_database_influxdb_spark.operators import window

    expected = (
        window(pts, 3600 * 10**9)
        .groupBy("event_type", "_start_ns")
        .agg(F.avg("f_float").alias("mean_v"), F.count(F.lit(1)).alias("n"))
        .count()
    )
    assert out.count() == expected


def test_influxql_fill_zero_emits_empty_windows(pts):
    out = execute_influxql(
        pts,
        "SELECT sum(value) AS s FROM events "
        "WHERE time >= '2024-01-01' AND time < '2024-01-31' "
        "GROUP BY time(1h), event_type fill(0)",
    )
    n_types = pts.select("event_type").distinct().count()
    assert out.count() == 30 * 24 * n_types
    assert out.filter(F.col("s") == 0).count() > 0


def test_influxql_from_comma_list(pts):
    # FROM m1, m2: per-measurement series, no cross-measurement merge
    ast = parse_influxql("SELECT count(value) FROM click, purchase")
    assert ast.measurements == ["click", "purchase"]
    multi = pts.withColumn("measurement", F.col("event_type"))
    out = execute_influxql(
        multi,
        "SELECT count(value) AS n FROM click, purchase "
        "WHERE time >= '2024-01-01' AND time < '2024-01-31' GROUP BY time(1d)",
    )
    assert "measurement" in out.columns
    got = {(r.measurement, r.time, r.n) for r in out.collect()}
    assert {m for m, _, _ in got} == {"click", "purchase"}
    single = execute_influxql(
        multi,
        "SELECT count(value) AS n FROM click "
        "WHERE time >= '2024-01-01' AND time < '2024-01-31' GROUP BY time(1d)",
    )
    assert {("click", r.time, r.n) for r in single.collect()} == {
        t for t in got if t[0] == "click"
    }


def test_influxql_selector_row_semantics(pts):
    out = execute_influxql(pts, "SELECT max(value) AS mx FROM events").collect()
    direct = pts.agg(F.max("f_float")).first()[0]
    assert out[0].mx == direct


def test_influxql_tag_and_field_filter(pts):
    out = execute_influxql(
        pts, "SELECT count(value) AS n FROM events WHERE event_type = 'click' AND value >= 100"
    ).first()
    expected = pts.filter((F.col("event_type") == "click") & (F.col("f_float") >= 100)).count()
    assert out.n == expected


# ----------------------------------------------------------------- pipeline

def test_pipeline_group_key_threading(pts):
    p = (
        from_points(pts, group_key=["measurement", "field"])
        .group(["event_type"])
        .aggregate_window("1h", "mean")
    )
    df = p.df
    assert "event_type" in df.columns and "mean" in df.columns
    # per-series limit goes through the group key, not global
    lim = from_points(pts).group(["event_type"]).limit(2).df
    assert lim.count() == 2 * pts.select("event_type").distinct().count()


def test_pipeline_derivative_per_series(pts):
    d = from_points(pts).group(["event_type"]).derivative().df
    n_series = pts.select("event_type").distinct().count()
    assert d.count() == pts.count() - n_series  # first row per series drops


# ------------------------------------------------------------ annotated CSV

def test_annotated_csv_shape(spark):
    df = spark.createDataFrame(
        [("cpu", "h1", 1.5), ("cpu", "h2", 2.0)], "measurement string, host string, value double"
    )
    csv = to_annotated_csv(df, group_key=("measurement", "host"))
    lines = csv.splitlines()
    assert lines[0].startswith("#group,false,false,true,true,false")
    assert lines[1].startswith("#datatype,string,long,string,string,double")
    assert lines[2].startswith("#default,_result")
    assert lines[3] == ",result,table,measurement,host,value"
    # two distinct group keys → table ids 0 and 1
    assert lines[4].split(",")[2] == "0" and lines[5].split(",")[2] == "1"


def test_annotated_csv_streams_in_bounded_chunks(spark):
    """iter_annotated_csv must yield incrementally (O(batch) facade
    memory), and concatenate to the same bytes as the wrapper."""
    from aws_greengrass_labs_database_influxdb_spark.frontends import iter_annotated_csv

    df = spark.range(3500).selectExpr("'m' as measurement", "cast(id as double) as value")
    chunks = list(iter_annotated_csv(df))
    assert len(chunks) >= 4  # header + ≥3 row batches of ≤1000
    body = "".join(chunks)
    assert body.count("\r\n") == 3500 + 4
    assert body == to_annotated_csv(df)


# ----------------------------------------------------------------- flux text

from aws_greengrass_labs_database_influxdb_spark.frontends import FluxError, execute_flux  # noqa: E402

T_STOP = 1706659200_000_000_000


def test_flux_flagship_dashboard_query(pts, spark):
    """The SURVEY §7 phase-0 query, as Flux text."""
    out = execute_flux(
        pts,
        '''from(bucket:"greengrass-telemetry")
          |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-31T00:00:00Z)
          |> filter(fn: (r) => r._measurement == "events" and r.event_type == "click")
          |> group(columns: ["event_type"])
          |> aggregateWindow(every: 1h, fn: mean)''',
    )
    expected = (
        pts.filter(F.col("event_type") == "click")
        .groupBy(F.expr("time_ns div 3600000000000"))
        .count()
        .count()
    )
    assert out.count() == expected
    assert "f_float" in out.columns


def test_flux_multi_yield_named_results(pts):
    from aws_greengrass_labs_database_influxdb_spark.frontends import execute_flux_multi

    script = '''
      base = from(bucket:"b")
        |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-08T00:00:00Z)
        |> group(columns: ["event_type"])
      base |> count() |> yield(name: "counts")
      base |> mean() |> yield(name: "means")
    '''
    res = execute_flux_multi(pts, script)
    assert set(res) == {"counts", "means"}
    n_types = res["counts"].count()
    assert res["means"].count() == n_types
    # result_name selects one yield through the single-result API
    one = execute_flux(pts, script, result_name="counts")
    assert one.count() == n_types
    with pytest.raises(FluxError):
        execute_flux(pts, script, result_name="nope")
    # single-result scripts keep the legacy shape
    single = execute_flux_multi(pts, 'from(bucket:"b") |> count()')
    assert set(single) == {"_result"}


def test_flux_negative_aggregate_window_offset(pts):
    from aws_greengrass_labs_database_influxdb_spark.operators.windows import duration_ns

    assert duration_ns("-6h") == -6 * 3600 * 10**9
    assert duration_ns("-1h30m") == -(90 * 60) * 10**9
    neg = execute_flux(
        pts,
        'from(bucket:"b") |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-08T00:00:00Z)'
        ' |> group(columns: ["event_type"])'
        " |> aggregateWindow(every: 1d, fn: count, offset: -6h)",
    ).select("event_type", "time", "f_float")
    # -6h ≡ +18h for a 1d window: identical window starts
    pos = execute_flux(
        pts,
        'from(bucket:"b") |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-08T00:00:00Z)'
        ' |> group(columns: ["event_type"])'
        " |> aggregateWindow(every: 1d, fn: count, offset: 18h)",
    ).select("event_type", "time", "f_float")
    assert sorted(map(tuple, neg.collect())) == sorted(map(tuple, pos.collect()))


def test_flux_filter_or_and_value(pts):
    out = execute_flux(
        pts,
        'from(bucket:"b") |> filter(fn: (r) => r.event_type == "click" or r.event_type == "error")'
        " |> filter(fn: (r) => r._value > 150)",
    )
    direct = pts.filter(
        F.col("event_type").isin("click", "error") & (F.col("f_float") > 150)
    ).count()
    assert out.count() == direct


def test_flux_derivative_and_limit(pts):
    out = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"])'
        " |> derivative(unit: 1s) |> limit(n: 3)",
    )
    assert out.count() == 3 * pts.select("event_type").distinct().count()


def test_flux_top_selector(pts):
    out = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"]) |> top(n: 2)',
    )
    assert out.count() == 2 * pts.select("event_type").distinct().count()


def test_flux_text_extended_stages(pts):
    """Round-2 Flux-text additions: quantile/integral/stateCount/
    histogram(+Quantile)/unique/timeShift/interpolate.linear/
    doubleEMA etc. each compile and agree with the direct operator."""
    n_types = pts.select("event_type").distinct().count()

    out = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"])'
        ' |> quantile(q: 0.5, method: "exact_mean")',
    )
    got = {(r.event_type, r.quantile) for r in out.collect()}
    direct = {
        (r.event_type, r.q)
        for r in pts.groupBy("event_type").agg(F.percentile("f_float", 0.5).alias("q")).collect()
    }
    assert got == direct

    out = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"]) |> integral(unit: 1s)',
    )
    assert out.count() == n_types

    out = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"])'
        " |> stateCount(fn: (r) => r._value > 150)",
    )
    assert out.filter(F.col("stateCount") > 0).count() == pts.filter(F.col("f_float") > 150).count()

    out = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"])'
        " |> histogram(bins: [100.0, 200.0, 10000.0])"
        " |> histogramQuantile(quantile: 0.5)",
    )
    assert out.count() == n_types  # one median estimate per series

    out = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"]) |> unique()',
    )
    once = (
        pts.groupBy("event_type", "f_float").count().filter(F.col("count") == 1).count()
    )
    assert out.count() == once

    shifted = execute_flux(
        pts, 'from(bucket:"b") |> timeShift(duration: 1h) |> first()'
    ).collect()
    base = execute_flux(pts, 'from(bucket:"b") |> first()').collect()
    assert shifted[0].time_ns - base[0].time_ns == 3600 * 10**9

    out = execute_flux(
        pts,
        'import "interpolate"\n'
        'from(bucket:"b")'
        " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-02T00:00:00Z)"
        ' |> group(columns: ["event_type"])'
        " |> interpolate.linear(every: 1h)",
    )
    assert out.count() > 0 and "f_float" in out.columns

    # doubleEMA (and the whole TA family) has VALUE-asserting
    # text-frontend coverage in tests/test_flux_ta_text.py (r15 — the
    # count()>0 smoke here let the unpromoted-_value bug survive)
    out = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"]) |> highestAverage(n: 2)',
    )
    assert out.select("event_type").distinct().count() == 2  # top-2 series' rows


def test_annotated_csv_roundtrip(pts, spark):
    """from_annotated_csv(to_annotated_csv(df)) reproduces values,
    types, and nulls — the csv.from inverse of our writer."""
    from aws_greengrass_labs_database_influxdb_spark.frontends import (
        from_annotated_csv,
        to_annotated_csv,
    )

    df = (
        pts.groupBy("event_type")
        .agg(F.avg("f_float").alias("m"), F.count(F.lit(1)).alias("n"))
        .withColumn("flag", F.col("m") > 150)
        .withColumn("m", F.when(F.col("event_type") != "click", F.col("m")))  # a null
    )
    text = to_annotated_csv(df, group_key=("event_type",))
    back = from_annotated_csv(spark, text)
    assert set(back.columns) == {"result", "table", "event_type", "m", "n", "flag"}
    a = {tuple(r) for r in df.select("event_type", "m", "n", "flag").collect()}
    b = {tuple(r) for r in back.select("event_type", "m", "n", "flag").collect()}
    assert a == b
    assert dict(back.dtypes)["n"] == "bigint" and dict(back.dtypes)["flag"] == "boolean"
    assert {r.result for r in back.select("result").distinct().collect()} == {"_result"}

    # timestamps survive the RFC3339 leg
    tdf = pts.select("time", "event_type").limit(5)
    back_t = from_annotated_csv(spark, to_annotated_csv(tdf))
    assert {r.time for r in back_t.collect()} == {r.time for r in tdf.collect()}


def test_flux_map_conditional_banding(pts):
    """map(fn: (r) => ({ r with band: if ... then ... else if ... }))
    — the Grafana banding idiom, compiled to F.when (no UDF)."""
    out = execute_flux(
        pts,
        'from(bucket:"b") |> map(fn: (r) => ({ r with '
        'band: if r._value > 150 then "high" else if r._value > 50 then "mid" else "low" }))',
    )
    got = {r.band for r in out.select("band").distinct().collect()}
    assert got == {"high", "mid", "low"}
    n_high = out.filter(F.col("band") == "high").count()
    assert n_high == pts.filter(F.col("f_float") > 150).count()


def test_influxql_group_by_star(pts):
    """GROUP BY * groups by every (promoted) tag — Grafana's
    per-series default."""
    out = execute_influxql(pts, "SELECT MEAN(value) AS m FROM events GROUP BY *")
    assert {"event_type", "user_id", "m"}.issubset(set(out.columns))
    assert out.count() == pts.select("event_type", "user_id").distinct().count()


def test_influxql_soffset(pts):
    two = execute_influxql(
        pts, "SELECT MEAN(value) AS m FROM events GROUP BY event_type SLIMIT 2 SOFFSET 1"
    ).collect()
    allg = execute_influxql(
        pts, "SELECT MEAN(value) AS m FROM events GROUP BY event_type"
    ).collect()
    ordered = sorted(r.event_type for r in allg)
    assert sorted(r.event_type for r in two) == ordered[1:3]


def test_flux_aggregate_window_offset(pts):
    """aggregateWindow(offset:) shifts window boundaries: with a 6h
    offset, window starts sit at 06:00 rather than midnight."""
    out = execute_flux(
        pts,
        'from(bucket:"b")'
        " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-15T00:00:00Z)"
        ' |> group(columns: ["event_type"])'
        " |> aggregateWindow(every: 1d, fn: count, offset: 6h)",
    )
    starts = {r.time_ns - 86400 * 10**9 for r in out.collect()}  # _stop → start
    assert all((s - 6 * 3600 * 10**9) % (86400 * 10**9) == 0 for s in starts)
    assert len(starts) > 0


def test_flux_create_empty_fill(pts):
    out = execute_flux(
        pts,
        'from(bucket:"b")'
        " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-31T00:00:00Z)"
        ' |> group(columns: ["event_type"])'
        " |> aggregateWindow(every: 1h, fn: mean, createEmpty: true)"
        " |> fill(value: 0.0)",
    )
    n_types = pts.select("event_type").distinct().count()
    assert out.count() == 720 * n_types
    assert out.filter(F.col("f_float").isNull()).count() == 0


def test_flux_relative_range(pts):
    now = T_STOP
    out = execute_flux(pts, 'from(bucket:"b") |> range(start: -24h)', now_ns=now)
    direct = pts.filter(F.col("time_ns") >= now - 24 * 3600 * 10**9).count()
    assert out.count() == direct


def test_flux_unsupported_raises(pts):
    with pytest.raises(FluxError):
        execute_flux(pts, 'from(bucket:"b") |> frobnicate()')
    with pytest.raises(FluxError):
        execute_flux(pts, 'range(start: -1h)')


def test_influxql_multi_transform_row_alignment(pts):
    from aws_greengrass_labs_database_influxdb_spark.frontends import execute_influxql

    out = execute_influxql(
        pts,
        "SELECT DERIVATIVE(value, 1s) AS deriv, MOVING_AVERAGE(value, 5) AS ma "
        "FROM events GROUP BY event_type",
    )
    assert {"time", "event_type", "deriv", "ma"} <= set(out.columns)
    per_series = pts.groupBy("event_type").count().collect()
    # union semantics: every row except the first per series appears
    assert out.count() == sum(r["count"] - 1 for r in per_series)
    # rows 2..4 per series: deriv defined, ma still null
    some = out.filter(F.col("ma").isNull() & F.col("deriv").isNotNull()).count()
    assert some == sum(min(3, r["count"] - 1) for r in per_series)


def test_influxql_or_group_and_regex(pts):
    from aws_greengrass_labs_database_influxdb_spark.frontends import execute_influxql

    out = execute_influxql(
        pts,
        "SELECT count(value) AS n FROM /ev.*/ "
        "WHERE (event_type = 'click' OR event_type =~ /err.*/) GROUP BY event_type",
    )
    rows = {r.event_type: r.n for r in out.collect()}
    direct = {
        r.event_type: r["count"]
        for r in pts.filter(F.col("event_type").isin("click", "error"))
        .groupBy("event_type").count().collect()
    }
    assert rows == direct
    # negated regex
    out2 = execute_influxql(
        pts, "SELECT count(value) AS n FROM events WHERE event_type !~ /^e/ GROUP BY event_type"
    )
    assert {r.event_type for r in out2.collect()} == {
        r.event_type for r in pts.filter(~F.col("event_type").rlike("^e")).select("event_type").distinct().collect()
    }


def test_influxql_percentile_and_integral(pts):
    """PERCENTILE picks the actual rank-⌈n·p⌉ value; INTEGRAL is the
    time-sorted trapezoid sum — both checked against hand computation
    on one series."""
    rows = (
        pts.filter(F.col("event_type") == "click")
        .select("time_ns", "f_float").orderBy("time_ns").limit(50).collect()
    )
    vals = sorted(r.f_float for r in rows)
    t_hi = rows[-1].time_ns
    out = execute_influxql(
        pts,
        "SELECT PERCENTILE(value, 90) AS p90 FROM events "
        f"WHERE event_type = 'click' AND time <= {t_hi} GROUP BY event_type",
    ).collect()
    import math

    assert out[0].p90 == vals[max(1, math.ceil(0.9 * len(vals))) - 1]

    out = execute_influxql(
        pts,
        "SELECT INTEGRAL(value, 1s) AS area FROM events "
        f"WHERE event_type = 'click' AND time <= {t_hi} GROUP BY event_type",
    ).collect()
    srt = sorted(rows, key=lambda r: (r.time_ns, r.f_float))
    expect = sum(
        (b.f_float + a.f_float) / 2 * (b.time_ns - a.time_ns) / 1e9
        for a, b in zip(srt, srt[1:])
    )
    assert abs(out[0].area - expect) < 1e-6 * max(1.0, abs(expect))


def test_influxql_top_bottom_distinct_sample(pts):
    out = execute_influxql(
        pts, "SELECT TOP(value, 3) AS v FROM events GROUP BY event_type"
    )
    got = {(r.event_type, r.v) for r in out.collect()}
    for et_row in pts.select("event_type").distinct().collect():
        et = et_row.event_type
        top3 = (
            pts.filter(F.col("event_type") == et)
            .orderBy(F.desc("f_float"), "time_ns", "ingest_seq").limit(3).collect()
        )
        for r in top3:
            assert (et, r.f_float) in got
    assert len(got) == 15

    out = execute_influxql(pts, "SELECT BOTTOM(value, 2) AS v FROM events")
    vals = sorted(r.v for r in out.collect())
    expect = [r.f_float for r in pts.orderBy("f_float", "time_ns").limit(2).collect()]
    assert vals == sorted(expect)

    out = execute_influxql(
        pts, "SELECT DISTINCT(user_id) AS u FROM events GROUP BY time(7d)"
    )
    n = out.count()
    direct = (
        pts.select((F.col("time_ns") - F.col("time_ns") % (7 * 86400 * 10**9)).alias("w"),
                   "user_id").distinct().count()
    )
    assert n == direct and "time" in out.columns

    out = execute_influxql(
        pts, "SELECT SAMPLE(value, 5) AS v FROM events GROUP BY event_type"
    )
    assert out.count() == 25  # 5 per series, values from the source
    src = {r.f_float for r in pts.select("f_float").collect()}
    assert all(r.v in src for r in out.collect())


def test_influxql_nested_transform_over_aggregate(pts):
    """DERIVATIVE(MEAN(value), 1h) GROUP BY time(1d) — the classic
    Grafana shape: windowed means first, then the transform over the
    aggregated series."""
    out = execute_influxql(
        pts,
        "SELECT DERIVATIVE(MEAN(value), 1h) AS d FROM events "
        "WHERE time >= '2024-01-01' AND time < '2024-01-11' "
        "GROUP BY time(1d), event_type",
    ).collect()
    means = {
        (r.event_type, r.w): r.m
        for r in pts.filter(
            (F.col("time_ns") >= 1704067200 * 10**9)
            & (F.col("time_ns") < (1704067200 + 10 * 86400) * 10**9)
        )
        .groupBy(
            "event_type",
            (F.col("time_ns") - F.col("time_ns") % (86400 * 10**9)).alias("w"),
        )
        .agg(F.avg("f_float").alias("m"))
        .collect()
    }
    assert len(out) > 0
    for r in out:
        w = r.time.timestamp() * 10**9
        prev_w = int(w) - 86400 * 10**9
        expect = (means[(r.event_type, int(w))] - means[(r.event_type, prev_w)]) / 24.0
        assert abs(r.d - expect) < 1e-9


def test_influxql_arithmetic_on_aggregates(pts):
    out = execute_influxql(
        pts,
        "SELECT MEAN(value) * 8 + 1 AS m8, MAX(value) - MIN(value) AS rng "
        "FROM events GROUP BY event_type",
    ).collect()
    direct = {
        r.event_type: (r.m * 8 + 1, r.mx - r.mn)
        for r in pts.groupBy("event_type").agg(
            F.avg("f_float").alias("m"), F.max("f_float").alias("mx"),
            F.min("f_float").alias("mn"),
        ).collect()
    }
    assert len(out) == 5
    for r in out:
        em8, erng = direct[r.event_type]
        assert abs(r.m8 - em8) < 1e-9 and abs(r.rng - erng) < 1e-12

    # precedence: * binds tighter than +
    one = execute_influxql(
        pts, "SELECT MEAN(value) + MEAN(value) * 2 AS x FROM events"
    ).collect()[0]
    base = execute_influxql(pts, "SELECT MEAN(value) AS m FROM events").collect()[0].m
    assert abs(one.x - base * 3) < 1e-9


def test_influxql_show_meta_queries(pts, spark):
    """SHOW MEASUREMENTS / TAG KEYS / TAG VALUES / FIELD KEYS / SERIES
    — the Grafana-dropdown meta-queries, exact shapes per v1 docs."""
    out = execute_influxql(pts, "SHOW MEASUREMENTS")
    assert [r.name for r in out.collect()] == ["events"]

    out = execute_influxql(pts, "SHOW TAG KEYS FROM events")
    keys = {r.tagKey for r in out.collect()}
    assert {"event_type", "user_id"}.issubset(keys)

    out = execute_influxql(pts, 'SHOW TAG VALUES FROM events WITH KEY = "event_type"')
    vals = {(r.key, r.value) for r in out.collect()}
    expect = {
        ("event_type", r.event_type)
        for r in pts.select("event_type").distinct().collect()
    }
    assert vals == expect

    # WITH KEY IN + WHERE tag filter composes
    out = execute_influxql(
        pts,
        'SHOW TAG VALUES WITH KEY IN ("event_type", "user_id") '
        "WHERE event_type = 'click'",
    )
    got = {(r.key, r.value) for r in out.collect()}
    assert ("event_type", "click") in got
    assert all(k != "event_type" or v == "click" for k, v in got)
    n_users = pts.filter(F.col("event_type") == "click").select("user_id").distinct().count()
    assert sum(1 for k, _ in got if k == "user_id") == n_users

    out = execute_influxql(pts, "SHOW FIELD KEYS FROM events")
    assert [(r.fieldKey, r.fieldType) for r in out.collect()] == [("value", "float")]

    # SERIES keys: measurement,tag=val with sorted tags
    row = execute_influxql(
        pts, "SHOW SERIES WHERE event_type = 'click'"
    ).collect()
    assert all(r.key.startswith("events,event_type=click,user_id=") for r in row)
    assert len(row) == n_users

    # tags-map fallback: points with a map column and no promoted tags
    from aws_greengrass_labs_database_influxdb_spark.schema import POINTS_SCHEMA

    mapped = spark.createDataFrame(
        [
            ("cpu", None, 1, {"host": "h1", "dc": "east"}, "usage",
             1.0, None, None, None, None, "float", 1),
            ("cpu", None, 2, {"host": "h2"}, "usage",
             2.0, None, None, None, None, "float", 2),
        ],
        POINTS_SCHEMA,
    )
    got = {r.tagKey for r in execute_influxql(mapped, "SHOW TAG KEYS").collect()}
    assert got == {"host", "dc"}
    got = {(r.key, r.value)
           for r in execute_influxql(mapped, 'SHOW TAG VALUES WITH KEY =~ /host|dc/').collect()}
    assert got == {("host", "h1"), ("host", "h2"), ("dc", "east")}
    got = [r.key for r in execute_influxql(mapped, "SHOW SERIES").collect()]
    assert got == ["cpu,dc=east,host=h1", "cpu,host=h2"]


def test_influxql_subquery_from_select(pts):
    from aws_greengrass_labs_database_influxdb_spark.frontends import execute_influxql

    out = execute_influxql(
        pts,
        "SELECT mean(n) AS avg_n FROM "
        "(SELECT count(value) AS n FROM events GROUP BY time(1h), event_type) "
        "GROUP BY event_type",
    )
    rows = {r.event_type: r.avg_n for r in out.collect()}
    # hand-computed: mean of hourly counts per type
    inner = (
        pts.groupBy("event_type", F.expr("time_ns div 3600000000000").alias("w"))
        .count()
        .groupBy("event_type")
        .agg(F.avg("count").alias("m"))
    )
    expect = {r.event_type: r.m for r in inner.collect()}
    assert rows == expect


def test_flux_map_arithmetic(pts):
    out = execute_flux(
        pts,
        'from(bucket:"b") |> filter(fn: (r) => r.event_type == "click")'
        " |> map(fn: (r) => ({ r with _value: r._value * 2.0 + 1.0, half: r._value / 2.0 }))",
    )
    row = out.orderBy("time_ns").first()
    src = pts.filter(F.col("event_type") == "click").orderBy("time_ns").first()
    assert row.f_float == src.f_float * 2.0 + 1.0
    # `half` reads the ORIGINAL r._value (Flux record-extension rule)
    assert row.half == src.f_float / 2.0


def test_flux_union_of_variables(pts):
    out = execute_flux(
        pts,
        'a = from(bucket:"b") |> filter(fn: (r) => r.event_type == "click")\n'
        'b = from(bucket:"b") |> filter(fn: (r) => r.event_type == "error")\n'
        "union(tables: [a, b])",
    )
    direct = pts.filter(F.col("event_type").isin("click", "error")).count()
    assert out.count() == direct


def test_flux_join_with_suffixes_and_map(pts):
    script = """
c = from(bucket: "b")
  |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-31T00:00:00Z)
  |> filter(fn: (r) => r.event_type == "click")
  |> group(columns: ["event_type"])
  |> aggregateWindow(every: 1h, fn: count)
v = from(bucket: "b")
  |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-31T00:00:00Z)
  |> filter(fn: (r) => r.event_type == "view")
  |> group(columns: ["event_type"])
  |> aggregateWindow(every: 1h, fn: count)
join(tables: {c: c, v: v}, on: ["_time"])
  |> map(fn: (r) => ({ r with ratio: r._value_c / r._value_v }))
"""
    out = execute_flux(pts, script)
    assert {"f_float_c", "f_float_v", "ratio", "time"} <= set(out.columns)
    rows = out.collect()
    assert rows, "hourly click and view windows must overlap"
    for r in rows:
        assert r.ratio == r.f_float_c / r.f_float_v


def test_influxql_math_transforms(pts):
    out = execute_influxql(
        pts,
        "SELECT ABS(value) AS a, SQRT(value) AS s, POW(value, 2) AS p, "
        "LOG(value, 10) AS l, CEIL(value) AS c FROM events "
        "WHERE time >= '2024-01-01' AND time < '2024-01-03'",
    )
    import math

    rows = out.limit(50).collect()
    assert rows
    for r in rows:
        assert r.s == pytest.approx(math.sqrt(r.a))
        assert r.p == pytest.approx(r.a * r.a)
        assert r.l == pytest.approx(math.log10(r.a))
        assert r.c == math.ceil(r.a) and isinstance(r.c, float)


def test_influxql_technical_analysis_matches_operator(pts):
    from aws_greengrass_labs_database_influxdb_spark.operators import analytics as an

    out = execute_influxql(
        pts,
        "SELECT EXPONENTIAL_MOVING_AVERAGE(value, 10) AS ema "
        "FROM events GROUP BY event_type",
    )
    direct = an.exponential_moving_average(pts, 10, by=["event_type"], alias="ema")
    got = sorted(
        (r.event_type, r.time, round(r.ema, 9)) for r in out.collect()
    )
    want = sorted(
        (r.event_type, r.time, round(r.ema, 9))
        for r in direct.filter(F.col("ema").isNotNull()).collect()
    )
    assert got == want


def test_influxql_nested_ta_over_aggregate(pts):
    out = execute_influxql(
        pts,
        "SELECT EXPONENTIAL_MOVING_AVERAGE(MEAN(value), 5) AS ema FROM events "
        "WHERE time >= '2024-01-01' AND time < '2024-01-15' "
        "GROUP BY time(1d), event_type",
    )
    n_types = pts.select("event_type").distinct().count()
    # 14 daily means per series, EMA(5) defined from the 5th window on
    assert out.count() == (14 - 4) * n_types


def test_influxql_holt_winters_nested(pts):
    from aws_greengrass_labs_database_influxdb_spark.operators import analytics as an
    from aws_greengrass_labs_database_influxdb_spark.operators.windows import (
        aggregate_window,
    )

    out = execute_influxql(
        pts,
        "SELECT HOLT_WINTERS(MEAN(value), 4, 0) AS hw FROM events "
        "WHERE time >= '2024-01-01' AND time < '2024-01-15' "
        "GROUP BY time(1d), event_type",
    )
    n_types = pts.select("event_type").distinct().count()
    assert out.count() == 4 * n_types  # N forecast rows per series
    # agrees with the direct operator over the same daily means
    t0, t1 = T0, T0 + 14 * 86400 * 10**9
    daily = aggregate_window(
        pts.filter((F.col("time_ns") >= t0) & (F.col("time_ns") < t1)),
        86400 * 10**9, "mean", by=("event_type",), time_src="_stop",
    ).withColumnRenamed("mean", "v")
    direct = an.holt_winters(daily, n=4, interval_seconds=86400,
                             value="v", by=("event_type",))
    got = sorted((r.event_type, r.time, round(r.hw, 9)) for r in out.collect())
    want = sorted(
        (r.event_type,
         __import__("datetime").datetime.utcfromtimestamp(r.time_ns // 10**9),
         round(r.hw, 9))
        for r in direct.collect()
    )
    assert [(g[0], g[2]) for g in got] == [(w[0], w[2]) for w in want]


def test_influxql_holt_winters_with_fit(pts):
    """HOLT_WINTERS_WITH_FIT emits in-sample one-step predictions at
    the input window timestamps, then the N forecasts — per series."""
    out = execute_influxql(
        pts,
        "SELECT HOLT_WINTERS_WITH_FIT(MEAN(value), 4, 0) AS hw FROM events "
        "WHERE time >= '2024-01-01' AND time < '2024-01-08' "
        "GROUP BY time(1d), event_type",
    )
    n_types = pts.select("event_type").distinct().count()
    # 7 daily windows → 6 fitted (recursion predicts from index 1) + 4 forecast
    assert out.count() == (6 + 4) * n_types
    plain = execute_influxql(
        pts,
        "SELECT HOLT_WINTERS(MEAN(value), 4, 0) AS hw FROM events "
        "WHERE time >= '2024-01-01' AND time < '2024-01-08' "
        "GROUP BY time(1d), event_type",
    )
    assert plain.count() == 4 * n_types
    # fitted rows carry the input timestamps (inside the queried range)
    import datetime as dt

    in_range = out.filter(F.col("time") < dt.datetime(2024, 1, 8)).count()
    assert in_range == 6 * n_types


def test_flux_holt_winters_with_fit(pts):
    base = (
        'from(bucket:"b")'
        " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-08T00:00:00Z)"
        ' |> group(columns: ["event_type"])'
        " |> aggregateWindow(every: 1d, fn: mean)"
    )
    n_types = pts.select("event_type").distinct().count()
    plain = execute_flux(pts, base + " |> holtWinters(n: 3, interval: 1d)")
    fit = execute_flux(pts, base + " |> holtWinters(n: 3, interval: 1d, withFit: true)")
    assert plain.count() == 3 * n_types
    # 7 daily windows -> 6 in-sample predictions per series + 3 forecasts
    assert fit.count() == (6 + 3) * n_types


def test_influxql_explain(pts):
    """EXPLAIN / EXPLAIN ANALYZE return the Catalyst plan as rows; the
    plan names the physical operators, and ANALYZE shows the
    AQE-finalized plan."""
    out = execute_influxql(
        pts, "EXPLAIN SELECT mean(value) FROM events GROUP BY time(1h), event_type"
    )
    text = "\n".join(r.plan for r in out.orderBy("line").collect())
    assert "Physical Plan" in text and "HashAggregate" in text
    out2 = execute_influxql(pts, "EXPLAIN ANALYZE SELECT count(value) FROM events")
    text2 = "\n".join(r.plan for r in out2.orderBy("line").collect())
    assert "AdaptiveSparkPlan" in text2


def test_influxql_show_cardinality(pts):
    """SHOW ... CARDINALITY: EXACT counts match direct distinct
    queries; the estimated (HLL) form lands within its documented
    relative error of the exact count."""
    n_types = pts.select("event_type").distinct().count()
    got = execute_influxql(
        pts, 'SHOW TAG VALUES EXACT CARDINALITY WITH KEY = "event_type"'
    ).first()["count"]
    assert got == n_types
    n_series = (
        pts.select("measurement", "event_type", "user_id").distinct().count()
    )
    assert execute_influxql(pts, "SHOW SERIES EXACT CARDINALITY").first()["count"] == n_series
    est = execute_influxql(pts, "SHOW SERIES CARDINALITY").first()["count"]
    assert abs(est - n_series) <= max(2, 0.1 * n_series)  # HLL ~2% rsd
    # scoping: FROM + WHERE narrow the counted set
    one = execute_influxql(
        pts,
        "SHOW SERIES EXACT CARDINALITY FROM events WHERE event_type = 'click'",
    ).first()["count"]
    want = (
        pts.filter(F.col("event_type") == "click")
        .select("user_id").distinct().count()
    )
    assert one == want


def test_influxql_tz_local_day_alignment(pts):
    out = execute_influxql(
        pts,
        "SELECT count(value) AS n FROM events "
        "WHERE time >= '2024-01-05' AND time < '2024-01-10' "
        "GROUP BY time(1d), event_type tz('America/Chicago')",
    )
    rows = out.collect()
    # Chicago is UTC-6 in January → local midnights sit at 06:00 UTC
    assert rows and all(r.time.hour == 6 for r in rows)
    n_types = pts.select("event_type").distinct().count()
    # WHERE literals are local wall clock under tz(): 5 local days
    assert len(rows) == 5 * n_types
    # totals equal a direct count over the local-instant range
    t0 = T0 + (4 * 86400 + 6 * 3600) * 10**9
    t1 = T0 + (9 * 86400 + 6 * 3600) * 10**9
    direct = pts.filter((F.col("time_ns") >= t0) & (F.col("time_ns") < t1)).count()
    assert sum(r.n for r in rows) == direct


def test_flux_text_sliding_window(pts):
    """window(every:, period:) with period > every through the text
    frontend: each point appears in period/every windows."""
    out = execute_flux(
        pts,
        'from(bucket:"b") |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-02T00:00:00Z)'
        ' |> group(columns: ["event_type"])'
        " |> window(every: 1h, period: 3h) |> count()",
    )
    direct = execute_flux(
        pts,
        'from(bucket:"b") |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-02T00:00:00Z)'
        ' |> group(columns: ["event_type"])'
        " |> window(every: 1h) |> count()",
    )
    n = pts.filter(
        (F.col("time_ns") >= T0) & (F.col("time_ns") < T0 + 86400 * 10**9)
    ).count()
    assert sum(r["count"] for r in direct.collect()) == n
    assert sum(r["count"] for r in out.collect()) == 3 * n


def test_flux_hour_selection_twa_trix(pts):
    """hourSelection / timeWeightedAvg / tripleExponentialDerivative
    through the Flux string frontend, vs the direct operators."""
    from aws_greengrass_labs_database_influxdb_spark import operators as ops

    out = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"])'
        " |> hourSelection(start: 9, stop: 17)",
    )
    assert out.count() == ops.hour_selection(pts, 9, 17).count() > 0

    out = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"])'
        " |> timeWeightedAvg(unit: 1s)",
    )
    got = {(r.event_type, round(r.time_weighted_avg, 9)) for r in out.collect()}
    direct = {
        (r.event_type, round(r.time_weighted_avg, 9))
        for r in ops.time_weighted_avg(pts, by=["event_type"]).collect()
    }
    assert got == direct

    out = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"])'
        " |> tripleExponentialDerivative(n: 10)",
    )
    direct_n = ops.triple_exponential_derivative(pts, 10, by=["event_type"]).count()
    assert out.count() == direct_n > 0


def test_flux_v1_package_aliases(pts):
    """Grafana's Flux datasource emits influxdata/influxdb/v1 calls
    (v1.tagValues / v1.measurements) — same dispatcher as schema.*."""
    out = execute_flux(
        pts,
        'import "influxdata/influxdb/v1"\n'
        'v1.tagValues(bucket: "b", tag: "event_type")',
        tag_cols=("event_type", "user_id"),
    )
    got = [r._value for r in out.collect()]
    assert got == sorted(got) and "click" in got
    out2 = execute_flux(pts, 'v1.measurements(bucket: "b")')
    assert [r._value for r in out2.collect()] == ["events"]


def test_flux_join_methods(pts):
    """join(method:) — left/full keep unmatched windows (null other
    side); inner drops them; bad methods are typed errors."""
    base = (
        'a = from(bucket:"b")'
        " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-31T00:00:00Z)"
        ' |> filter(fn: (r) => r.event_type == "click")'
        ' |> group(columns: ["event_type"])'
        " |> aggregateWindow(every: 6h, fn: count)\n"
        'b = from(bucket:"b")'
        " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-15T00:00:00Z)"
        ' |> filter(fn: (r) => r.event_type == "view")'
        ' |> group(columns: ["event_type"])'
        " |> aggregateWindow(every: 6h, fn: count)\n"
    )
    inner = execute_flux(pts, base + 'join(tables: {l: a, r: b}, on: ["_time"])')
    left = execute_flux(
        pts, base + 'join(tables: {l: a, r: b}, on: ["_time"], method: "left")'
    )
    full = execute_flux(
        pts, base + 'join(tables: {l: a, r: b}, on: ["_time"], method: "full")'
    )
    n_inner, n_left, n_full = inner.count(), left.count(), full.count()
    # b covers half of a's range → left keeps a's extra windows
    assert n_inner < n_left <= n_full
    # unmatched right-side values are null in the left join (the
    # aggregate value column carries the Flux _value slot: f_float)
    assert left.filter(F.col("f_float_r").isNull()).count() == n_left - n_inner
    with pytest.raises(FluxError):
        execute_flux(
            pts, base + 'join(tables: {l: a, r: b}, on: ["_time"], method: "cross")'
        )


def test_influxql_raw_field_arithmetic(pts):
    out = execute_influxql(
        pts, "SELECT value * 2 + 1 AS v2 FROM events WHERE event_type = 'click'"
    )
    direct = pts.filter(F.col("event_type") == "click")
    assert out.count() == direct.count()
    got = sorted(r.v2 for r in out.collect())
    want = sorted(r.f_float * 2 + 1 for r in direct.collect())
    assert got == pytest.approx(want)
    # mixing raw fields with aggregates is rejected like real InfluxQL
    with pytest.raises(InfluxQLError):
        execute_influxql(pts, "SELECT mean(value) * value FROM events")


def test_flux_aggregate_honors_map_derived_column(pts):
    # ADVICE r4 (high): sum(column: "y") on a map()-derived column must
    # aggregate y, not silently fall back to _value
    from aws_greengrass_labs_database_influxdb_spark.frontends.flux import FluxError, execute_flux

    sub = pts.orderBy("time_ns").limit(3).cache()
    vals = [r.f_float for r in sub.collect()]
    out = execute_flux(
        sub,
        'from(bucket:"b") |> map(fn: (r) => ({ r with y: r._value * 10.0 }))'
        ' |> sum(column: "y")',
    ).collect()
    assert len(out) == 1
    assert out[0]["sum"] == pytest.approx(sum(v * 10.0 for v in vals), rel=1e-12)
    with pytest.raises(FluxError):
        execute_flux(sub, 'from(bucket:"b") |> sum(column: "nope")')


def test_flux_transform_replaces_value_binding(pts):
    """Flux value transforms REPLACE _value: derivative() |> mean()
    must average the derivatives, not the raw series (r5 live-probe
    divergence — the result was silently the raw mean)."""
    out = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"])'
        " |> derivative(unit: 1s) |> mean()",
    )
    res = {r.event_type: r.mean for r in out.collect()}
    raw = sorted(
        (r.time_ns, r.f_float)
        for r in pts.filter(F.col("event_type") == "signup")
        .select("time_ns", "f_float")
        .collect()
    )
    ders = [
        (raw[i][1] - raw[i - 1][1]) / ((raw[i][0] - raw[i - 1][0]) / 1e9)
        for i in range(1, len(raw))
    ]
    assert abs(res["signup"] - sum(ders) / len(ders)) < 1e-9
    # cumulativeSum |> max == plain sum of the series
    cs = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"])'
        " |> cumulativeSum() |> max()",
    )
    got = {r.event_type: r.f_float for r in cs.collect()}
    assert abs(got["signup"] - sum(v for _, v in raw)) < 1e-6


def test_flux_sort_then_limit_is_top_n(pts):
    """sort(desc) |> limit(n) is the canonical Flux top-N idiom: limit
    takes the first n rows of the CURRENT order, not first-n-by-time
    (r5 live-probe divergence)."""
    import collections

    gt = collections.defaultdict(list)
    for r in pts.select("event_type", "f_float").collect():
        gt[r.event_type].append(r.f_float)

    top = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"])'
        ' |> sort(columns: ["_value"], desc: true) |> limit(n: 2)',
    )
    got = sorted((r.event_type, r.f_float) for r in top.collect())
    want = sorted((k, v) for k in gt for v in sorted(gt[k], reverse=True)[:2])
    assert got == want

    tail = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"])'
        ' |> sort(columns: ["_value"], desc: true) |> tail(n: 2)',
    )
    gotb = sorted((r.event_type, r.f_float) for r in tail.collect())
    wantb = sorted((k, v) for k in gt for v in sorted(gt[k])[:2])
    assert gotb == wantb


def test_influxql_selector_with_accompanying_columns(pts):
    """Selector queries return the selected POINT: bare tags/fields
    ride along (r5 parity fix — these raised before)."""
    out = execute_influxql(
        pts, "SELECT last(value) AS lv, user_id FROM events GROUP BY event_type"
    )
    rows = {r.event_type: (r.lv, r.user_id) for r in out.collect()}
    gt = pts.filter(F.col("event_type") == "view").orderBy(F.desc("time_ns")).first()
    assert rows["view"] == (gt.f_float, gt.user_id)

    out = execute_influxql(pts, "SELECT top(value, 3), event_type FROM events")
    got = sorted((r.top, r.event_type) for r in out.collect())
    want = sorted(
        sorted(
            ((r.f_float, r.event_type) for r in pts.select("f_float", "event_type").collect()),
            reverse=True,
        )[:3]
    )
    assert got == want

    out = execute_influxql(
        pts, "SELECT percentile(value, 95), event_type FROM events GROUP BY event_type"
    )
    import math

    p95 = {r.event_type: r.percentile for r in out.collect()}
    vals = sorted(r.f_float for r in pts.filter(F.col("event_type") == "click").collect())
    assert p95["click"] == vals[max(1, math.ceil(0.95 * len(vals))) - 1]


def test_influxql_order_by_time_without_time_column_is_noop(pts):
    out = execute_influxql(
        pts, "SELECT count(value) FROM events GROUP BY event_type ORDER BY time DESC"
    )
    got = {r.event_type: r[1] for r in out.collect()}
    want = {
        r.event_type: r["cnt"]
        for r in pts.groupBy("event_type").agg(F.count("f_float").alias("cnt")).collect()
    }
    assert got == want


def test_flux_reaggregation_rebinds_value(pts):
    """count() |> group() |> sum() — _value resolves to the aggregate's
    result column after the raw series is gone (r5 probe fix)."""
    out = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"])'
        " |> count() |> group() |> sum()",
    )
    assert out.collect()[0][0] == pts.count()


def test_flux_exists_and_now_literals(pts):
    out = execute_flux(
        pts, 'from(bucket:"b") |> filter(fn: (r) => exists r.user_id) |> count()'
    )
    assert out.collect()[0]["count"] == pts.count()
    out = execute_flux(
        pts, 'from(bucket:"b") |> filter(fn: (r) => not exists r.user_id) |> count()'
    )
    assert out.count() == 0
    # range(stop: now()) parses; data is historical → full count
    out = execute_flux(
        pts, 'from(bucket:"b") |> range(start: 0, stop: now()) |> count()'
    )
    assert out.collect()[0]["count"] == pts.count()


def test_flux_window_keeps_stop_and_duplicate_rebinds_time(pts):
    out = execute_flux(
        pts,
        'from(bucket:"b") |> range(start:0) |> window(every: 10d) |> mean()'
        ' |> duplicate(column: "_stop", as: "_time")',
    )
    rows = out.collect()
    assert all(r.time_ns == r._stop_ns for r in rows)
    assert {"_start_ns", "_stop_ns", "mean"} <= set(out.columns)


def test_flux_keep_drop_predicate_form(pts):
    out = execute_flux(
        pts, 'from(bucket:"b") |> keep(fn: (column) => column =~ /^_/) |> limit(n: 1)'
    )
    # flux-visible underscore columns only: _measurement/_time/_field/_value
    assert set(out.columns) == {"measurement", "time", "field", "f_float"}
    out = execute_flux(
        pts, 'from(bucket:"b") |> drop(fn: (column) => column == "user_id") |> limit(n: 1)'
    )
    assert "user_id" not in out.columns


def test_influxql_now_relative_time_bounds(pts):
    """WHERE time > now() - 30d — the standard Grafana time-picker
    shape (r5 probe fix). now_ns pins the clock for determinism."""
    now = T0 + 15 * 86400 * 10**9
    out = execute_influxql(
        pts, "SELECT count(value) FROM events WHERE time >= now() - 5d",
        now_ns=now,
    )
    gt = pts.filter(F.col("time_ns") >= now - 5 * 86400 * 10**9).count()
    assert out.collect()[0][0] == gt

    out = execute_influxql(
        pts, "SELECT count(value) FROM events WHERE time < now()", now_ns=now
    )
    assert out.collect()[0][0] == pts.filter(F.col("time_ns") < now).count()

    # bare now() defaults to the wall clock: all historical data
    out = execute_influxql(pts, "SELECT count(value) FROM events WHERE time < now()")
    assert out.collect()[0][0] == pts.count()


def test_influxql_select_star_projects_tags_and_value(pts):
    out = execute_influxql(pts, "SELECT * FROM events WHERE event_type = 'click' LIMIT 3")
    assert out.columns == ["time", "event_type", "user_id", "value"]
    rows = out.collect()
    assert len(rows) == 3 and all(r.event_type == "click" for r in rows)


def test_flux_conversion_stages_and_columns(pts):
    out = execute_flux(pts, 'from(bucket:"b") |> toInt() |> sum()')
    gt = pts.agg(F.sum(F.col("f_float").cast("long"))).first()[0]
    assert out.collect()[0][-1] == gt
    out = execute_flux(pts, 'from(bucket:"b") |> toString() |> limit(n: 1)')
    assert dict(out.dtypes)["f_float"] == "string"
    labels = {r[0] for r in execute_flux(pts, 'from(bucket:"b") |> columns()').collect()}
    assert {"_measurement", "_time", "_field", "_value"} <= labels


def test_flux_date_package_in_map(pts):
    out = execute_flux(
        pts,
        'from(bucket:"b") |> map(fn: (r) => '
        "({r with d: date.truncate(t: r._time, unit: 1h), h: date.hour(t: r._time)}))"
        " |> limit(n: 5)",
    )
    for r in out.collect():
        assert r.d.minute == 0 and r.d.second == 0 and r.d.microsecond == 0
        assert r.d.hour == r.time.hour == r.h
    wd = execute_flux(
        pts,
        'from(bucket:"b") |> map(fn: (r) => ({r with wd: date.weekDay(t: r._time)}))'
        ' |> group(columns: ["wd"]) |> count()',
    )
    assert {r.wd for r in wd.collect()} == set(range(7))  # Sunday = 0


def test_flux_column_arg_resolves_map_derived_columns(pts):
    """ADVICE r4: `column:` args naming a map()-derived column must use
    THAT column (and error when absent), never silently fall back to
    aggregating _value. Covers unique/distinct plus the agg stages."""
    # distinct over a derived column: values are f_float*0+2 -> one row
    out = execute_flux(
        pts,
        'from(bucket:"b") |> map(fn: (r) => ({r with y: r._value * 0.0 + 2.0}))'
        ' |> distinct(column: "y")',
    )
    assert [r.y for r in out.collect()] == [2.0]
    # unique over a constant derived column: every row ties -> zero rows
    out = execute_flux(
        pts,
        'from(bucket:"b") |> limit(n: 5)'
        " |> map(fn: (r) => ({r with y: 7.0})) |> unique(column: \"y\")",
    )
    assert out.count() == 0
    # sum over a derived column must NOT sum _value (the original bug)
    out = execute_flux(
        pts,
        'from(bucket:"b") |> limit(n: 3)'
        ' |> map(fn: (r) => ({r with y: 10.0})) |> sum(column: "y")',
    )
    assert out.collect()[0]["sum"] == 30.0
    # unknown column -> loud FluxError, not a silent _value fallback
    for stage in ('unique(column: "nope")', 'distinct(column: "nope")'):
        with pytest.raises(FluxError):
            execute_flux(pts, f'from(bucket:"b") |> {stage}')


def test_flux_covariance_custom_value_dst(pts):
    """covariance valueDst names the OUTPUT column verbatim (it used to
    collapse any custom name to f_float)."""
    out = execute_flux(
        pts,
        'from(bucket:"b") |> map(fn: (r) => ({r with v2: r._value * 2.0}))'
        ' |> covariance(columns: ["_value", "v2"], valueDst: "cov2")',
    )
    row = out.collect()[0]
    var = pts.agg(F.var_samp("f_float")).first()[0]
    assert abs(row["cov2"] - 2.0 * var) < 1e-6 * abs(2.0 * var)


def test_flux_keys_keyvalues_contains(pts):
    out = execute_flux(
        pts, 'from(bucket:"b") |> group(columns: ["event_type"]) |> keys()'
    )
    assert [r[0] for r in out.collect()] == ["event_type"]

    out = execute_flux(
        pts, 'from(bucket:"b") |> keyValues(keyColumns: ["event_type"])'
    )
    got = {(r._key, r._value) for r in out.collect()}
    expect = {
        ("event_type", r.event_type)
        for r in pts.select("event_type").distinct().collect()
    }
    assert got == expect

    out = execute_flux(
        pts,
        'from(bucket:"b") |> filter(fn: (r) => '
        'contains(value: r.event_type, set: ["click", "view"])) |> count()',
    )
    n = out.collect()[0][-1]
    assert n == pts.filter(F.col("event_type").isin("click", "view")).count()


def test_flux_agg_window_table_fn_quantile(pts):
    """aggregateWindow(fn: (tables=<-) => tables |> quantile(...)) —
    the exact_selector result per window is a real data point equal to
    the direct windowed rank computation."""
    out = execute_flux(
        pts,
        'from(bucket:"b") |> range(start: 2024-01-01T00:00:00Z, stop: 2024-02-01T00:00:00Z)'
        " |> aggregateWindow(every: 1d, fn: (tables=<-) => tables"
        ' |> quantile(q: 0.5, method: "exact_selector"))',
    )
    got = {(r.time_ns, r.f_float) for r in out.collect()}
    from pyspark.sql import Window as W

    day = 86400 * 10**9
    win = pts.withColumn("_w", F.expr(f"time_ns div {day} * {day}"))
    r = win.withColumn(
        "_rk", F.row_number().over(W.partitionBy("_w").orderBy("f_float"))
    ).withColumn("_n", F.count(F.lit(1)).over(W.partitionBy("_w")))
    direct = {
        (r2._w + day, r2.f_float)
        for r2 in r.filter(
            F.col("_rk") == F.greatest(F.lit(1), F.ceil(0.5 * F.col("_n")))
        ).collect()
    }
    assert got == direct
    # named-fn shorthand inside the lambda works too
    out2 = execute_flux(
        pts,
        'from(bucket:"b") |> range(start: 2024-01-01T00:00:00Z)'
        " |> aggregateWindow(every: 1d, fn: (tables=<-) => tables |> mean())",
    )
    base = execute_flux(
        pts,
        'from(bucket:"b") |> range(start: 2024-01-01T00:00:00Z)'
        " |> aggregateWindow(every: 1d, fn: mean)",
    )
    assert {tuple(r) for r in out2.collect()} == {tuple(r) for r in base.collect()}


def test_influxql_top_bottom_per_tag(pts):
    """TOP/BOTTOM(field, tag_key, N): one point per tag value, best N
    tag values — matches the two-phase window-rank computation."""
    out = execute_influxql(pts, "SELECT top(value, event_type, 2) FROM events")
    rows = out.collect()
    assert len(rows) == 2
    assert len({r.event_type for r in rows}) == 2  # distinct tag values
    per_tag_max = {
        r.event_type: r.mx
        for r in pts.groupBy("event_type").agg(F.max("f_float").alias("mx")).collect()
    }
    top2 = sorted(per_tag_max.values(), reverse=True)[:2]
    assert sorted((r.top for r in rows), reverse=True) == top2

    outb = execute_influxql(pts, "SELECT bottom(value, event_type, 2) FROM events")
    rowsb = outb.collect()
    per_tag_min = {
        r.event_type: r.mn
        for r in pts.groupBy("event_type").agg(F.min("f_float").alias("mn")).collect()
    }
    assert sorted(r.bottom for r in rowsb) == sorted(per_tag_min.values())[:2]


def test_flux_map_strings_index_prefix_bool_conditions(pts):
    out = execute_flux(
        pts,
        'from(bucket:"b") |> limit(n: 4) |> map(fn: (r) => ({r with '
        'i: strings.index(v: r.event_type, substr: "i"), '
        'p: if strings.hasPrefix(v: r.event_type, prefix: "cl") then 1.0 else 0.0, '
        'c: if strings.containsStr(v: r.event_type, substr: "ick") then 1.0 else 0.0}))',
    )
    for r in out.collect():
        assert r.i == r.event_type.find("i")
        assert r.p == (1.0 if r.event_type.startswith("cl") else 0.0)
        assert r.c == (1.0 if "ick" in r.event_type else 0.0)


def test_flux_time_literal_predicates_and_window_inf(pts):
    out = execute_flux(
        pts,
        'from(bucket:"b") |> filter(fn: (r) => r._time > 2024-01-15T00:00:00Z'
        " and r._time < 2024-01-20T00:00:00Z) |> count()",
    )
    n = out.collect()[0][-1]
    direct = pts.filter(
        (F.col("time_ns") > 1705276800_000_000_000)
        & (F.col("time_ns") < 1705708800_000_000_000)
    ).count()
    assert n == direct
    # window(every: inf) flattens windowed results back to one table
    # per series: the classic window |> max |> un-window idiom equals
    # the per-day max stream re-limited globally
    out = execute_flux(
        pts,
        'from(bucket:"b") |> range(start: 2024-01-01T00:00:00Z)'
        " |> window(every: 1d) |> max() |> window(every: inf)",
    )
    assert "_start_ns" not in out.columns
    day = 86400 * 10**9
    n_days = pts.select(F.expr(f"time_ns div {day}")).distinct().count()
    assert out.count() == n_days  # one max row per day, single table


def test_influxql_arithmetic_where(pts):
    out = execute_influxql(pts, "SELECT count(value) AS n FROM events WHERE value * 2 > 100")
    n = out.collect()[0]["n"]
    assert n == pts.filter(F.col("f_float") * 2 > 100).count()
    out = execute_influxql(
        pts, "SELECT count(value) AS n FROM events WHERE (value + 10) / 2 <= 60"
    )
    n = out.collect()[0]["n"]
    assert n == pts.filter((F.col("f_float") + 10) / 2 <= 60).count()
    # composes with tag predicates on the same AND chain
    out = execute_influxql(
        pts,
        "SELECT count(value) AS n FROM events "
        "WHERE event_type = 'click' AND value * 2 > 100",
    )
    n = out.collect()[0]["n"]
    assert n == pts.filter(
        (F.col("event_type") == "click") & (F.col("f_float") * 2 > 100)
    ).count()


def test_influxql_count_distinct(pts):
    out = execute_influxql(pts, "SELECT count(distinct(user_id)) FROM events")
    exact = pts.select("user_id").distinct().count()
    assert out.collect()[0]["count"] == exact
    # grouped form keeps per-tag keys
    out = execute_influxql(
        pts, "SELECT count(distinct(user_id)) AS n FROM events GROUP BY event_type"
    )
    got = {r.event_type: r.n for r in out.collect()}
    want = {
        r.event_type: r.n
        for r in pts.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_influxql_subquery_timeless_inner_gets_epoch0(pts):
    # inner aggregate grouped only by tag → rows carry timestamp 0,
    # and the outer WHERE filters the aggregated column (HAVING idiom)
    out = execute_influxql(
        pts,
        "SELECT count(m) FROM "
        "(SELECT mean(value) AS m FROM events GROUP BY event_type) "
        "WHERE m > 40",
    )
    inner = pts.groupBy("event_type").agg(F.mean("f_float").alias("m"))
    want = inner.filter(F.col("m") > 40).count()
    assert out.collect()[0]["count"] == want


def test_influxql_show_tolerates_on_database_clause(pts):
    from aws_greengrass_labs_database_influxdb_spark.frontends.influxql import execute_show

    out = execute_show(pts, "SHOW TAG KEYS ON mydb")
    assert {r.tagKey for r in out.collect()} == {"event_type", "user_id"}


def test_monitor_check_message_and_from_level(pts):
    """monitor.check messageFn/data columns + stateChanges fromLevel
    (the suite row covers toLevel; this pins the other arguments)."""
    out = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"])'
        ' |> monitor.check(crit: (r) => r._value > 90.0,'
        ' data: {_check_name: "hi"},'
        ' messageFn: (r) => r._level)'
    )
    rows = out.limit(50).collect()
    assert all(r["_check_name"] == "hi" for r in rows)
    assert all(r["_message"] == r["_level"] for r in rows)
    assert {r["_level"] for r in out.select("_level").distinct().collect()} <= {"ok", "crit"}
    # fromLevel: transitions OUT of crit only
    chg = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"])'
        ' |> monitor.check(crit: (r) => r._value > 90.0)'
        ' |> monitor.stateChanges(fromLevel: "crit")',
    ).collect()
    assert chg, "expected some crit→ok transitions in the test data"
    assert all(r["_level"] == "ok" for r in chg)
    from aws_greengrass_labs_database_influxdb_spark.frontends import FluxError
    with pytest.raises(FluxError, match="monitor.check"):
        execute_flux(pts, 'from(bucket:"b") |> monitor.stateChanges()')


def test_flux_text_aux_sources(pts, tmp_path):
    """csv.from / array.from / sql.from invoked from SCRIPT TEXT (the
    stdlib spellings, not just the Python wrappers)."""
    from aws_greengrass_labs_database_influxdb_spark.frontends import execute_flux_multi

    # array.from: literal rows through the full pipeline machinery
    out = execute_flux(
        pts,
        'array.from(rows: [{region: "eu", w: 1.5}, {region: "us", w: 2.5}])'
        ' |> sort(columns: ["region"])',
    ).collect()
    assert [(r.region, r.w) for r in out] == [("eu", 1.5), ("us", 2.5)]

    # csv.from: file scan from text
    p = tmp_path / "dim.csv"
    p.write_text("k,v\na,1\nb,2\n")
    out = execute_flux(
        pts, f'csv.from(file: "{p}") |> sort(columns: ["k"])'
    ).collect()
    assert [(r.k, r.v) for r in out] == [("a", 1), ("b", 2)]

    # sql.from: embedded Derby from text, joined against a points branch
    url = f"jdbc:derby:{tmp_path}/fluxsql;create=true"
    spark = pts.sparkSession
    dim = spark.createDataFrame(
        [("click", 10.0), ("view", 20.0)], "event_type string, weight double"
    )
    dim.coalesce(1).write.format("jdbc").option("url", url).option(
        "dbtable", "dim").option(
        "driver", "org.apache.derby.jdbc.EmbeddedDriver").mode(
        "overwrite").save()
    q = (
        f'w = sql.from(driverName: "derby", dataSourceName: "jdbc:derby:{tmp_path}/fluxsql",'
        ' query: "SELECT \\"event_type\\", \\"weight\\" FROM dim")\n'
        'e = from(bucket:"b") |> group(columns: ["event_type"]) |> count()\n'
        'join(tables: {e: e, w: w}, on: ["event_type"])'
    )
    rows = execute_flux_multi(pts, q)["_result"].collect()
    got = {r["event_type"]: (r["count"], r["weight"]) for r in rows}
    direct = {
        r.event_type: r.n
        for r in pts.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == {"click": (direct["click"], 10.0), "view": (direct["view"], 20.0)}


def test_flux_negated_regex_filter(pts):
    """``!~`` in filter predicates (r6 probe gap): complement of ``=~``
    over non-null tags; missing tags propagate null and drop."""
    pos = execute_flux(
        pts, 'from(bucket:"b") |> filter(fn: (r) => r.event_type =~ /^cl/)'
    ).count()
    neg = execute_flux(
        pts, 'from(bucket:"b") |> filter(fn: (r) => r.event_type !~ /^cl/)'
    ).count()
    assert pos + neg == pts.count()
    # a never-present tag on a materialized-tags frame: typed error
    with pytest.raises(FluxError, match="no_such_tag"):
        execute_flux(
            pts, 'from(bucket:"b") |> filter(fn: (r) => r.no_such_tag !~ /x/)'
        ).count()


def test_flux_today_yesterday_literals(pts):
    """today()/yesterday() range literals: midnight-UTC alignment."""
    day = 86400 * 10**9
    now_ns = T0 + day + day // 2 + 12345  # mid-day so midnight != now
    out = execute_flux(
        pts, 'from(bucket:"b") |> range(start: yesterday(), stop: today())',
        now_ns=now_ns,
    )
    direct = pts.filter(
        (F.col("time_ns") >= T0) & (F.col("time_ns") < T0 + day)
    ).count()
    assert out.count() == direct > 0


def test_flux_state_tracking_combined(pts):
    """stateTracking(countColumn:, durationColumn:) == the stateCount +
    stateDuration pair on the same predicate."""
    script = (
        'from(bucket:"b") |> range(start:0) '
        '|> stateTracking(fn: (r) => r._value > 100.0, countColumn: "c", '
        'durationColumn: "d", durationUnit: 1s)'
    )
    out = execute_flux(pts, script)
    sc = execute_flux(
        pts, 'from(bucket:"b") |> range(start:0) |> stateCount(fn: (r) => r._value > 100.0)'
    )
    assert out.count() == sc.count()
    joined = out.select("time_ns", "event_type", "c", "d").join(
        sc.select("time_ns", "event_type", F.col("stateCount").alias("sc")),
        ["time_ns", "event_type"],
    )
    assert joined.filter(F.col("c") != F.col("sc")).count() == 0
    # duration: -1 exactly where count is -1
    assert joined.count() > 0
    assert out.filter((F.col("c") == -1) != (F.col("d") == -1)).count() == 0


def test_flux_events_duration(pts):
    """events.duration(): gap to the next event per series; the final
    event closes against the range stop."""
    stop_ns = T0 + 40 * 86400 * 10**9
    out = execute_flux(
        pts,
        'from(bucket:"b") |> range(start: 2024-01-01T00:00:00Z, '
        'stop: 2024-02-10T00:00:00Z) |> group(columns: ["event_type"]) '
        "|> events.duration(unit: 1s)",
    )
    rows = out.select("event_type", "time_ns", "duration").collect()
    by_series: dict = {}
    for r in rows:
        by_series.setdefault(r.event_type, []).append((r.time_ns, r.duration))
    for series, items in by_series.items():
        items.sort()
        for i, (t, d) in enumerate(items):
            nxt = items[i + 1][0] if i + 1 < len(items) else stop_ns
            assert d == (nxt - t) // 10**9, (series, i)


def test_flux_fields_as_cols_stage(pts):
    """schema.fieldsAsCols()/v1.fieldsAsCols() from text == the pivot
    spelling it abbreviates."""
    base = 'from(bucket:"b") |> range(start:0) '
    wide = execute_flux(pts, base + "|> schema.fieldsAsCols()")
    v1w = execute_flux(pts, base + "|> v1.fieldsAsCols()")
    assert sorted(wide.columns) == sorted(v1w.columns)
    assert "value" in wide.columns  # the single field key becomes a column
    assert wide.count() == v1w.count()


def test_flux_extraction_stages(pts):
    """getColumn/findColumn/findRecord/tableFind stream terminators."""
    base = 'from(bucket:"b") |> group(columns: ["event_type"]) |> mean() '
    col = execute_flux(pts, base + '|> getColumn(column: "_value")')
    # _value resolves to the aggregate's physical result column
    n_types = pts.select("event_type").distinct().count()
    assert col.columns == ["mean"] and col.count() == n_types
    one = execute_flux(
        pts,
        base + '|> findColumn(fn: (key) => key.event_type == "click", '
        'column: "_value")',
    ).collect()
    direct = pts.filter(F.col("event_type") == "click").agg(
        F.avg("f_float")
    ).collect()[0][0]
    assert len(one) == 1 and abs(one[0][0] - direct) < 1e-9
    rec = execute_flux(
        pts,
        base + '|> findRecord(fn: (key) => key.event_type == "view", idx: 0)',
    ).collect()
    assert len(rec) == 1 and rec[0]["event_type"] == "view"
    tbl = execute_flux(
        pts,
        'from(bucket:"b") |> tableFind(fn: (key) => key._measurement == "events")',
    )
    assert tbl.count() == pts.count()


def test_flux_map_conversion_scalars(pts):
    """time()/duration()/display()/bool() in map, and the typed error
    for unknown functions (raw ValueError before r6)."""
    out = execute_flux(
        pts,
        'from(bucket:"b") |> limit(n: 3) |> map(fn: (r) => ({r with '
        "t2: time(v: 1600000000000000000), d: duration(v: 90000000000), "
        "s: display(v: r._value), b: bool(v: 1)}))",
    ).collect()
    for r in out:
        assert r.t2.year == 2020 and r.d == 90000000000 and r.b is True
        assert r.s == str(r.f_float)
    with pytest.raises(FluxError, match="frobnicate"):
        execute_flux(
            pts,
            'from(bucket:"b") |> map(fn: (r) => ({r with x: frobnicate(v: 1)}))',
        )


def test_flux_map_bitwise_package(pts):
    """``bitwise.`` stdlib in map(): s*/u* families as JVM Column bit
    ops. urshift vs srshift differ exactly on negative inputs (logical
    vs arithmetic right shift); everything checked against Python ints
    (& 0xFFFF... masking for the unsigned view)."""
    out = execute_flux(
        pts,
        'from(bucket:"b") |> limit(n: 5) |> map(fn: (r) => ({r with '
        "a1: bitwise.sand(a: r.ingest_seq, b: 12), "
        "o1: bitwise.sor(a: r.ingest_seq, b: 3), "
        "x1: bitwise.sxor(a: r.ingest_seq, b: 255), "
        "n1: bitwise.snot(a: r.ingest_seq), "
        "c1: bitwise.uclear(a: r.ingest_seq, b: 7), "
        "s1: bitwise.uset(a: r.ingest_seq, b: 8), "
        "l1: bitwise.slshift(a: r.ingest_seq, b: 4), "
        "rs: bitwise.srshift(a: bitwise.snot(a: r.ingest_seq), b: 8), "
        "ru: bitwise.urshift(a: bitwise.unot(a: r.ingest_seq), b: 8)}))",
    ).collect()
    assert out
    M = (1 << 64) - 1
    for r in out:
        v = r.ingest_seq
        assert r.a1 == v & 12
        assert r.o1 == v | 3
        assert r.x1 == v ^ 255
        assert r.n1 == ~v
        assert r.c1 == v & ~7
        assert r.s1 == v | 8
        assert r.l1 == v << 4
        assert r.rs == (~v) >> 8  # arithmetic: sign-extends
        # logical: shift the 64-bit two's-complement pattern
        ru = ((~v) & M) >> 8
        assert r.ru == ru if ru <= (1 << 63) - 1 else r.ru == ru - (1 << 64)
        assert r.rs != r.ru  # negative input discriminates the two


def test_flux_http_post_statement(pts):
    """``http.post`` as a script statement: parsed args reach the
    transport (url / headers record / bytes() data), the returned
    status binds via ``code = http.post(...)``, and malformed calls are
    typed FluxErrors. Transport injected — the real-socket path is
    covered in test_httpapi.py."""
    from aws_greengrass_labs_database_influxdb_spark.frontends import flux as fluxmod

    calls = []

    def fake(url, headers, body):
        calls.append((url, headers, body))
        return 204

    fluxmod.HTTP_POST_TRANSPORT = fake
    try:
        out = execute_flux(
            pts,
            'import "http"\n'
            'http.post(url: "http://example.test/hook", '
            'headers: {authorization: "Token t0", x: "y"}, '
            'data: bytes(v: "m,f=1 v=2"))\n'
            'code = http.post(url: "http://example.test/hook2")\n'
            'from(bucket:"b") |> limit(n: 1)',
        )
        assert out.count() == 1
        assert calls[0] == (
            "http://example.test/hook",
            {"authorization": "Token t0", "x": "y"},
            b"m,f=1 v=2",
        )
        assert calls[1][0] == "http://example.test/hook2"
        # the bound scalar frame carries the status
        got = execute_flux(
            pts,
            'c = http.post(url: "http://example.test/h3")\nc',
        ).collect()
        assert [r.status for r in got] == [204]
        with pytest.raises(FluxError, match="url"):
            execute_flux(pts, 'http.post(data: "x")')
        with pytest.raises(FluxError, match="http"):
            execute_flux(pts, 'http.post(url: "ftp://bad")')
        with pytest.raises(FluxError, match="data"):
            execute_flux(
                pts, 'http.post(url: "http://e.test", data: 12)')
    finally:
        fluxmod.HTTP_POST_TRANSPORT = None


def test_influxql_type_disambiguators(pts):
    """``ident::field`` / ``ident::tag`` (query-builder syntax) parse
    and equal the bare spelling; ``::<type>`` casts are a typed error."""
    a = execute_influxql(
        pts, 'SELECT mean("value"::field) FROM events '
        "WHERE event_type::tag = 'click' GROUP BY event_type::tag"
    ).collect()
    b = execute_influxql(
        pts, "SELECT mean(value) FROM events "
        "WHERE event_type = 'click' GROUP BY event_type"
    ).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    with pytest.raises(InfluxQLError, match="::integer"):
        execute_influxql(pts, "SELECT value::integer FROM events")


def test_flux_predicate_precedence_and_parens(pts):
    """Flux gives `and` higher precedence than `or`, and parens group
    (r6 fix: the old left-fold evaluated `A or B and C` as
    `(A or B) and C`)."""
    def cnt(pred):
        return execute_flux(
            pts, f'from(bucket:"b") |> filter(fn: (r) => {pred})'
        ).count()

    a_or_bc = cnt('r.event_type == "view" or r._value > 150.0 '
                  'and r.event_type == "click"')
    grouped = cnt('(r.event_type == "view" or r._value > 150.0) '
                  'and r.event_type == "click"')
    direct_prec = pts.filter(
        (F.col("event_type") == "view")
        | ((F.col("f_float") > 150.0) & (F.col("event_type") == "click"))
    ).count()
    direct_grouped = pts.filter(
        ((F.col("event_type") == "view") | (F.col("f_float") > 150.0))
        & (F.col("event_type") == "click")
    ).count()
    assert a_or_bc == direct_prec
    assert grouped == direct_grouped
    assert a_or_bc != grouped  # the data discriminates the two shapes
    with pytest.raises(FluxError, match="parens|parse"):
        cnt('r._value > 1.0 and (r.event_type == "view"')


def test_influxql_bare_or_tag_disjunction(pts):
    """Unparenthesized OR between tag conditions (r6 fix: used to
    silently keep only the first disjunct); trailing garbage after a
    tag condition is now a typed error too."""
    a = execute_influxql(
        pts, "SELECT count(value) FROM events "
        "WHERE event_type = 'click' OR event_type = 'view'",
    ).collect()[0]["count"]
    direct = pts.filter(F.col("event_type").isin("click", "view")).count()
    assert a == direct
    with pytest.raises(InfluxQLError):
        execute_influxql(
            pts, "SELECT count(value) FROM events "
            "WHERE event_type = 'click' nonsense trailing",
        )
    # numeric OR members are FIELD conditions since r10 (stock supports
    # `(v > 5 OR v < 1)`; this used to pin the parse-error limitation)
    n = execute_influxql(
        pts, "SELECT count(value) AS n FROM events "
        "WHERE value > 5 OR value < 1",
    ).collect()[0]["n"]
    direct = pts.filter((F.col("f_float") > 5) | (F.col("f_float") < 1)).count()
    assert n == direct
    # genuinely unparseable OR members still raise typed errors
    with pytest.raises(InfluxQLError, match="OR condition"):
        execute_influxql(
            pts, "SELECT count(value) FROM events "
            "WHERE value ZZNOPE 5 OR value < 1",
        )


def test_flux_not_operator(pts):
    """``not`` in filter predicates: negates its operand (r6: was
    silently ignored before the token rewrite)."""
    neg = execute_flux(
        pts,
        'from(bucket:"b") |> filter(fn: (r) => not (r.event_type == "click"))',
    ).count()
    assert neg == pts.filter(F.col("event_type") != "click").count()
    combo = execute_flux(
        pts,
        'from(bucket:"b") |> filter(fn: (r) => not r.event_type == "click" '
        "and r._value > 150.0)",
    ).count()
    # Flux unary-not binds tightest: (not A) and B
    direct = pts.filter(
        (~(F.col("event_type") == "click")) & (F.col("f_float") > 150.0)
    ).count()
    assert combo == direct


def test_flux_map_boolean_and_string_concat(pts):
    """map() field values: boolean comparisons (threshold-flag idiom)
    and `+` string concatenation (r6: comparison was a typed error,
    concat an AnalysisException)."""
    out = execute_flux(
        pts,
        'from(bucket:"b") |> limit(n: 5) |> map(fn: (r) => ({r with '
        'hot: r._value > 150.0, label: r.event_type + "-x", '
        'msg: "v=" + string(v: r._value)}))',
    ).collect()
    for r in out:
        assert r.hot == (r.f_float > 150.0)
        assert r.label == r.event_type + "-x"
        assert r.msg == "v=" + str(r.f_float)


def test_flux_pivot_multi_column_key(pts):
    """pivot(columnKey: [a, b]): output columns are the key VALUES
    joined with '_' (r6: extra keys were silently dropped)."""
    out = execute_flux(
        pts,
        'from(bucket:"b") |> pivot(rowKey: ["_time"], '
        'columnKey: ["_field", "event_type"], valueColumn: "_value")',
    )
    types = [r[0] for r in pts.select("event_type").distinct().collect()]
    assert {f"value_{t}" for t in types} <= set(out.columns)
    # spot value: first click row survives into its pivoted column
    row = (
        out.filter(F.col("value_click").isNotNull())
        .orderBy("time").limit(1).collect()[0]
    )
    t = row["time"]
    direct = pts.filter(
        (F.col("time") == t) & (F.col("event_type") == "click")
    ).select("f_float").collect()[0][0]
    assert row["value_click"] == direct


def test_influxql_subquery_raw_inner_and_field_equality(pts):
    """(r6 fixes) A raw-projection subquery's alias columns resolve in
    the outer query (value no longer force-mapped to f_float), and
    field = / != numeric comparisons parse."""
    out = execute_influxql(
        pts,
        "SELECT mean(value) FROM (SELECT value FROM events "
        "WHERE event_type = 'click') WHERE time >= '2024-01-05'",
    ).collect()[0]["mean"]
    direct = (
        pts.filter(
            (F.col("event_type") == "click")
            & (F.col("time_ns") >= 1704412800_000_000_000)
        ).agg(F.avg("f_float")).collect()[0][0]
    )
    assert out == direct
    n = execute_influxql(
        pts, "SELECT count(value) FROM events WHERE user_id = 5"
    ).collect()[0]["count"]
    assert n == pts.filter(F.col("user_id") == 5).count()
    n2 = execute_influxql(
        pts, "SELECT count(value) FROM events WHERE user_id != 5"
    ).collect()[0]["count"]
    assert n2 == pts.filter(F.col("user_id") != 5).count()


def test_flux_csv_from_inline_annotated(pts):
    """csv.from(csv: "...") — inline annotated-CSV text round-trips
    through the same parser the facade emits with (r6)."""
    from aws_greengrass_labs_database_influxdb_spark.frontends.annotated_csv import (
        to_annotated_csv,
    )

    spark = pts.sparkSession
    small = spark.createDataFrame(
        [("a", 1, 1.5), ("b", 2, 2.5)], "k string, n long, v double"
    )
    text = to_annotated_csv(small)
    esc = text.replace('"', '\\"').replace("\r\n", "\\n").replace("\n", "\\n")
    out = execute_flux(
        pts, f'csv.from(csv: "{esc}") |> sort(columns: ["k"])'
    ).collect()
    assert [(r.k, r.n, r.v) for r in out] == [("a", 1, 1.5), ("b", 2, 2.5)]


def test_influxql_neq_spelling_and_with_measurement(pts):
    """`<>` as not-equals and SHOW ... WITH MEASUREMENT (r6)."""
    a = execute_influxql(
        pts, "SELECT count(value) FROM events WHERE event_type <> 'click'"
    ).collect()[0]["count"]
    assert a == pts.filter(F.col("event_type") != "click").count()
    from aws_greengrass_labs_database_influxdb_spark.frontends.influxql import (
        execute_show,
    )

    rows = execute_show(pts, "SHOW MEASUREMENTS WITH MEASUREMENT =~ /ev.*/")
    assert [r["name"] for r in rows.collect()] == ["events"]
    rows = execute_show(pts, "SHOW MEASUREMENTS WITH MEASUREMENT = nosuch")
    assert rows.count() == 0


def test_flux_join_package(pts):
    """Modern join package (import "join"): join.inner with on/as
    lambdas; `l with` merge form; typed errors off the supported
    surface (r6)."""
    from aws_greengrass_labs_database_influxdb_spark.frontends import execute_flux_multi

    q = (
        'import "join"\n'
        'a = from(bucket: "b") |> group(columns: ["event_type"]) |> mean()\n'
        'b = from(bucket: "b") |> group(columns: ["event_type"]) |> max()\n'
        "join.inner(left: a, right: b, on: (l, r) => l.event_type == r.event_type,"
        " as: (l, r) => ({l with mx: r._value}))"
    )
    out = {r["event_type"]: (r["mean"], r["mx"])
           for r in execute_flux_multi(pts, q)["_result"].collect()}
    direct = {
        r["event_type"]: (r["m"], r["x"])
        for r in pts.groupBy("event_type")
        .agg(F.avg("f_float").alias("m"), F.max("f_float").alias("x"))
        .collect()
    }
    assert out == direct
    with pytest.raises(FluxError, match="equalities"):
        execute_flux_multi(
            pts,
            'x = from(bucket:"b") |> mean()\n'
            "join.inner(left: x, right: x, on: (l, r) => l._value > r._value,"
            " as: (l, r) => ({l with y: 1.0}))",
        )
    with pytest.raises(FluxError, match="record"):
        execute_flux_multi(
            pts,
            'x = from(bucket:"b") |> mean()\n'
            "join.inner(left: x, right: x, on: (l, r) => l._value == r._value,"
            " as: (l, r) => l._value)",
        )


def test_flux_join_time(pts):
    """join.time: equality on the time axis across two streams."""
    from aws_greengrass_labs_database_influxdb_spark.frontends import execute_flux_multi

    q = (
        'import "join"\n'
        'c = from(bucket:"b") |> filter(fn: (r) => r.event_type == "click")'
        ' |> group(columns: ["event_type"]) |> aggregateWindow(every: 1d, fn: count)\n'
        'v = from(bucket:"b") |> filter(fn: (r) => r.event_type == "view")'
        ' |> group(columns: ["event_type"]) |> aggregateWindow(every: 1d, fn: count)\n'
        "join.time(left: c, right: v,"
        " as: (l, r) => ({_time: l._time, n_c: l._value, n_v: r._value}))"
    )
    out = execute_flux_multi(pts, q)["_result"]
    assert set(out.columns) >= {"time", "n_c", "n_v"}
    rows = out.collect()
    assert rows and all(r.n_c is not None and r.n_v is not None for r in rows)


def test_flux_scientific_literals_and_gap_residue(pts):
    """(r6) `1e18`-style literals parse exactly; any unconsumed text
    inside a predicate is a typed error instead of silently narrowing
    the filter (the old lexer matched `> 1` out of `> 1e18`)."""
    none = execute_flux(
        pts, 'from(bucket:"b") |> filter(fn: (r) => r._value > 1e18)'
    ).count()
    assert none == 0
    some = execute_flux(
        pts, 'from(bucket:"b") |> filter(fn: (r) => r._value > 1.5e2)'
    ).count()
    assert some == pts.filter(F.col("f_float") > 150.0).count()
    with pytest.raises(FluxError, match="fragment"):
        execute_flux(
            pts, 'from(bucket:"b") |> filter(fn: (r) => r._value > 5 bogus)'
        )
    # sibling args after fn: stay out of the predicate
    kept = execute_flux(
        pts,
        'from(bucket:"b") |> filter(fn: (r) => r._value >= 0.0, onEmpty: "keep")',
    ).count()
    assert kept == pts.filter(F.col("f_float") >= 0.0).count()


def test_flux_conversion_stages_uint_time_duration(pts):
    """toUInt/toTime/toDuration stage spellings (r6)."""
    out = execute_flux(
        pts, 'from(bucket:"b") |> limit(n: 2) |> toUInt()'
    ).collect()
    assert all(isinstance(r.f_float, int) for r in out)
    t = execute_flux(
        pts,
        'from(bucket:"b") |> limit(n: 2) '
        '|> map(fn: (r) => ({r with _value: 1600000000000000000})) |> toTime()',
    ).collect()
    assert all(r.f_float.year == 2020 for r in t)


@pytest.fixture(scope="module")
def multifield_pts(spark):
    """A line-protocol-shaped tall frame with int (c), uint (u) and
    float (f) fields interleaved in one measurement."""
    import pandas as pd

    from aws_greengrass_labs_database_influxdb_spark.schema import POINTS_SCHEMA
    from aws_greengrass_labs_database_influxdb_spark.sources.lineprotocol import (
        parse_lines,
    )

    t0 = 1_600_000_000_000_000_000
    lines = [f"im,host=a c={i}i {t0 + i * 10**9}" for i in range(10)]
    lines += [f"im,host=a u={i}u {t0 + i * 10**9}" for i in range(4)]
    lines += [f"im,host=a f={i}.5 {t0 + i * 10**9}" for i in range(3)]
    pdf = pd.DataFrame(parse_lines(lines))
    pdf["time"] = pd.to_datetime(pdf["time_ns"] // 1000, unit="us")
    return spark.createDataFrame(
        pdf[[f.name for f in POINTS_SCHEMA.fields]], POINTS_SCHEMA
    ).cache()


def test_influxql_integer_fields_and_multifield_isolation(multifield_pts):
    """(r6 fixes) Integer/uint value slots aggregate (were all-NULL),
    and a named field reads ONLY its own rows on a multi-field
    measurement (mean(c) used to average c AND u together)."""
    pts = multifield_pts

    def one(q):
        rows = execute_influxql(pts, q).collect()
        return rows[0][rows[0].__fields__[-1]]

    assert one("SELECT mean(c) FROM im") == 4.5
    assert one("SELECT sum(c) FROM im") == 45.0
    assert one("SELECT count(c) FROM im") == 10
    assert one("SELECT max(u) FROM im") == 3.0
    assert one("SELECT min(c) FROM im") == 0.0
    assert one("SELECT first(f) FROM im") == 0.5
    assert one("SELECT percentile(c, 50) FROM im") == 4.0
    assert one("SELECT integral(c, 1s) FROM im") == 40.5  # trapezoid 0..9
    raw = execute_influxql(pts, "SELECT u FROM im").collect()
    assert [r.u for r in raw] == [0.0, 1.0, 2.0, 3.0]
    d = execute_influxql(pts, "SELECT derivative(c, 1s) FROM im").collect()
    assert all(r.derivative == 1.0 for r in d) and len(d) == 9
    # unknown field: no rows, like the v1 engine
    assert execute_influxql(pts, "SELECT nosuch FROM im").count() == 0


def test_flux_integer_fields(multifield_pts):
    """(r6 fix) Flux over int fields: _value resolves through the
    numeric-slot fold; per-field grouping keeps fields separate."""
    out = execute_flux(
        multifield_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "c") |> mean()',
    ).collect()
    assert out[0]["mean"] == 4.5
    n = execute_flux(
        multifield_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._value > 3.0) |> count()',
    ).collect()
    by_field = {r["field"]: r["count"] for r in n}
    assert by_field == {"c": 6}  # u max 3, f max 2.5 — no rows pass


def test_flux_monitor_deadman_text(pts):
    """monitor.deadman(t:) from script text (public stdlib definition:
    keep each series' last row, dead = _time < t)."""
    base = 'from(bucket:"b") |> group(columns: ["event_type"]) '
    dead = execute_flux(
        pts, base + "|> monitor.deadman(t: 2090-01-01T00:00:00Z)"
    ).collect()
    # one row per series = that series' LAST point, all dead (t in the
    # far future means nothing reported since)
    from pyspark.sql import functions as F

    last = {
        r["event_type"]: r["m"]
        for r in pts.groupBy("event_type").agg(F.max("time_ns").alias("m")).collect()
    }
    assert {r["event_type"]: r["time_ns"] for r in dead} == last
    assert all(r["dead"] is True for r in dead)
    alive = execute_flux(
        pts, base + "|> monitor.deadman(t: 1970-01-02T00:00:00Z)"
    ).collect()
    assert len(alive) == len(last) and all(r["dead"] is False for r in alive)
    with pytest.raises(FluxError, match="deadman"):
        execute_flux(pts, base + "|> monitor.deadman()")


def test_flux_sql_to_text(pts, tmp_path):
    """sql.to from script text: writes the piped table to the JDBC
    target (embedded Derby) and passes the stream through."""
    from aws_greengrass_labs_database_influxdb_spark.sources.aux_sources import sql_from

    url = f"jdbc:derby:{tmp_path}/sqlto_flux"
    out = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["event_type"]) |> count()'
        f' |> sql.to(driverName: "derby", dataSourceName: "{url};create=true",'
        ' table: "agg")',
    )
    # pass-through: the stage returns the aggregated stream unchanged
    got = {r["event_type"]: r["count"] for r in out.collect()}
    back = sql_from(
        pts.sparkSession, url,
        'SELECT "event_type", "count" FROM agg',
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    written = {r["event_type"]: r["count"] for r in back.collect()}
    assert written == got and got


def test_flux_aggwindow_timesrc_start(pts):
    """aggregateWindow(timeSrc: "_start") stamps window STARTS (r7
    probe: the text stage silently ignored timeSrc and always used
    _stop); an invalid timeSrc is a typed error."""
    base = ('from(bucket:"b") |> group(columns: ["event_type"]) '
            '|> aggregateWindow(every: 1h, fn: mean')
    start = execute_flux(pts, base + ', timeSrc: "_start")')
    stop = execute_flux(pts, base + ")")
    s = {(r["event_type"], r["time_ns"]): r["f_float"] for r in start.collect()}
    e = {(r["event_type"], r["time_ns"]): r["f_float"] for r in stop.collect()}
    hour = 3600 * 10**9
    assert len(s) == len(e) and len(s) > 0
    for (et, t), v in s.items():
        assert e[(et, t + hour)] == v  # same window, stop = start + every
    with pytest.raises(FluxError, match="timeSrc"):
        execute_flux(pts, base + ', timeSrc: "_middle")')


def test_flux_elapsed_unit_and_first_row_dropped(spark):
    """elapsed(unit:) honors the unit and drops each table's first
    record like the stdlib (r7 probe: unit was ignored and the first
    row kept with a null)."""
    t0 = 1704067200_000_000_000
    pts_mini = spark.createDataFrame(
        [(t0 + i * 3600 * 10**9, float(i), "e", "events", "value")
         for i in range(4)],
        "time_ns long, f_float double, event_type string, "
        "measurement string, field string",
    ).withColumn("time", F.expr("timestamp_micros(time_ns div 1000)"))
    out = execute_flux(
        pts_mini,
        'from(bucket:"b") |> group(columns: ["event_type"])'
        " |> elapsed(unit: 1m)",
    ).orderBy("time_ns").collect()
    assert [r["elapsed"] for r in out] == [60, 60, 60]  # minutes, 3 rows
    assert [r["time_ns"] for r in out] == [t0 + i * 3600 * 10**9 for i in (1, 2, 3)]


@pytest.mark.parametrize("selection", [
    "value", "*", "derivative(value, 1h)", "cumulative_sum(value)",
    "moving_average(value, 3)",
])
def test_influxql_slimit_applies_to_raw_selects(pts, selection):
    """SLIMIT/SOFFSET rank series on raw selects and transforms too,
    not only aggregates: every shape is limited by the one _finish."""
    base = (f"SELECT {selection} FROM events WHERE time >= '2024-01-01'"
            " AND time < '2024-01-05' GROUP BY event_type")

    def series(q):
        out = execute_influxql(pts, q)
        return {r[0] for r in out.select("event_type").distinct().collect()}

    s1 = series(base + " SLIMIT 2")
    s2 = series(base + " SLIMIT 2 SOFFSET 1")
    assert len(s1) == 2 and len(s2) == 2 and s1 != s2


def test_influxql_limit_without_time_is_per_series(pts):
    """LIMIT/OFFSET count points per series also when the answer has no
    time column: an aggregate per tag has one point in each series."""
    base = ("SELECT mean(value) AS m FROM events WHERE time >= '2024-01-01'"
            " AND time < '2024-01-05' GROUP BY event_type")
    assert execute_influxql(pts, base + " LIMIT 1").count() == 5
    assert execute_influxql(pts, base + " LIMIT 1 OFFSET 1").count() == 0


def test_influxql_point_identity_includes_promoted_tags(spark):
    """A point is its measurement, timestamp and whole tag set, promoted
    tag columns included (a NULL one too): a selector's companion field
    and a per-point WHERE never read another series' point at the same
    timestamp."""
    from pyspark.sql import types as T

    rows = []
    for host, rack, v, st in (("a", None, 1.0, "ok"), (None, "a", 2.0, "bad"),
                              ("b", "r1", 3.0, "late")):
        base = dict(measurement="m", time_ns=10**9, host=host, rack=rack)
        rows.append({**base, "field": "v", "ftype": "float", "f_float": v,
                     "f_str": None})
        rows.append({**base, "field": "status", "ftype": "string",
                     "f_float": None, "f_str": st})
    schema = T.StructType([
        T.StructField("measurement", T.StringType()),
        T.StructField("time_ns", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("rack", T.StringType()),
        T.StructField("field", T.StringType()),
        T.StructField("ftype", T.StringType()),
        T.StructField("f_float", T.DoubleType()),
        T.StructField("f_str", T.StringType()),
    ])
    frame = spark.createDataFrame(rows, schema).withColumn(
        "time", F.timestamp_micros(F.expr("time_ns div 1000")))
    picked = execute_influxql(frame, "SELECT last(v), status FROM m GROUP BY host")
    assert sorted((r["host"] or "", r["status"]) for r in picked.collect()) == [
        ("", "bad"), ("a", "ok"), ("b", "late")]
    kept = execute_influxql(frame, "SELECT v FROM m WHERE status = 'ok'")
    assert [r["v"] for r in kept.collect()] == [1.0]


def test_flux_map_record_replacement_drops_unmentioned(pts):
    """Stock map() without `r with` REPLACES the record: non-group-key
    columns not in the returned record are dropped, the group key is
    preserved, and a rewritten _time re-syncs the engine's ns twin
    (r8 — previously every column survived and time_ns went stale)."""
    base = ('from(bucket:"b") |> range(start: 2024-01-01T00:00:00Z,'
            ' stop: 2024-01-03T00:00:00Z)'
            ' |> filter(fn: (r) => r.event_type == "click") ')
    out = execute_flux(
        pts, base + "|> map(fn: (r) => ({_value: r._value * 2.0,"
                    " _time: r._time}))"
    )
    visible = [c for c in out.columns if c not in ("time_ns", "ingest_seq")]
    assert sorted(visible) == ["f_float", "field", "measurement", "time"]
    # extension form keeps everything
    ext = execute_flux(
        pts, base + "|> map(fn: (r) => ({r with d2: r._value * 2.0}))"
    )
    assert "event_type" in ext.columns and "d2" in ext.columns
    # identity map keeps time_ns in sync with time (the +1h shift case
    # is covered by test_flux_experimental_add_sub_duration below)
    kept = execute_flux(
        pts, base + "|> map(fn: (r) => ({r with _value: r._value}))"
    )
    row = kept.limit(1).collect()[0]
    assert row["time_ns"] // 1000 == int(row["time"].timestamp() * 1e6)


def test_flux_experimental_add_sub_duration(pts):
    """experimental.addDuration/subDuration in map(): timestamp moves
    by the literal duration and the engine's ns twin follows."""
    base = ('from(bucket:"b") |> range(start: 2024-01-01T00:00:00Z,'
            ' stop: 2024-01-02T00:00:00Z)'
            ' |> filter(fn: (r) => r.event_type == "click") ')
    orig = execute_flux(pts, base + "|> limit(n: 1)").collect()[0]
    add = execute_flux(
        pts, base + "|> map(fn: (r) => ({r with _time:"
                    " experimental.addDuration(d: 1h, to: r._time)}))"
                    " |> limit(n: 1)"
    ).collect()[0]
    sub = execute_flux(
        pts, base + "|> map(fn: (r) => ({r with _time:"
                    " experimental.subDuration(d: 30m, from: r._time)}))"
                    " |> limit(n: 1)"
    ).collect()[0]
    assert add["time_ns"] - orig["time_ns"] == 3_600_000_000_000
    assert orig["time_ns"] - sub["time_ns"] == 1_800_000_000_000
    assert (add["time"] - orig["time"]).total_seconds() == 3600


@pytest.fixture(scope="module")
def mixed_pts(spark):
    """A 3-field (float + string + bool) tall frame for the r10 Flux
    string-value fixes."""
    import pyspark.sql.types as T

    rows = []
    for i, (t, temp, st, okv) in enumerate([
            (1000, 1.5, "ok", True), (2000, 2.5, "bad", False),
            (3000, 3.5, "ok", True)]):
        ns = t * 1_000_000_000
        base = dict(measurement="m", time_ns=ns, tags={"host": "a"},
                    ingest_seq=i * 10)
        rows.append({**base, "field": "temp", "ftype": "float",
                     "f_float": temp, "f_str": None, "f_bool": None})
        rows.append({**base, "field": "status", "ftype": "string",
                     "f_float": None, "f_str": st, "f_bool": None})
        rows.append({**base, "field": "ok", "ftype": "bool",
                     "f_float": None, "f_str": None, "f_bool": okv})
    schema = T.StructType([
        T.StructField("measurement", T.StringType()),
        T.StructField("time_ns", T.LongType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("ingest_seq", T.LongType()),
        T.StructField("field", T.StringType()),
        T.StructField("ftype", T.StringType()),
        T.StructField("f_float", T.DoubleType()),
        T.StructField("f_str", T.StringType()),
        T.StructField("f_bool", T.BooleanType()),
    ])
    return spark.createDataFrame(rows, schema).withColumn(
        "time", F.timestamp_micros(F.expr("time_ns div 1000")))


def test_flux_string_value_filter_and_aggregates(mixed_pts):
    """r10: _value compared to a string/bool literal binds the typed
    slot (the f_float binding was an ANSI runtime cast error); count()
    of a string field counts rows; distinct/sort read the live slot."""
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status" '
        'and r._value == "ok")',
    ).collect()
    assert [r["f_str"] for r in out] == ["ok", "ok"]

    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "ok" '
        "and r._value == true)",
    ).collect()
    assert [r["f_bool"] for r in out] == [True, True]

    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        "|> count()",
    ).collect()
    assert out[0]["count"] == 3

    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        "|> distinct()",
    ).collect()
    assert sorted(r["f_str"] for r in out) == ["bad", "ok"]

    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        '|> sort(columns: ["_value"])',
    ).collect()
    assert [r["f_str"] for r in out] == ["bad", "ok", "ok"]

    # regex on _value binds the string slot
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._value =~ /^b/)',
    ).collect()
    assert [r["f_str"] for r in out] == ["bad"]

    # aggregateWindow(fn: last) on a string field returns the strings —
    # in the f_str slot with ftype evidence kept (r13: the result used
    # to be renamed into a column called f_float, erasing its type)
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") '
        "|> range(start: 1970-01-01T00:00:00Z, stop: 1970-01-01T01:00:00Z) "
        '|> filter(fn: (r) => r._field == "status") '
        "|> aggregateWindow(every: 30m, fn: last)",
    ).orderBy("time_ns").collect()
    assert [r["f_str"] for r in out] == ["ok", "ok"]
    assert all(r["ftype"] == "string" for r in out)


def test_flux_keep_duplicate_string_value(mixed_pts):
    """r10: keep(columns: ["_value"]) must retain every value slot
    (+ ftype) on a mixed frame, and duplicate(column: "_value") must
    copy the live slot — both previously operated on f_float only."""
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        '|> keep(columns: ["_time", "_value"])',
    )
    assert "f_str" in out.columns
    assert sorted(r["f_str"] for r in out.collect()) == ["bad", "ok", "ok"]

    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        '|> duplicate(column: "_value", as: "v2")',
    ).orderBy("time_ns").collect()
    assert [r["v2"] for r in out] == ["ok", "bad", "ok"]


def test_flux_pivot_mixed_types(mixed_pts):
    """r10: pivot on a mixed measurement emits per-type columns (the
    f_float-only pivot returned NULL for string/bool fields)."""
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> pivot(rowKey: ["_time"], '
        'columnKey: ["_field"], valueColumn: "_value")',
    ).orderBy("time").collect()
    assert [r["status"] for r in out] == ["ok", "bad", "ok"]
    assert [r["ok"] for r in out] == [True, False, True]
    assert [r["temp"] for r in out] == [1.5, 2.5, 3.5]


def test_flux_numeric_agg_on_string_bool_is_typed_error(mixed_pts):
    """r11 (the Flux twin of the v1 empty-series fix): numeric-only
    aggregates over a string/bool series raise stock Flux's typed
    runtime error ("unsupported input type for mean aggregate:
    string"), both bare and through aggregateWindow; type-generic
    aggregates keep answering; min/max SELECT by the live slot
    (lexicographic strings / false<true bools) like sort()."""
    import pytest as _pt

    from aws_greengrass_labs_database_influxdb_spark.frontends import FluxError

    for script, needle in [
        ('from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
         "|> mean()", "mean aggregate: string"),
        ('from(bucket:"b") |> filter(fn: (r) => r._field == "ok") '
         "|> sum()", "sum aggregate: bool"),
        ('from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
         "|> stddev()", "stddev aggregate: string"),
        ('from(bucket:"b") '
         "|> range(start: 1970-01-01T00:00:00Z, stop: 1970-01-01T01:00:00Z) "
         '|> filter(fn: (r) => r._field == "status") '
         "|> aggregateWindow(every: 30m, fn: mean)",
         "mean aggregate: string"),
    ]:
        with _pt.raises(FluxError) as e:
            execute_flux(mixed_pts, script).collect()
        assert needle in str(e.value), script

    # type-generic aggregates still answer
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "ok") '
        "|> count()",
    ).collect()
    assert out[0]["count"] == 3

    # min/max select the row by the live slot's order
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        "|> min()",
    ).collect()
    assert len(out) == 1 and out[0]["f_str"] == "bad"
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "ok") '
        "|> max()",
    ).collect()
    assert len(out) == 1 and out[0]["f_bool"] is True

    # numeric series keep aggregating normally
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "temp") '
        "|> mean()",
    ).collect()
    assert out[0]["mean"] == 2.5

    # every numeric-input stage rejects a string series too
    for stage in NUMERIC_INPUT_STAGES:
        with _pt.raises(FluxError) as e:
            execute_flux(
                mixed_pts,
                'from(bucket:"b") |> filter(fn: (r) => r._field == '
                f'"status") |> {stage}',
            ).collect()
        assert "unsupported input type" in str(e.value), stage

    # ...while reduce() builds strings sequentially over the live slot
    # (previously read f_float and crashed the Python fold, r11)
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        "|> reduce(fn: (r, accumulator) => "
        '({acc: accumulator.acc + r._value}), identity: {acc: ""})',
    ).collect()
    assert out[0]["acc"] == "okbadok"  # time order


#: one call per Flux stage whose input must be numeric
NUMERIC_INPUT_STAGES = (
    "quantile(q: 0.5)", "integral()", "histogram(bins: [0.0, 1.0])",
    "histogramQuantile(quantile: 0.5)", "derivative()", "difference()",
    "increase()", "cumulativeSum()", "movingAverage(n: 2)",
    "timedMovingAverage(period: 2s)", "exponentialMovingAverage(n: 2)",
    "doubleEMA(n: 2)", "tripleEMA(n: 2)", "kaufmansAMA(n: 2)",
    "kaufmansER(n: 2)", "chandeMomentumOscillator(n: 2)",
    "relativeStrengthIndex(n: 2)", "holtWinters(n: 2, interval: 1s)",
)

#: one call per Flux stage that orders on _time
TIME_ORDERED_STAGES = (
    "derivative()", "difference()", "increase()", "cumulativeSum()",
    "elapsed()", "movingAverage(n: 2)", "timedMovingAverage(period: 2s)",
    "exponentialMovingAverage(n: 2)", "timeShift(duration: 1s)",
    "truncateTimeColumn(unit: 1s)", "interpolate.linear(every: 1s)",
    "hourSelection(start: 0, stop: 1)", "timeWeightedAvg(unit: 1s)",
    "holtWinters(n: 2, interval: 1s)",
    "stateCount(fn: (r) => r._value > 0)",
    "stateDuration(fn: (r) => r._value > 0)", "integral()",
    "window(every: 1s)", "aggregateWindow(every: 1s, fn: mean)",
    "first()", "last()", "events.duration()",
    "monitor.deadman(t: 1970-01-02T00:00:00Z)",
)

#: one call per Flux stage that transforms the _value series
VALUE_INPUT_STAGES = (
    "derivative()", "difference()", "increase()", "cumulativeSum()",
    "movingAverage(n: 2)", "timedMovingAverage(period: 2s)",
    "exponentialMovingAverage(n: 2)", "doubleEMA(n: 2)", "tripleEMA(n: 2)",
    "kaufmansER(n: 2)", "kaufmansAMA(n: 2)",
    "chandeMomentumOscillator(n: 2)", "relativeStrengthIndex(n: 2)",
    "holtWinters(n: 2, interval: 1s)", "timeWeightedAvg(unit: 1s)",
    "integral()",
)

_TEMP = 'from(bucket:"b") |> filter(fn: (r) => r._field == "temp")'


@pytest.mark.parametrize(
    "script, needle",
    [(f"{_TEMP} |> mean() |> {s}", "requires a _time column")
     for s in TIME_ORDERED_STAGES]
    + [('from(bucket:"b") |> pivot(rowKey: ["_time"], columnKey: '
        f'["_field"], valueColumn: "_value") |> {s}', "has no value column")
       for s in VALUE_INPUT_STAGES]
    + [(f"{_TEMP} |> noSuchStage()", "unsupported Flux function")],
)
def test_stage_prechecks_are_typed_errors(mixed_pts, script, needle):
    """A stage that orders on _time after a bare aggregate, a stage
    that transforms _value after pivot, and an unknown stage name each
    raise a FluxError that says why, before any operator runs."""
    with pytest.raises(FluxError, match=needle):
        execute_flux(mixed_pts, script)


def test_aggregate_window_table_fn_missing_argument_is_typed(mixed_pts):
    with pytest.raises(FluxError, match="missing required argument 'q'"):
        execute_flux(
            mixed_pts,
            f"{_TEMP} |> aggregateWindow(every: 1s, fn: (tables=<-) => "
            'tables |> quantile(method: "exact_mean"))',
        )


def test_stage_lists_match_the_stage_table_flags():
    """The precheck tests above call exactly the stages whose flag is
    set in the Flux stage table."""
    from aws_greengrass_labs_database_influxdb_spark.frontends.flux import (
        _STAGES,
    )

    for calls, flag in ((NUMERIC_INPUT_STAGES, "numeric_input"),
                        (TIME_ORDERED_STAGES, "time_ordered"),
                        (VALUE_INPUT_STAGES, "value_input")):
        assert {c.split("(")[0] for c in calls} == {
            n for n, st in _STAGES.items() if getattr(st, flag)}, flag


def test_fill_linear_skips_non_numeric_aggregate_columns(mixed_pts):
    """r11 extended-fuzz escape: fill(linear)'s interpolation
    arithmetic on a boolean/string aggregate column (last(flag)) was
    an AnalysisException. Linear fill is numeric-only (stock keeps
    null for non-numeric columns in empty windows); numeric siblings
    still interpolate."""
    out = execute_influxql(
        mixed_pts,
        "SELECT last(ok) AS lo, mean(temp) AS mt FROM m "
        "WHERE time >= '1970-01-01T00:16:00Z' AND "
        "time < '1970-01-01T00:51:00Z' "
        "GROUP BY time(5m) fill(linear)",
    ).orderBy("time").collect()
    assert len(out) == 8  # 00:15 .. 00:50 five-minute windows
    # boolean column: observed windows keep values, gaps stay null
    assert out[0]["lo"] is True and out[1]["lo"] is None
    # numeric column interpolates across the gap between points
    mts = [r["mt"] for r in out]
    assert mts[0] == 1.5 and mts[-1] == 3.5
    assert all(m is not None for m in mts)  # interior interpolated


def test_numeric_ops_on_promoted_string_columns_never_crash(mixed_pts):
    """r11: subqueries promote string/bool fields to PHYSICAL columns;
    numeric consumption of those (aggregates, math fns, arithmetic,
    transforms) crashed the ANSI cast at runtime or the lag arithmetic
    at analysis. Stock computes nothing for them: aggregates
    short-circuit to the empty result, transforms yield no rows, math
    fns and arithmetic read NULL."""
    # numeric-only aggregate over the promoted string column → empty
    out = execute_influxql(
        mixed_pts, "SELECT mean(status) FROM (SELECT status, temp FROM m)"
    )
    assert out.count() == 0
    # mixed with a numeric sibling: statement stays alive, string null
    row = execute_influxql(
        mixed_pts,
        "SELECT mean(status) AS ms, mean(temp) AS mt "
        "FROM (SELECT status, temp FROM m)",
    ).collect()[0]
    assert row["ms"] is None and row["mt"] == 2.5
    # type-generic aggregates answer on the promoted column
    row = execute_influxql(
        mixed_pts, "SELECT count(status) AS n FROM (SELECT status FROM m)"
    ).collect()[0]
    assert row["n"] == 3
    # transforms of the promoted string column yield no rows
    for fn in ("derivative(status)", "cumulative_sum(status)",
               "moving_average(status, 2)"):
        out = execute_influxql(
            mixed_pts, f"SELECT {fn} FROM (SELECT status FROM m)"
        )
        assert out.count() == 0, fn
    # math fns / arithmetic over ONLY string columns: stock answers
    # with no series (r12 matrix audit tightened this from null rows)
    out = execute_influxql(
        mixed_pts, "SELECT abs(status) AS a, status + 1 AS b "
        "FROM (SELECT status FROM m)"
    )
    assert out.count() == 0
    # a numeric sibling keeps the statement alive, string column null
    rows = execute_influxql(
        mixed_pts, "SELECT abs(status) AS a, temp AS t "
        "FROM (SELECT status, temp FROM m)"
    ).collect()
    assert len(rows) == 3
    assert all(r["a"] is None and r["t"] is not None for r in rows)
    # numeric-only SELECTOR over the promoted column → empty
    out = execute_influxql(
        mixed_pts, "SELECT max(status), temp FROM (SELECT status, temp FROM m)"
    )
    assert out.count() == 0


def test_flux_map_reads_live_value_slot(mixed_pts):
    """r11 (same class as the r10 comparison binding): r._value inside
    map()'s record function must read the frame's LIVE slot — string
    functions and string concatenation over a string series previously
    read f_float and returned NULL. Numeric frames keep the float
    binding (plan untouched — the slot probe is gated on extra slots
    existing)."""
    out = execute_flux(
        mixed_pts,
        'import "strings"\n'
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        '|> map(fn: (r) => ({r with y: strings.toUpper(v: r._value), '
        'z: r._value + "!"}))',
    ).orderBy("time_ns").collect()
    assert [r["y"] for r in out] == ["OK", "BAD", "OK"]
    assert [r["z"] for r in out] == ["ok!", "bad!", "ok!"]

    # conditional over the string slot composes
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        '|> map(fn: (r) => ({r with lvl: if r._value == "bad" then 1.0 '
        "else 0.0}))",
    ).orderBy("time_ns").collect()
    assert [r["lvl"] for r in out] == [0.0, 1.0, 0.0]

    # numeric series keep numeric map semantics
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "temp") '
        "|> map(fn: (r) => ({r with y: r._value * 2.0}))",
    ).orderBy("time_ns").collect()
    assert [r["y"] for r in out] == [3.0, 5.0, 7.0]


def test_flux_map_writes_live_value_slot(mixed_pts):
    """r11 verdict #1: map() assignment TO _value must land in the
    frame's LIVE slot — previously the write target resolved to
    f_float unconditionally, so rewriting a string/bool series was a
    silent no-op (the new value sat in the dead float slot while the
    serializer kept reading the untouched live slot)."""
    # string series rewritten in place (same type)
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        '|> map(fn: (r) => ({r with _value: r._value + "!"}))',
    ).orderBy("time_ns").collect()
    assert [r["f_str"] for r in out] == ["ok!", "bad!", "ok!"]
    assert all(r["ftype"] == "string" for r in out)

    # float series keep the in-place float write (behavior unchanged)
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "temp") '
        "|> map(fn: (r) => ({r with _value: r._value * 2.0}))",
    ).orderBy("time_ns").collect()
    assert [r["f_float"] for r in out] == [3.0, 5.0, 7.0]
    assert all(r["ftype"] == "float" for r in out)


def test_flux_map_value_write_retypes_series(mixed_pts):
    """Stock map() may RETYPE a series (#datatype changes): the value
    must move to the matching slot, the old slot nulls out, and the
    ftype discriminator (which the serializer dispatches on) follows."""
    # string → float
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        '|> map(fn: (r) => ({r with _value: if r._value == "bad" '
        "then 1.0 else 0.0}))",
    ).orderBy("time_ns").collect()
    assert [r["f_float"] for r in out] == [0.0, 1.0, 0.0]
    assert all(r["f_str"] is None for r in out)
    assert all(r["ftype"] == "float" for r in out)

    # float → string (explicit conversion fn)
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "temp") '
        "|> map(fn: (r) => ({r with _value: string(v: r._value)}))",
    ).orderBy("time_ns").collect()
    assert [r["f_str"] for r in out] == ["1.5", "2.5", "3.5"]
    assert all(r["f_float"] is None for r in out)
    assert all(r["ftype"] == "string" for r in out)

    # bool → float
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "ok") '
        "|> map(fn: (r) => ({r with _value: if r._value == true "
        "then 1.0 else 0.0}))",
    ).orderBy("time_ns").collect()
    assert [r["f_float"] for r in out] == [1.0, 0.0, 1.0]
    assert all(r["f_bool"] is None for r in out)
    assert all(r["ftype"] == "float" for r in out)


def test_flux_map_retype_composes_with_aggregate_window(mixed_pts):
    """r11 verdict #7 probe: a map that retypes a string series to
    float feeding aggregateWindow(mean) — the window fn re-resolves
    the live slot, which must now be f_float with ftype synced."""
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> range(start: 1970-01-01T00:00:00Z) '
        '|> filter(fn: (r) => r._field == "status") '
        '|> map(fn: (r) => ({r with _value: if r._value == "bad" '
        "then 1.0 else 0.0})) "
        "|> aggregateWindow(every: 1h, fn: mean, createEmpty: false)",
    ).orderBy("time_ns").collect()
    assert len(out) == 1
    assert out[0]["f_float"] == pytest.approx(1.0 / 3.0)

    # the reverse: a numeric-only aggregate over a float→string retype
    # must raise stock's typed error
    with pytest.raises(FluxError, match="unsupported input type"):
        execute_flux(
            mixed_pts,
            'from(bucket:"b") |> range(start: 1970-01-01T00:00:00Z) '
            '|> filter(fn: (r) => r._field == "temp") '
            "|> map(fn: (r) => ({r with _value: string(v: r._value)})) "
            "|> mean()",
        ).collect()


def test_flux_aggregate_window_min_max_selects_any_orderable(mixed_pts):
    """r11 ADVICE-medium: min/max are SELECTORS — stock Flux compares
    any orderable type inside aggregateWindow exactly as bare
    min()/max() do. Routing them through the numeric reject made the
    windowed and bare paths inconsistent (aggregateWindow(fn: max)
    over a string series raised; bare max() selected)."""
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> range(start: 1970-01-01T00:00:00Z) '
        '|> filter(fn: (r) => r._field == "status") '
        "|> aggregateWindow(every: 1h, fn: max, createEmpty: false)",
    ).collect()
    # r13: the window result lands in its SOURCE slot with ftype kept
    assert len(out) == 1 and out[0]["f_str"] == "ok"  # max("ok","bad")
    assert out[0]["ftype"] == "string"
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> range(start: 1970-01-01T00:00:00Z) '
        '|> filter(fn: (r) => r._field == "ok") '
        "|> aggregateWindow(every: 1h, fn: min, createEmpty: false)",
    ).collect()
    assert len(out) == 1 and out[0]["f_bool"] is False  # false < true
    assert out[0]["ftype"] == "bool"
    # numeric window aggregates over string series still raise typed
    with pytest.raises(FluxError, match="unsupported input type"):
        execute_flux(
            mixed_pts,
            'from(bucket:"b") |> range(start: 1970-01-01T00:00:00Z) '
            '|> filter(fn: (r) => r._field == "status") '
            "|> aggregateWindow(every: 1h, fn: mean)",
        ).collect()


def test_influxql_star_tag_per_item_and_regex_cast_survival(spark):
    """r11 ADVICE: `*::tag` was only rejected in the exact bare
    spelling — anywhere else the whole-query namespace strip silently
    turned it into a raw `*` (fields AND tags); and the strip could
    corrupt a /regex/ selection whose pattern contains `::field`.
    Now: `*::tag, field` expands to all tag keys + the field, bare
    `*::tag` keeps stock's typed error, aggregate mixing is rejected,
    and regex literals survive the strip untouched."""
    import pyspark.sql.types as T

    rows = []
    for i in range(4):
        ns = (1000 + i) * 1_000_000_000
        rows.append(dict(
            measurement="m", time_ns=ns,
            tags={"host": f"h{i % 2}", "dc": "east"}, ingest_seq=i,
            field="v", ftype="float", f_float=float(i),
            f_str=None, f_bool=None))
    schema = T.StructType([
        T.StructField("measurement", T.StringType()),
        T.StructField("time_ns", T.LongType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("ingest_seq", T.LongType()),
        T.StructField("field", T.StringType()),
        T.StructField("ftype", T.StringType()),
        T.StructField("f_float", T.DoubleType()),
        T.StructField("f_str", T.StringType()),
        T.StructField("f_bool", T.BooleanType()),
    ])
    pts = spark.createDataFrame(rows, schema).withColumn(
        "time", F.timestamp_micros(F.expr("time_ns div 1000")))

    out = execute_influxql(pts, "SELECT *::tag, v FROM m")
    assert out.columns == ["time", "dc", "host", "v"]
    r0 = out.orderBy("time").collect()[0]
    assert (r0["dc"], r0["host"], r0["v"]) == ("east", "h0", 0.0)

    from aws_greengrass_labs_database_influxdb_spark.frontends.influxql import InfluxQLError
    with pytest.raises(InfluxQLError, match="at least one field"):
        execute_influxql(pts, "SELECT *::tag FROM m")
    with pytest.raises(InfluxQLError, match="cannot mix"):
        execute_influxql(pts, "SELECT mean(v), *::tag FROM m")

    # a regex selection whose PATTERN contains ::field must not be
    # corrupted by the namespace strip (matches nothing here — the
    # field key is plain `v` — but parses and runs)
    out = execute_influxql(pts, "SELECT /v::field/ FROM m")
    assert out.count() == 0
    # ordinary regex selection and ::field casts still work
    assert execute_influxql(pts, "SELECT /^v$/ FROM m").count() == 4
    assert execute_influxql(pts, 'SELECT "v"::field FROM m').count() == 4


def test_star_aggs_over_subquery_include_promoted_string_bool(mixed_pts):
    """r11 ADVICE: the subquery field map exposed only NUMERIC
    physical columns, so count(*)/first(*)/last(*) over a subquery
    omitted its promoted string/bool columns. Any-type aggregates now
    cover them; numeric-only star expansion still restricts to
    numeric columns."""
    out = execute_influxql(
        mixed_pts, "SELECT count(*) FROM (SELECT status, temp FROM m)"
    )
    assert sorted(out.columns) == ["count_status", "count_temp"]
    row = out.collect()[0]
    assert row["count_status"] == 3 and row["count_temp"] == 3

    out = execute_influxql(
        mixed_pts, "SELECT first(*) FROM (SELECT status, ok FROM m)"
    )
    row = out.collect()[0]
    assert row["first_status"] == "ok" and row["first_ok"] is True

    # numeric-only star still excludes the promoted string column
    out = execute_influxql(
        mixed_pts, "SELECT mean(*) FROM (SELECT status, temp FROM m)"
    )
    assert out.columns == ["mean_temp"]
    assert out.collect()[0]["mean_temp"] == 2.5


def test_live_slot_probe_cached_per_frame(mixed_pts, spark):
    """r11 ADVICE (perf): every r._value token / numeric-stage check
    used to run its own full-frame ftype distinct at plan time. The
    per-frame memo collapses a 3-token map + _value write over a
    string frame to AT MOST ONE probe job; the downstream stage that
    receives the map's output inherits the seeded slot (zero extra
    jobs)."""
    sc = spark.sparkContext
    group = "live-slot-probe-count"
    # AQE materializes each shuffle stage as its own sub-job, which
    # would count Spark internals instead of our probe actions
    old = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, group)
    try:
        df = execute_flux(
            mixed_pts,
            'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
            '|> map(fn: (r) => ({r with _value: r._value + "!", '
            'a: r._value + "?", b: r._value})) '
            "|> sort(columns: [\"_value\"])",
        )
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", old)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 1, f"expected <=1 plan-time probe job, got {len(jobs)}"
    out = df.orderBy("time_ns").collect()
    assert [r["f_str"] for r in out] == ["ok!", "bad!", "ok!"]
    assert [r["a"] for r in out] == ["ok?", "bad?", "ok?"]


def test_flux_top_bottom_sort_on_live_slot(mixed_pts):
    """r12 probe: Flux top()/bottom() are sort-based selectors that
    compare any orderable type — over a string/bool series they ranked
    the dead all-NULL f_float slot, returning arbitrary rows. They
    must rank the live slot (lexicographic; false < true)."""
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        "|> top(n: 2)",
    ).collect()
    assert sorted(r["f_str"] for r in out) == ["ok", "ok"]  # top of ok/bad/ok
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        "|> bottom(n: 1)",
    ).collect()
    assert [r["f_str"] for r in out] == ["bad"]
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "ok") '
        "|> bottom(n: 1)",
    ).collect()
    assert [r["f_bool"] for r in out] == [False]
    # float series keep the numeric ranking
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "temp") '
        "|> top(n: 1)",
    ).collect()
    assert [r["f_float"] for r in out] == [3.5]


def test_flux_fill_value_on_string_series(mixed_pts):
    """r12 probe: fill(value: "na") on a string series coalesced the
    string literal into the double f_float slot — an ANSI cast crash.
    fill resolves the live slot; a null created by a full-outer join
    gap (or here, directly) fills with the typed value."""
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        '|> fill(value: "na")',
    ).orderBy("time_ns").collect()
    assert [r["f_str"] for r in out] == ["ok", "bad", "ok"]
    # usePrevious on a string series plans and runs
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        "|> fill(usePrevious: true)",
    ).orderBy("time_ns").collect()
    assert [r["f_str"] for r in out] == ["ok", "bad", "ok"]


def test_nested_transform_over_anytype_inner_typing(mixed_pts):
    """r12 matrix audit, nested leg: a numeric-only OUTER transform
    over an any-type INNER's string/bool output
    (MOVING_AVERAGE(FIRST(s), 2), DERIVATIVE(LAST(s)),
    HOLT_WINTERS(FIRST(s), ...)) crashed the ANSI cast — stock
    answers no series. ELAPSED stays any-type; numeric inners
    (COUNT of a string) keep answering."""
    w = ("WHERE time >= '1970-01-01' AND time < '1970-01-02' "
         "GROUP BY time(10m)")
    for sel in ("moving_average(first(status), 2)",
                "derivative(last(status), 10m)",
                "cumulative_sum(mode(status))",
                "holt_winters(first(status), 2, 0)"):
        out = execute_influxql(mixed_pts, f"SELECT {sel} FROM m {w}")
        assert out.count() == 0, sel
    # any-type outer over string inner answers
    out = execute_influxql(
        mixed_pts, f"SELECT elapsed(first(status)) FROM m {w}")
    assert out.count() > 0
    # numeric-valued inner (count of a string field) keeps answering
    out = execute_influxql(
        mixed_pts, f"SELECT moving_average(count(status), 2) FROM m {w}")
    assert out.count() > 0


def test_arithmetic_where_per_point_and_typing(mixed_pts):
    """r12: WHERE field arithmetic. (a) over a STRING field computes
    nothing (was: the unconditional f_float swap read whatever field
    owned the row); (b) cross-field conditions evaluate per POINT —
    `SELECT value WHERE temp * 2 > 4` keeps the points whose temp
    passes; (c) the self-referential single-field shape keeps its
    row-local (scan-level) filter and its results."""
    # string field arithmetic: no rows
    out = execute_influxql(mixed_pts, "SELECT temp FROM m WHERE status + 1 > 0")
    assert out.count() == 0
    # self-referential fast path
    out = execute_influxql(mixed_pts, "SELECT temp FROM m WHERE temp * 2 > 4")
    assert sorted(r["temp"] for r in out.collect()) == [2.5, 3.5]
    # cross-field per-point: points whose temp passes, value of ok
    out = execute_influxql(mixed_pts, "SELECT ok FROM m WHERE temp * 2 > 4")
    assert sorted(r["ok"] for r in out.collect()) == [False, True]
    # aggregate over the gated points
    row = execute_influxql(
        mixed_pts, "SELECT count(status) AS n FROM m WHERE temp + 1 >= 3.5"
    ).collect()[0]
    assert row["n"] == 2


def test_flux_conversion_stages_route_slots(mixed_pts):
    """r12: toString()/toFloat()/toBool() are the conversion-stage
    twins of the map() _value write fix — toString() on a float
    series stored strings in the double slot under a stale "float"
    ftype; toFloat() on a string series cast the dead NULL slot."""
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "temp") '
        "|> toString()",
    ).orderBy("time_ns").collect()
    assert [r["f_str"] for r in out] == ["1.5", "2.5", "3.5"]
    assert all(r["f_float"] is None and r["ftype"] == "string" for r in out)

    # bool → float via toFloat (true→1.0)
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "ok") '
        "|> toFloat()",
    ).orderBy("time_ns").collect()
    assert [r["f_float"] for r in out] == [1.0, 0.0, 1.0]
    assert all(r["f_bool"] is None and r["ftype"] == "float" for r in out)

    # string → bool: stock parses "true"/"false"; other strings null
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        '|> map(fn: (r) => ({r with _value: if r._value == "ok" '
        'then "true" else "false"})) '
        "|> toBool()",
    ).orderBy("time_ns").collect()
    assert [r["f_bool"] for r in out] == [True, False, True]
    assert all(r["ftype"] == "bool" for r in out)

    # conversion feeding a numeric aggregate composes
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "ok") '
        "|> toFloat() |> sum()",
    ).collect()
    assert len(out) == 1 and out[0]["sum"] == 2.0


def test_flux_highest_lowest_rank_live_slot(spark):
    """r12: highestMax/lowestMin/…Current rank SERIES by value — over
    string/bool series they ranked the dead all-NULL f_float slot
    (arbitrary series selection). The mean-based variants stay
    numeric-only (stock typed error)."""
    import pyspark.sql.types as T

    rows = []
    for host, vals in (("a", ["x", "y"]), ("b", ["q", "r"])):
        for i, v in enumerate(vals):
            rows.append(dict(
                measurement="m", time_ns=(1000 + i) * 1_000_000_000,
                tags={"host": host}, ingest_seq=i, field="s",
                ftype="string", f_float=None, f_str=v, f_bool=None))
    schema = T.StructType([
        T.StructField("measurement", T.StringType()),
        T.StructField("time_ns", T.LongType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("ingest_seq", T.LongType()),
        T.StructField("field", T.StringType()),
        T.StructField("ftype", T.StringType()),
        T.StructField("f_float", T.DoubleType()),
        T.StructField("f_str", T.StringType()),
        T.StructField("f_bool", T.BooleanType()),
    ])
    pts = spark.createDataFrame(rows, schema).withColumn(
        "time", F.timestamp_micros(F.expr("time_ns div 1000")))

    # rank the two host series by max value: "y" > "r" → host=a wins
    out = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["host"]) |> highestMax(n: 1)',
    ).collect()
    assert len(out) == 2 and all(r["f_str"] in ("x", "y") for r in out)
    out = execute_flux(
        pts,
        'from(bucket:"b") |> group(columns: ["host"]) |> lowestMin(n: 1)',
    ).collect()
    assert len(out) == 2 and all(r["f_str"] in ("q", "r") for r in out)
    with pytest.raises(FluxError, match="unsupported input type"):
        execute_flux(
            pts,
            'from(bucket:"b") |> group(columns: ["host"]) '
            "|> highestAverage(n: 1)",
        ).collect()


def test_flux_mixed_union_count_distinct_unique(mixed_pts):
    """r12 probe: after a union of a string stream and a float stream
    the frame carries BOTH live types, so the frame-level slot
    resolution is ambiguous — count() counted only f_float (the
    string group answered 0), and distinct()/unique() dropped the
    string group's values. Mixed frames now count coalesced presence
    and distinct over the slot tuple; per-group semantics match the
    uniform-frame behavior."""
    pre = (
        'a = from(bucket:"b") |> filter(fn: (r) => r._field == "status")\n'
        'b = from(bucket:"b") |> filter(fn: (r) => r._field == "temp")\n'
    )
    out = execute_flux(mixed_pts, pre + "union(tables: [a, b]) |> count()")
    got = {r["field"]: r["count"] for r in out.collect()}
    assert got == {"status": 3, "temp": 3}

    out = execute_flux(mixed_pts, pre + "union(tables: [a, b]) |> distinct()")
    rows = out.collect()
    svals = sorted(r["f_str"] for r in rows if r["field"] == "status")
    fvals = sorted(r["f_float"] for r in rows if r["field"] == "temp")
    assert svals == ["bad", "ok"] and fvals == [1.5, 2.5, 3.5]

    # unique keeps the engine's per-group semantics on the mix: same
    # row count as running it per uniform stream
    u_mixed = execute_flux(
        mixed_pts, pre + "union(tables: [a, b]) |> unique()").count()
    u_s = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        "|> unique()").count()
    u_t = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "temp") '
        "|> unique()").count()
    assert u_mixed == u_s + u_t


def test_flux_mixed_sort_orders_each_group_by_its_type(mixed_pts):
    """r12: sort(columns: ["_value"]) on a MIXED frame ordered every
    group by the all-NULL float slot. The slot-tuple ordering sorts
    each group by its own typed values."""
    out = execute_flux(
        mixed_pts, 'from(bucket:"b") |> sort(columns: ["_value"])'
    ).collect()
    svals = [r["f_str"] for r in out if r["field"] == "status"]
    fvals = [r["f_float"] for r in out if r["field"] == "temp"]
    assert svals == sorted(svals) and fvals == sorted(fvals)


def test_flux_numeric_agg_over_mixed_union_raises(mixed_pts):
    """r12: a numeric-only aggregate over a MIXED union raises the
    typed error (stock computes per table — the string table errors
    the query); previously the float rows silently averaged and the
    string group emitted a null row."""
    pre = (
        'a = from(bucket:"b") |> filter(fn: (r) => r._field == "status")\n'
        'b = from(bucket:"b") |> filter(fn: (r) => r._field == "temp")\n'
    )
    with pytest.raises(FluxError, match="unsupported input type"):
        execute_flux(mixed_pts, pre + "union(tables: [a, b]) |> mean()")
    # float-only unions keep aggregating
    pre2 = (
        'a = from(bucket:"b") |> filter(fn: (r) => r._field == "temp")\n'
        'b = from(bucket:"b") |> filter(fn: (r) => r._field == "temp")\n'
    )
    out = execute_flux(
        mixed_pts, pre2 + "union(tables: [a, b]) |> mean()").collect()
    assert out and out[0]["mean"] == 2.5


def test_flux_mixed_union_aggregate_window_count(mixed_pts):
    """r12: aggregateWindow(fn: count) over a mixed union counts each
    group's coalesced presence — the windowed twin of the bare count()
    fix (string windows previously counted 0 from the float slot)."""
    pre = (
        'a = from(bucket:"b") |> filter(fn: (r) => r._field == "status")\n'
        'b = from(bucket:"b") |> filter(fn: (r) => r._field == "temp")\n'
    )
    out = execute_flux(
        mixed_pts,
        pre + "union(tables: [a, b]) "
        "|> range(start: 1970-01-01T00:00:00Z) "
        "|> aggregateWindow(every: 1h, fn: count, createEmpty: false)",
    ).collect()
    got = {r["field"]: r["f_float"] for r in out}
    assert got == {"status": 3, "temp": 3}


def test_flux_map_value_write_on_mixed_frame_retypes_all_tables(mixed_pts):
    """r12: a map() _value assignment on a MIXED frame (no field
    filter) must apply to EVERY group — stock map runs per table and
    retypes each one to the expression's type. Previously only the
    float rows updated; string/bool rows silently kept their old
    values in their live slots."""
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> map(fn: (r) => ({r with _value: 9.0}))',
    ).collect()
    assert len(out) == 9  # all three fields' rows survive
    assert all(r["f_float"] == 9.0 for r in out)
    assert all(r["f_str"] is None and r["f_bool"] is None for r in out)
    assert all(r["ftype"] == "float" for r in out)


_MIXED_UNION_PRE = (
    'a = from(bucket:"b") |> filter(fn: (r) => r._field == "status")\n'
    'b = from(bucket:"b") |> filter(fn: (r) => r._field == "temp")\n'
)


def test_flux_mixed_union_min_max_select_per_group(mixed_pts):
    """r13 (r12 verdict #1): min()/max() on a MIXED union order by the
    slot tuple — each group selects its own typed extremum. The
    single-column order voided the string group into one all-NULL row
    and lost its lexicographic extremum."""
    out = execute_flux(
        mixed_pts, _MIXED_UNION_PRE + "union(tables: [a, b]) |> min()"
    ).collect()
    assert {r["field"] for r in out} == {"status", "temp"}  # no None group
    assert [r["f_str"] for r in out if r["field"] == "status"] == ["bad"]
    assert [r["f_float"] for r in out if r["field"] == "temp"] == [1.5]

    out = execute_flux(
        mixed_pts, _MIXED_UNION_PRE + "union(tables: [a, b]) |> max()"
    ).collect()
    assert {r["field"] for r in out} == {"status", "temp"}
    assert [r["f_str"] for r in out if r["field"] == "status"] == ["ok"]
    assert [r["f_float"] for r in out if r["field"] == "temp"] == [3.5]


def test_flux_mixed_union_top_bottom_rank_live_slot(mixed_pts):
    """r13: top/bottom on a MIXED union rank each group by its own
    live slot — bottom(n:1) previously returned whatever row the dead
    all-NULL float slot ranked first ("ok"@t1 instead of "bad")."""
    out = execute_flux(
        mixed_pts, _MIXED_UNION_PRE + "union(tables: [a, b]) |> bottom(n: 1)"
    ).collect()
    assert [r["f_str"] for r in out if r["field"] == "status"] == ["bad"]
    assert [r["f_float"] for r in out if r["field"] == "temp"] == [1.5]

    out = execute_flux(
        mixed_pts, _MIXED_UNION_PRE + "union(tables: [a, b]) |> top(n: 2)"
    ).collect()
    assert sorted(
        r["f_str"] for r in out if r["field"] == "status") == ["ok", "ok"]
    assert sorted(
        r["f_float"] for r in out if r["field"] == "temp") == [2.5, 3.5]


def test_flux_mixed_union_mode_per_slot(mixed_pts):
    """r13: mode() on a MIXED union aggregates each slot and keeps the
    slot shape + ftype — the string group previously answered null
    from the dead float binding."""
    out = execute_flux(
        mixed_pts, _MIXED_UNION_PRE + "union(tables: [a, b]) |> mode()"
    ).collect()
    got = {r["field"]: (r["f_float"], r["f_str"], r["ftype"]) for r in out}
    assert got["status"] == (None, "ok", "string")
    assert got["temp"][1] is None and got["temp"][2] == "float"


@pytest.mark.parametrize("fn,want_status", [
    ("first", "ok"), ("last", "ok"), ("min", "bad"), ("max", "ok"),
    ("mode", "ok"),
])
def test_flux_mixed_union_aggregate_window_type_generic(
        mixed_pts, fn, want_status):
    """r13: aggregateWindow(fn: first|last|min|max|mode) over a MIXED
    union aggregates every slot per (series, window) and carries ftype
    — previously only count had the mixed branch and every non-float
    group silently nulled."""
    out = execute_flux(
        mixed_pts,
        _MIXED_UNION_PRE + "union(tables: [a, b]) "
        "|> range(start: 1970-01-01T00:00:00Z) "
        f"|> aggregateWindow(every: 2h, fn: {fn}, createEmpty: false)",
    ).collect()
    status = [r for r in out if r["field"] == "status"]
    temp = [r for r in out if r["field"] == "temp"]
    assert [r["f_str"] for r in status] == [want_status]
    assert all(r["ftype"] == "string" for r in status)
    assert all(r["f_float"] is not None and r["ftype"] == "float"
               for r in temp)


def test_flux_aggregate_window_keeps_type_evidence_for_typed_errors(
        mixed_pts):
    """r13 (r12 verdict #2): a string series' aggregateWindow result
    lands in f_str with ftype restamped, so a downstream numeric
    aggregate raises stock's typed error instead of leaking a raw
    executor NumberFormatException from a cast of 'ok' to DOUBLE."""
    with pytest.raises(FluxError,
                       match="unsupported input type for mean aggregate"):
        execute_flux(
            mixed_pts,
            'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
            "|> range(start: 1970-01-01T00:00:00Z) "
            "|> aggregateWindow(every: 2h, fn: last) |> mean()",
        ).collect()
    # the windowed string value itself is intact, typed, and sortable
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        "|> range(start: 1970-01-01T00:00:00Z) "
        "|> aggregateWindow(every: 30m, fn: last) "
        '|> sort(columns: ["_value"])',
    ).collect()
    vals = [r["f_str"] for r in out]
    assert vals == sorted(vals) and set(vals) <= {"ok", "bad"}


def test_flux_mixed_fill_leaves_dead_slots_null(mixed_pts):
    """r13 (r12 verdict #5): fill(value: 0.0) on a MIXED frame stamps
    the literal only into rows whose group type matches the literal's
    type — the dead f_float slot of string/bool rows stays NULL (a
    stamped literal there would read as data to slot-tuple consumers)."""
    out = execute_flux(
        mixed_pts,
        _MIXED_UNION_PRE + "union(tables: [a, b]) |> fill(value: 0.0)",
    ).collect()
    assert all(r["f_float"] is None for r in out if r["field"] == "status")
    assert all(r["f_float"] is not None for r in out if r["field"] == "temp")


def test_flux_set_value_retypes_slot_frame(mixed_pts):
    """r13 (r12 ADVICE): set(key: "_value", value: "x") on a slot-typed
    frame routes through the live-slot write-back — string lands in
    f_str, other slots null, ftype synced (previously a string literal
    landed in the double f_float column under a stale 'float' ftype)."""
    out = execute_flux(
        mixed_pts, 'from(bucket:"b") |> set(key: "_value", value: "X")'
    ).collect()
    assert all(r["f_str"] == "X" and r["ftype"] == "string" for r in out)
    assert all(r["f_float"] is None and r["f_bool"] is None for r in out)


def test_flux_mixed_conversion_reads_live_slot_per_row(mixed_pts):
    """r13 (r12 ADVICE): toString() on a MIXED frame converts each
    row's LIVE value (coalesce of per-slot casts) — previously it cast
    the unresolved f_float slot, nulling every non-float row."""
    out = execute_flux(
        mixed_pts,
        _MIXED_UNION_PRE + "union(tables: [a, b]) |> toString()",
    ).collect()
    assert all(r["ftype"] == "string" for r in out)
    got = sorted(r["f_str"] for r in out)
    assert got == ["1.5", "2.5", "3.5", "bad", "ok", "ok"]


def test_flux_mixed_live_slot_probe_runs_at_most_once(mixed_pts):
    """r13 (r12 verdict #4): an N-stage script over a mixed frame pays
    AT MOST one plan-time ftype probe — ftype-preserving stages hand
    the resolved live set to their output (filter/range propagate a
    superset; the rest propagate exactly)."""
    from aws_greengrass_labs_database_influxdb_spark.frontends import flux as _fx

    before = _fx._PROBE_RUNS
    execute_flux(
        mixed_pts,
        'from(bucket:"b") '
        "|> range(start: 1970-01-01T00:00:00Z) "
        '|> filter(fn: (r) => r._measurement == "m") '
        '|> sort(columns: ["_value"]) '
        "|> limit(n: 100) "
        '|> sort(columns: ["_value"], desc: true) '
        "|> top(n: 2) "
        "|> bottom(n: 1) "
        "|> min()",
    ).collect()
    assert _fx._PROBE_RUNS - before <= 1


def test_flux_mixed_union_superset_after_filter_keeps_numeric_aggs(
        mixed_pts):
    """The superset cache must NOT drive the typed-error check: after
    filtering a MIXED union down to the float stream, mean() computes
    (stock's filter drops the now-empty string tables) even though the
    propagated superset still lists the string slot."""
    out = execute_flux(
        mixed_pts,
        _MIXED_UNION_PRE + "union(tables: [a, b]) "
        '|> filter(fn: (r) => r._field == "temp") |> mean()',
    ).collect()
    assert out and out[0]["mean"] == 2.5


def test_arithmetic_where_with_arithmetic_selection_is_per_point(spark):
    """r13 (r12 ADVICE #1): `SELECT v1 + v2 ... WHERE v1 * 2 > 100`
    built sel_fields only from plain/nested selections — the
    arithmetic selection's fields were missed, so the fast (scan-
    level) path fired and gated v2's rows on THEIR own values. The
    fast-path precondition now walks arith/raw_arith trees too."""
    import pyspark.sql.types as T

    rows = []
    for i, (v1, v2) in enumerate([(60.0, 1.0), (10.0, 2.0)]):
        ns = (1000 + i) * 1_000_000_000
        for fname, val in (("v1", v1), ("v2", v2)):
            rows.append(dict(
                measurement="m2", time_ns=ns, tags={}, ingest_seq=i,
                field=fname, ftype="float", f_float=val, f_str=None,
                f_bool=None))
    schema = T.StructType([
        T.StructField("measurement", T.StringType()),
        T.StructField("time_ns", T.LongType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("ingest_seq", T.LongType()),
        T.StructField("field", T.StringType()),
        T.StructField("ftype", T.StringType()),
        T.StructField("f_float", T.DoubleType()),
        T.StructField("f_str", T.StringType()),
        T.StructField("f_bool", T.BooleanType())])
    pts2 = spark.createDataFrame(rows, schema).withColumn(
        "time", F.timestamp_micros(F.expr("time_ns div 1000")))

    out = execute_influxql(
        pts2, "SELECT v1 + v2 AS s FROM m2 WHERE v1 * 2 > 100"
    ).collect()
    assert [r["s"] for r in out] == [61.0], out

    # the self-referential single-field shape keeps the fast path
    out = execute_influxql(
        pts2, "SELECT v1 + 1 AS s FROM m2 WHERE v1 * 2 > 100"
    ).collect()
    assert [r["s"] for r in out] == [61.0], out


def test_flux_duplicate_into_value_retypes(mixed_pts):
    """r13: duplicate(column: <tag/string col>, as: "_value") retypes
    the series through the live-slot write-back — previously the
    string landed in the double f_float column under a stale ftype."""
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "temp") '
        '|> duplicate(column: "_field", as: "_value")',
    ).collect()
    assert all(r["f_str"] == "temp" and r["ftype"] == "string" for r in out)
    assert all(r["f_float"] is None for r in out)


def test_flux_mixed_union_create_empty_spine_keeps_types(mixed_pts):
    """r13: aggregateWindow(createEmpty: true) over a MIXED union
    backfills each series' empty windows with ITS OWN ftype (the
    spine join produces NULL ftype rows, which would otherwise fall
    out of both wire splits), and a following fill(value: "na") fills
    ONLY the string groups' empty windows."""
    out = execute_flux(
        mixed_pts,
        _MIXED_UNION_PRE + "union(tables: [a, b]) "
        "|> range(start: 1970-01-01T00:00:00Z, stop: 1970-01-01T02:00:00Z) "
        "|> aggregateWindow(every: 30m, fn: last, createEmpty: true)",
    ).collect()
    st = [r for r in out if r["field"] == "status"]
    tm = [r for r in out if r["field"] == "temp"]
    assert len(st) == 4 and len(tm) == 4  # 2h / 30m spine
    assert all(r["ftype"] == "string" for r in st)
    assert all(r["ftype"] == "float" for r in tm)

    out = execute_flux(
        mixed_pts,
        _MIXED_UNION_PRE + "union(tables: [a, b]) "
        "|> range(start: 1970-01-01T00:00:00Z, stop: 1970-01-01T02:00:00Z) "
        "|> aggregateWindow(every: 30m, fn: last, createEmpty: true) "
        '|> fill(value: "na")',
    ).collect()
    st = [r for r in out if r["field"] == "status"]
    tm = [r for r in out if r["field"] == "temp"]
    assert all(r["f_str"] is not None for r in st)  # empties filled
    assert all(r["f_str"] is None for r in tm)      # floats untouched


def test_flux_mixed_union_map_value_read_is_type_conflict(mixed_pts):
    """r13 probe: an arithmetic READ of r._value over a MIXED union
    cannot bind one slot — stock map evaluates per table and the
    mismatched table type-errors the query; the dead-slot binding
    silently nulled every non-float row (and computed "1.5!" where
    stock errors)."""
    for expr in ('r._value + "!"', "r._value * 2.0"):
        with pytest.raises(FluxError, match="type conflict in map"):
            execute_flux(
                mixed_pts,
                _MIXED_UNION_PRE + "union(tables: [a, b]) "
                f"|> map(fn: (r) => ({{r with _value: {expr}}}))",
            )


def test_flux_mixed_union_value_read_names_its_stage(mixed_pts):
    """The same mixed-frame read of r._value in another stage names
    that stage, not map()."""
    with pytest.raises(FluxError, match=r"type conflict in filter\(\)"):
        execute_flux(
            mixed_pts,
            _MIXED_UNION_PRE + "union(tables: [a, b]) "
            "|> filter(fn: (r) => r._value * 2.0 > 1.0)",
        )
    # literal writes (no read) keep the r12 retype-all-tables path
    out = execute_flux(
        mixed_pts,
        _MIXED_UNION_PRE + "union(tables: [a, b]) "
        '|> map(fn: (r) => ({r with _value: 7.0}))',
    ).collect()
    assert all(r["f_float"] == 7.0 and r["ftype"] == "float" for r in out)
    # predicate reads keep their literal-typed binding on the mix
    out = execute_flux(
        mixed_pts,
        _MIXED_UNION_PRE + "union(tables: [a, b]) "
        '|> filter(fn: (r) => r._value == "ok")',
    ).collect()
    assert [r["f_str"] for r in out] == ["ok", "ok"]


def test_flux_fill_type_mismatch_is_typed_error(mixed_pts):
    """r13 deep fuzz: fill(value: 0.0) on a bool/string series crashed
    with a raw Spark coalesce type mismatch; stock raises the typed
    fill error. Int-into-float stays allowed (engine divergence: the
    float slot is the int storage)."""
    with pytest.raises(FluxError, match="fill: value type float does "
                                        "not match column type bool"):
        execute_flux(
            mixed_pts,
            'from(bucket:"b") |> filter(fn: (r) => r._field == "ok") '
            "|> fill(value: 0.0)",
        )
    with pytest.raises(FluxError, match="fill: value type string"):
        execute_flux(
            mixed_pts,
            'from(bucket:"b") |> filter(fn: (r) => r._field == "temp") '
            '|> fill(value: "na")',
        )
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        '|> fill(value: "na")',
    ).collect()
    assert len(out) == 3  # matching type fills fine


def test_flux_regroup_mixed_types_schema_collision(mixed_pts):
    """r13 probe: group(columns: ["host"]) over a mixed measurement
    merges a string series and a float series into ONE table — stock
    cannot materialize it and raises schema collision; the engine's
    per-group typed machinery previously computed on the franken-table
    (mode() even emitted a row with BOTH slots populated)."""
    for stage in ("count()", "min()", 'sort(columns: ["_value"])',
                  "mode()", "last()", "bottom(n: 1)",
                  "fill(value: 0.0)", "distinct()"):
        with pytest.raises(FluxError, match="schema collision"):
            execute_flux(
                mixed_pts,
                f'from(bucket:"b") |> group(columns: ["host"]) |> {stage}',
            ).collect()
    # a regroup that KEEPS the discriminators stays plan-time free and
    # computes (each group single-typed)
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") '
        '|> group(columns: ["measurement", "field", "host"]) |> count()',
    ).collect()
    assert {r["field"]: r["count"] for r in out} == {
        "temp": 3, "status": 3, "ok": 3}


def test_flux_columns_hides_slot_internals(mixed_pts):
    """r13: columns() on a slot-typed frame labels _value ONCE — the
    extra typed slots previously leaked as literal f_str/f_bool
    labels; a window result carried in f_str labels as _value too."""
    labels = [r[0] for r in execute_flux(
        mixed_pts, 'from(bucket:"b") |> columns()').collect()]
    assert "f_str" not in labels and "f_bool" not in labels
    assert labels.count("_value") == 1
    labels = [r[0] for r in execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        "|> range(start: 1970-01-01T00:00:00Z) "
        "|> aggregateWindow(every: 2h, fn: last) |> columns()",
    ).collect()]
    assert "_value" in labels and "f_str" not in labels


def test_flux_join_suffixed_value_binds_per_side_slot(mixed_pts):
    """r13 probe: after join(tables: {a, b}) the per-side value
    bindings (r._value_a / r._value_b) must resolve each SIDE's live
    slot — a string side previously bound the dead f_float_b in map()
    (every row nulled) and in comparisons (ANSI crash / no match)."""
    script = (
        'a = from(bucket:"b") |> filter(fn: (r) => r._field == "temp")\n'
        'b = from(bucket:"b") |> filter(fn: (r) => r._field == "status")\n'
        'join(tables: {a: a, b: b}, on: ["_time"])'
    )
    out = execute_flux(
        mixed_pts,
        script + ' |> map(fn: (r) => ({r with res: r._value_b + "!"}))',
    ).orderBy("time_ns_a").collect()
    assert [r["res"] for r in out] == ["ok!", "bad!", "ok!"]

    out = execute_flux(
        mixed_pts, script + ' |> filter(fn: (r) => r._value_b == "ok")'
    ).collect()
    assert sorted(r["f_float_a"] for r in out) == [1.5, 3.5]

    out = execute_flux(
        mixed_pts,
        script + " |> map(fn: (r) => ({r with res: r._value_a * 2.0}))",
    ).orderBy("time_ns_a").collect()
    assert [r["res"] for r in out] == [3.0, 5.0, 7.0]


def test_flux_rename_value_moves_live_slot(mixed_pts):
    """r13 probe: rename(columns: {_value: "foo"}) on a string frame
    renamed the dead f_float (all-NULL foo) while the values stayed in
    f_str; now the LIVE slot moves and the other slots + discriminator
    drop (stock: the table simply loses _value). Mixed frames raise a
    typed error (one physical column can't carry per-table types)."""
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        '|> rename(columns: {_value: "foo"}) '
        '|> map(fn: (r) => ({r with res: r.foo + "!"}))',
    ).orderBy("time_ns").collect()
    assert [r["res"] for r in out] == ["ok!", "bad!", "ok!"]
    with pytest.raises(FluxError, match="mixed-type frame"):
        execute_flux(
            mixed_pts,
            _MIXED_UNION_PRE + "union(tables: [a, b]) "
            '|> rename(columns: {_value: "foo"})',
        )


def test_flux_join_pkg_value_binds_per_side_slot(mixed_pts):
    """r13: the modern join package's as: record — l._value / r._value
    refs bind the OWNING side's live slot (a string right side
    previously compiled to the dead r_f_float and returned NULLs)."""
    out = execute_flux(
        mixed_pts,
        'import "join"\n'
        'a = from(bucket:"b") |> filter(fn: (r) => r._field == "temp")\n'
        'b = from(bucket:"b") |> filter(fn: (r) => r._field == "status")\n'
        "join.inner(left: a, right: b, on: (l, r) => l._time == r._time, "
        "as: (l, r) => ({t: l._time, v: l._value, s: r._value}))",
    ).orderBy("t").collect()
    assert [(r["v"], r["s"]) for r in out] == [
        (1.5, "ok"), (2.5, "bad"), (3.5, "ok")]


def test_flux_get_column_and_keyvalues_read_live_slot(mixed_pts):
    """r13 sweep: getColumn()/keyValues() on a string frame read the
    live slot — previously both bound the dead f_float."""
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        "|> getColumn()",
    ).collect()
    assert sorted(r[0] for r in out) == ["bad", "ok", "ok"]
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        '|> keyValues(keyColumns: ["_value"])',
    ).collect()
    assert sorted(r["_value"] for r in out) == ["bad", "ok"]


def test_flux_create_empty_open_range_spines_to_now(mixed_pts):
    """r13 fuzzer: aggregateWindow(createEmpty: true) after an
    open-ended range(start:) leaked a raw AssertionError — stock's
    range() defaults its stop to now(), so the spine extends to the
    query's now; no range at all stays the typed error."""
    now = 4 * 3600 * 1_000_000_000  # epoch+4h: small, deterministic spine
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> range(start: 1970-01-01T00:00:00Z) '
        '|> filter(fn: (r) => r._field == "temp") '
        "|> aggregateWindow(every: 1h, fn: mean, createEmpty: true)",
        now_ns=now,
    ).collect()
    assert len(out) == 4  # 4 hourly windows to "now"
    assert sum(r["f_float"] is None for r in out) == 3
    with pytest.raises(FluxError, match="bounded range"):
        execute_flux(
            mixed_pts,
            'from(bucket:"b") '
            "|> aggregateWindow(every: 1h, fn: mean, createEmpty: true)",
        )


def test_flux_window_arg_validation_is_typed(mixed_pts):
    """r13 fuzzer/probe: plan-time argument rejection from the window
    machinery (bad duration units, calendar constraints, zero width)
    surfaces as FluxError — raw ValueErrors and an executor-side
    REMAINDER_BY_ZERO previously leaked."""
    pre = ('from(bucket:"b") |> filter(fn: (r) => r._field == "temp") ')
    for script, msg in [
        (pre + "|> aggregateWindow(every: 1q, fn: mean)",
         "bad duration unit"),
        (pre + "|> aggregateWindow(every: 1mo10d, fn: mean)",
         "cannot mix month and nanosecond units"),  # stock interval text
        (pre + "|> window(every: 1mo, period: 2mo)",
         "period == every"),
        (pre + "|> aggregateWindow(every: 0s, fn: mean)",
         "cannot be zero"),  # stock interval text (r14 ADVICE #4)
        (pre + "|> aggregateWindow(every: -1h, fn: mean)",
         "cannot be negative"),
    ]:
        with pytest.raises(FluxError, match=msg):
            execute_flux(mixed_pts, script).collect()


def test_flux_range_bounds_survive_variable_binding(mixed_pts):
    """r14 (r13 verdict #1, shape a): range() bounds ride the Pipeline
    object, so the standard multi-yield dashboard idiom — a bounded
    base bound to a variable, consumed by later statements — reaches
    aggregateWindow(createEmpty: true) with its bounds intact. The
    bounds previously lived in a _run_pipeline local, so this shape
    raised "requires a bounded range()" where stock InfluxDB 2.0.9
    emits the empty-window spine from the stream's _start/_stop."""
    out = execute_flux(
        mixed_pts,
        'base = from(bucket:"b") '
        "|> range(start: 1970-01-01T00:00:00Z, stop: 1970-01-01T02:00:00Z) "
        '|> filter(fn: (r) => r._field == "temp")\n'
        "base |> aggregateWindow(every: 30m, fn: mean, createEmpty: true)",
    ).collect()
    got = sorted((str(r["time"]), r["f_float"]) for r in out)
    assert got == [
        ("1970-01-01 00:30:00", 1.5),   # (0,30m] — temp@00:16:40
        ("1970-01-01 01:00:00", 3.0),   # (30m,1h] — mean(2.5, 3.5)
        ("1970-01-01 01:30:00", None),  # spine
        ("1970-01-01 02:00:00", None),  # spine
    ]
    # a base with NO range anywhere stays the typed error
    with pytest.raises(FluxError, match="bounded range"):
        execute_flux(
            mixed_pts,
            'base = from(bucket:"b") |> filter(fn: (r) => r._field == "temp")\n'
            "base |> aggregateWindow(every: 30m, fn: mean, createEmpty: true)",
        )


def test_flux_range_bounds_survive_union(mixed_pts):
    """r14 (r13 verdict #1, shape b): union(tables:) of two bounded
    branches merges the branches' range bounds onto the Pipeline —
    aggregateWindow(createEmpty: true) spines instead of raising.
    r15 (r14 verdict #3): each branch spines to its OWN stop (stock) —
    the per-branch bounds ride literal columns through the union, so
    the 1h-bounded temp series gets a 2-window spine while the
    2h-bounded status series gets 4. Deeper shapes are pinned in
    tests/test_union_branch_spine.py."""
    out = execute_flux(
        mixed_pts,
        'a = from(bucket:"b") '
        "|> range(start: 1970-01-01T00:00:00Z, stop: 1970-01-01T01:00:00Z) "
        '|> filter(fn: (r) => r._field == "temp")\n'
        'b = from(bucket:"b") '
        "|> range(start: 1970-01-01T00:00:00Z, stop: 1970-01-01T02:00:00Z) "
        '|> filter(fn: (r) => r._field == "status")\n'
        "union(tables: [a, b]) "
        "|> aggregateWindow(every: 30m, fn: last, createEmpty: true)",
    ).collect()
    st = [r for r in out if r["field"] == "status"]
    tm = [r for r in out if r["field"] == "temp"]
    assert len(st) == 4 and len(tm) == 2  # per-branch stops: 2h vs 1h
    assert all(r["ftype"] == "string" for r in st)
    assert all(r["ftype"] == "float" for r in tm)
    # a branch with no range poisons the merge → typed error, not a
    # silent spine over half-bounded data
    with pytest.raises(FluxError, match="bounded range"):
        execute_flux(
            mixed_pts,
            'a = from(bucket:"b") '
            "|> range(start: 1970-01-01T00:00:00Z, stop: 1970-01-01T01:00:00Z) "
            '|> filter(fn: (r) => r._field == "temp")\n'
            'b = from(bucket:"b") |> filter(fn: (r) => r._field == "status")\n'
            "union(tables: [a, b]) "
            "|> aggregateWindow(every: 30m, fn: last, createEmpty: true)",
        )


def test_flux_range_bounds_survive_join_and_events_duration(mixed_pts):
    """r14 (r13 verdict #2): the other bounds consumers read the
    Pipeline-carried bounds through bindings too — events.duration()
    closes its last event against the variable-bound range stop, and
    join() merges both sides' bounds."""
    out = execute_flux(
        mixed_pts,
        'base = from(bucket:"b") '
        "|> range(start: 1970-01-01T00:00:00Z, stop: 1970-01-01T02:00:00Z) "
        '|> filter(fn: (r) => r._field == "temp")\n'
        "base |> events.duration(unit: 1s)",
    ).collect()
    durs = [r["duration"] for r in sorted(out, key=lambda r: r["time_ns"])]
    assert durs == [1000, 1000, 7200 - 3000]  # last closes at 02:00
    # join of two bounded branches: merged stop closes the tail
    out = execute_flux(
        mixed_pts,
        'a = from(bucket:"b") '
        "|> range(start: 1970-01-01T00:00:00Z, stop: 1970-01-01T01:00:00Z) "
        '|> filter(fn: (r) => r._field == "temp")\n'
        'b = from(bucket:"b") '
        "|> range(start: 1970-01-01T00:00:00Z, stop: 1970-01-01T02:00:00Z) "
        '|> filter(fn: (r) => r._field == "status")\n'
        'join(tables: {a: a, b: b}, on: ["_time"]) '
        "|> events.duration(unit: 1s)",
    ).collect()
    # the join regroups on the join key, so every row is its series'
    # last — each closes against the MERGED max stop (02:00), proving
    # b's bound survived the join (a's alone would close at 01:00)
    assert sorted(r["duration"] for r in out) == [4200, 5200, 6200]


def test_flux_range_bounds_interpolate_through_binding(mixed_pts):
    """r14: interpolate.linear reads the variable-bound range the same
    as the inline spelling (bounds consumer audit)."""
    pre = (
        'from(bucket:"b") '
        "|> range(start: 1970-01-01T00:00:00Z, stop: 1970-01-01T02:00:00Z) "
        '|> filter(fn: (r) => r._field == "temp") '
    )
    inline = execute_flux(
        mixed_pts,
        'import "interpolate"\n' + pre + "|> interpolate.linear(every: 10m)",
    ).collect()
    bound = execute_flux(
        mixed_pts,
        'import "interpolate"\nbase = ' + pre + "\n"
        "base |> interpolate.linear(every: 10m)",
    ).collect()
    key = lambda r: (r["time_ns"], r["f_float"])  # noqa: E731
    assert sorted(map(key, bound)) == sorted(map(key, inline))


def test_flux_time_shift_moves_range_bounds(mixed_pts):
    """r14: timeShift shifts the carried bounds with the data (stock
    shifts _start/_stop), so a downstream createEmpty spine covers the
    shifted interval instead of spining windows the data left."""
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") '
        "|> range(start: 1970-01-01T00:00:00Z, stop: 1970-01-01T02:00:00Z) "
        '|> filter(fn: (r) => r._field == "temp") '
        "|> timeShift(duration: 1h) "
        "|> aggregateWindow(every: 1h, fn: mean, createEmpty: true)",
    ).collect()
    got = sorted((str(r["time"]), r["f_float"]) for r in out)
    assert got == [
        ("1970-01-01 02:00:00", 2.5),   # (1h,2h] — all three shifted points
        ("1970-01-01 03:00:00", None),  # spine to the shifted stop
    ]


def test_shift_bound_ns_units():
    """_shift_bound_ns: fixed units are an integer add; calendar months
    clamp the day (Go time.AddDate); SQL interval text (accepted by
    time_shift but not Flux-parseable) leaves the bound unchanged."""
    from aws_greengrass_labs_database_influxdb_spark.frontends.flux import _shift_bound_ns

    assert _shift_bound_ns(None, "1h") is None
    assert _shift_bound_ns(10**9, "-5m") == 10**9 - 300 * 10**9
    jan31 = 30 * 86400 * 10**9   # 1970-01-31T00:00:00Z
    feb28 = 58 * 86400 * 10**9   # 1970-02-28T00:00:00Z (clamped)
    assert _shift_bound_ns(jan31, "1mo") == feb28
    assert _shift_bound_ns(jan31, "1 hour") == jan31  # SQL interval


def test_flux_map_arith_on_string_bool_frame_is_typed_error(mixed_pts):
    """r14 fuzzer (widened pool): arithmetic over a HOMOGENEOUS
    string/bool frame — e.g. union of two string branches |> min() |>
    map(r._value * 2.0) — compiled the live f_str slot into the
    multiply and crashed with an ANSI CAST_INVALID_INPUT at collect;
    stock type-errors the map ("unsupported binary expression
    string * float"). The r13 guard only covered MIXED frames."""
    for expr, msg in [
        ("r._value * 2.0", "string [*] float"),
        ("r._value - 1.0", "string - float"),
        ("2.0 % r._value", "float % string"),
        ("-r._value", "-string"),
    ]:
        with pytest.raises(FluxError, match=msg):
            execute_flux(
                mixed_pts,
                'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
                "|> min() "
                f"|> map(fn: (r) => ({{r with _value: {expr}}}))",
            ).collect()
    # bool operands are not Addable/Multipliable in stock either
    with pytest.raises(FluxError, match="bool [+] float"):
        execute_flux(
            mixed_pts,
            'from(bucket:"b") |> filter(fn: (r) => r._field == "ok") '
            "|> map(fn: (r) => ({r with _value: r._value + 1.0}))",
        ).collect()
    # string + stays concatenation (r6 lenient divergence)
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        '|> min() |> map(fn: (r) => ({r with _value: r._value + "!"}))',
    ).collect()
    assert [r["f_str"] for r in out] == ["bad!"]


def test_flux_runtime_errors_context_manager(mixed_pts):
    """r14 (r13 verdict #4): the Python API's action-time contract —
    the data-dependent conversion rejection (assert_true shape,
    USER_RAISED_EXCEPTION at collect) re-raises as FluxError inside
    flux_runtime_errors(); unrelated exceptions pass through."""
    from aws_greengrass_labs_database_influxdb_spark.frontends import flux_runtime_errors

    df = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
        "|> toFloat()",
    )
    with pytest.raises(FluxError, match='cannot convert string "(ok|bad)" to float'):
        with flux_runtime_errors():
            df.collect()
    # non-engine exceptions are not swallowed or re-shaped
    with pytest.raises(ZeroDivisionError):
        with flux_runtime_errors():
            1 / 0
    # a clean action passes results through untouched
    with flux_runtime_errors():
        n = execute_flux(
            mixed_pts,
            'from(bucket:"b") |> filter(fn: (r) => r._field == "temp") '
            "|> toFloat()",
        ).count()
    assert n == 3


def test_pred_eq_literals_analysis():
    """r14: the conservative filter-predicate analysis behind catalog
    narrowing — constrains only on provable top-level equality
    conjuncts; anything ambiguous contributes nothing (None)."""
    from aws_greengrass_labs_database_influxdb_spark.frontends.flux import _pred_eq_literals as eq

    assert eq('r._measurement == "m"', "_measurement") == {"m"}
    assert eq('r["_measurement"] == "m"', "_measurement") == {"m"}
    assert eq('r._measurement == "m" and r._value > 3', "_measurement") == {"m"}
    assert eq('r._measurement == "m" and r._field == "f"', "_field") == {"f"}
    assert eq('(r._field == "a" or r._field == "b") and r._value > 1',
              "_field") == {"a", "b"}
    # top-level OR with a non-equality alternative: unconstrained
    assert eq('r._field == "a" or r._value > 3', "_field") is None
    # inequality / regex / negation: unconstrained
    assert eq('r._measurement != "m"', "_measurement") is None
    assert eq('r._measurement =~ /m.*/', "_measurement") is None
    # separator text inside a string literal must not split
    assert eq('r._value == "x and y"', "_measurement") is None
    # two constraining conjuncts intersect
    assert eq('r._field == "a" and (r._field == "a" or r._field == "b")',
              "_field") == {"a"}


def test_operator_validation_error_boundary(mixed_pts, monkeypatch):
    """r14 (ADVICE #1): only OperatorValidationError — the operator
    layer's typed user-input rejection — converts to FluxError; a
    plain ValueError escaping an operator is an engine bug and
    surfaces as one instead of masquerading as a query error."""
    pre = 'from(bucket:"b") |> filter(fn: (r) => r._field == "temp") '
    # user-input rejections still convert
    with pytest.raises(FluxError, match="cannot be zero"):
        execute_flux(mixed_pts, pre + "|> aggregateWindow(every: 0s, fn: mean)")
    with pytest.raises(FluxError, match="expected an integer"):
        execute_flux(mixed_pts, pre + '|> limit(n: "x")')
    # an internal bug does NOT convert
    from aws_greengrass_labs_database_influxdb_spark import operators as ops

    def boom(*a, **k):
        raise ValueError("internal bug: not user input")

    monkeypatch.setattr(ops, "tail", boom)
    with pytest.raises(ValueError, match="internal bug") as ei:
        execute_flux(mixed_pts, pre + "|> tail(n: 2)")
    assert not isinstance(ei.value, FluxError)


def test_seed_live_slots_empty_catalog_leaves_cache_empty(mixed_pts):
    """r14 (ADVICE #2): an empty/unrecognized catalog must not seed a
    default f_float entry — the superset would understate the mix and
    slot consumers would silently bind the dead float slot. No seed →
    the runtime probe self-heals."""
    from aws_greengrass_labs_database_influxdb_spark.frontends.flux import (
        _LIVE_SLOT_CACHE, _LIVE_SLOT_SUPERSET, seed_live_slots,
    )

    # fresh frame OBJECT: the module-scoped fixture frame accumulates
    # cache entries from earlier tests (caches key on object identity)
    pts = mixed_pts.where(F.lit(True))
    seed_live_slots(pts, set())
    assert pts not in _LIVE_SLOT_CACHE
    assert pts not in _LIVE_SLOT_SUPERSET
    seed_live_slots(pts, {"unknowntype"})
    assert pts not in _LIVE_SLOT_SUPERSET
    # with no (mis)seed, a slot consumer probes and answers correctly
    out = execute_flux(
        pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status") |> min()',
    ).collect()
    assert [r["f_str"] for r in out] == ["bad"]


def test_selectors_skip_null_spine_rows(mixed_pts):
    """r14 exploratory fuzz: stock first()/last() return the first/
    last NON-NULL record, and a selector over a group with no non-null
    values yields an empty table. The engine's last() picked the
    createEmpty spine's empty tail window (all-NULL values at the max
    time), and min()/max() over an all-null group emitted an invented
    all-NULL row (group key included)."""
    pre = (
        'from(bucket:"b") '
        "|> range(start: 1970-01-01T00:00:00Z, stop: 1970-01-01T02:00:00Z) "
        '|> filter(fn: (r) => r._field == "temp") '
        "|> aggregateWindow(every: 30m, fn: last, createEmpty: true) "
    )
    # last(): the last DATA window (01:00, value 3.5), not the empty
    # 01:30/02:00 spine tails
    out = execute_flux(mixed_pts, pre + "|> last()").collect()
    assert len(out) == 1 and out[0]["f_float"] == 3.5
    assert str(out[0]["time"]) == "1970-01-01 01:00:00"
    # first() with a leading empty window (range starts before data):
    # skips to the first data window
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") '
        "|> range(start: 1969-12-31T23:00:00Z, stop: 1970-01-01T01:00:00Z) "
        '|> filter(fn: (r) => r._field == "temp") '
        "|> aggregateWindow(every: 30m, fn: last, createEmpty: true) "
        "|> first()",
    ).collect()
    assert len(out) == 1 and out[0]["f_float"] == 1.5
    # a group that is ENTIRELY null after a null-keeping transform:
    # selectors drop it instead of inventing an all-NULL row
    out = execute_flux(
        mixed_pts, pre + '|> filter(fn: (r) => r._time > 1970-01-01T01:00:00Z) '
        "|> max()",
    ).collect()
    assert out == []
    out = execute_flux(
        mixed_pts, pre + '|> filter(fn: (r) => r._time > 1970-01-01T01:00:00Z) '
        "|> last()",
    ).collect()
    assert out == []


def test_cross_type_comparisons_follow_stock_rules(mixed_pts):
    """r14 fuzz: a comparison whose operand types conflict is stock's
    runtime "type conflict" error when the binding is knowable
    (single-typed series). The engine ANSI-crashed on `r._value ==
    "ok"` over a bool series (cast 'ok' to BOOLEAN) and silently
    compared the dead float slot for numeric orderings on string
    series. Mixed frames keep the lenient slot binding (stock accepts
    the `r._field == "x" and r._value == <lit>` idiom through
    and-short-circuiting)."""
    bool_pre = 'from(bucket:"b") |> filter(fn: (r) => r._field == "ok") '
    str_pre = 'from(bucket:"b") |> filter(fn: (r) => r._field == "status") '
    for pre, pred, msg in [
        (bool_pre, 'r._value == "ok"', "type conflict: bool == string"),
        (str_pre, "r._value == 5", "type conflict: string == float"),
        (bool_pre, 'r._value != "ok"', "type conflict: bool != string"),
        (str_pre, "r._value > 5", "type conflict: string > float"),
        (bool_pre, 'r._value <= "x"', "type conflict: bool <= string"),
        (bool_pre, "r._value =~ /ok/", "type conflict: bool =~ regexp"),
    ]:
        with pytest.raises(FluxError, match=re.escape(msg)):
            execute_flux(
                mixed_pts, pre + f"|> filter(fn: (r) => {pred})"
            ).collect()
    # the mixed-frame idiom still filters (slot binding + short-circuit
    # equivalence, the r10 behavior)
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "status" '
        'and r._value == "ok")',
    ).collect()
    assert [r["f_str"] for r in out] == ["ok", "ok"]
    # matching kinds still work: string ==, numeric ordering, regex
    out = execute_flux(
        mixed_pts, str_pre + '|> filter(fn: (r) => r._value == "ok")'
    ).collect()
    assert [r["f_str"] for r in out] == ["ok", "ok"]
    out = execute_flux(
        mixed_pts,
        'from(bucket:"b") |> filter(fn: (r) => r._field == "temp" '
        "and r._value > 2.0)",
    ).collect()
    assert sorted(r["f_float"] for r in out) == [2.5, 3.5]
    out = execute_flux(
        mixed_pts, str_pre + "|> filter(fn: (r) => r._value =~ /^o/)"
    ).collect()
    assert [r["f_str"] for r in out] == ["ok", "ok"]


def test_rename_into_field_invalidates_catalog_pins(mixed_pts):
    """r14 soundness: a rename that re-keys the _field column (the
    `rename(columns: {_field: "orig", host: "_field"})` idiom) makes
    the catalog's (measurement, field) class map stale — the carry
    must drop it so the collision check PROBES instead of reading a
    stale "each field is single-class" proof and silently computing a
    franken-group."""
    from aws_greengrass_labs_database_influxdb_spark.frontends.flux import seed_live_slots

    pts = mixed_pts.where(F.lit(True))  # fresh frame object
    seed_live_slots(pts, {"float", "string", "bool"}, exact=True,
                    catalog={"m": {"temp": "float", "status": "string",
                                   "ok": "bool"}})
    # all rows share host=a, so after re-keying _field every table
    # merges into ONE group mixing float/string/bool → stock errors
    with pytest.raises(FluxError, match="schema collision"):
        execute_flux(
            pts,
            'from(bucket:"b") '
            '|> rename(columns: {_field: "orig", host: "_field"}) '
            '|> group(columns: ["_field"]) |> mode()',
        ).collect()


def test_merge_range_bounds():
    """union/join bounds merge: min start, max stop; None start
    (unbounded) poisons; None stop (defaults to now) wins the max."""
    from aws_greengrass_labs_database_influxdb_spark.plans.pipeline import merge_range_bounds

    assert merge_range_bounds((1, 10), (2, 20)) == (1, 20)
    assert merge_range_bounds((None, 10), (2, 20)) == (None, 20)
    assert merge_range_bounds((1, None), (2, 20)) == (1, None)
    assert merge_range_bounds((None, None), (None, None)) == (None, None)


def test_influxql_group_by_time_zero_is_typed_error(mixed_pts):
    """r13: GROUP BY time(0s) silently computed a global aggregate;
    stock rejects non-positive time dimensions at parse."""
    with pytest.raises(InfluxQLError,
                       match="time dimension must have positive width"):
        execute_influxql(
            mixed_pts, "SELECT mean(temp) FROM m GROUP BY time(0s)")


def test_flux_to_writes_typed_window_result(mixed_pts, tmp_path):
    """r13: aggregateWindow over a string series |> to(bucket:) — the
    slot-shaped window result (f_str + ftype, no f_float) previously
    failed canonicalize_result's f_float requirement; the write now
    lands typed and reads back as a string field."""
    from aws_greengrass_labs_database_influxdb_spark.sources.bucket import BucketStore
    from aws_greengrass_labs_database_influxdb_spark.sources.io import canonicalize_result

    spark = mixed_pts.sparkSession
    store = BucketStore(spark, str(tmp_path / "b"))
    store.create_bucket("o", "dst")

    def sink(df, bucket):
        store.write_points("o", bucket, canonicalize_result(df))

    execute_flux(
        mixed_pts,
        'from(bucket:"b") '
        "|> range(start: 1970-01-01T00:00:00Z, stop: 1970-01-01T02:00:00Z) "
        '|> filter(fn: (r) => r._field == "status") '
        "|> aggregateWindow(every: 30m, fn: last) "
        '|> to(bucket: "dst")',
        sink=sink,
    )
    back = store.read_points("o", "dst").collect()
    assert back and all(
        r["ftype"] == "string" and r["f_str"] in ("ok", "bad")
        and r["f_float"] is None
        for r in back
    )


def test_flux_fields_as_cols_mixed_types_per_type(mixed_pts):
    """r13 fuzzer: schema.fieldsAsCols() bypassed the r10 per-type
    pivot, so on a mixed measurement string/bool fields pivoted from
    the dead float slot into all-NULL DOUBLE columns — comparing one
    against a string literal ANSI-crashed. The shared per-type pivot
    emits each field with its OWN type."""
    out = execute_flux(
        mixed_pts,
        'import "influxdata/influxdb/schema"\n'
        'from(bucket:"b") |> schema.fieldsAsCols() '
        '|> filter(fn: (r) => r.status == "ok")',
    ).orderBy("time_ns").collect()
    assert [r["status"] for r in out] == ["ok", "ok"]
    assert [r["temp"] for r in out] == [1.5, 3.5]
    assert [r["ok"] for r in out] == [True, True]


_HOST_VALUES = [("h1 then x", 0.5), ("h2", 1.5), ("h1 then x", 2.5), ("h2", 3.5)]


@pytest.mark.parametrize("stage, want", [
    ('map(fn: (r) => ({r with x: "v>" + string(v: r._value)}))',
     lambda h, v: "v>" + str(v)),
    ('map(fn: (r) => ({r with x: if r.host == "h1 then x" then 1.0 else 2.0}))',
     lambda h, v: 1.0 if h == "h1 then x" else 2.0),
    ("map(fn: (r) => ({r with x: if r._value > 1.0 then if r._value > 3.0 "
     'then "big" else "mid" else "small"}))',
     lambda h, v: ("big" if v > 3.0 else "mid") if v > 1.0 else "small"),
    ("filter(fn: (r) => r._value * 2.0 > 4.0)", lambda h, v: v * 2.0 > 4.0),
    ("filter(fn: (r) => (r._value + 1.0) > 2.0)", lambda h, v: (v + 1.0) > 2.0),
    ("filter(fn: (r) => r._value > r._value)", lambda h, v: v > v),
])
def test_flux_expressions_parse_as_one_grammar(spark, stage, want):
    """Expressions that a comparison character inside a string, a
    `then` inside a string, a nested `if`, or a comparison over
    arithmetic or two columns used to send to the wrong parser: each
    answer matches plain Python."""
    df = spark.createDataFrame(
        [("m", "v", h, (i + 1) * 10**9, i, v)
         for i, (h, v) in enumerate(_HOST_VALUES)],
        "measurement string, field string, host string, time_ns long, "
        "ingest_seq long, f_float double",
    )
    out = execute_flux(df, f'from(bucket:"b") |> {stage}').collect()
    if stage.startswith("map"):
        assert sorted((r.host, r.f_float, r.x) for r in out) == sorted(
            (h, v, want(h, v)) for h, v in _HOST_VALUES)
    else:
        assert sorted(r.f_float for r in out) == sorted(
            v for h, v in _HOST_VALUES if want(h, v))
