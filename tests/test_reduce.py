"""Flux reduce(fn:, identity:) — fast-path classification, pandas
fallback, and parity between the two on associative folds."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from aws_greengrass_labs_database_influxdb_spark.frontends.flux import execute_flux
from aws_greengrass_labs_database_influxdb_spark.frontends import flux_expr


def _flux_reduce(points, fn_body: str, identity: str) -> "DataFrame":
    return execute_flux(
        points,
        'from(bucket:"b") |> group(columns: ["event_type"])'
        f" |> reduce(fn: (r, accumulator) => ({{{fn_body}}}),"
        f" identity: {{{identity}}})",
    )


def test_linear_sum_count(points):
    out = _flux_reduce(
        points,
        "s: accumulator.s + r._value, n: accumulator.n + 1.0",
        "s: 0.0, n: 0.0",
    ).collect()
    exact = {
        r.event_type: (r.s, r.n)
        for r in points.groupBy("event_type")
        .agg(F.sum("f_float").alias("s"), F.count("*").cast("double").alias("n"))
        .collect()
    }
    assert len(out) == len(exact)
    for r in out:
        s, n = exact[r.event_type]
        assert r.n == n
        assert r.s == pytest.approx(s, rel=1e-12)


def test_linear_plan_has_no_python(points):
    out = _flux_reduce(
        points, "n: accumulator.n + 1.0", "n: 0.0"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "HashAggregate" in plan


def test_conditional_increment(points):
    out = {
        r.event_type: r.hi
        for r in _flux_reduce(
            points,
            "hi: if r._value > 150.0 then accumulator.hi + 1.0 else accumulator.hi",
            "hi: 0.0",
        ).collect()
    }
    exact = {
        r.event_type: float(r.hi)
        for r in points.groupBy("event_type")
        .agg(F.sum((F.col("f_float") > 150.0).cast("int")).alias("hi"))
        .collect()
    }
    assert out == exact


def test_mmax_fold(points):
    out = {
        r.event_type: r.mx
        for r in _flux_reduce(
            points,
            "mx: math.mMax(x: accumulator.mx, y: r._value)",
            "mx: 0.0",
        ).collect()
    }
    exact = {
        r.event_type: r.mx
        for r in points.groupBy("event_type").agg(F.max("f_float").alias("mx")).collect()
    }
    assert out == exact


def test_nonlinear_falls_back_to_sequential_fold(points):
    # product fold: non-associative-classifiable text → pandas path;
    # verify against a driver-side sequential fold in the same order
    out = {
        r.event_type: r.prod
        for r in _flux_reduce(
            points,
            "prod: accumulator.prod * (1.0 + r._value / 100000.0)",
            "prod: 1.0",
        ).collect()
    }
    rows = points.select("event_type", "f_float", "time_ns", "ingest_seq").collect()
    exact: dict[str, float] = {}
    for r in sorted(rows, key=lambda r: (r.time_ns, r.ingest_seq)):
        exact[r.event_type] = exact.get(r.event_type, 1.0) * (1.0 + r.f_float / 100000.0)
    assert set(out) == set(exact)
    for k in out:
        assert out[k] == pytest.approx(exact[k], rel=1e-12)


def test_identity_only_field_is_constant(points):
    out = _flux_reduce(
        points, "n: accumulator.n + 1.0, tag: accumulator.tag", 'n: 0.0, tag: "x"'
    ).collect()
    assert all(r.tag == "x" for r in out)


def test_compile_scalar_if_and_cmp():
    fn = flux_expr.compile_scalar(
        "if r.v > 10.0 and accumulator.s < 100.0 then accumulator.s + r.v else accumulator.s",
        lambda n: n,
    )
    assert fn({"v": 20.0}, {"s": 5.0}) == 25.0
    assert fn({"v": 5.0}, {"s": 5.0}) == 5.0
    assert fn({"v": 20.0}, {"s": 200.0}) == 200.0


def test_reduce_missing_identity_field_raises(points):
    from aws_greengrass_labs_database_influxdb_spark.frontends.flux import FluxError

    with pytest.raises(FluxError):
        _flux_reduce(points, "bad: accumulator.bad + 1.0", "n: 0.0")


def test_string_concat_accumulator_uses_sequential_fold(points):
    # string identity matches the `acc + f(r)` syntactic shape but must
    # NOT take the numeric-sum fast path (ADVICE r4): fold sequentially
    out = {
        r.event_type: r.s
        for r in _flux_reduce(
            points, "s: accumulator.s + r.event_type", 's: ""'
        ).collect()
    }
    rows = points.select("event_type", "time_ns", "ingest_seq").collect()
    exact: dict[str, str] = {}
    for r in sorted(rows, key=lambda r: (r.time_ns, r.ingest_seq)):
        exact[r.event_type] = exact.get(r.event_type, "") + r.event_type
    assert out == exact


def test_bracket_field_ref_survives_column_pruning(points):
    # r["..."] references must be kept by the pandas-fallback pruning
    out = {
        r.event_type: r.s
        for r in _flux_reduce(
            points, 's: accumulator.s + r["event_type"]', 's: ""'
        ).collect()
    }
    assert all(v and set(v) for v in out.values())
    for et, s in out.items():
        assert s == et * (len(s) // len(et))


def test_general_fold_reads_non_identifier_columns(spark):
    # a product accumulator takes the sequential pandas fold; its rows
    # must keep column names that are not Python identifiers
    rates = [("a", 2.0), ("a", 3.0), ("a", 0.5), ("b", 4.0), ("b", 1.5),
             ("b", 2.0)]
    df = spark.createDataFrame(
        [("m", "v", h, (i + 1) * 10**9, i, 1.0, r)
         for i, (h, r) in enumerate(rates)],
        "measurement string, field string, host string, time_ns long, "
        "ingest_seq long, f_float double, `dev-rate` double",
    )
    out = execute_flux(
        df,
        'from(bucket:"b") |> group(columns: ["host"])'
        ' |> reduce(fn: (r, accumulator) =>'
        ' ({p: accumulator.p * r["dev-rate"]}), identity: {p: 1.0})',
    ).collect()
    assert {r.host: r.p for r in out} == {"a": 3.0, "b": 12.0}


def _five_values(spark):
    """One series, host "h1", ``_value`` = 0.0 .. 4.0 in time order."""
    return spark.createDataFrame(
        [("m", "v", "h1", (i + 1) * 10**9, i, float(i)) for i in range(5)],
        "measurement string, field string, host string, time_ns long, "
        "ingest_seq long, f_float double",
    )


def _reduce_p(df, update: str) -> float:
    out = execute_flux(
        df,
        'from(bucket:"b") |> reduce(fn: (r, accumulator) =>'
        f" ({{p: {update}}}), identity: {{p: 1.0}})",
    ).collect()
    assert len(out) == 1
    return out[0].p


@pytest.mark.parametrize("update, want", [
    # a product folds sequentially; `not` selects _value 0 and 1 (2 rows)
    ("if not r._value > 1.0 then accumulator.p * 2.0 else accumulator.p", 4.0),
    # the same condition on the one-shuffle sum path
    ("if not r._value > 1.0 then accumulator.p + 2.0 else accumulator.p", 5.0),
    ("if r.host =~ /h/ then accumulator.p * 2.0 else accumulator.p", 32.0),
    ("if r.host !~ /h/ then accumulator.p * 2.0 else accumulator.p", 1.0),
    ("if r.host == \"h1\" and not r._value == 0.0 then accumulator.p * 2.0"
     " else accumulator.p", 16.0),
])
def test_sequential_fold_honours_not_and_regex(spark, update, want):
    """The sequential fold and the sum path walk one parsed tree, so
    `not` and `=~` / `!~` mean the same on both."""
    assert _reduce_p(_five_values(spark), update) == want


def test_condition_on_the_accumulator_folds_sequentially(spark):
    """A condition that reads the accumulator is order-dependent, so it
    is no conditional increment of a sum: over 60, 60, 60 the capped
    fold stops adding once the total passes 100 (120), where
    ``sum(r._value where r._value <= 100)`` would give 180."""
    df = spark.createDataFrame(
        [("m", "v", "h1", (i + 1) * 10**9, i, 60.0) for i in range(3)],
        "measurement string, field string, host string, time_ns long, "
        "ingest_seq long, f_float double",
    )
    out = execute_flux(
        df,
        'from(bucket:"b") |> reduce(fn: (r, accumulator) => ({_value:'
        " if accumulator._value > 100.0 then accumulator._value"
        " else accumulator._value + r._value}), identity: {_value: 0.0})",
    ).collect()
    assert [r._value for r in out] == [120.0]


def test_identity_literals_parse_as_flux(spark):
    """The identity record is read by the expression parser: ``1e3`` is
    a float, and a non-literal value is a typed error."""
    from aws_greengrass_labs_database_influxdb_spark.frontends.flux import FluxError

    assert _reduce_p(_five_values(spark), "accumulator.p * 2.0") == 32.0
    out = execute_flux(
        _five_values(spark),
        'from(bucket:"b") |> reduce(fn: (r, accumulator) =>'
        " ({p: accumulator.p * 2.0}), identity: {p: 1e3})",
    ).collect()
    assert [r.p for r in out] == [32000.0]
    with pytest.raises(FluxError, match="identity"):
        execute_flux(
            _five_values(spark),
            'from(bucket:"b") |> reduce(fn: (r, accumulator) =>'
            " ({p: accumulator.p}), identity: {p: 1.0 + 1.0})",
        )
