"""Focused tests for the per-group pandas scaffold
(operators/fold.group_chunks and its Spark wrappers), which runs the
recursive TA family, holt_winters and the general Flux ``reduce()``.

Rows reach the Python worker hash-partitioned and sorted by
(group, time_ns, ingest_seq), as a stream of Arrow batches. These pin
the scaffold's edge cases directly, independent of the oracle suite:

- a group whose rows arrive as SEVERAL Arrow batches must be folded
  whole (a split group would restart the recursion mid-stream), for
  every caller of the scaffold;
- many series in one partition must each fold independently with the
  (time_ns, ingest_seq) total order;
- NULL group keys form their own group (Spark groupBy semantics);
- an empty ``by`` folds the whole frame as one global series;
- batches are pulled lazily: a complete group is folded before the
  rest of the partition is read.
"""

from __future__ import annotations

import pandas as pd
import pytest

SCHEMA = ("measurement string, field string, series string, time_ns long, "
          "f_float double, ingest_seq long")


def _value(s: int, t: int) -> float:
    return float(s * 1000 + t) + (t * 37 % 11) * 0.5


def _mk_frame(spark, series: list, n_rows: int):
    """Interleaved rows of the given series keys, times striped so
    input order is NOT series-contiguous (the scaffold must sort)."""
    rows = []
    seq = 0
    for t in range(n_rows):
        for s, key in enumerate(series):
            rows.append(("m", "value", key, t * 1000 + s, _value(s, t), seq))
            seq += 1
    return spark.createDataFrame(rows, SCHEMA)


def _ema_ref(vals, n):
    """Reference EMA (same contract as operators.analytics.ema_values):
    seed = SMA of the first n, then the recursive fold; warm-ups NaN."""
    out = [float("nan")] * len(vals)
    if len(vals) < n:
        return out
    k = 2.0 / (n + 1)
    e = sum(vals[:n]) / float(n)
    out[n - 1] = e
    for i in range(n, len(vals)):
        e = e + k * (vals[i] - e)
        out[i] = e
    return out


def _holt_ref(vals, times, n):
    """Reference non-seasonal holtWinters (fixed α=β=0.5, 1 s interval):
    the n forecast rows as (time_ns, hw)."""
    level, trend = vals[0], vals[1] - vals[0]
    for x in vals[1:]:
        prev = level
        level = 0.5 * x + (1 - 0.5) * (level + trend)
        trend = 0.5 * (level - prev) + (1 - 0.5) * trend
    return [(times[-1] + (i + 1) * 10**9, level + (i + 1) * trend)
            for i in range(n)]


def _run_ema(df):
    from aws_greengrass_labs_database_influxdb_spark.operators.analytics import (
        exponential_moving_average,
    )

    out = exponential_moving_average(df, 10, by=("series",)).collect()
    got = {}
    for r in sorted(out, key=lambda r: r["time_ns"]):
        got.setdefault(r["series"], []).append(r["ema"])
    return got


def _ref_ema(vals, times):
    return [v for v in _ema_ref(vals, 10) if v == v]  # drop warm-ups


def _run_holt(df):
    from aws_greengrass_labs_database_influxdb_spark.operators.analytics import (
        holt_winters,
    )

    out = holt_winters(df, 3, 1, by=["series"]).collect()
    got = {}
    for r in sorted(out, key=lambda r: r["time_ns"]):
        got.setdefault(r["series"], []).append((r["time_ns"], r["hw"]))
    return got


def _ref_holt(vals, times):
    return _holt_ref(vals, times, 3)


def _run_reduce(df):
    """Flux reduce() with a product accumulator: not associative-
    classifiable, so it takes the general (pandas_fold) path."""
    from aws_greengrass_labs_database_influxdb_spark.frontends.flux import execute_flux

    out = execute_flux(
        df,
        'from(bucket:"b") |> group(columns: ["series"])'
        " |> reduce(fn: (r, accumulator) =>"
        " ({prod: accumulator.prod * (1.0 + r._value / 100000.0)}),"
        " identity: {prod: 1.0})",
    ).collect()
    return {r["series"]: [r["prod"]] for r in out}


def _ref_reduce(vals, times):
    p = 1.0
    for v in vals:
        p = p * (1.0 + v / 100000.0)
    return [p]


CALLERS = {
    "ema": (_run_ema, _ref_ema),
    "holt_winters": (_run_holt, _ref_holt),
    "reduce": (_run_reduce, _ref_reduce),
}

INPUTS = {
    # three series, 400 rows each: every series spans several batches
    "interleaved": (["s0", "s1", "s2"], 400),
    # a NULL-key group straddling batch boundaries beside named series
    "null_key_straddles": ([None, "x", "y"], 120),
    # one group spanning every batch of its partition
    "one_group": (["only"], 500),
}


@pytest.mark.parametrize("inputs", sorted(INPUTS))
@pytest.mark.parametrize("caller", sorted(CALLERS))
def test_series_split_across_arrow_batches(spark, caller, inputs):
    """Groups larger than the Arrow batch size arrive at the Python
    worker as several batches; each caller's fold must span them all,
    not restart per batch."""
    run, ref = CALLERS[caller]
    series, n_rows = INPUTS[inputs]
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        got = run(_mk_frame(spark, series, n_rows))
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert set(got) == set(series)
    for s, key in enumerate(series):
        vals = [_value(s, t) for t in range(n_rows)]
        times = [t * 1000 + s for t in range(n_rows)]
        want = ref(vals, times)
        assert len(got[key]) == len(want)
        assert got[key] == pytest.approx(want, abs=0.0)  # bit-path identical fold


def test_many_series_one_partition_and_tie_break(spark):
    """Several series hash into the same partition; each folds
    independently, and equal timestamps order by ingest_seq."""
    from aws_greengrass_labs_database_influxdb_spark.operators.analytics import (
        exponential_moving_average,
    )

    rows = [
        # series a: two rows share time_ns=5; seq decides the order
        ("a", 1, 1.0, 10), ("a", 5, 3.0, 12), ("a", 5, 2.0, 11),
        ("b", 1, 10.0, 20), ("b", 2, 20.0, 21), ("b", 3, 30.0, 22),
    ]
    df = spark.createDataFrame(
        rows, "series string, time_ns long, f_float double, ingest_seq long"
    )
    out = exponential_moving_average(df, 2, by=("series",))
    got = {(r["series"], r["ingest_seq"]): r["ema"] for r in out.collect()}
    # series a sorted by (time_ns, seq): values 1.0, 2.0, 3.0
    ref_a = _ema_ref([1.0, 2.0, 3.0], 2)
    assert got[("a", 11)] == pytest.approx(ref_a[1], abs=0.0)
    assert got[("a", 12)] == pytest.approx(ref_a[2], abs=0.0)
    ref_b = _ema_ref([10.0, 20.0, 30.0], 2)
    assert got[("b", 21)] == pytest.approx(ref_b[1], abs=0.0)
    assert got[("b", 22)] == pytest.approx(ref_b[2], abs=0.0)


def test_null_group_key_is_its_own_group(spark):
    """A NULL series key groups like Spark groupBy: its rows fold
    together, separate from every named series."""
    from aws_greengrass_labs_database_influxdb_spark.operators.analytics import (
        exponential_moving_average,
    )

    rows = [
        (None, 1, 1.0, 1), (None, 2, 2.0, 2), (None, 3, 3.0, 3),
        ("x", 1, 5.0, 4), ("x", 2, 6.0, 5),
    ]
    df = spark.createDataFrame(
        rows, "series string, time_ns long, f_float double, ingest_seq long"
    )
    out = exponential_moving_average(df, 2, by=("series",)).collect()
    nulls = sorted(r["ema"] for r in out if r["series"] is None)
    xs = [r["ema"] for r in out if r["series"] == "x"]
    ref_null = [v for v in _ema_ref([1.0, 2.0, 3.0], 2) if v == v]
    assert nulls == pytest.approx(sorted(ref_null), abs=0.0)
    assert xs == pytest.approx([v for v in _ema_ref([5.0, 6.0], 2) if v == v],
                               abs=0.0)


def test_empty_by_folds_one_global_series(spark):
    """by=() folds every row as one global series (the groupBy() shape)."""
    from aws_greengrass_labs_database_influxdb_spark.operators.analytics import (
        exponential_moving_average,
    )

    df = spark.createDataFrame(
        [(i, float(i * i % 7), i) for i in range(20)],
        "time_ns long, f_float double, ingest_seq long",
    )
    out = exponential_moving_average(df, 3, by=()).orderBy("time_ns").collect()
    ref = [v for v in _ema_ref([float(i * i % 7) for i in range(20)], 3) if v == v]
    assert [r["ema"] for r in out] == pytest.approx(ref, abs=0.0)


def test_groups_are_folded_before_the_partition_is_read():
    """The scaffold pulls Arrow batches lazily: the first complete group
    is yielded before the last batch is pulled, so a worker never holds
    the whole partition. Groups spanning batches come out whole, once."""
    from aws_greengrass_labs_database_influxdb_spark.operators.fold import group_chunks

    keys = ["a"] * 5 + [None] * 7 + ["b"] * 2 + ["c"] * 6
    frame = pd.DataFrame({"series": keys, "i": range(len(keys))})
    batches = [frame.iloc[i:i + 4].reset_index(drop=True)
               for i in range(0, len(frame), 4)]
    pulls = []

    def stream():
        for i, b in enumerate(batches):
            pulls.append(i)
            yield b

    groups, pulled_at_first = [], None
    for chunk, bounds in group_chunks(stream(), ["series"]):
        if pulled_at_first is None:
            pulled_at_first = len(pulls)
        groups += [list(chunk["i"].iloc[s:e]) for s, e in zip(bounds[:-1], bounds[1:])]
    assert pulled_at_first < len(batches)
    assert groups == [list(range(0, 5)), list(range(5, 12)),
                      list(range(12, 14)), list(range(14, 20))]
