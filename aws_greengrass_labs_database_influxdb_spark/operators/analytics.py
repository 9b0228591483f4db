"""Window-like per-series transforms (SURVEY.md §2.2.6):
derivative/difference/increase/cumulativeSum/elapsed, moving averages,
the recursive EMA family, state tracking, histograms, 2-col stats.

All closed-form transforms are Spark window functions over
``partitionBy(series).orderBy(time)`` — one shuffle on the series key,
then whole-stage codegen. Only the genuinely recursive family
(EMA/double/triple EMA, Holt-Winters, KAMA, RSI's smoothed variant)
drops to a pandas fold per series, on the shared scaffold in
``operators/fold.py``.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from . import _cfold
from .fold import fold_groups, fold_series


def _orderlist(order) -> list[str]:
    return [order] if isinstance(order, str) else list(order)


def _series_window(by: Sequence[str], order):
    return W.partitionBy(*by).orderBy(*_orderlist(order))


def derivative(
    df: DataFrame,
    unit_seconds: float = 1.0,
    non_negative: bool = False,
    value: str = "f_float",
    by: Sequence[str] = ("measurement", "field"),
    time_ns: str = "time_ns",
    alias: str = "derivative",
    order=None,
) -> DataFrame:
    """Flux ``derivative(unit:, nonNegative:)`` / InfluxQL DERIVATIVE.

    (v − v_prev) / Δt × unit per series; first row per series drops
    (no predecessor). ``nonNegative`` nulls out negative rates
    (counter-reset handling). ``order`` (default: time) may add
    tie-break columns for a total order.
    """
    w = _series_window(by, order or time_ns)
    dv = F.col(value) - F.lag(value).over(w)
    # Δt in *units*: ns → seconds → units. (A previous form divided by
    # 1e9/unit, i.e. multiplied by the unit — inverted scaling for any
    # unit ≠ 1s; caught by the nested-transform golden test.)
    dt = (F.col(time_ns) - F.lag(time_ns).over(w)) / F.lit(1e9) / F.lit(unit_seconds)
    d = dv / dt
    if non_negative:
        d = F.when(d >= 0, d)
    return (
        df.withColumn("_has_prev", F.lag(time_ns).over(w).isNotNull())
        .withColumn(alias, d)
        .filter(F.col("_has_prev"))  # first row per series has no derivative
        .drop("_has_prev")
    )


def difference(
    df: DataFrame,
    non_negative: bool = False,
    value: str = "f_float",
    by: Sequence[str] = ("measurement", "field"),
    time_ns: str = "time_ns",
    alias: str = "difference",
    order=None,
    keep_first: bool = False,
    initial_zero: bool = False,
) -> DataFrame:
    """Flux ``difference(nonNegative:, keepFirst:, initialZero:)``:
    v − v_prev per series.

    Stock defaults: each table's FIRST row is dropped (``keepFirst:
    false`` — same rule as derivative's no-predecessor drop);
    ``keepFirst: true`` keeps it with a null difference. With
    ``nonNegative: true`` a decreasing step yields null, unless
    ``initialZero: true`` makes it diff against 0 (i.e. the current
    value) — the stdlib's counter-reset convention. The first row's
    default (dropped) matters: counter dashboards count the rows.
    """
    w = _series_window(by, order or time_ns)
    d = F.col(value) - F.lag(value).over(w)
    if non_negative:
        d = F.when(d >= 0, d).otherwise(
            F.col(value) if initial_zero else F.lit(None)
        )
    out = (
        df.withColumn("_has_prev", F.lag(time_ns).over(w).isNotNull())
        .withColumn(alias, d)
    )
    if not keep_first:
        out = out.filter(F.col("_has_prev"))
    return out.drop("_has_prev")


def increase(
    df: DataFrame,
    value: str = "f_float",
    by: Sequence[str] = ("measurement", "field"),
    time_ns: str = "time_ns",
    alias: str = "increase",
    order=None,
) -> DataFrame:
    """Flux ``increase()``: running sum of non-negative deltas.

    Counter resets (delta < 0) contribute the new value itself.
    """
    w = _series_window(by, order or time_ns)
    delta = F.col(value) - F.lag(value).over(w)
    # integer 0 literal: keeps decimal inputs decimal (a 0.0 double would
    # coerce the whole branch to double and lose exact arithmetic)
    contrib = F.when(delta.isNull(), F.lit(0)).when(delta < 0, F.col(value)).otherwise(delta)
    run = _series_window(by, order or time_ns).rowsBetween(W.unboundedPreceding, 0)
    return df.withColumn(alias, F.sum(contrib).over(run))


def cumulative_sum(
    df: DataFrame,
    value: str = "f_float",
    by: Sequence[str] = ("measurement", "field"),
    time_ns: str = "time_ns",
    alias: str = "cumulative_sum",
    order=None,
) -> DataFrame:
    """Flux ``cumulativeSum()``."""
    w = _series_window(by, order or time_ns).rowsBetween(W.unboundedPreceding, 0)
    return df.withColumn(alias, F.sum(value).over(w))


def elapsed(
    df: DataFrame,
    unit_seconds: float = 1.0,
    by: Sequence[str] = ("measurement", "field"),
    time_ns: str = "time_ns",
    alias: str = "elapsed",
    order=None,
) -> DataFrame:
    """Flux ``elapsed(unit:)``: Δt between consecutive rows, in units."""
    w = _series_window(by, order or time_ns)
    dt = (F.col(time_ns) - F.lag(time_ns).over(w)) / F.lit(1e9 * unit_seconds)
    return df.withColumn(alias, F.floor(dt).cast("long"))


def moving_average(
    df: DataFrame,
    n: int,
    value: str = "f_float",
    by: Sequence[str] = ("measurement", "field"),
    time_ns: str = "time_ns",
    alias: str = "moving_average",
    order=None,
) -> DataFrame:
    """Flux ``movingAverage(n:)``: mean of the last n rows per series.

    Flux emits output only once n values are available; we compute for
    all rows and flag completeness so callers can filter.
    """
    w = _series_window(by, order or time_ns).rowsBetween(-(n - 1), 0)
    return (
        df.withColumn(alias, F.avg(value).over(w))
        .withColumn("_ma_n", F.count(value).over(w))
        .filter(F.col("_ma_n") == n)
        .drop("_ma_n")
    )


def timed_moving_average(
    df: DataFrame,
    period_seconds: int,
    value: str = "f_float",
    by: Sequence[str] = ("measurement", "field"),
    time_ns: str = "time_ns",
    alias: str = "timed_moving_average",
) -> DataFrame:
    """Flux ``timedMovingAverage(every:, period:)`` — time-range window.

    rangeBetween over epoch-ns: mean of rows within the trailing period.
    """
    w = (
        W.partitionBy(*by)
        .orderBy(time_ns)
        .rangeBetween(-(period_seconds * 10**9 - 1), 0)
    )
    return df.withColumn(alias, F.avg(value).over(w))


# ---------------------------------------------------------------- recursive

def _fold_values(df, by, time_ns, value, alias, fn, keep=()):
    """Run the value fold ``fn(v) -> array`` per series in
    ``(time_ns, ingest_seq)`` order — the tie-break keeps recursions
    stable when two points share a timestamp (same rule as the window
    family). Only the key, order, display-time and value columns cross
    the Arrow exchange: Catalyst cannot prune through the opaque pandas
    stage, and wide pass-through columns dominated the EMA family's
    runtime."""
    return fold_series(df, by, [time_ns, "ingest_seq"],
                       ["time", value, *keep], value, alias, fn)


def exponential_moving_average(
    df: DataFrame,
    n: int,
    value: str = "f_float",
    by: Sequence[str] = ("measurement", "field"),
    time_ns: str = "time_ns",
    alias: str = "ema",
    keep: Sequence[str] = (),
) -> DataFrame:
    """Flux ``exponentialMovingAverage(n:)``.

    EMA_t = EMA_{t−1} + k·(v_t − EMA_{t−1}), k = 2/(n+1); seeded with
    the SMA of the first n points (InfluxDB semantics). Recursive →
    a pandas fold per series; the arithmetic is an explicit sequential
    fold (seed = sequential sum / n) so the DuckDB oracle can reproduce
    it bit-for-bit with ``list_reduce`` — see suite/timeseries.EMA_SQL.

    Emission contract (stock): the n−1 warm-up rows (no EMA yet) are
    DROPPED — ``exponentialMovingAverage(n: 3)`` on 5 points emits 3
    rows, the first being the SMA seed, never null warm-up rows.

    The fold runs in the native kernel (_cfold — same expression tree,
    FMA contraction disabled, self-checked at load) when available, so
    a multi-hundred-million-row series pays C speed, not Python
    bytecode; the Python fold below is the gated fallback and the
    bit-exactness reference (test_analytics_native_parity).
    """
    out = _fold_values(df, by, time_ns, value, alias,
                       lambda v: ema_values(v, n), keep)
    # warm-up rows carry NaN → Arrow null: drop them (stock emission)
    return out.filter(F.col(alias).isNotNull())


def ema_values(va: np.ndarray, n: int, native: bool = True) -> np.ndarray:
    """The EMA fold on a sorted value array (native kernel when
    available; Python-float fold otherwise — bit-identical, see
    test_analytics_native)."""
    m = len(va)
    if native and m >= n:
        out = _cfold.ema(va, n, 2.0 / (n + 1))
        if out is not None:
            return out
    # .tolist() unboxes to Python floats: same IEEE-754 double
    # arithmetic bit-for-bit, ~4x less per-element overhead than
    # np.float64 scalar indexing in the sequential fold.
    v = va.tolist()
    out = np.full(m, np.nan)
    if m < n:
        return out
    k = 2.0 / (n + 1)
    s = 0.0
    for x in v[:n]:
        s = s + x
    e = s / float(n)
    out[n - 1] = e
    o = out.tolist()
    for i in range(n, m):
        e = e + k * (v[i] - e)
        o[i] = e
    return np.asarray(o, dtype=float)


def double_ema(df, n, value="f_float", by=("measurement", "field"),
               time_ns="time_ns", alias="dema"):
    """Flux ``doubleEMA(n:)`` = 2·EMA_N − EMA of EMA_N.

    Each EMA stage drops its own warm-up rows, so the chained
    emission count is m − 2(n−1) — the stock doubleEMA contract."""
    e1 = exponential_moving_average(df, n, value, by, time_ns, "_e1")
    e2 = exponential_moving_average(e1, n, "_e1", by, time_ns, "_e2")
    return (
        e2.withColumn(alias, 2 * F.col("_e1") - F.col("_e2"))
        .filter(F.col(alias).isNotNull())
        .drop("_e1", "_e2")
    )


def triple_ema(df, n, value="f_float", by=("measurement", "field"),
               time_ns="time_ns", alias="tema"):
    """Flux ``tripleEMA(n:)`` = 3·EMA1 − 3·EMA2 + EMA3."""
    e1 = exponential_moving_average(df, n, value, by, time_ns, "_e1")
    e2 = exponential_moving_average(e1, n, "_e1", by, time_ns, "_e2")
    e3 = exponential_moving_average(e2, n, "_e2", by, time_ns, "_e3", keep=("_e1",))
    return (
        e3.withColumn(alias, 3 * F.col("_e1") - 3 * F.col("_e2") + F.col("_e3"))
        .filter(F.col(alias).isNotNull())
        .drop("_e1", "_e2", "_e3")
    )


def deadman(
    df: DataFrame,
    every: str | int,
    range_start: int,
    range_stop: int,
    by: Sequence[str] = ("measurement", "field"),
) -> DataFrame:
    """Flux ``monitor.deadman`` — per (series × window), flag windows
    that received no data. The alerting primitive behind InfluxDB
    checks ("host stopped reporting").

    Composition of existing scale-safe pieces: window-assign + count
    (one hash aggregate with map-side partials) left-joined onto the
    createEmpty spine (|series| × |windows| rows — independent of data
    volume). ``dead`` = zero points in the window.
    """
    from .windows import duration_ns, window, window_spine

    every_n = duration_ns(every)
    w = window(df, every_n)
    counts = w.groupBy(*by, "_start_ns").agg(F.count(F.lit(1)).alias("n"))
    spine = window_spine(df, range_start, range_stop, every_n, by=list(by))
    j = spine.join(counts, on=[*by, "_start_ns"], how="left")
    return (
        j.withColumn("n", F.coalesce("n", F.lit(0)))
        .withColumn("dead", F.col("n") == 0)
    )


def triple_exponential_derivative(df, n, value="f_float", by=("measurement", "field"),
                                  time_ns="time_ns", alias="trix"):
    """Flux ``tripleExponentialDerivative(n:)`` — TRIX oscillator.

    One-period percent change (×100) of the *triple-smoothed* EMA
    (EMA∘EMA∘EMA — not TEMA): three stacked recursive folds, then a
    lag window per series. Each EMA stage drops its warm-up rows
    before feeding the next, matching the Flux stdlib's chaining.
    """
    e1 = exponential_moving_average(df, n, value, by, time_ns, "_e1")
    e2 = exponential_moving_average(e1, n, "_e1", by, time_ns, "_e2")
    e3f = exponential_moving_average(e2, n, "_e2", by, time_ns, "_e3")
    order = [time_ns] + (["ingest_seq"] if "ingest_seq" in df.columns else [])
    prev = F.lag("_e3").over(_series_window(by, order))
    return (
        e3f.withColumn(alias, (F.col("_e3") - prev) / prev * 100.0)
        .filter(F.col(alias).isNotNull())
        .drop("_e1", "_e2", "_e3")
    )


def relative_strength_index(df, n, value="f_float", by=("measurement", "field"),
                            time_ns="time_ns", alias="rsi"):
    """Flux ``relativeStrengthIndex(n:)`` (Wilder smoothing — recursive).

    avg_up/avg_down fold as y = y + (1/n)·(x − y) seeded with the first
    delta's up/down; output masked until n deltas observed. Explicit
    sequential arithmetic for DuckDB-oracle bit parity. The n warm-up
    rows are DROPPED (stock emission: m − n rows, never a null
    indicator beside the live raw value).
    """
    out = _fold_values(df, by, time_ns, value, alias, lambda v: rsi_values(v, n))
    return out.filter(F.col(alias).isNotNull())


def rsi_values(v: np.ndarray, n: int, native: bool = True) -> np.ndarray:
    """The Wilder-RSI fold on a sorted value array (native kernel when
    available; Python-float fold otherwise — bit-identical)."""
    m = len(v)
    out = np.full(m, np.nan)
    if m <= n:
        return out
    if native:
        nat = _cfold.rsi(v, n)
        if nat is not None:
            return nat
    a = 1.0 / n
    d = np.diff(v)
    # list fold (Python floats): bit-identical IEEE arithmetic,
    # much cheaper than np.float64 scalar ops in the recursion
    up = np.where(d > 0.0, d, 0.0).tolist()
    dn = np.where(d < 0.0, -d, 0.0).tolist()
    au, ad = up[0], dn[0]
    o = out.tolist()
    for j in range(1, m - 1):
        au = au + a * (up[j] - au)
        ad = ad + a * (dn[j] - ad)
        i = j + 1  # row carrying the value after delta j
        if i >= n:
            o[i] = 100.0 if ad == 0.0 else 100.0 - 100.0 / (1.0 + au / ad)
    return np.asarray(o, dtype=float)


def kaufmans_er(df, n, value="f_float", by=("measurement", "field"),
                time_ns="time_ns", alias="ker"):
    """Flux ``kaufmansER(n:)``: |v_t − v_{t−n}| / Σ|v_i − v_{i−1}|.

    Closed-form over windows — no pandas needed.
    """
    w = _series_window(by, time_ns)
    wn = _series_window(by, time_ns).rowsBetween(-(n - 1), 0)
    change = F.abs(F.col(value) - F.lag(value, n).over(w))
    vol_step = F.abs(F.col(value) - F.lag(value, 1).over(w))
    df2 = df.withColumn("_vs", vol_step)
    volatility = F.sum("_vs").over(wn)
    return (
        df2.withColumn(alias, change / volatility)
        .filter(F.col(alias).isNotNull())
        .drop("_vs")
    )


def kaufmans_ama(df, n, value="f_float", by=("measurement", "field"),
                 time_ns="time_ns", alias="kama"):
    """Flux ``kaufmansAMA(n:)`` — recursive adaptive MA.

    The efficiency-ratio inputs (|Δ| window sums) are vectorized via a
    cumulative-sum difference — O(m), not O(m·n); only the smoothing
    recursion itself stays scalar. The cumsum form is also what the
    DuckDB oracle computes (running SUM window minus its lag), keeping
    the two engines bit-identical.

    Emission (stock — the Flux stdlib's ``kaufmansAMA(n: 10)``
    doc example emits 6 rows from 16 points): m − n rows; the seed
    value (row n−1, = v[n−1]) feeds the recursion but is NOT emitted,
    and the warm-up rows are dropped.
    """
    out = _fold_values(df, by, time_ns, value, alias, lambda v: kama_values(v, n))
    return out.filter(F.col(alias).isNotNull())


def kama_values(v: np.ndarray, n: int, native: bool = True) -> np.ndarray:
    """KAMA on a sorted value array: numpy-vectorized efficiency-ratio
    inputs, then the scalar smoothing recursion (native kernel when
    available; Python-float fold otherwise — bit-identical).

    The seed (row n−1 = v[n−1]) starts the recursion but its row stays
    NaN — stock emits the first KAMA at row n."""
    m = len(v)
    out = np.full(m, np.nan)
    if m <= n:
        return out
    fast, slow = 2.0 / (2 + 1), 2.0 / (30 + 1)
    # cs[i] = |Δ| cumsum through row i; window sum = cs[i] − cs[i−n]
    cs = np.concatenate(([0.0], np.cumsum(np.abs(np.diff(v)))))
    idx = np.arange(n, m)
    change = np.abs(v[idx] - v[idx - n])
    vol = cs[idx] - cs[idx - n]
    safe_vol = np.where(vol != 0.0, vol, 1.0)
    er = np.where(vol != 0.0, change / safe_vol, 0.0)
    sc_arr = (er * (fast - slow) + slow) ** 2
    if native:
        nat = _cfold.kama(v, n, sc_arr)
        if nat is not None:
            nat = np.array(nat, dtype=float, copy=True)
            nat[n - 1] = np.nan  # seed row is not emitted
            return nat
    # list fold for the scalar recursion (bit-identical doubles,
    # lower per-element overhead than np.float64 indexing)
    vl, scl, o = v.tolist(), sc_arr.tolist(), out.tolist()
    prev = vl[n - 1]
    for j in range(len(idx)):
        i = n + j
        prev = prev + scl[j] * (vl[i] - prev)
        o[i] = prev
    return np.asarray(o, dtype=float)


def chande_momentum_oscillator(df, n, value="f_float", by=("measurement", "field"),
                               time_ns="time_ns", alias="cmo"):
    """Flux ``chandeMomentumOscillator(n:)`` = 100·(Σup − Σdown)/(Σup + Σdown)."""
    w = _series_window(by, time_ns)
    wn = _series_window(by, time_ns).rowsBetween(-(n - 1), 0)
    delta = F.col(value) - F.lag(value).over(w)
    df2 = (
        df.withColumn("_up", F.when(delta > 0, delta).otherwise(F.lit(0.0)))
        .withColumn("_dn", F.when(delta < 0, -delta).otherwise(F.lit(0.0)))
        .withColumn("_cnt", F.when(delta.isNotNull(), 1).otherwise(0))
    )
    su, sd = F.sum("_up").over(wn), F.sum("_dn").over(wn)
    nvalid = F.sum("_cnt").over(wn)
    return (
        df2.withColumn(alias, F.when(nvalid >= n, 100 * (su - sd) / (su + sd)))
        .filter(F.col(alias).isNotNull())
        .drop("_up", "_dn", "_cnt")
    )


def _nelder_mead(f, x0, max_iter=250, tol=1e-12):
    """Scipy-free Nelder-Mead simplex minimizer (standard coefficients
    α=1, γ=2, ρ=0.5, σ=0.5) — the same optimizer family InfluxDB's
    holtWinters uses to fit smoothing coefficients. Deterministic:
    fixed initial simplex, no randomness."""
    x0 = np.asarray(x0, dtype=float)
    k = len(x0)
    simplex = [x0]
    for i in range(k):
        p = x0.copy()
        p[i] = p[i] + 0.1 if p[i] + 0.1 < 1 else p[i] - 0.1
        simplex.append(p)
    vals = [f(p) for p in simplex]
    for _ in range(max_iter):
        order = np.argsort(vals, kind="stable")
        simplex = [simplex[i] for i in order]
        vals = [vals[i] for i in order]
        if abs(vals[-1] - vals[0]) < tol:
            break
        centroid = np.mean(simplex[:-1], axis=0)
        refl = centroid + (centroid - simplex[-1])
        f_refl = f(refl)
        if vals[0] <= f_refl < vals[-2]:
            simplex[-1], vals[-1] = refl, f_refl
        elif f_refl < vals[0]:
            exp = centroid + 2.0 * (centroid - simplex[-1])
            f_exp = f(exp)
            if f_exp < f_refl:
                simplex[-1], vals[-1] = exp, f_exp
            else:
                simplex[-1], vals[-1] = refl, f_refl
        else:
            contr = centroid + 0.5 * (simplex[-1] - centroid)
            f_contr = f(contr)
            if f_contr < vals[-1]:
                simplex[-1], vals[-1] = contr, f_contr
            else:
                simplex = [simplex[0] + 0.5 * (p - simplex[0]) for p in simplex]
                vals = [f(p) for p in simplex]
    best = int(np.argmin(vals))
    return simplex[best]


def holt_winters(df, n, interval_seconds, seasonality=0, value="f_float",
                 by=("measurement", "field"), time_ns="time_ns", fit=False,
                 include_fitted=False):
    """Flux/InfluxQL ``holtWinters(n:, interval:, seasonality:)`` —
    forecast n points per series.

    ``seasonality == 0``: double (Holt) exponential smoothing, fixed
    α=β=0.5, explicit sequential arithmetic (DuckDB-oracle-matchable).
    ``seasonality == s > 0``: additive triple exponential smoothing
    (Holt-Winters proper): seasonal components seeded from the first
    season against the first-season mean, γ=0.5.

    ``fit=True``: fit α/β(/γ) per series by minimizing one-step-ahead
    SSE with a scipy-free Nelder-Mead — matching the reference
    engine's behavior (InfluxDB 2.0.9 fits coefficients the same way;
    exact forecasts still differ since its loss/seeding details are
    unpublished). Default ``fit=False`` keeps the deterministic
    fixed-coefficient path the DuckDB oracle can reproduce.

    ``include_fitted=True`` (InfluxQL ``HOLT_WINTERS_WITH_FIT``): also
    emit the in-sample one-step-ahead predictions at each input
    timestamp the recursion predicts (index ≥ 1 non-seasonal, ≥ s
    seasonal), ahead of the n forecast rows.
    """
    out_schema = T.StructType(
        [T.StructField(c, df.schema[c].dataType, True) for c in by]
        + [T.StructField("time_ns", T.LongType()), T.StructField("hw", T.DoubleType())]
    )
    by = list(by)

    def _hw(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[value].astype(float).to_numpy()
        keys = {c: pdf[c].iloc[0] for c in by}
        m = len(v)
        if m < 2:
            return pd.DataFrame()
        t0 = int(pdf[time_ns].iloc[-1])
        step = int(interval_seconds * 1e9)
        s = int(seasonality or 0)

        tns = pdf[time_ns].astype("int64").to_numpy()

        def run_holt(alpha, beta):
            # returns (one-step SSE, final level, final trend, preds);
            # preds[i] is the one-step prediction for v[i+1]
            if not (0 < alpha < 1 and 0 < beta < 1):
                return float("inf"), None, None, None
            level, trend, sse = v[0], v[1] - v[0], 0.0
            preds = []
            for x in v[1:]:
                pred = level + trend
                preds.append(pred)
                sse += (x - pred) ** 2
                prev = level
                level = alpha * x + (1 - alpha) * (level + trend)
                trend = beta * (level - prev) + (1 - beta) * trend
            return sse, level, trend, preds

        def run_hw(alpha, beta, gamma):
            if not (0 < alpha < 1 and 0 < beta < 1 and 0 < gamma < 1):
                return float("inf"), None, None, None, None
            mean1 = float(np.mean(v[:s]))
            mean2 = float(np.mean(v[s : 2 * s]))
            level, trend = mean1, (mean2 - mean1) / s
            seas = [v[i] - mean1 for i in range(s)]
            sse = 0.0
            preds = []  # preds[j] predicts v[s + j]
            for t in range(s, m):
                pred = level + trend + seas[t % s]
                preds.append(pred)
                sse += (v[t] - pred) ** 2
                prev = level
                level = alpha * (v[t] - seas[t % s]) + (1 - alpha) * (level + trend)
                trend = beta * (level - prev) + (1 - beta) * trend
                seas[t % s] = gamma * (v[t] - level) + (1 - gamma) * seas[t % s]
            return sse, level, trend, seas, preds

        if s > 0 and m >= 2 * s:
            if fit:
                best = _nelder_mead(lambda p: run_hw(*p)[0], [0.5, 0.5, 0.5])
                _, level, trend, seas, preds = run_hw(*best)
                if level is None:  # degenerate series: fall back to fixed
                    _, level, trend, seas, preds = run_hw(0.5, 0.5, 0.5)
            else:
                _, level, trend, seas, preds = run_hw(0.5, 0.5, 0.5)
            rows = [
                {**keys, "time_ns": int(tns[s + j]), "hw": p}
                for j, p in enumerate(preds)
            ] if include_fitted else []
            rows += [
                {
                    **keys,
                    "time_ns": t0 + (i + 1) * step,
                    "hw": level + (i + 1) * trend + seas[(m + i) % s],
                }
                for i in range(n)
            ]
            return pd.DataFrame(rows)
        if fit:
            best = _nelder_mead(lambda p: run_holt(*p)[0], [0.5, 0.5])
            _, level, trend, preds = run_holt(*best)
            if level is None:
                _, level, trend, preds = run_holt(0.5, 0.5)
        else:
            _, level, trend, preds = run_holt(0.5, 0.5)
        rows = [
            {**keys, "time_ns": int(tns[i + 1]), "hw": p}
            for i, p in enumerate(preds)
        ] if include_fitted else []
        rows += [
            {**keys, "time_ns": t0 + (i + 1) * step, "hw": level + (i + 1) * trend}
            for i in range(n)
        ]
        return pd.DataFrame(rows)

    return fold_groups(df, by, [time_ns, "ingest_seq"], [value], out_schema, _hw)


# ---------------------------------------------------------------- state

def state_count(
    df: DataFrame,
    predicate,
    by: Sequence[str] = ("measurement", "field"),
    time_ns: str = "time_ns",
    alias: str = "state_count",
    order=None,
) -> DataFrame:
    """Flux ``stateCount(fn:)``: consecutive rows matching → 1,2,3...;
    non-matching rows emit −1.

    Gaps-and-islands: run id = running count of non-matching rows; the
    in-run index is a row_number within (series, run id).
    """
    w = _series_window(by, order or time_ns).rowsBetween(W.unboundedPreceding, 0)
    df2 = df.withColumn("_m", F.when(predicate, 1).otherwise(0))
    df2 = df2.withColumn("_run", F.sum(1 - F.col("_m")).over(w))
    wrun = W.partitionBy(*by, "_run").orderBy(*_orderlist(order or time_ns))
    cnt = F.sum("_m").over(wrun.rowsBetween(W.unboundedPreceding, 0))
    return (
        df2.withColumn(alias, F.when(F.col("_m") == 1, cnt).otherwise(F.lit(-1)))
        .drop("_m", "_run")
    )


def state_duration(
    df: DataFrame,
    predicate,
    unit_seconds: float = 1.0,
    by: Sequence[str] = ("measurement", "field"),
    time_ns: str = "time_ns",
    alias: str = "state_duration",
    order=None,
) -> DataFrame:
    """Flux ``stateDuration(fn:)``: seconds since the state began;
    first matching row = 0; non-matching → −1."""
    w = _series_window(by, order or time_ns).rowsBetween(W.unboundedPreceding, 0)
    df2 = df.withColumn("_m", F.when(predicate, 1).otherwise(0))
    df2 = df2.withColumn("_run", F.sum(1 - F.col("_m")).over(w))
    wrun = W.partitionBy(*by, "_run").orderBy(*_orderlist(order or time_ns)).rowsBetween(W.unboundedPreceding, 0)
    start_t = F.min(F.when(F.col("_m") == 1, F.col(time_ns))).over(wrun)
    dur = ((F.col(time_ns) - start_t) / F.lit(1e9 * unit_seconds)).cast("long")
    return (
        df2.withColumn(alias, F.when(F.col("_m") == 1, dur).otherwise(F.lit(-1)))
        .drop("_m", "_run")
    )


def state_changes(
    df: DataFrame,
    level,
    from_level: str | None = None,
    to_level: str | None = None,
    by: Sequence[str] = ("measurement", "field"),
    time_ns: str = "time_ns",
    alias: str = "_level",
    from_alias: str | None = None,
    order=None,
) -> DataFrame:
    """Flux ``monitor.stateChanges(fromLevel:, toLevel:)`` /
    ``monitor.stateChangesOnly()``: keep rows whose level differs from
    the previous row's level in the same series.

    ``level`` is a Column (or column name) carrying the state label.
    With ``from_level``/``to_level`` set, only that specific transition
    survives; with both None, every transition does (stateChangesOnly).
    The first row of a series is never a transition (reference
    semantics: a change needs a predecessor). ``from_alias`` keeps the
    predecessor's level as an output column.

    One ``lag`` over the series window — single shuffle on the series
    key, whole-stage codegen, no UDFs.
    """
    lvl = F.col(level) if isinstance(level, str) else level
    w = _series_window(by, order or time_ns)
    df2 = df.withColumn(alias, lvl).withColumn(
        "_prev_level", F.lag(alias).over(w)
    )
    cond = F.col("_prev_level").isNotNull() & (
        F.col("_prev_level") != F.col(alias)
    )
    if from_level is not None:
        cond = cond & (F.col("_prev_level") == from_level)
    if to_level is not None:
        cond = cond & (F.col(alias) == to_level)
    out = df2.filter(cond)
    if from_alias:
        return out.withColumnRenamed("_prev_level", from_alias)
    return out.drop("_prev_level")


def events_duration(
    df: DataFrame,
    unit_seconds: float = 1.0,
    stop_ns: int | None = None,
    by: Sequence[str] = ("measurement", "field"),
    time_ns: str = "time_ns",
    alias: str = "duration",
    order=None,
) -> DataFrame:
    """Flux ``contrib/tomhollingworth/events.duration(unit:, stop:)``:
    for each row, the time until the *next* row in the same series;
    the last row measures against ``stop_ns`` (when given) else keeps
    its own timestamp (duration 0 — the Flux ``columnName`` default
    degenerates to this when no stop column exists).

    One ``lead`` over the series window; truncation toward zero in
    whole units matches the reference's integer duration output.
    """
    w = _series_window(by, order or time_ns)
    nxt = F.lead(time_ns).over(w)
    bound = F.coalesce(nxt, F.lit(stop_ns) if stop_ns is not None else F.col(time_ns))
    dur = ((bound - F.col(time_ns)) / F.lit(1e9 * unit_seconds)).cast("long")
    return df.withColumn(alias, dur)


# ---------------------------------------------------------------- histogram

def histogram(
    df: DataFrame,
    bins: Sequence[float],
    value: str = "f_float",
    by: Sequence[str] = ("measurement", "field"),
    upper_bound_col: str = "le",
    count_col: str = "count",
) -> DataFrame:
    """Flux ``histogram(bins:)``: **cumulative** counts per upper bound.

    Bucket assignment is a small broadcast range join (bins are a
    handful of literals), counts aggregate per series, then a running
    sum over the ordered bounds makes them cumulative.
    """
    spark = df.sparkSession
    bounds = spark.createDataFrame([(float(b),) for b in sorted(bins)], f"{upper_bound_col} double")
    joined = df.join(F.broadcast(bounds), F.col(value) <= F.col(upper_bound_col), "inner")
    counts = joined.groupBy(*by, upper_bound_col).agg(F.count(F.lit(1)).alias(count_col))
    # ensure every bound appears (zero rows for empty buckets)
    series = df.select(*by).distinct()
    spine = series.crossJoin(F.broadcast(bounds))
    return (
        spine.join(counts, on=[*by, upper_bound_col], how="left")
        .withColumn(count_col, F.coalesce(F.col(count_col), F.lit(0)))
    )


def histogram_quantile(
    df: DataFrame,
    quantile: float,
    by: Sequence[str] = ("measurement", "field"),
    upper_bound_col: str = "le",
    count_col: str = "count",
    alias: str = "value",
) -> DataFrame:
    """Flux ``histogramQuantile(quantile:)`` — linear interpolation within
    the bucket containing the target rank (cumulative-histogram input).

    Window columns are materialized *before* the bucket filter — a
    window expression evaluated after a filter would recompute over the
    surviving rows only.
    """
    w = W.partitionBy(*by).orderBy(upper_bound_col)
    staged = (
        df.withColumn("_total", F.max(count_col).over(W.partitionBy(*by)))
        .withColumn("_prev_c", F.coalesce(F.lag(count_col).over(w), F.lit(0)))
        .withColumn("_prev_le", F.coalesce(F.lag(upper_bound_col).over(w), F.lit(0.0)))
    )
    target = F.lit(quantile) * F.col("_total")
    est = F.col("_prev_le") + (F.col(upper_bound_col) - F.col("_prev_le")) * (
        (target - F.col("_prev_c")) / (F.col(count_col) - F.col("_prev_c"))
    )
    return (
        staged.filter((F.col(count_col) >= target) & (F.col("_prev_c") < target))
        .withColumn(alias, est)
        .select(*by, alias)
    )


# ---------------------------------------------------------------- 2-col stats

def covariance(df, col_a, col_b, by=(), alias="covariance"):
    """Flux ``covariance(columns:)`` (sample covariance)."""
    return df.groupBy(*by).agg(F.covar_samp(col_a, col_b).alias(alias))


def pearsonr(df, col_a, col_b, by=(), alias="pearsonr"):
    """Flux ``pearsonr()`` — Pearson correlation."""
    return df.groupBy(*by).agg(F.corr(col_a, col_b).alias(alias))
