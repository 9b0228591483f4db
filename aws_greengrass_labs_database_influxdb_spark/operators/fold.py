"""Sequential folds: Flux ``reduce(fn:, identity:)`` (SURVEY.md
§2.2.10; reference engine: the Flux stdlib ``reduce`` transformation
of the pinned influxdb:2.0.9) and the per-group pandas scaffold every
recursive per-series operator runs on.

Semantics of ``reduce`` (public Flux docs): per table (= group key),
fold rows in order through ``fn(r, accumulator)`` starting from
``identity``; emit ONE row per table holding the group key + the
accumulator fields.

- :func:`linear_fold` — the fast path. Folds whose accumulator fields
  each update as ``acc.k <op> f(r)`` for a commutative/associative
  ``op`` (+, max, min) compile to a single ``groupBy().agg()`` —
  map-side partial aggregation, one shuffle of pre-combined partials,
  no Python. This covers the overwhelming majority of real reduce()
  calls (sums, counts, extrema, dot products).
- :func:`pandas_fold` — the general path. Order-dependent or
  non-associative folds run the fold literally, one group at a time.
- :func:`fold_groups` / :func:`fold_series` — the scaffold under
  ``pandas_fold``, ``holt_winters`` and the EMA/RSI/KAMA family: one
  hash shuffle on the group key, a JVM sort, and ``mapInPandas`` over
  the streamed Arrow batches (:func:`group_chunks`). A group must fit
  in executor memory — a Flux table is one series, and a sequential
  fold over it cannot be split.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, functions as F
from .errors import OperatorValidationError


def linear_fold(
    df: DataFrame,
    by: Sequence[str],
    terms: dict[str, tuple[float | int | str, Column | None, str]],
) -> DataFrame:
    """One-shuffle fold: ``terms[name] = (identity, increment, op)``.

    ``op`` ∈ {"sum", "max", "min", "const"}; ``increment`` is the
    per-row contribution Column (None for "const"). The result column
    is ``identity ⊕ agg(increment)`` — double-typed like Flux float
    accumulators unless the identity is an int and op is sum.
    """
    aggs = []
    for name, (identity, inc, op) in terms.items():
        if op == "const":
            aggs.append(F.lit(identity).alias(name))
        elif op == "sum":
            aggs.append(
                (F.lit(identity) + F.coalesce(F.sum(inc), F.lit(0))).alias(name)
            )
        elif op == "max":
            aggs.append(F.greatest(F.lit(identity), F.max(inc)).alias(name))
        elif op == "min":
            aggs.append(F.least(F.lit(identity), F.min(inc)).alias(name))
        else:  # pragma: no cover
            raise OperatorValidationError(f"unknown fold op {op!r}")
    if by:
        return df.groupBy(*by).agg(*aggs)
    return df.agg(*aggs)


def pandas_fold(
    df: DataFrame,
    by: Sequence[str],
    order: Sequence[str],
    identity: dict[str, float | int | str],
    step: Callable[[dict, dict], dict],
) -> DataFrame:
    """General fold: rows of each group are folded in ``order`` through
    ``step(acc, row_dict) -> new_acc``. One output row per group, on
    the :func:`fold_groups` scaffold; numeric accumulators are double,
    the rest string."""
    import pandas as pd
    from pyspark.sql import types as T

    by = list(by)
    schema = T.StructType(
        [T.StructField(c, df.schema[c].dataType, True) for c in by]
        + [T.StructField(k, T.DoubleType() if isinstance(v, (int, float))
                         else T.StringType(), True)
           for k, v in identity.items()]
    )
    ident = dict(identity)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = dict(ident)
        cols = list(pdf.columns)
        for row in pdf.itertuples(index=False, name=None):
            acc = step(acc, dict(zip(cols, row)))
        out = {c: [pdf[c].iloc[0]] for c in by}
        out.update({k: [v] for k, v in acc.items()})
        return pd.DataFrame(out)

    return fold_groups(df, by, order, df.columns, schema, fold)


# ---------------------------------------------------------------------------
# the per-group pandas scaffold shared by every sequential fold

def group_chunks(batches, by: Sequence[str]):
    """Split a key-sorted stream of pandas batches into complete groups.

    Yields ``(chunk, bounds)``: ``chunk`` holds only whole groups and
    ``bounds`` are their start offsets plus ``len(chunk)``. A group is
    a run of equal ``by`` keys (NULL keys form their own group, as in
    Spark ``groupBy``); ``by=()`` is one global group. Batches are
    pulled lazily: the unfinished last group of a batch is carried as
    pieces and concatenated once, when the first row of another key
    (or the end of the stream) shows it is complete.
    """
    import numpy as np
    import pandas as pd

    by = list(by)
    pending: list = []  # pieces of the unfinished group
    for pdf in batches:
        if not len(pdf):
            continue
        if not by:
            codes = np.zeros(len(pdf), dtype=np.int64)
        elif len(by) == 1:
            codes, _ = pd.factorize(pdf[by[0]], use_na_sentinel=False)
        else:
            codes, _ = pd.factorize(
                pd.MultiIndex.from_frame(pdf[by]), use_na_sentinel=False
            )
        bounds = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1], True])
        head = 0
        if pending:
            if _same_key(pending[-1], pdf, by):
                head = bounds[1]
                pending.append(pdf.iloc[:head])
                if head == len(pdf):  # the whole batch continues it
                    continue
            # drop the pieces before the fold runs: the group is now one copy
            group, pending = _one_group(pending), []
            yield group
        tail = bounds[-2]
        if head < tail:
            inner = bounds[(bounds >= head) & (bounds <= tail)]
            yield pdf.iloc[head:tail], inner - head
        pending = [pdf.iloc[tail:]]
    if pending:
        group, pending = _one_group(pending), []
        yield group


def _one_group(pieces):
    """``(chunk, bounds)`` for one group from its batch pieces — the
    group's only copy when it spans several batches."""
    import numpy as np
    import pandas as pd

    g = pd.concat(pieces, ignore_index=True) if len(pieces) > 1 else pieces[0]
    return g, np.array([0, len(g)])


def _same_key(prev, pdf, by) -> bool:
    """Whether ``pdf``'s first row has the key of ``prev``'s last row
    (NULL equals NULL, as in factorize with ``use_na_sentinel=False``)."""
    import pandas as pd

    for c in by:
        a, b = prev[c].iat[-1], pdf[c].iat[0]
        na = pd.isna(a)
        if na != pd.isna(b) or (not na and a != b):
            return False
    return True


def _map_groups(df, by, order, keep, schema, emit) -> DataFrame:
    """Prune, hash-partition on ``by``, sort by ``(by, order)`` in the
    JVM, and run ``emit(chunk, bounds)`` over :func:`group_chunks`;
    ``schema(pruned)`` declares the output.

    Invariant: rows reach the Python worker sorted by ``(by, order)``
    — for the time-series callers ``(by, time_ns, ingest_seq)`` — and
    each group is folded whole and exactly once. Memory bound: a
    worker holds one Arrow batch plus the group it is completing, so
    its peak is about max(largest group, Arrow batch), not the hash
    partition.
    """
    order = [c for c in order if c in df.columns]
    cols = [c for c in dict.fromkeys([*by, *order, *keep]) if c in df.columns]
    df = df.select(*cols)
    schema = schema(df)
    # mapInPandas assigns columns by position: emit in schema order
    out_cols = schema.fieldNames()

    def _apply(batches):
        for chunk, bounds in group_chunks(batches, by):
            out = emit(chunk, bounds)
            if out is not None:
                yield out if list(out.columns) == out_cols else out[out_cols]

    parts = [F.col(c) for c in by] or [F.lit(1)]
    out = df.repartition(*parts)
    if by or order:
        out = out.sortWithinPartitions(*by, *order)
    return out.mapInPandas(_apply, schema=schema)


def fold_groups(df, by, order, keep, schema, fn) -> DataFrame:
    """Per-group fold: ``fn(group)`` maps one group's rows (a pandas
    frame in fold order, columns ``by + order + keep``) to that
    group's output rows in ``schema`` (any number, possibly none)."""
    import pandas as pd

    def emit(chunk, bounds):
        outs = [fn(chunk.iloc[s:e]) for s, e in zip(bounds[:-1], bounds[1:])]
        outs = [o for o in outs if len(o)]
        return pd.concat(outs, ignore_index=True) if outs else None

    return _map_groups(df, by, order, keep, lambda _: schema, emit)


def fold_series(df, by, order, keep, value, alias, fn) -> DataFrame:
    """Row-aligned fold: ``fn(v)`` maps one group's ``value`` column
    (float64, fold order) to a float64 array of the same length,
    written as the double column ``alias`` (NaN → null) beside the
    pruned input columns; ``keep`` must name ``value``. One output
    array is filled per chunk, so no frame is built per group."""
    import numpy as np
    from pyspark.sql import types as T

    def emit(chunk, bounds):
        v = chunk[value].astype(float).to_numpy()
        out = np.full(len(v), np.nan)
        for s, e in zip(bounds[:-1], bounds[1:]):
            out[s:e] = fn(v[s:e])
        # a shallow copy takes the new column without copying the rows
        chunk = chunk.copy(deep=False)
        chunk[alias] = out
        return chunk

    def schema(pruned):
        return T.StructType(
            pruned.schema.fields + [T.StructField(alias, T.DoubleType(), True)]
        )

    return _map_groups(df, by, order, keep, schema, emit)
