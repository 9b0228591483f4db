"""InfluxQL 1.x continuous queries (CQ): registry + scheduler-free
runner over the LWW bucket store.

The reference serves InfluxQL over v1 ``/query``, where continuous
queries are the standard downsampling idiom (``CREATE CONTINUOUS
QUERY ... BEGIN SELECT ... INTO ... GROUP BY time(...) END``;
reference README.md documents the v1 consumption path). Here a CQ is
registered metadata plus an idempotent re-run:

- parse stores the *inner* ``SELECT ... INTO`` statement verbatim and
  the run grain (``GROUP BY time(every)`` or ``RESAMPLE EVERY``);
- :meth:`CQRegistry.run_due` re-executes each CQ over its recompute
  window ``[floor(now − for), floor(now))`` against the bucket's
  resolved points and writes the result back through the store's
  normal write path. LWW resolution makes re-runs and overlapping
  windows *idempotent* — exactly why InfluxDB's own CQ RESAMPLE
  overlap is safe — so no run-state needs to be persisted.

Scale: each run reads only the recompute window (pushed time filter →
day-partition pruning), aggregates it, and writes a handful of rows.
Cost is bounded by window width, never bucket size.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import SparkSession

from ..frontends.influxql import (
    InfluxQLError, _parse_duration, parse_influxql, select_into, split_into,
)

_CREATE_RX = re.compile(
    r'(?is)^\s*CREATE\s+CONTINUOUS\s+QUERY\s+"?(?P<name>[\w.\-]+)"?'
    r'\s+ON\s+"?(?P<db>[\w.\-]+)"?'
    r"(?:\s+RESAMPLE(?:\s+EVERY\s+(\S+))?(?:\s+FOR\s+(\S+))?)?"
    r"\s+BEGIN\s+(.+?)\s+END\s*$"
)
_DROP_RX = re.compile(
    r'(?is)^\s*DROP\s+CONTINUOUS\s+QUERY\s+"?(?P<name>[\w.\-]+)"?'
    r'\s+ON\s+"?(?P<db>[\w.\-]+)"?\s*$'
)
_GROUP_TIME_RX = re.compile(r"(?is)GROUP\s+BY\s+.*?time\s*\(\s*(\w+)\s*[,)]")


@dataclass
class ContinuousQuery:
    name: str
    db: str
    statement: str  # SELECT ... INTO <target> FROM ... GROUP BY time(...)
    every_ns: int  # run grain (RESAMPLE EVERY, else GROUP BY time)
    for_ns: int  # recompute window width (RESAMPLE FOR, else 2×every)


class CQRegistry:
    """Parse/hold/run continuous queries for one org's buckets."""

    def __init__(self, store, org: str):
        self.store = store
        self.org = org
        self._cqs: dict[tuple[str, str], ContinuousQuery] = {}

    # ------------------------------------------------------------ DDL

    def create(self, text: str) -> ContinuousQuery:
        m = _CREATE_RX.match(text.strip().rstrip(";"))
        if not m:
            raise InfluxQLError(f"cannot parse CREATE CONTINUOUS QUERY: {text!r}")
        name, db, every_tok, for_tok, inner = m.groups()
        into = split_into(inner)
        if into is None:
            raise InfluxQLError("continuous query body must be SELECT ... INTO")
        gt = _GROUP_TIME_RX.search(inner)
        if every_tok:
            every_ns = _parse_duration(every_tok)
        elif gt:
            every_ns = _parse_duration(gt.group(1))
        else:
            raise InfluxQLError(
                "continuous query needs GROUP BY time(...) or RESAMPLE EVERY"
            )
        # default recompute window: the InfluxDB default is one grain;
        # we use two so a point landing just before the boundary is
        # still folded into its (already-run) window on the next run —
        # the LWW write-back makes the overlap idempotent
        for_ns = _parse_duration(for_tok) if for_tok else 2 * every_ns
        # stock InfluxDB parses the FULL inner statement at CREATE time
        # and rejects it with a parse error — validate here with the
        # same parser each run uses, so an invalid body can never
        # register silently and first fail at its scheduled run
        parse_influxql(into[0])
        cq = ContinuousQuery(name, db, inner.strip(), every_ns, for_ns)
        if (db, name) in self._cqs:
            raise InfluxQLError(f"continuous query {name!r} already exists on {db!r}")
        self._cqs[(db, name)] = cq
        return cq

    def drop(self, text: str) -> None:
        m = _DROP_RX.match(text.strip().rstrip(";"))
        if not m:
            raise InfluxQLError(f"cannot parse DROP CONTINUOUS QUERY: {text!r}")
        name, db = m.groups()
        if (db, name) not in self._cqs:
            raise InfluxQLError(f"continuous query {name!r} not found on {db!r}")
        del self._cqs[(db, name)]

    def show(self) -> list[dict]:
        """Rows for ``SHOW CONTINUOUS QUERIES`` (name + full query per db)."""
        return [
            {
                "db": cq.db,
                "name": cq.name,
                "query": f"CREATE CONTINUOUS QUERY {cq.name} ON {cq.db} "
                         f"BEGIN {cq.statement} END",
            }
            for cq in self._cqs.values()
        ]

    # ------------------------------------------------------------ run

    def run_due(self, spark: SparkSession, now_ns: int) -> dict[str, int]:
        """Run every CQ over its recompute window ending at
        ``floor(now, every)``; returns rows written per CQ name.

        Deliberately schedule-free (callers own cadence — a timer, a
        stream's foreachBatch, or a test): re-running is idempotent, so
        "run at least every ``every``" is the only contract.
        """
        from ..operators.core import push_time_filter

        written: dict[str, int] = {}
        for (db, name), cq in self._cqs.items():
            stop_ns = now_ns // cq.every_ns * cq.every_ns
            start_ns = stop_ns - max(cq.for_ns, cq.every_ns)
            windowed = push_time_filter(self.store.read_points(self.org, db),
                                        start_ns, stop_ns)
            written[name] = select_into(self.store, self.org, db,
                                        cq.statement, windowed)
        return written
