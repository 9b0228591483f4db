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

from ..frontends.influxql import InfluxQLError, _parse_duration

_CREATE_RX = re.compile(
    r'(?is)^\s*CREATE\s+CONTINUOUS\s+QUERY\s+"?([\w\-]+)"?\s+ON\s+"?([\w\-]+)"?'
    r"(?:\s+RESAMPLE(?:\s+EVERY\s+(\S+))?(?:\s+FOR\s+(\S+))?)?"
    r"\s+BEGIN\s+(.+?)\s+END\s*$"
)
_DROP_RX = re.compile(
    r'(?is)^\s*DROP\s+CONTINUOUS\s+QUERY\s+"?([\w\-]+)"?\s+ON\s+"?([\w\-]+)"?\s*$'
)
_GROUP_TIME_RX = re.compile(r"(?is)GROUP\s+BY\s+.*?time\s*\(\s*(\w+)\s*[,)]")
_INTO_RX = re.compile(r"(?is)\bINTO\s+\"?([\w.\-]+)\"?\s+FROM\b")


@dataclass
class ContinuousQuery:
    name: str
    db: str
    statement: str  # SELECT ... INTO <target> FROM ... GROUP BY time(...)
    every_ns: int  # run grain (RESAMPLE EVERY, else GROUP BY time)
    for_ns: int  # recompute window width (RESAMPLE FOR, else 2×every)

    @property
    def target(self) -> str:
        m = _INTO_RX.search(self.statement)
        return m.group(1) if m else ""


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
        if not _INTO_RX.search(inner):
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
        # same parser run_due will use (INTO stripped, exactly as the
        # run path rewrites it), so an invalid body can never register
        # silently and first fail at its scheduled run
        from ..frontends.influxql import parse_influxql

        parse_influxql(_INTO_RX.sub("FROM", inner))
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
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from ..frontends.influxql import execute_influxql
        from ..operators.core import push_time_filter
        from ..sources.io import into_tag_keys, into_type_triples, result_to_points

        written: dict[str, int] = {}
        for (db, name), cq in self._cqs.items():
            stop_ns = now_ns // cq.every_ns * cq.every_ns
            start_ns = stop_ns - max(cq.for_ns, cq.every_ns)
            points = self.store.read_points(self.org, db)
            windowed = push_time_filter(points, start_ns, stop_ns)
            sel = _INTO_RX.sub("FROM", cq.statement)
            result = execute_influxql(
                windowed, sel,
                field_types=self.store.field_types(self.org, db),
            )
            # INTO tag provenance: GROUP BY tags stay tags in
            # the target; GROUP BY * keeps the all-strings-are-tags
            # downsample mapping (see sources/io._into_split_cols)
            from ..frontends.influxql import parse_influxql

            gt = list(parse_influxql(sel).group_tags)
            into_tags = None if "*" in gt else gt
            # single-execution write: the row count rides the WRITE job
            # as an observation metric, and the type pins and tag keys
            # come from the result schema — one Spark job per CQ run
            # instead of three (write + pin-distinct + count would each
            # re-run the unpersisted aggregate).
            obs = Observation()
            pts = result_to_points(
                result, cq.target, tag_cols=into_tags
            ).observe(obs, F.count(F.lit(1)).alias("n"))
            self.store.write_points(
                self.org, db, pts,
                known_types=into_type_triples(result, cq.target,
                                              tag_cols=into_tags),
                tag_keys=into_tag_keys(result, tag_cols=into_tags),
            )
            written[name] = obs.get["n"]
        return written
