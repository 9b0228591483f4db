"""InfluxDB 2.x Flux tasks: ``option task = {...}`` scripts + registry
+ scheduler-free runner over the LWW bucket store.

The 2.x downsampling idiom (reference engine's ``/api/v2/tasks``;
public docs) is a Flux script headed by an option block::

    option task = {name: "downsample-1h", every: 1h, offset: 5m}
    from(bucket: "telemetry")
      |> range(start: -2h)
      |> aggregateWindow(every: 1h, fn: mean)
      |> to(bucket: "telemetry-1h")

Here a task is registered metadata (name/every/offset) plus the body,
and :meth:`FluxTaskRegistry.run` executes the body with ``now`` pinned
to the task's aligned boundary and a store-backed ``to()`` sink. Like
the v1 CQ runner (``streaming/cq.py``), re-runs are idempotent through
LWW write-back, so no run-state needs to persist: "run at least every
``every``" is the whole scheduling contract, and ``run_due`` is safe
to call from any cadence source (timer, stream batch, test).

Scale: each run reads only what the body's ``range()`` covers (pushed
time filter → partition pruning); cost is bounded by the recompute
window, never bucket size.
"""

from __future__ import annotations

import functools
import itertools
import re
from dataclasses import dataclass

from pyspark.sql import SparkSession

from ..frontends.flux import FluxError, execute_flux_multi
from ..operators.windows import duration_ns
from ..sources.io import write_result

_OPTION_RX = re.compile(r"(?s)^\s*option\s+task\s*=\s*\{(.*?)\}\s*(.*)$")
_FROM_BUCKET_RX = re.compile(r'from\s*\(\s*bucket\s*:\s*"([^"]+)"')


@dataclass
class FluxTask:
    id: str | None  # None until registered
    name: str
    every_ns: int
    offset_ns: int
    flux: str  # full script incl. option block (the API echo format)
    body: str  # script minus the option block (what runs)
    status: str = "active"
    last_success_ns: int | None = None  # tasks.lastSuccess() binding

    @property
    def source_bucket(self) -> str:
        m = _FROM_BUCKET_RX.search(self.body)
        if not m:
            raise FluxError("task body must read from(bucket: ...)")
        return m.group(1)


def parse_task(flux_text: str) -> FluxTask:
    """A task script → its task, not yet registered (no id). No side
    effects, so a caller can authorize on the task's source bucket
    before :meth:`FluxTaskRegistry.register` holds it."""
    m = _OPTION_RX.match(flux_text.strip())
    if not m:
        raise FluxError("task script must start with option task = {...}")
    opts: dict[str, str] = {}
    for part in m.group(1).split(","):
        if ":" in part:
            k, _, v = part.partition(":")
            opts[k.strip()] = v.strip().strip('"')
    if "name" not in opts or "every" not in opts:
        raise FluxError("option task needs name: and every:")
    body = m.group(2).strip()
    if not body:
        raise FluxError("task has no pipeline body")
    return FluxTask(
        id=None,
        name=opts["name"],
        every_ns=duration_ns(opts["every"]),
        offset_ns=duration_ns(opts["offset"]) if "offset" in opts else 0,
        flux=flux_text,
        body=body,
    )


class FluxTaskRegistry:
    """Hold and run Flux tasks for one org's buckets."""

    def __init__(self, store, org: str):
        self.store = store
        self.org = org
        self._tasks: dict[str, FluxTask] = {}
        self._ids = itertools.count(1)

    # ------------------------------------------------------------ CRUD

    def register(self, task: FluxTask) -> FluxTask:
        """Hold a parsed task (:func:`parse_task`) under a fresh id."""
        if any(t.name == task.name for t in self._tasks.values()):
            raise FluxError(f"task {task.name!r} already exists")
        task.id = f"{next(self._ids):016x}"
        self._tasks[task.id] = task
        return task

    def get(self, task_id: str) -> FluxTask:
        if task_id not in self._tasks:
            raise KeyError(f"task {task_id!r} not found")
        return self._tasks[task_id]

    def delete(self, task_id: str) -> None:
        del self._tasks[self.get(task_id).id]

    def list(self) -> list[FluxTask]:
        return sorted(self._tasks.values(), key=lambda t: t.id)

    # ------------------------------------------------------------ run

    def run(self, spark: SparkSession, task_id: str, now_ns: int) -> int:
        """One task run with ``now`` pinned to the task's latest
        aligned boundary ≤ now (InfluxDB's scheduled-run `now`
        semantics: ``range(start: -task.every)`` then covers exactly
        the grain being recomputed). Returns rows in the task's final
        result (0 for pure ``to()`` sinks)."""
        task = self.get(task_id)
        aligned = (now_ns - task.offset_ns) // task.every_ns * task.every_ns \
            + task.offset_ns
        points = self.store.read_points(self.org, task.source_bucket)
        body = self._bind_last_success(task, aligned)
        results = execute_flux_multi(
            points, body, now_ns=aligned,
            sink=functools.partial(write_result, self.store, self.org),
        )
        last = list(results.values())[-1]
        n = last.count()
        task.last_success_ns = aligned  # the run completed
        return n

    _LAST_SUCCESS_RX = re.compile(
        r"tasks\.lastSuccess\(\s*orTime\s*:\s*([^)]+?)\s*\)"
    )

    def _bind_last_success(self, task: FluxTask, aligned_now_ns: int) -> str:
        """``tasks.lastSuccess(orTime:)`` from SCRIPT TEXT (the stdlib
        incremental-task idiom ``range(start: tasks.lastSuccess(...))``):
        binds to the task's previous successful aligned run time, or
        the orTime fallback (duration relative to this run's now, or
        an absolute RFC3339 literal) on the first run."""
        def _sub(m: re.Match) -> str:
            if task.last_success_ns is not None:
                ns = task.last_success_ns
            else:
                from ..frontends.flux import _time_to_ns

                ns = _time_to_ns(m.group(1), aligned_now_ns)
            # emit an RFC3339 literal every time-arg parser accepts
            import datetime as _dt

            t = _dt.datetime.fromtimestamp(ns / 1e9, tz=_dt.timezone.utc)
            frac = f"{ns % 10**9:09d}".rstrip("0")
            base = t.strftime("%Y-%m-%dT%H:%M:%S")
            return f"{base}.{frac}Z" if frac else f"{base}Z"

        return self._LAST_SUCCESS_RX.sub(_sub, task.body)

    def run_due(self, spark: SparkSession, now_ns: int) -> dict[str, int]:
        """Run every active task; returns result rows per task name.
        Idempotent via LWW write-back — overlapping or repeated runs
        of the same grain converge to the same stored rows."""
        return {
            t.name: self.run(spark, t.id, now_ns)
            for t in self.list()
            if t.status == "active"
        }
