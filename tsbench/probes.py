"""Exact counters read from outside the engine, once before and once
after each op, never inside the timed span.

- Spark jobs: the change in the largest job id the status tracker
  knows (job ids are sequential and one client runs one op at a time;
  the id list itself is pruned once the status store is full, so its
  length is not a count). Stages and tasks are those jobs' own totals
  in the status store.
- JVM GC time: the collectors' MXBeans over py4j.
- CPU and peak RSS: ``/proc/<pid>/stat`` and ``VmHWM`` for the JVM and
  for this Python process. The JVM's CPU includes its Python workers
  (the processes it started, with the children they reaped). The CPU
  of the JVM's JIT compiler threads is read apart, from their
  ``/proc/<pid>/task/<tid>/stat``; the run starts the JVM with a fixed
  set of compiler threads, so none of them exits and takes its CPU out
  of the sum.
- Store files and bytes: a walk of the store root.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_ms(pid: int | str) -> float:
    """User + system CPU of a process, in ms."""
    return _stat_cpu_ms(f"/proc/{pid}/stat")


def _stat_cpu_ms(path: str, reaped: bool = False) -> float:
    with open(path) as fh:
        # fields after the parenthesised command name; utime/stime are
        # the 14th and 15th fields of the full line, cutime/cstime (the
        # reaped children's) the 16th and 17th
        rest = fh.read().rsplit(")", 1)[1].split()
    fields = rest[11:15] if reaped else rest[11:13]
    return sum(map(int, fields)) * 1000 / _CLK_TCK


def tree_cpu_ms(pid: int) -> float:
    """CPU of a process and of every process below it, in ms. A child
    that ended counts through its parent's reaped-children fields."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:  # the process ended
                continue
    below, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        below += kids
        todo += kids
    total = 0.0
    for p in [pid] + below:
        try:
            total += _stat_cpu_ms(f"/proc/{p}/stat", reaped=True)
        except OSError:
            continue
    return total


def jit_threads(pid: int) -> list[str]:
    """``stat`` paths of the JVM's C1/C2 compiler threads."""
    paths = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        path = f"/proc/{pid}/task/{tid}/stat"
        with open(path) as fh:
            line = fh.read()
        if "CompilerThre" in line[line.index("(") + 1:line.rindex(")")]:
            paths.append(path)
    return paths


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    with open("/proc/self/stat") as fh:
        # starttime, in clock ticks since boot, is the 22nd field
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return uptime - start_ticks / _CLK_TCK


def peak_rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tree_size(root: str) -> tuple[int, int]:
    """(data files, bytes) under ``root``; Spark's hidden ``_SUCCESS``
    and ``.crc`` side files are not data and are skipped."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


@dataclass
class Sample:
    job_id: int
    gc_ms: float
    files: int
    bytes: int


@dataclass
class Cpu:
    jvm_ms: float
    jit_ms: float
    py_ms: float


class Probe:
    """Reads the counters of one Spark session and one store root."""

    def __init__(self, spark, store_root: str | None = None):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._gc_beans = list(
            sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self.jvm_pid = sc._gateway.proc.pid
        self._jit = jit_threads(self.jvm_pid)
        self.store_root = store_root

    def settle(self) -> None:
        """Wait until the status store has seen every finished job."""
        self._bus.waitUntilEmpty()

    def last_job_id(self) -> int:
        ids = self._tracker.getJobIdsForGroup()
        return max(ids) if ids else -1

    def sample(self) -> Sample:
        self.settle()
        files, size = tree_size(self.store_root) if self.store_root else (0, 0)
        return Sample(
            job_id=self.last_job_id(),
            gc_ms=float(sum(b.getCollectionTime() for b in self._gc_beans)),
            files=files,
            bytes=size,
        )

    def cpu(self) -> Cpu:
        """CPU so far, read right at the edge of an op's timed span."""
        return Cpu(jvm_ms=tree_cpu_ms(self.jvm_pid),
                   jit_ms=sum(_stat_cpu_ms(p) for p in self._jit),
                   py_ms=cpu_ms("self"))

    def stages_tasks(self, first_job: int, last_job: int) -> tuple[int, int]:
        """Stages and tasks that completed in jobs (first_job, last_job].

        Each job's own totals are summed. With AQE every shuffle stage
        runs in a map-stage job of its own, and the final job lists it
        again as skipped; the store then keeps the skipped attempt as
        that stage's record, so per-stage records would miss the work.
        A job counts only the stages and tasks it ran itself, so the sum
        counts each stage once. Skipped stages are not counted."""
        stages = tasks = 0
        for jid in range(first_job + 1, last_job + 1):
            job = self._store.job(jid)
            stages += job.numCompletedStages()
            tasks += job.numCompletedTasks()
        return stages, tasks

    def peak_rss(self) -> tuple[float, float]:
        """(JVM, Python) peak resident set, MB."""
        return peak_rss_mb(self.jvm_pid), peak_rss_mb("self")


def delta(before: Sample, after: Sample, cpu0: Cpu, cpu1: Cpu, probe: Probe) -> dict:
    """The counts one op added. ``cpu_ms`` is all the CPU of both
    processes; ``engine_cpu_ms`` leaves out the JIT compiler's part."""
    stages, tasks = probe.stages_tasks(before.job_id, after.job_id)
    cpu = (cpu1.jvm_ms - cpu0.jvm_ms) + (cpu1.py_ms - cpu0.py_ms)
    jit = cpu1.jit_ms - cpu0.jit_ms
    return {
        "jobs": after.job_id - before.job_id,
        "stages": stages,
        "tasks": tasks,
        "gc_ms": after.gc_ms - before.gc_ms,
        "cpu_ms": cpu,
        "jit_ms": jit,
        "engine_cpu_ms": cpu - jit,
        "files": after.files - before.files,
        "bytes": after.bytes - before.bytes,
    }
