"""Turn a run's records into the printed report and the result line.

Every figure is derived from the timed records only (warm-up ops are
reported by count). The report prints each named metric as::

    metric <name> <value> <unit> n=<samples>

and, per op kind, the first-half and second-half medians of the timed
window and the exact counts per op, so steadiness shows in the output.
"""

from __future__ import annotations

import json
import math

from corpus import JOBS
from harness import geomean, median, p90
from probes import tree_size
from telemetry import FLUX_PANELS, KINDS, QUERY_KINDS

# the gated metrics, in BENCHMARK.json order: set-up wall time and the
# engine CPU the timed ops cost (JIT compiler threads left out)
END_TO_END = {"setup_s": "s", "round_cpu_p50_ms": "ms", "op_cpu_geomean_ms": "ms"}

# the metrics a reader of each workload's report must find by name; the
# wall-clock ones are printed, not gated
NAMED = {
    "telemetry": list(END_TO_END) + [
        "round_p50_ms", "op_geomean_ms", "write_p50_ms", "write_p90_ms", "points_per_s",
        "query_p50_ms", "query_p90_ms", "flux_p50_ms", "influxql_p50_ms",
        "store_bytes_per_point", "failed_op_ratio"],
    "corpus": list(END_TO_END) + [
        "round_p50_ms", "op_geomean_ms", "job_p50_s", "failed_op_ratio"],
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit (reported by every workload;
    a layer a workload does not reach reads 0)."""
    u = {
        "setup.session_s": "s", "setup.provision_ms": "ms", "setup.preload_s": "s",
        "setup.warmup_s": "s", "bucket.compact_s": "s",
        "lineprotocol.parse_ms_per_klines": "ms/kline",
        "bucket.write_points_ms": "ms", "bucket.files_per_write": "count",
        "bucket.store_files": "count", "bucket.read_points_ms": "ms",
        "httpapi.write_self_ms": "ms", "httpapi.query_self_ms": "ms",
        "flux.build_ms": "ms",
        "influxql.build_ms": "ms", "influxql.jobs_per_query": "count",
        "annotated_csv.stream_ms": "ms", "annotated_csv.bytes_per_query": "B",
        "jvm.gc_ms_per_op": "ms", "proc.cpu_ms_per_op": "ms", "jit.cpu_ms_per_op": "ms",
        "jvm.peak_rss_mb": "MB", "py.peak_rss_mb": "MB",
        "trace.spans_per_op": "count",
        "traced.setup_s": "s", "traced.round_cpu_p50_ms": "ms",
        "traced.op_cpu_geomean_ms": "ms", "traced.round_p50_ms": "ms",
        "traced.op_geomean_ms": "ms",
    }
    for panel in FLUX_PANELS.values():
        u[f"flux.jobs_per_query.{panel}"] = "count"
    for kind in KINDS + tuple(JOBS):
        for c in ("jobs", "stages", "tasks"):
            u[f"spark.{c}_per_op.{kind}"] = "count"
    for job in JOBS:
        u[f"ext.{job}.build_ms"] = "ms"
        u[f"ext.{job}.build_py_cpu_ms"] = "ms"
        u[f"ext.{job}.exec_ms"] = "ms"
        u[f"ext.{job}.jobs"] = "count"
    for layer in SELF_LAYERS.values():
        u[f"self_ms.{layer}"] = "ms"
    return u


# span name → per-layer self-time metric suffix
SELF_LAYERS = {
    "request": "httpapi", "lineprotocol": "lineprotocol", "bucket.write": "bucket_write",
    "bucket.read": "bucket_read", "flux": "flux", "influxql": "influxql",
    "annotated_csv": "annotated_csv", "job": "spark_exec", "ext.build": "suite_build",
}


def _line(name, value, unit, n, note=""):
    shown = "-" if value is None else f"{value:.6g}"
    print(f"metric {name} {shown} {unit} n={n}{note}")


def build(workload, runner, wl, setup, tracer) -> dict:
    recs = runner.records
    by_kind: dict[str, list] = {}
    for r in recs:
        by_kind.setdefault(r.kind, []).append(r)
    ok_ms = {k: [r.ms for r in rs if r.ok] for k, rs in by_kind.items()}
    ok_cpu = {k: [r.counts["engine_cpu_ms"] for r in rs if r.ok] for k, rs in by_kind.items()}

    rounds: dict[int, float] = {}
    rounds_cpu: dict[int, float] = {}
    for r in recs:
        rounds[r.round] = rounds.get(r.round, 0.0) + r.ms
        rounds_cpu[r.round] = rounds_cpu.get(r.round, 0.0) + r.counts["engine_cpu_ms"]
    e2e = {
        "setup_s": (setup["setup_s"], 1),
        "round_cpu_p50_ms": (median(list(rounds_cpu.values())), len(rounds)),
        "op_cpu_geomean_ms": (geomean([median(v) for v in ok_cpu.values()]), len(recs)),
        "round_p50_ms": (median(list(rounds.values())), len(rounds)),
        "op_geomean_ms": (geomean([median(v) for v in ok_ms.values()]), len(recs)),
    }
    units = {**END_TO_END, "round_p50_ms": "ms", "op_geomean_ms": "ms"}
    failed = sum(not r.ok for r in recs) + runner.final_check_failed

    print(f"workload {workload}: {len(runner.warmup)} warm-up ops, {len(recs)} timed ops "
          f"in {len(rounds)} rounds, timed window {setup['timed_s']:.1f} s")
    print("setup " + " ".join(f"{k}={v:.3f}" for k, v in setup.items()))
    for name, (value, n) in e2e.items():
        _line(name, value, units[name], n)
    if workload == "telemetry":
        _telemetry_named(by_kind, wl)
    else:
        _line("job_p50_s", e2e["round_p50_ms"][0] / 1000, "s", len(rounds))
    _line("failed_op_ratio", failed / max(1, len(recs)), "1", len(recs))

    for kind, rs in by_kind.items():
        counts = {c: sorted({r.counts[c] for r in rs}) for c in ("jobs", "stages", "tasks")}
        halves = []
        for what, get in (("ms", lambda r: r.ms), ("cpu_ms", lambda r: r.counts["engine_cpu_ms"])):
            xs = [get(r) for r in rs]
            half = len(xs) // 2
            halves.append(f"p50_{what}={median(xs):.1f} "
                          f"first_half_p50_{what}={median(xs[:half] or xs):.1f} "
                          f"second_half_p50_{what}={median(xs[half:]):.1f}")
        print(f"kind {kind}: n={len(rs)} " + " ".join(halves) + " "
              + " ".join(f"{c}_per_op={','.join(map(str, v))}" for c, v in counts.items()))
    print("rounds ms=" + ",".join(f"{ms:.0f}" for ms in rounds.values()))
    print("rounds cpu_ms=" + ",".join(f"{ms:.0f}" for ms in rounds_cpu.values()))
    warm: dict[str, list] = {}
    for r in runner.warmup:
        warm.setdefault(r.kind, []).append(f"{r.ms:.0f}")
    for kind, ms in warm.items():
        print(f"warmup {kind}: ms={','.join(ms)}")
    for err in runner.errors[:10]:
        print(f"error {err}")

    if tracer is None:
        metrics = {k: {"value": e2e[k][0], "unit": unit} for k, unit in END_TO_END.items()}
    else:
        metrics = _per_layer(workload, runner, wl, setup, tracer, e2e, by_kind)
        for name, m in metrics.items():
            print(f"layer {name} {m['value']:.6g} {m['unit']}")
    correct = failed == 0 and all(r.ok for r in runner.warmup)
    return {"correct": correct, "attempted": len(recs), "failed": failed, "metrics": metrics}


def _telemetry_named(by_kind, wl):
    def lat(kinds):
        # a failed op counts as missing every latency limit
        return [r.ms if r.ok else math.inf for k in kinds for r in by_kind.get(k, [])]

    writes, queries, flux = lat(["write"]), lat(QUERY_KINDS), lat(FLUX_PANELS)
    _line("write_p50_ms", median(writes), "ms", len(writes))
    _line("write_p90_ms", p90(writes), "ms", len(writes), "" if p90(writes) else " (needs 100)")
    points = sum(r.extra.get("points", 0) for r in by_kind.get("write", []) if r.ok)
    write_s = sum(r.ms for r in by_kind.get("write", []) if r.ok) / 1000
    _line("points_per_s", points / write_s if write_s else None, "1/s", len(writes))
    _line("query_p50_ms", median(queries), "ms", len(queries))
    _line("query_p90_ms", p90(queries), "ms", len(queries), "" if p90(queries) else " (needs 100)")
    _line("flux_p50_ms", median(flux), "ms", len(flux))
    _line("influxql_p50_ms", median(lat(["influxql"])), "ms", len(lat(["influxql"])))
    _files, size = tree_size(wl.store_root)
    _line("store_bytes_per_point", size / wl.points_acked, "B", wl.points_acked)


def _per_layer(workload, runner, wl, setup, tracer, e2e, by_kind) -> dict:
    units = per_layer_units()
    v = dict.fromkeys(units, 0.0)
    timed = {r.extra["op_id"] for r in runner.records}
    n_ops = max(1, len(runner.records))

    def ops(kinds):
        return [r for k in kinds for r in by_kind.get(k, [])]

    def per(rs, span):
        ids = {r.extra["op_id"] for r in rs}
        return tracer.total_ms(span, ids) / len(rs) if rs else 0.0

    v["setup.session_s"] = setup["session_s"]
    v["setup.provision_ms"] = setup["provision_ms"]
    v["setup.preload_s"] = setup["preload_s"]
    v["setup.warmup_s"] = setup["warmup_s"]
    v["bucket.compact_s"] = setup["compact_s"]

    for kind, rs in by_kind.items():
        for c in ("jobs", "stages", "tasks"):
            v[f"spark.{c}_per_op.{kind}"] = median([r.counts[c] for r in rs])
    writes, queries = ops(["write"]), ops(QUERY_KINDS)
    flux = ops(FLUX_PANELS)
    if writes:
        lines = sum(r.extra.get("lines", 0) for r in writes)
        v["lineprotocol.parse_ms_per_klines"] = (
            tracer.total_ms("lineprotocol", {r.extra["op_id"] for r in writes}) / (lines / 1000))
        v["bucket.write_points_ms"] = per(writes, "bucket.write")
        v["bucket.files_per_write"] = sum(r.counts["files"] for r in writes) / len(writes)
        v["httpapi.write_self_ms"] = _self(tracer, writes, "request")
    if workload == "telemetry":
        v["bucket.store_files"] = tree_size(wl.store_root)[0]
    if queries:
        v["bucket.read_points_ms"] = per(queries, "bucket.read")
        v["httpapi.query_self_ms"] = _self(tracer, queries, "request")
    if flux:
        v["flux.build_ms"] = per(flux, "flux")
        v["annotated_csv.stream_ms"] = per(flux, "annotated_csv")
        v["annotated_csv.bytes_per_query"] = sum(r.extra.get("bytes", 0) for r in flux) / len(flux)
    for kind, panel in FLUX_PANELS.items():
        if by_kind.get(kind):
            v[f"flux.jobs_per_query.{panel}"] = v[f"spark.jobs_per_op.{kind}"]
    if by_kind.get("influxql"):
        v["influxql.build_ms"] = per(by_kind["influxql"], "influxql")
        v["influxql.jobs_per_query"] = v["spark.jobs_per_op.influxql"]
    for job in JOBS:
        rs = [r for r in by_kind.get(job, []) if r.ok]
        if rs:
            for f in ("build_ms", "build_py_cpu_ms", "exec_ms"):
                v[f"ext.{job}.{f}"] = median([r.extra[f] for r in rs])
            v[f"ext.{job}.jobs"] = v[f"spark.jobs_per_op.{job}"]

    recs = runner.records
    v["jvm.gc_ms_per_op"] = sum(r.counts["gc_ms"] for r in recs) / n_ops
    v["proc.cpu_ms_per_op"] = sum(r.counts["cpu_ms"] for r in recs) / n_ops
    v["jit.cpu_ms_per_op"] = sum(r.counts["jit_ms"] for r in recs) / n_ops
    v["jvm.peak_rss_mb"], v["py.peak_rss_mb"] = runner.probe.peak_rss()

    selfs = tracer.self_ms(timed)
    for span, ms in selfs.items():
        layer = SELF_LAYERS.get("ext.build" if span.startswith("ext.") else span)
        if layer:
            v[f"self_ms.{layer}"] += ms / n_ops
    v["trace.spans_per_op"] = sum(1 for s in tracer.spans if s.op in timed) / n_ops
    for name, (value, _n) in e2e.items():
        v[f"traced.{name}"] = value
    return {k: {"value": float(x), "unit": units[k]} for k, x in v.items()}


def _self(tracer, rs, span) -> float:
    ids = {r.extra["op_id"] for r in rs}
    total = sum(ms for name, ms in tracer.self_ms(ids).items() if name == span)
    return total / len(rs)


# ------------------------------------------------------------------ smoke

def validate(workload: str, trace: int, returncode: int, stdout: str) -> list[str]:
    """Problems with one run's output (empty when it is well formed)."""
    problems = []
    if returncode != 0:
        problems.append(f"exit code {returncode}")
    lines = stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return problems + ["last line is not JSON"]
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0:
        problems.append(f"correct={result.get('correct')} failed={result.get('failed')}")
    want = per_layer_units() if trace else END_TO_END
    got = result.get("metrics", {})
    if sorted(got) != sorted(want):
        problems.append(f"metrics differ: missing {sorted(set(want) - set(got))}, "
                        f"extra {sorted(set(got) - set(want))}")
    for name, unit in want.items():
        m = got.get(name, {})
        if m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
            problems.append(f"metric {name}: {m}")
    printed = {ln.split()[1]: ln.split() for ln in lines if ln.startswith("metric ")}
    for name in NAMED[workload]:
        parts = printed.get(name)
        if not parts or len(parts) < 5 or not parts[4].startswith("n="):
            problems.append(f"report lacks '{name} <value> <unit> n=<samples>'")
    return problems
