"""Dashboard panels answer in one Spark pass, and the write-time catalog
that makes this possible stays a superset of what the rows carry.

Job counts are read as a ``statusTracker`` job-id delta around one HTTP
request (the façade runs its jobs outside any job group). The pinned
counts are the result job plus the shuffle stages AQE submits as jobs
of their own: the tag-key distinct, the ftype probe and the range-sort
sampling job of the streaming writer are gone.

Each test pins both sides of the store's small-bucket rule: the test
store is under half the session's AQE advisory size, so a panel reads
it in one task with no shuffle (``one_task``); with the advisory size
set to half the store's bytes the same request takes the multi-task
plan (``multi_task``). Both sides answer byte for byte the same.
"""

from __future__ import annotations

import json
import os
import urllib.error
import urllib.request
from urllib.parse import quote

import pytest

from aws_greengrass_labs_database_influxdb_spark.control.engine import Engine, EngineConfig
from aws_greengrass_labs_database_influxdb_spark.control.httpapi import HttpApi
from aws_greengrass_labs_database_influxdb_spark.control.secrets import CredentialsProvider

T0 = 1704067200_000_000_000  # 2024-01-01T00:00:00Z
MIN = 60 * 10**9
BUCKET = "greengrass-telemetry"
ORG = "greengrass"
RANGE = "range(start: 2024-01-01T00:00:00Z, stop: 2024-01-01T06:00:00Z)"


def _req(base, path, token, body=None, ctype="application/json", method="POST"):
    req = urllib.request.Request(base + path, method=method)
    req.add_header("Authorization", f"Token {token}")
    data = None
    if body is not None:
        req.add_header("Content-Type", ctype)
        data = body.encode() if isinstance(body, str) else json.dumps(body).encode()
    with urllib.request.urlopen(req, data) as resp:
        return resp.status, resp.read().decode()


@pytest.fixture(scope="module")
def panel_served(spark, tmp_path_factory):
    engine = Engine(spark, EngineConfig(store_root=str(tmp_path_factory.mktemp("panels"))))
    engine.setup(CredentialsProvider({"influxdb_username": "greengrass",
                                      "influxdb_password": "ValidPassword#123"}))
    engine.serve()
    api = HttpApi(engine)
    host, port = api.start()
    tokens = {level: engine.get_publish_json(
        {"action": "RetrieveToken", "accessLevel": level})["InfluxDBToken"]
        for level in ("RO", "RW", "Admin")}
    base = f"http://{host}:{port}"
    # 8 devices on 2 sites, 2 float fields, a 4-minute step for 6 hours
    lines = [
        f"tele,device=d{d},site=s{d % 2} f0={(i * 7 + d) % 11}.5,f1={i % 5 + d}.25 "
        f"{T0 + i * 4 * MIN}"
        for i in range(90) for d in range(8)
    ]
    _req(base, f"/api/v2/write?bucket={BUCKET}", tokens["RW"], "\n".join(lines),
         ctype="text/plain")
    yield base, engine, tokens
    api.stop()
    engine.close()


def _flux(base, tokens, q):
    return _req(base, "/api/v2/query", tokens["RO"], {"query": q, "type": "flux"})[1]


def _influxql(base, tokens, q):
    return _req(base, f"/query?db={BUCKET}&q={quote(q)}", tokens["RO"])[1]


def _jobs(spark, fn):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    out = fn()
    return len(set(tracker.getJobIdsForGroup(None) or []) - before), out


ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def _store_bytes(engine) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(engine.store.root / ORG / BUCKET / "data")
               for f in files if not f.startswith(("_", ".")))


def _both_sides(spark, engine, fn):
    """Jobs per request of ``fn`` on the default session (``one_task``:
    the store is under the one-task size) and with the advisory size
    set to half the store's bytes (``multi_task``), restored afterwards.
    Both sides must answer byte for byte the same; returns
    ``({case: jobs}, body)``."""
    fn()  # warm: the first request may plan more
    one, body = _jobs(spark, fn)
    old = spark.conf.get(ADVISORY)
    spark.conf.set(ADVISORY, str(_store_bytes(engine) // 2))
    try:
        fn()
        multi, other = _jobs(spark, fn)
    finally:
        spark.conf.set(ADVISORY, old)
    assert other == body, "the one-task and multi-task answers differ"
    return {"one_task": one, "multi_task": multi}, body


def _src(pred: str) -> str:
    return (f'from(bucket: "{BUCKET}") |> {RANGE}'
            f' |> filter(fn: (r) => r._measurement == "tele" and {pred})')


# query, then the jobs per request pinned for each side
PANELS = {
    "aggregate_mean": (
        _src('r.device == "d3" and r._field == "f0"')
        + " |> aggregateWindow(every: 10m, fn: mean)", {"one_task": 1, "multi_task": 3}),
    # the EMA fold repartitions by series itself: one shuffle is left
    "ema": (
        _src('r.device == "d3" and r._field == "f0"')
        + " |> exponentialMovingAverage(n: 10)", {"one_task": 2, "multi_task": 3}),
    "group_site_max": (
        _src('r._field == "f1"') + ' |> group(columns: ["site"])'
        " |> aggregateWindow(every: 1h, fn: max)", {"one_task": 1, "multi_task": 3}),
}


@pytest.mark.parametrize("panel", sorted(PANELS))
def test_flux_panel_runs_one_pass(spark, panel_served, panel):
    base, engine, tokens = panel_served
    query, pinned = PANELS[panel]
    n, body = _both_sides(spark, engine, lambda: _flux(base, tokens, query))
    assert body.count("\r\n") > 4
    assert n == pinned, f"{panel}: Spark jobs per request {n}"


def test_influxql_group_by_time_and_tag_runs_one_pass(spark, panel_served):
    base, engine, tokens = panel_served
    q = ("SELECT mean(f1) FROM tele WHERE time >= '2024-01-01T00:00:00Z' "
         "AND time < '2024-01-01T06:00:00Z' GROUP BY time(10m), site")
    n, body = _both_sides(spark, engine, lambda: _influxql(base, tokens, q))
    series = json.loads(body)["results"][0]["series"]
    assert [s["tags"] for s in series] == [{"site": "s0"}, {"site": "s1"}]
    assert all(len(s["values"]) == 36 for s in series)
    assert n == {"one_task": 1, "multi_task": 3}, f"Spark jobs per request {n}"


UNTAGGED = {
    # 36 ten-minute windows over the 6 hours, one series
    "group_by_time": ("SELECT mean(f1) FROM tele WHERE time >= '2024-01-01T00:00:00Z' "
                      "AND time < '2024-01-01T06:00:00Z' GROUP BY time(10m)", 36,
                      {"one_task": 1, "multi_task": 3}),
    # device d3's 90 points of f0
    "raw_device": ("SELECT f0 FROM tele WHERE device = 'd3'", 90,
                   {"one_task": 1, "multi_task": 2}),
}


@pytest.mark.parametrize("shape", sorted(UNTAGGED))
def test_influxql_untagged_answer_runs_one_framer(spark, panel_served, shape):
    # an answer without a tag goes through the same series framer as a
    # tagged one: one time-ordered series, no extra Spark pass
    base, engine, tokens = panel_served
    q, rows, pinned = UNTAGGED[shape]
    n, body = _both_sides(spark, engine, lambda: _influxql(base, tokens, q))
    (series,) = json.loads(body)["results"][0]["series"]
    times = [v[0] for v in series["values"]]
    assert len(times) == rows and times == sorted(times)
    assert n == pinned, f"{shape}: Spark jobs per request {n}"


def test_influxql_tagged_raw_answer_is_sorted_once(spark, panel_served):
    # a raw answer comes out of the executor sorted by series, then
    # time; the framer reads it in that order instead of sorting it again
    base, engine, tokens = panel_served
    q = "SELECT f0 FROM tele WHERE time < '2024-01-01T01:00:00Z' GROUP BY site"
    n, body = _both_sides(spark, engine, lambda: _influxql(base, tokens, q))
    series = json.loads(body)["results"][0]["series"]
    assert [s["tags"] for s in series] == [{"site": "s0"}, {"site": "s1"}]
    for s in series:
        times = [v[0] for v in s["values"]]
        assert len(times) == 60 and times == sorted(times)
    assert n == {"one_task": 1, "multi_task": 2}, f"Spark jobs per request {n}"


def test_influxql_group_by_star_finds_tag_keys_once(spark, panel_served):
    # GROUP BY * needs the queried rows' tag keys: the executor finds
    # them with one distinct, and the façade frames the series from the
    # executed statement instead of repeating that over the bucket
    base, engine, tokens = panel_served
    q = ("SELECT mean(f1) FROM tele WHERE time >= '2024-01-01T00:00:00Z' "
         "AND time < '2024-01-01T06:00:00Z' GROUP BY time(1h), *")
    n, body = _both_sides(spark, engine, lambda: _influxql(base, tokens, q))
    series = json.loads(body)["results"][0]["series"]
    assert [s["tags"] for s in series] == [
        {"device": f"d{d}", "site": f"s{d % 2}"} for d in range(8)]
    assert all(len(s["values"]) == 6 for s in series)
    assert max(n.values()) <= 6, f"Spark jobs per request {n}"


# ------------------------------------------------------- catalog staleness


def _header(body: str) -> list[str]:
    return next(line for line in body.split("\r\n")
                if line.startswith(",result,table,")).split(",")


def test_flux_to_new_tag_key_reaches_next_header(panel_served):
    base, engine, tokens = panel_served
    q = (f'from(bucket: "{BUCKET}") |> {RANGE}'
         ' |> filter(fn: (r) => r._measurement == "tele" and r.device == "d1"'
         ' and r._field == "f0")'
         ' |> limit(n: 2) |> set(key: "_measurement", value: "tele_to")'
         ' |> rename(columns: {device: "unit"})'
         f' |> to(bucket: "{BUCKET}")')
    _req(base, "/api/v2/query", tokens["RW"], {"query": q, "type": "flux"})
    assert "unit" in engine.store.tag_keys(ORG, BUCKET)
    body = _flux(base, tokens, f'from(bucket: "{BUCKET}") |> {RANGE}'
                 ' |> filter(fn: (r) => r._measurement == "tele_to")')
    header = _header(body)
    assert "unit" in header and "device" not in header
    assert body.count(",d1\r\n") == 2


def test_select_into_group_by_tag_key_reaches_next_header(panel_served):
    base, engine, tokens = panel_served
    q = ("SELECT max(f0) INTO tele_into FROM tele WHERE time >= '2024-01-01T00:00:00Z' "
         "AND time < '2024-01-01T01:00:00Z' GROUP BY time(30m), device")
    _req(base, f"/query?db={BUCKET}&q={quote(q)}", tokens["RW"])
    assert "device" in engine.store.tag_keys(ORG, BUCKET)
    body = _flux(base, tokens, f'from(bucket: "{BUCKET}") |> {RANGE}'
                 ' |> filter(fn: (r) => r._measurement == "tele_into")')
    header = _header(body)
    assert "device" in header and "site" not in header
    assert body.count(",d7") == 2


def test_ingest_stream_keys_recorded_and_unknown_writer_stays_exact(
        spark, panel_served, tmp_path):
    from aws_greengrass_labs_database_influxdb_spark.streaming.ingest import (
        stream_lineprotocol_ingest,
    )

    base, engine, tokens = panel_served
    src = tmp_path / "in"
    src.mkdir()
    (src / "batch.lp").write_text(
        f"tele_stream,gate=g1 v=1.5 {T0}\ntele_stream,gate=g2 v=2.5 {T0 + MIN}\n")
    q = stream_lineprotocol_ingest(spark, str(src), engine.store, ORG, BUCKET,
                                   str(tmp_path / "ckpt"))
    q.awaitTermination()
    assert "gate" in engine.store.tag_keys(ORG, BUCKET)
    flux = (f'from(bucket: "{BUCKET}") |> {RANGE}'
            ' |> filter(fn: (r) => r._measurement == "tele_stream")')
    exact = _flux(base, tokens, flux)
    assert "gate" in _header(exact) and "site" not in _header(exact)
    # a writer that cannot name its keys turns the key set unknown; the
    # answer then comes from the exact distinct, byte for byte the same
    from aws_greengrass_labs_database_influxdb_spark.schema import POINTS_SCHEMA

    engine.store.write_points(
        ORG, BUCKET, spark.createDataFrame([], POINTS_SCHEMA),
        known_types=set())
    assert engine.store.tag_keys(ORG, BUCKET) is None
    assert _flux(base, tokens, flux) == exact


def test_drop_measurement_key_absent_from_header(panel_served):
    base, engine, tokens = panel_served
    _req(base, f"/api/v2/write?bucket={BUCKET}", tokens["RW"],
         f"tele_drop,zone=z1,host=h1 v=1.0 {T0}\ntele_keep,host=h1 v=2.0 {T0}",
         ctype="text/plain")
    _req(base, f"/query?db={BUCKET}&q=" + quote("DROP MEASUREMENT tele_drop"),
         tokens["RW"])
    flux = (f'from(bucket: "{BUCKET}") |> {RANGE}'
            ' |> filter(fn: (r) => r._measurement =~ /^tele_(drop|keep)$/)')
    header = _header(_flux(base, tokens, flux))
    assert "host" in header and "zone" not in header


def test_numeric_input_check_probe_only_when_catalog_allows_strings(panel_served):
    from aws_greengrass_labs_database_influxdb_spark.frontends import flux as _fx

    base, _, tokens = panel_served
    _req(base, f"/api/v2/write?bucket={BUCKET}", tokens["RW"],
         f'tele_mixed,host=h1 s="up",v=1.0 {T0}', ctype="text/plain")
    mixed = (f'from(bucket: "{BUCKET}") |> {RANGE}'
             ' |> filter(fn: (r) => r._measurement == "tele_mixed") |> mean()')
    with pytest.raises(urllib.error.HTTPError) as e:
        _flux(base, tokens, mixed)
    assert "unsupported input type" in e.value.read().decode()
    before = _fx._PROBE_RUNS
    body = _flux(base, tokens, _src('r._field == "f0"') + " |> mean()")
    assert _fx._PROBE_RUNS == before
    assert body.count(",tele,") == 8
