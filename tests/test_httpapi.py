"""HTTP façade tests: the /api/v2 surface end-to-end over a real socket.

Drives the same client flow the reference documents — get a token
(vending contract), write line protocol, query with Flux / InfluxQL,
delete — against the in-process engine
(write/query consumption: /root/reference/README.md:292-297, 406-410).
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from aws_greengrass_labs_database_influxdb_spark.control.engine import Engine, EngineConfig
from aws_greengrass_labs_database_influxdb_spark.control.httpapi import HttpApi
from aws_greengrass_labs_database_influxdb_spark.control.secrets import CredentialsProvider

GOOD_SECRET = {
    "influxdb_username": "greengrass",
    "influxdb_password": "ValidPassword#123",
}

T0 = 1704067200_000_000_000  # 2024-01-01T00:00:00Z


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    cfg = EngineConfig(store_root=str(tmp_path_factory.mktemp("httpstore")))
    engine = Engine(spark, cfg)
    engine.setup(CredentialsProvider(GOOD_SECRET))
    engine.serve()
    api = HttpApi(engine)
    host, port = api.start()
    tokens = {
        level: engine.get_publish_json(
            {"action": "RetrieveToken", "accessLevel": level}
        )["InfluxDBToken"]
        for level in ("RO", "RW", "Admin")
    }
    yield f"http://{host}:{port}", engine, tokens
    api.stop()
    engine.close()


def _req(base, path, method="GET", token=None, body=None, ctype="application/json"):
    req = urllib.request.Request(base + path, method=method)
    if token:
        req.add_header("Authorization", f"Token {token}")
    data = None
    if body is not None:
        data = body.encode() if isinstance(body, str) else json.dumps(body).encode()
        req.add_header("Content-Type", ctype)
    resp = urllib.request.urlopen(req, data)
    return resp.status, resp.read().decode()


def test_ping_health_setup(served):
    base, engine, tokens = served
    assert _req(base, "/ping")[0] == 204
    status, body = _req(base, "/health")
    assert status == 200 and json.loads(body)["status"] == "pass"
    status, body = _req(base, "/api/v2/setup")
    assert json.loads(body) == {"allowed": False}  # already provisioned


def test_write_requires_auth(served):
    base, _, tokens = served
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
             body=f"cpu,host=h1 usage=1.0 {T0}")
    assert e.value.code == 401
    # RO token may not write
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
             token=tokens["RO"], body=f"cpu,host=h1 usage=1.0 {T0}")
    assert e.value.code == 403


def test_write_then_flux_query(served):
    base, _, tokens = served
    lines = "\n".join(
        f"cpu,host=h{1 + i % 2} usage={float(i)} {T0 + i * 60_000_000_000}"
        for i in range(10)
    )
    status, _ = _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
                     token=tokens["RW"], body=lines, ctype="text/plain")
    assert status == 204

    flux = (
        'from(bucket: "greengrass-telemetry")'
        " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-02T00:00:00Z)"
        ' |> filter(fn: (r) => r._measurement == "cpu")'
        " |> sum()"
    )
    status, body = _req(
        base, "/api/v2/query", "POST",
        token=tokens["RO"], body={"query": flux, "type": "flux"},
    )
    assert status == 200
    assert body.startswith("#group")
    # stock Flux semantics: sum() is PER SERIES (from() tables are
    # keyed by measurement+tag set+field) — host=h1 sums 0+2+4+6+8,
    # host=h2 sums 1+3+5+7+9; a single merged 45.0 row would be the
    # r8 facade regression
    assert ",20.0" in body and ",25.0" in body
    assert ",45.0" not in body


def test_flux_multi_yield_via_http(served):
    base, _, tokens = served
    lines = "\n".join(
        f"memyield,host=h{1 + i % 2} used={float(i)} {T0 + i * 60_000_000_000}"
        for i in range(8)
    )
    status, _ = _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
                     token=tokens["RW"], body=lines, ctype="text/plain")
    assert status == 204
    flux = (
        'base = from(bucket: "greengrass-telemetry")\n'
        "  |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-02T00:00:00Z)\n"
        '  |> filter(fn: (r) => r._measurement == "memyield")\n'
        'base |> sum() |> yield(name: "total")\n'
        'base |> count() |> yield(name: "n")\n'
    )
    status, body = _req(
        base, "/api/v2/query", "POST",
        token=tokens["RO"], body={"query": flux, "type": "flux"},
    )
    assert status == 200
    # two result blocks, each tagged with its yield name in #default
    assert "#default,total," in body
    assert "#default,n," in body
    # stock per-series tables (r8): h1 sums 0+2+4+6, h2 sums 1+3+5+7,
    # four points in each series
    assert ",12.0" in body and ",16.0" in body
    assert ",28.0" not in body
    assert ",4" in body  # per-series count


def test_lww_overwrite_via_http(served):
    base, engine, tokens = served
    # same series+timestamp written twice → last write wins at read
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body=f"temp,host=h9 t=1.0 {T0}", ctype="text/plain")
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body=f"temp,host=h9 t=2.5 {T0}", ctype="text/plain")
    pts = engine.store.read_points("greengrass", "greengrass-telemetry")
    rows = pts.filter("measurement = 'temp'").collect()
    assert len(rows) == 1 and rows[0]["f_float"] == 2.5


def test_influxql_v1_query(served):
    base, _, tokens = served
    # self-sufficient: (re)write the same points test_write_then_flux_query
    # uses — identical timestamps/values, so LWW makes this idempotent
    # whether or not that test ran first
    lines = "\n".join(
        f"cpu,host=h{1 + i % 2} usage={float(i)} {T0 + i * 60_000_000_000}"
        for i in range(10)
    )
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body=lines, ctype="text/plain")
    q = urllib.parse.quote(
        "SELECT SUM(usage) FROM cpu WHERE time >= '2024-01-01T00:00:00Z'"
        " AND time < '2024-01-02T00:00:00Z' GROUP BY time(1h)"
    )
    status, body = _req(
        base, f"/query?db=greengrass-telemetry&q={q}&epoch=s", token=tokens["RO"]
    )
    assert status == 200
    payload = json.loads(body)
    series = payload["results"][0]["series"][0]
    assert series["name"] == "cpu"
    assert "time" in series["columns"]
    ti = series["columns"].index("time")
    vi = 1 - ti if len(series["columns"]) == 2 else series["columns"].index("sum")
    total = sum(v[vi] for v in series["values"] if v[vi] is not None)
    assert total == 45.0
    assert all(isinstance(v[ti], int) for v in series["values"])  # epoch=s


def test_show_meta_queries_via_v1_http(served):
    """Grafana's dropdown queries over the wire: SHOW MEASUREMENTS and
    SHOW TAG VALUES on the v1 /query endpoint."""
    base, _, tokens = served
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"],
         body=f"cpu,host=h1 usage=1.0 {T0}\ncpu,host=h2 usage=2.0 {T0 + 1}",
         ctype="text/plain")
    q = urllib.parse.quote("SHOW MEASUREMENTS")
    status, body = _req(
        base, f"/query?db=greengrass-telemetry&q={q}", token=tokens["RO"]
    )
    assert status == 200
    series = json.loads(body)["results"][0]["series"][0]
    assert series["columns"] == ["name"]
    assert ["cpu"] in series["values"]

    q = urllib.parse.quote('SHOW TAG VALUES FROM cpu WITH KEY = "host"')
    status, body = _req(
        base, f"/query?db=greengrass-telemetry&q={q}", token=tokens["RO"]
    )
    assert status == 200
    series = json.loads(body)["results"][0]["series"][0]
    assert series["columns"] == ["key", "value"]
    assert all(k == "host" for k, _v in series["values"])
    assert len(series["values"]) >= 1


def test_v1_delete_statement(served):
    """InfluxQL DELETE FROM m WHERE tag/time — the v1 write-path compat
    statement; requires a write token (RO → 403)."""
    base, engine, tokens = served
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"],
         body=f"disk,host=a used=1.0 {T0}\ndisk,host=b used=2.0 {T0}",
         ctype="text/plain")
    q = urllib.parse.quote("DELETE FROM disk WHERE host = 'a'")
    try:
        _req(base, f"/query?db=greengrass-telemetry&q={q}", token=tokens["RO"])
        raise AssertionError("RO token must not delete")
    except urllib.error.HTTPError as e:
        assert e.code == 403
    status, _ = _req(base, f"/query?db=greengrass-telemetry&q={q}", token=tokens["RW"])
    assert status == 200
    sel = urllib.parse.quote("SELECT used FROM disk GROUP BY host")
    _, body = _req(base, f"/query?db=greengrass-telemetry&q={sel}", token=tokens["RO"])
    vals = json.loads(body)["results"][0]["series"][0]["values"]
    assert len(vals) == 1  # only host=b survives


def test_v1_drop_series(served):
    """DROP SERIES FROM m WHERE tag=... — same store delete with no
    time bounds; the matching series disappears entirely."""
    base, _, tokens = served
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"],
         body=f"dropme,host=a rx=1.0 {T0}\ndropme,host=b rx=2.0 {T0}",
         ctype="text/plain")
    q = urllib.parse.quote("DROP SERIES FROM dropme WHERE host = 'a'")
    status, _ = _req(base, f"/query?db=greengrass-telemetry&q={q}", token=tokens["RW"])
    assert status == 200
    sel = urllib.parse.quote("SELECT rx FROM dropme GROUP BY host")
    _, body = _req(base, f"/query?db=greengrass-telemetry&q={sel}", token=tokens["RO"])
    vals = json.loads(body)["results"][0]["series"][0]["values"]
    assert len(vals) == 1 and vals[0][-1] == 2.0  # only host=b survives


def _v1(base, token, stmt):
    """One v1 statement → its ``results[0]`` dict."""
    q = urllib.parse.quote(stmt)
    _, body = _req(base, f"/query?db=greengrass-telemetry&q={q}&epoch=ns",
                   token=token)
    return json.loads(body)["results"][0]


def _meas(prefix, *key):
    """A measurement name of its own for one parametrized case."""
    import hashlib

    return prefix + hashlib.md5(repr(key).encode()).hexdigest()[:10]


def _write_hosts(base, tokens, meas):
    """Three series (web1/a, web2/b, db1/c), three points each."""
    lines = [f"{meas},host={h},region={r} v={i + 1}.5 {T0 + i * 60_000_000_000}"
             for h, r in (("web1", "a"), ("web2", "b"), ("db1", "c"))
             for i in range(3)]
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body="\n".join(lines), ctype="text/plain")


def _series_rows(res):
    """{(host, time, v)} of a ``SELECT v … GROUP BY *`` result."""
    return {(s["tags"]["host"], t, v)
            for s in res.get("series", []) for t, v in s["values"]}


@pytest.mark.parametrize("where, kept", [
    ("host =~ /web1/", {"web2", "db1"}),
    ("host !~ /^web/", {"web1", "web2"}),
    ("(host = 'web1' OR host = 'db1')", {"web2"}),
    ("host = 'web2' OR region = 'c'", {"web1"}),
])
@pytest.mark.parametrize("verb", ["DELETE", "DROP SERIES"])
def test_v1_delete_where_regex_and_or(served, verb, where, kept):
    """DELETE / DROP SERIES compile WHERE like SELECT: =~ and !~ are
    regex matches and an OR group deletes its union — never the whole
    measurement."""
    base, _, tokens = served
    meas = _meas("dl_", verb, where)
    _write_hosts(base, tokens, meas)
    assert _v1(base, tokens["RW"], f"{verb} FROM {meas} WHERE {where}") \
        == {"statement_id": 0}
    left = _v1(base, tokens["RO"], f"SELECT v FROM {meas} GROUP BY host")
    assert {s["tags"]["host"] for s in left["series"]} == kept


@pytest.mark.parametrize("where", [
    "v > 1", "v * 2 > 1", "(host = 'web1' OR v > 1)",
])
def test_v1_delete_field_condition_is_an_error(served, where):
    """Stock rejects field conditions in a delete; ignoring them used to
    delete the whole measurement."""
    base, _, tokens = served
    meas = _meas("dlf_", where)
    _write_hosts(base, tokens, meas)
    stmt = urllib.parse.quote(f"DELETE FROM {meas} WHERE {where}")
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(base, f"/query?db=greengrass-telemetry&q={stmt}", token=tokens["RW"])
    assert e.value.code == 400
    assert "field" in json.loads(e.value.read().decode())["message"]
    left = _v1(base, tokens["RO"], f"SELECT v FROM {meas} GROUP BY *")
    assert len(_series_rows(left)) == 9


_OR = "(region = 'a' OR region = 'b')"


@pytest.mark.parametrize("stmt, present, absent", [
    (f"SHOW MEASUREMENTS WHERE {_OR}", {("shor",)}, {("shorc",)}),
    (f"SHOW TAG KEYS FROM shor WHERE {_OR}", {("host",), ("region",)},
     {("rack",)}),
    (f'SHOW TAG VALUES FROM shor WITH KEY = "host" WHERE {_OR}',
     {("host", "web1"), ("host", "web2")}, {("host", "db1")}),
    (f"SHOW FIELD KEYS FROM shor WHERE {_OR}", {("v", "float")},
     {("temp", "float")}),
    (f"SHOW SERIES FROM shor WHERE {_OR}",
     {("shor,host=web1,region=a",), ("shor,host=web2,region=b",)},
     {("shor,host=db1,rack=r1,region=c",)}),
    (f"SHOW SERIES EXACT CARDINALITY FROM shor WHERE {_OR}", {(2,)}, set()),
    (f'SHOW TAG VALUES EXACT CARDINALITY FROM shor WITH KEY = "host" '
     f"WHERE {_OR}", {(2,)}, set()),
    (f"SHOW TAG KEY EXACT CARDINALITY FROM shor WHERE {_OR}", {(2,)}, set()),
])
def test_v1_show_where_or_group(served, stmt, present, absent):
    """Every SHOW form applies a WHERE OR group; db1 (region c, the only
    series with a rack tag and a temp field) and the region-c-only
    measurement shorc stay out."""
    base, _, tokens = served
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], ctype="text/plain", body="\n".join([
             f"shor,host=web1,region=a v=1.0 {T0}",
             f"shor,host=web2,region=b v=2.0 {T0}",
             f"shor,host=db1,region=c,rack=r1 v=3.0,temp=9.0 {T0}",
             f"shorc,host=x,region=c v=1.0 {T0}",
         ]))
    res = _v1(base, tokens["RO"], stmt)
    rows = {tuple(v) for s in res["series"] for v in s["values"]}
    assert present <= rows and not absent & rows, rows


_T1 = "'2024-01-01T00:01:00Z'"
_T2 = "'2024-01-01T00:02:00Z'"


@pytest.mark.parametrize("where, series", [
    ("host = 'web1'", {"web1"}),
    ("host != 'web1'", {"web2", "db1"}),
    ("host =~ /^web/", {"web1", "web2"}),
    ("host !~ /^web/", {"db1"}),
    ("(host = 'web1' OR region = 'c')", {"web1", "db1"}),
    (f"time >= {_T1} AND time < {_T2} AND host =~ /web/", {"web1", "web2"}),
])
def test_v1_where_compiles_alike_for_select_show_and_delete(served, where, series):
    """One condition compiler: SELECT … GROUP BY *, SHOW SERIES and its
    exact cardinality select the same series, and DELETE removes exactly
    the rows SELECT returned."""
    base, _, tokens = served
    meas = _meas("cmp_", where)
    _write_hosts(base, tokens, meas)
    region = {"web1": "a", "web2": "b", "db1": "c"}
    sel = _v1(base, tokens["RO"], f"SELECT v FROM {meas} WHERE {where} GROUP BY *")
    assert [s["tags"] for s in sel["series"]] == [
        {"host": h, "region": region[h]} for h in sorted(series)]
    show = _v1(base, tokens["RO"], f"SHOW SERIES FROM {meas} WHERE {where}")
    assert {v[0] for v in show["series"][0]["values"]} == {
        f"{meas},host={h},region={region[h]}" for h in series}
    card = _v1(base, tokens["RO"],
               f"SHOW SERIES EXACT CARDINALITY FROM {meas} WHERE {where}")
    assert card["series"][0]["values"] == [[len(series)]]

    before = _series_rows(_v1(base, tokens["RO"], f"SELECT v FROM {meas} GROUP BY *"))
    _v1(base, tokens["RW"], f"DELETE FROM {meas} WHERE {where}")
    after = _series_rows(_v1(base, tokens["RO"], f"SELECT v FROM {meas} GROUP BY *"))
    assert len(before) == 9
    assert before - after == _series_rows(sel) and after <= before


def test_v1_multi_statement(served):
    """Semicolon-batched statements → one results entry each with
    sequential statement_ids (Grafana's init batch)."""
    base, _, tokens = served
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body=f"multi,host=a v=1.0 {T0}", ctype="text/plain")
    q = urllib.parse.quote(
        "SHOW DATABASES; SHOW TAG VALUES FROM multi WITH KEY = \"host\"; "
        "SELECT v FROM multi"
    )
    _, body = _req(base, f"/query?db=greengrass-telemetry&q={q}", token=tokens["RO"])
    results = json.loads(body)["results"]
    assert [r["statement_id"] for r in results] == [0, 1, 2]
    assert results[0]["series"][0]["name"] == "databases"
    assert ["host", "a"] in results[1]["series"][0]["values"]
    assert results[2]["series"][0]["values"][0][-1] == 1.0


def test_v1_show_databases_and_retention_policies(served):
    """Grafana's datasource-init statements."""
    base, _, tokens = served
    q = urllib.parse.quote("SHOW DATABASES")
    _, body = _req(base, f"/query?db=greengrass-telemetry&q={q}", token=tokens["RO"])
    series = json.loads(body)["results"][0]["series"][0]
    assert series["name"] == "databases" and series["columns"] == ["name"]
    assert ["greengrass-telemetry"] in series["values"]

    q = urllib.parse.quote("SHOW RETENTION POLICIES ON greengrass-telemetry")
    _, body = _req(base, f"/query?db=greengrass-telemetry&q={q}", token=tokens["RO"])
    series = json.loads(body)["results"][0]["series"][0]
    assert series["columns"][:2] == ["name", "duration"]
    assert series["values"][0][0] == "autogen"


def test_flux_to_bucket_write_stage(served):
    """Flux task shape over the wire: aggregateWindow |> to(bucket:)
    writes the downsample into another bucket; RO tokens are refused."""
    base, engine, tokens = served
    lines = "\n".join(
        f"iface,host=h{1 + i % 2} tx={float(i)} {T0 + i * 60_000_000_000}"
        for i in range(120)
    )
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body=lines, ctype="text/plain")
    flux = (
        'from(bucket: "greengrass-telemetry")'
        " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-02T00:00:00Z)"
        ' |> filter(fn: (r) => r._measurement == "iface")'
        ' |> group(columns: ["_measurement", "_field"])'
        " |> aggregateWindow(every: 1h, fn: mean)"
        ' |> to(bucket: "iface-hourly")'
    )
    try:
        _req(base, "/api/v2/query", "POST", token=tokens["RO"],
             body={"query": flux, "type": "flux"})
        raise AssertionError("RO token must not write via to()")
    except urllib.error.HTTPError as e:
        assert e.code == 403
    status, _ = _req(base, "/api/v2/query", "POST", token=tokens["Admin"],
                     body={"query": flux, "type": "flux"})
    assert status == 200
    written = engine.store.read_points("greengrass", "iface-hourly")
    assert written.count() == 2  # 2 hours of means
    vals = sorted(r.f_float for r in written.collect())
    assert vals[0] == sum(range(60)) / 60  # first hour's mean of 0..59


def test_flux_to_writes_string_column_as_tag(served):
    """A string column added before to() (``set(key: "rack", value:
    "r9")``) is written as a tag, as stock to() writes it: the points
    read back with it in their tag set, a tag filter finds them, and
    the bucket's tag-key catalog lists it."""
    base, engine, tokens = served
    t0 = T0 + 86_400_000_000_000 * 7
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], ctype="text/plain",
         body="\n".join(f"rackm,host=h1 v={float(i)} {t0 + i * 10**9}"
                        for i in range(3)))
    rng = "range(start: 2024-01-08T00:00:00Z, stop: 2024-01-09T00:00:00Z)"
    flux = (f'from(bucket: "greengrass-telemetry") |> {rng}'
            ' |> filter(fn: (r) => r._measurement == "rackm")'
            ' |> set(key: "rack", value: "r9") |> to(bucket: "rack-out")')
    status, _ = _req(base, "/api/v2/query", "POST", token=tokens["Admin"],
                     body={"query": flux, "type": "flux"})
    assert status == 200
    assert "rack" in engine.store.tag_keys("greengrass", "rack-out")
    rows = engine.store.read_points("greengrass", "rack-out").collect()
    assert len(rows) == 3
    assert all(r.tags == {"host": "h1", "rack": "r9"} for r in rows)
    _, body = _req(base, "/api/v2/query", "POST", token=tokens["Admin"],
                   body={"query": f'from(bucket: "rack-out") |> {rng}'
                         ' |> filter(fn: (r) => r.rack == "r9")',
                         "type": "flux"})
    assert body.count("rackm") == 3


def test_v1_select_into(served):
    """SELECT ... INTO target — the continuous-query downsample: run
    the aggregation, write results back, query them from the target
    measurement."""
    base, _, tokens = served
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"],
         body="\n".join(
             f"net,host=h{j} rx={j * 10 + i}.0 {T0 + i * 60 * 10**9}"
             for j in (1, 2) for i in range(120)
         ),
         ctype="text/plain")
    q = urllib.parse.quote(
        "SELECT MEAN(rx) AS rx_avg INTO net_hourly FROM net "
        "WHERE time >= '2024-01-01' AND time < '2024-01-02' GROUP BY time(1h), host"
    )
    status, body = _req(base, f"/query?db=greengrass-telemetry&q={q}",
                        token=tokens["RW"])
    assert status == 200
    written = json.loads(body)["results"][0]["series"][0]["values"][0][1]
    assert written == 4  # 2 hosts x 2 hours

    sel = urllib.parse.quote("SELECT rx_avg FROM net_hourly GROUP BY host")
    _, body = _req(base, f"/query?db=greengrass-telemetry&q={sel}", token=tokens["RO"])
    series = json.loads(body)["results"][0]["series"]
    # stock v1 framing (r8): one series per host with a tags dict
    assert {s["tags"]["host"] for s in series} == {"h1", "h2"}
    assert sum(len(s["values"]) for s in series) == 4


def test_delete_predicate_via_http(served):
    base, engine, tokens = served
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"],
         body=f"mem,host=a used=1.0 {T0}\nmem,host=b used=2.0 {T0}",
         ctype="text/plain")
    status, _ = _req(
        base, "/api/v2/delete?bucket=greengrass-telemetry", "POST",
        token=tokens["Admin"],
        body={
            "start": "2024-01-01T00:00:00Z",
            "stop": "2024-01-02T00:00:00Z",
            "predicate": '_measurement="mem" AND host="a"',
        },
    )
    assert status == 204
    left = engine.store.read_points("greengrass", "greengrass-telemetry") \
        .filter("measurement = 'mem'").collect()
    assert [r["tags"]["host"] for r in left] == ["b"]


def test_unknown_bucket_404(served):
    base, _, tokens = served
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(base, "/api/v2/write?bucket=nope", "POST",
             token=tokens["Admin"], body="m v=1 1", ctype="text/plain")
    assert e.value.code == 404


def test_flux_schema_query_via_http(served):
    base, _, tokens = served
    status, body = _req(
        base, "/api/v2/query", "POST", token=tokens["RO"],
        body={"query": 'schema.tagValues(bucket: "greengrass-telemetry", tag: "host")'},
    )
    assert status == 200
    # hosts written by earlier tests appear as _value rows
    assert "_value" in body and "h1" in body


def test_https_serve_with_self_signed_cert(served, tmp_path):
    """The reference's default posture: HTTPS with a self-signed cert
    (recipe.yaml:24-27, 63-78); clients skip verification (the vended
    InfluxDBSkipTLSVerify flag) or pin the served cert."""
    import ssl

    _, engine, tokens = served
    from aws_greengrass_labs_database_influxdb_spark.control.httpapi import HttpApi

    api = HttpApi(engine, tls=True, cert_dir=str(tmp_path / "tls"))
    host, port = api.start()
    try:
        # skip-verify client (InfluxDBSkipTLSVerify: true)
        ctx = ssl.create_default_context()
        ctx.check_hostname = False
        ctx.verify_mode = ssl.CERT_NONE
        req = urllib.request.Request(f"https://{host}:{port}/ping")
        assert urllib.request.urlopen(req, context=ctx).status == 204

        # verifying client pinning the generated cert
        pin = ssl.create_default_context(cafile=api.cert_file)
        pin.check_hostname = False  # CN=localhost vs 127.0.0.1
        req = urllib.request.Request(
            f"https://{host}:{port}/api/v2/write?bucket=greengrass-telemetry",
            method="POST", data=b"tlsm v=1 1704067200000000000",
        )
        req.add_header("Authorization", f"Token {tokens['RW']}")
        req.add_header("Content-Type", "text/plain")
        assert urllib.request.urlopen(req, context=pin).status == 204
    finally:
        api.stop()


def test_v1_continuous_query_ddl_and_run(served):
    """CREATE/SHOW/DROP CONTINUOUS QUERY over v1 /query, plus an
    idempotent run via CQRegistry: the downsample lands in the target
    measurement and re-running writes the same rows (LWW)."""
    base, engine, tokens = served
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"],
         body="\n".join(
             f"cpu,host=h{j} busy={j + i / 100} {T0 + i * 60 * 10**9}"
             for j in (1, 2) for i in range(180)
         ),
         ctype="text/plain")

    cq = urllib.parse.quote(
        'CREATE CONTINUOUS QUERY cq_cpu ON "greengrass-telemetry" BEGIN '
        "SELECT MEAN(busy) AS busy_avg INTO cpu_hourly FROM cpu "
        "GROUP BY time(1h), host END"
    )
    status, _ = _req(base, f"/query?db=greengrass-telemetry&q={cq}",
                     token=tokens["RW"])
    assert status == 200

    show = urllib.parse.quote("SHOW CONTINUOUS QUERIES")
    _, body = _req(base, f"/query?db=greengrass-telemetry&q={show}",
                   token=tokens["RO"])
    series = json.loads(body)["results"][0]["series"]
    assert any(v[0] == "cq_cpu" for s in series for v in s["values"])

    # run the same definition against the shared store; now = T0+3h so
    # the recompute window covers [T0+1h, T0+3h)
    from aws_greengrass_labs_database_influxdb_spark.streaming.cq import CQRegistry

    reg = CQRegistry(engine.store, engine.config.org)
    reg.create(
        'CREATE CONTINUOUS QUERY cq_cpu ON "greengrass-telemetry" BEGIN '
        "SELECT MEAN(busy) AS busy_avg INTO cpu_hourly FROM cpu "
        "GROUP BY time(1h), host END"
    )
    now_ns = T0 + 3 * 3600 * 10**9
    written = reg.run_due(engine.spark, now_ns)
    assert written["cq_cpu"] == 4  # 2 hosts x 2 hours
    again = reg.run_due(engine.spark, now_ns)  # idempotent re-run
    assert again["cq_cpu"] == 4

    sel = urllib.parse.quote("SELECT busy_avg FROM cpu_hourly GROUP BY host")
    _, body = _req(base, f"/query?db=greengrass-telemetry&q={sel}",
                   token=tokens["RO"])
    series = json.loads(body)["results"][0]["series"]
    # stock v1 framing (r8): one series per host with a tags dict
    assert {s["tags"]["host"] for s in series} == {"h1", "h2"}
    assert sum(len(s["values"]) for s in series) == 4

    drop = urllib.parse.quote('DROP CONTINUOUS QUERY cq_cpu ON "greengrass-telemetry"')
    status, _ = _req(base, f"/query?db=greengrass-telemetry&q={drop}",
                     token=tokens["RW"])
    assert status == 200
    _, body = _req(base, f"/query?db=greengrass-telemetry&q={show}",
                   token=tokens["RO"])
    series = json.loads(body)["results"][0]["series"]
    assert not any(v[0] == "cq_cpu" for s in series for v in s["values"])


def test_v2_tasks_lifecycle(served):
    """Flux task API: create (option task = {...}), list, run now
    (aggregateWindow |> to() downsample lands in the target bucket),
    delete; RO tokens can't mutate."""
    base, engine, tokens = served
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"],
         body="\n".join(
             f"taskm,host=h{1 + i % 2} load={float(i)} {T0 + i * 60_000_000_000}"
             for i in range(120)
         ),
         ctype="text/plain")
    flux = (
        'option task = {name: "downsample-taskm", every: 1h}\n'
        'from(bucket: "greengrass-telemetry")\n'
        "  |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-02T00:00:00Z)\n"
        '  |> filter(fn: (r) => r._measurement == "taskm")\n'
        '  |> group(columns: ["_measurement", "_field"])\n'
        "  |> aggregateWindow(every: 1h, fn: mean)\n"
        '  |> to(bucket: "taskm-hourly")'
    )
    try:
        _req(base, "/api/v2/tasks", "POST", token=tokens["RO"], body={"flux": flux})
        raise AssertionError("RO token must not create tasks")
    except urllib.error.HTTPError as e:
        assert e.code == 403
    status, body = _req(base, "/api/v2/tasks", "POST", token=tokens["RW"],
                        body={"flux": flux})
    assert status == 201
    task = json.loads(body)
    assert task["name"] == "downsample-taskm" and task["everySeconds"] == 3600

    status, body = _req(base, "/api/v2/tasks", token=tokens["RO"])
    assert status == 200
    assert [t["id"] for t in json.loads(body)["tasks"]] == [task["id"]]

    status, body = _req(base, f"/api/v2/tasks/{task['id']}/runs", "POST",
                        token=tokens["RW"], body={})
    assert status == 200 and json.loads(body)["status"] == "success"
    hourly = engine.store.read_points("greengrass", "taskm-hourly")
    assert hourly.count() == 2  # 2 windows of the 2h of data

    status, _ = _req(base, f"/api/v2/tasks/{task['id']}", "DELETE",
                     token=tokens["RW"], body=None)
    assert status == 204
    _, body = _req(base, "/api/v2/tasks", token=tokens["RO"])
    assert json.loads(body)["tasks"] == []


def test_v2_buckets_listing(served):
    base, engine, tokens = served
    try:
        _req(base, "/api/v2/buckets")
        raise AssertionError("buckets listing requires a token")
    except urllib.error.HTTPError as e:
        assert e.code == 401
    status, body = _req(base, "/api/v2/buckets", token=tokens["RO"])
    assert status == 200
    names = {b["name"] for b in json.loads(body)["buckets"]}
    assert "greengrass-telemetry" in names
    status, body = _req(
        base, "/api/v2/buckets?name=greengrass-telemetry", token=tokens["RO"]
    )
    got = json.loads(body)["buckets"]
    assert len(got) == 1 and got[0]["name"] == "greengrass-telemetry"
    assert got[0]["id"]


def test_v2_tasks_pause_resume(served, spark):
    base, engine, tokens = served
    flux = (
        'option task = {name: "paused-task", every: 1h}\n'
        'from(bucket: "greengrass-telemetry") |> range(start: -2h)\n'
        "  |> aggregateWindow(every: 1h, fn: mean)\n"
        '  |> to(bucket: "paused-out")'
    )
    _, body = _req(base, "/api/v2/tasks", "POST", token=tokens["RW"],
                   body={"flux": flux})
    tid = json.loads(body)["id"]
    status, body = _req(base, f"/api/v2/tasks/{tid}", "PATCH",
                        token=tokens["RW"], body={"status": "inactive"})
    assert status == 200 and json.loads(body)["status"] == "inactive"
    _, body = _req(base, "/api/v2/tasks", token=tokens["RO"])
    listed = {t["id"]: t["status"] for t in json.loads(body)["tasks"]}
    assert listed[tid] == "inactive"
    status, body = _req(base, f"/api/v2/tasks/{tid}", "PATCH",
                        token=tokens["RW"], body={"status": "active"})
    assert json.loads(body)["status"] == "active"
    _req(base, f"/api/v2/tasks/{tid}", "DELETE", token=tokens["RW"], body=None)


def test_v1_create_database_and_drop_measurement(served):
    base, engine, tokens = served
    # creating a database is org-wide work: the admin token's
    q = urllib.parse.quote("CREATE DATABASE newdb")
    status, _ = _req(base, f"/query?db=greengrass-telemetry&q={q}",
                     token=tokens["Admin"])
    assert status == 200
    assert any(b.name == "newdb"
               for b in engine.store.list_buckets("greengrass"))
    # idempotent re-create
    status, _ = _req(base, f"/query?db=greengrass-telemetry&q={q}",
                     token=tokens["Admin"])
    assert status == 200

    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"],
         body=f"gone,host=a v=1.0 {T0}\nstays,host=a v=2.0 {T0}",
         ctype="text/plain")
    dq = urllib.parse.quote("DROP MEASUREMENT gone")
    status, _ = _req(base, f"/query?db=greengrass-telemetry&q={dq}",
                     token=tokens["RW"])
    assert status == 200
    pts = engine.store.read_points("greengrass", "greengrass-telemetry")
    from pyspark.sql import functions as F
    assert pts.filter(F.col("measurement") == "gone").count() == 0
    assert pts.filter(F.col("measurement") == "stays").count() == 1


def test_v2_tasks_get_by_id(served):
    """GET /api/v2/tasks/<id> returns the single task (influx CLI
    issues this after create); unknown id is a 404."""
    base, engine, tokens = served
    flux = (
        'option task = {name: "getbyid-task", every: 1h}\n'
        'from(bucket: "greengrass-telemetry")\n'
        "  |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-02T00:00:00Z)\n"
        "  |> aggregateWindow(every: 1h, fn: mean)\n"
        '  |> to(bucket: "getbyid-out")'
    )
    _, body = _req(base, "/api/v2/tasks", "POST", token=tokens["RW"],
                   body={"flux": flux})
    task = json.loads(body)
    status, body = _req(base, f"/api/v2/tasks/{task['id']}", token=tokens["RO"])
    assert status == 200
    got = json.loads(body)
    assert got["id"] == task["id"] and got["name"] == "getbyid-task"
    try:
        _req(base, "/api/v2/tasks/deadbeef", token=tokens["RO"])
        raise AssertionError("unknown task id must 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404
    _req(base, f"/api/v2/tasks/{task['id']}", "DELETE", token=tokens["RW"],
         body=None)


@pytest.mark.parametrize("statement",
                         ["DROP MEASUREMENT", "DELETE FROM", "DROP SERIES FROM"])
def test_v1_drop_measurement_includes_pre_epoch_points(served, statement):
    """DROP MEASUREMENT, and DELETE / DROP SERIES without a time bound,
    cover the full signed int64 time range — points with negative
    (pre-1970) timestamps must not survive (reference deletes
    MinNanoTime..MaxNanoTime)."""
    base, engine, tokens = served
    meas = "oldgone_" + "_".join(statement.lower().split())
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"],
         body=f"{meas},host=a v=1.0 -86400000000000\n{meas},host=a v=2.0 {T0}",
         ctype="text/plain")
    from pyspark.sql import functions as F
    pts = engine.store.read_points("greengrass", "greengrass-telemetry")
    assert pts.filter(F.col("measurement") == meas).count() == 2
    dq = urllib.parse.quote(f"{statement} {meas}")
    status, _ = _req(base, f"/query?db=greengrass-telemetry&q={dq}",
                     token=tokens["RW"])
    assert status == 200
    pts = engine.store.read_points("greengrass", "greengrass-telemetry")
    assert pts.filter(F.col("measurement") == meas).count() == 0


@pytest.mark.parametrize("kind", ["create_cq", "drop_cq", "create_database"])
def test_v1_statement_authorized_on_the_database_it_names(served, kind):
    """A v1 statement is authorized on the database it names: CREATE /
    DROP CONTINUOUS QUERY … ON <db> need write on <db>, not on the
    request's ?db=, and CREATE DATABASE needs the org-wide write:orgs.
    The RW token (write on greengrass-telemetry only) is refused and
    changes nothing; the admin token succeeds."""
    base, engine, tokens = served
    secret, cq, made = f"secret_{kind}", f"cq_{kind}", f"made_{kind}"
    engine.store.create_bucket("greengrass", secret)
    create_cq = (f"CREATE CONTINUOUS QUERY {cq} ON {secret} BEGIN "
                 "SELECT mean(v) INTO copied FROM m GROUP BY time(1h) END")

    def run(stmt, token):
        return _req(base, "/query?db=greengrass-telemetry&q="
                    + urllib.parse.quote(stmt), "POST", token=token)

    def shown():
        return run("SHOW CONTINUOUS QUERIES", tokens["Admin"])[1]

    statement, done = {
        "create_cq": (create_cq, lambda: cq in shown()),
        "drop_cq": (f"DROP CONTINUOUS QUERY {cq} ON {secret}",
                    lambda: cq not in shown()),
        "create_database": (f"CREATE DATABASE {made}", lambda: any(
            b.name == made for b in engine.store.list_buckets("greengrass"))),
    }[kind]
    if kind == "drop_cq":
        run(create_cq, tokens["Admin"])
    before = shown()
    with pytest.raises(urllib.error.HTTPError) as e:
        run(statement, tokens["RW"])
    assert e.value.code == 403
    assert shown() == before and not done()
    assert run(statement, tokens["Admin"])[0] == 200
    assert done()
    if kind == "create_cq":
        run(f"DROP CONTINUOUS QUERY {cq} ON {secret}", tokens["Admin"])


def test_v1_show_on_names_its_database(served):
    """SHOW … ON <db> reads <db>, not the request's ?db=, and is
    authorized there: the RO token (read on greengrass-telemetry only)
    is refused."""
    base, engine, tokens = served
    engine.store.create_bucket("greengrass", "show_on_other")
    _req(base, "/api/v2/write?bucket=show_on_other", "POST", token=tokens["Admin"],
         body=f"only_in_other,host=a v=1.0 {T0}", ctype="text/plain")

    def show(stmt, token):
        return _req(base, "/query?db=greengrass-telemetry&q="
                    + urllib.parse.quote(stmt), token=token)[1]

    doc = json.loads(show("SHOW MEASUREMENTS ON show_on_other", tokens["Admin"]))
    (series,) = doc["results"][0]["series"]
    assert series["values"] == [["only_in_other"]]
    doc = json.loads(show('SHOW TAG KEYS ON "show_on_other"', tokens["Admin"]))
    assert [v[-1] for v in doc["results"][0]["series"][0]["values"]] == ["host"]
    with pytest.raises(urllib.error.HTTPError) as e:
        show("SHOW MEASUREMENTS ON show_on_other", tokens["RO"])
    assert e.value.code == 403


def test_v1_continuous_query_on_a_dotted_database(served):
    """CREATE / DROP CONTINUOUS QUERY accept a dotted name and database,
    like every other v1 statement."""
    base, _, tokens = served

    def run(stmt):
        return _req(base, "/query?db=greengrass-telemetry&q="
                    + urllib.parse.quote(stmt), "POST", token=tokens["Admin"])

    assert run("CREATE DATABASE a.b")[0] == 200
    assert run('CREATE CONTINUOUS QUERY "c.1" ON "a.b" BEGIN '
               "SELECT mean(v) INTO m_1h FROM m GROUP BY time(1h) END")[0] == 200
    shown = json.loads(run("SHOW CONTINUOUS QUERIES")[1])["results"][0]["series"]
    assert [[n for n, _ in s["values"]] for s in shown if s["name"] == "a.b"] == [["c.1"]]
    assert run('DROP CONTINUOUS QUERY "c.1" ON "a.b"')[0] == 200
    shown = json.loads(run("SHOW CONTINUOUS QUERIES")[1])["results"][0]["series"]
    assert not any(s["name"] == "a.b" and s["values"] for s in shown)


def test_v1_series_named_by_the_parsed_measurement(served):
    """A v1 series is named by the statement's measurement as parsed,
    so a name with a hyphen or a dot comes back whole."""
    base, _, tokens = served
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], ctype="text/plain",
         body=f"cpu-load,host=a v=1.0 {T0}\na.b,host=a v=2.0 {T0}")
    for meas in ("cpu-load", "a.b"):
        for q in (f'SELECT v FROM "{meas}"',
                  f'SELECT mean(v) FROM "{meas}" GROUP BY host'):
            _, body = _req(base, "/query?db=greengrass-telemetry&q="
                           + urllib.parse.quote(q), token=tokens["RO"])
            series = json.loads(body)["results"][0]["series"]
            assert [s["name"] for s in series] == [meas], q


def test_v1_query_json_streams_chunked(served):
    """The v1 JSON path must stream (Transfer-Encoding: chunked, no
    Content-Length) so a raw SELECT * never materializes driver-side,
    and the envelope must parse identically to the eager form."""
    base, engine, tokens = served
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"],
         body="\n".join(
             f"streamm,host=h{i % 4} v={float(i)} {T0 + i * 1_000_000_000}"
             for i in range(2000)
         ),
         ctype="text/plain")
    q = urllib.parse.quote("SELECT v FROM streamm")
    req = urllib.request.Request(
        f"{base}/query?db=greengrass-telemetry&q={q}",
        headers={"Authorization": f"Token {tokens['RO']}"})
    with urllib.request.urlopen(req) as resp:
        assert resp.headers.get("Transfer-Encoding") == "chunked"
        assert resp.headers.get("Content-Length") is None
        payload = json.loads(resp.read())
    series = payload["results"][0]["series"][0]
    assert series["name"] == "streamm"
    assert len(series["values"]) == 2000
    vcol = series["columns"].index("v")
    assert sorted(r[vcol] for r in series["values"]) == [float(i) for i in range(2000)]
    # meta statements keep the eager Content-Length envelope
    mq = urllib.parse.quote("SHOW DATABASES")
    req = urllib.request.Request(
        f"{base}/query?db=greengrass-telemetry&q={mq}",
        headers={"Authorization": f"Token {tokens['RO']}"})
    with urllib.request.urlopen(req) as resp:
        assert resp.headers.get("Content-Length") is not None
        json.loads(resp.read())


def test_v2_orgs_discovery(served):
    base, engine, tokens = served
    status, body = _req(base, "/api/v2/orgs", token=tokens["RO"])
    assert status == 200
    orgs = json.loads(body)["orgs"]
    assert orgs == [{"id": engine.config.org, "name": engine.config.org}]
    status, body = _req(base, "/api/v2/orgs?org=nope", token=tokens["RO"])
    assert json.loads(body)["orgs"] == []


def test_v2_authorizations_admin_only(served):
    base, engine, tokens = served
    status, body = _req(base, "/api/v2/authorizations", token=tokens["Admin"])
    assert status == 200
    recs = json.loads(body)["authorizations"]
    descs = {r["description"] for r in recs}
    assert {"greengrass_read", "greengrass_readwrite"} <= descs
    assert any(d.endswith("'s Token") for d in descs)  # the admin record
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(base, "/api/v2/authorizations", token=tokens["RO"])
    assert e.value.code == 403


def test_v2_bucket_create_admin_only(served):
    base, engine, tokens = served
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(base, "/api/v2/buckets", method="POST", token=tokens["RW"],
             body={"name": "nope"})
    assert e.value.code == 403
    status, body = _req(
        base, "/api/v2/buckets", method="POST", token=tokens["Admin"],
        body={"name": "archive",
              "retentionRules": [{"type": "expire", "everySeconds": 3600}]},
    )
    assert status == 201
    doc = json.loads(body)
    assert doc["name"] == "archive"
    assert doc["retentionRules"][0]["everySeconds"] == 3600
    # discoverable via the list call afterwards
    status, body = _req(base, "/api/v2/buckets?name=archive", token=tokens["RO"])
    got = json.loads(body)["buckets"]
    assert len(got) == 1 and got[0]["id"] == doc["id"]


def test_v2_task_windowed_quantile(served):
    """A scheduled task using the table-function aggregateWindow form
    (fn: (tables=<-) => tables |> quantile(...)) — the windowed-p90
    downsample idiom — produces exactly the direct per-window rank
    computation in the target bucket."""
    base, engine, tokens = served
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"],
         body="\n".join(
             f"qtask v={float((i * 37) % 100)} {T0 + i * 60_000_000_000}"
             for i in range(120)
         ),
         ctype="text/plain")
    flux = (
        'option task = {name: "p90-qtask", every: 1h}\n'
        'from(bucket: "greengrass-telemetry")\n'
        "  |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-02T00:00:00Z)\n"
        '  |> filter(fn: (r) => r._measurement == "qtask")\n'
        '  |> group(columns: ["_measurement", "_field"])\n'
        "  |> aggregateWindow(every: 1h, fn: (tables=<-) => tables"
        '  |> quantile(q: 0.9, method: "exact_selector"))\n'
        '  |> to(bucket: "qtask-p90")'
    )
    status, body = _req(base, "/api/v2/tasks", "POST", token=tokens["RW"],
                        body={"flux": flux})
    assert status == 201
    task = json.loads(body)
    status, body = _req(base, f"/api/v2/tasks/{task['id']}/runs", "POST",
                        token=tokens["RW"], body={})
    assert status == 200 and json.loads(body)["status"] == "success"
    out = engine.store.read_points("greengrass", "qtask-p90")
    got = {
        (r["time_ns"], r["f_float"])
        for r in out.select("time_ns", "f_float").collect()
    }
    # direct: per hour, the value at rank ceil(0.9 * n) ascending
    import math

    hours: dict = {}
    for i in range(120):
        t = T0 + i * 60_000_000_000
        hours.setdefault(t // 3_600_000_000_000, []).append(float((i * 37) % 100))
    expect = set()
    for h, vals in hours.items():
        vals.sort()
        expect.add(
            ((h + 1) * 3_600_000_000_000,
             vals[max(1, math.ceil(0.9 * len(vals))) - 1])
        )
    assert got == expect
    _req(base, f"/api/v2/tasks/{task['id']}", "DELETE", token=tokens["RW"],
         body=None)


def test_write_accepts_gzip_body(served):
    """Telegraf gzips line-protocol bodies by default — the write path
    must decompress on Content-Encoding: gzip (and reject bad gzip)."""
    import gzip

    base, engine, tokens = served
    lines = "\n".join(
        f"gzm,host=g{i % 2} v={float(i)} {T0 + i * 1_000_000_000}" for i in range(10)
    )
    req = urllib.request.Request(
        base + "/api/v2/write?bucket=greengrass-telemetry", method="POST"
    )
    req.add_header("Authorization", f"Token {tokens['RW']}")
    req.add_header("Content-Type", "text/plain")
    req.add_header("Content-Encoding", "gzip")
    resp = urllib.request.urlopen(req, gzip.compress(lines.encode()))
    assert resp.status == 204
    pts = engine.store.read_points("greengrass", "greengrass-telemetry")
    assert pts.filter(pts.measurement == "gzm").count() == 10

    bad = urllib.request.Request(
        base + "/api/v2/write?bucket=greengrass-telemetry", method="POST"
    )
    bad.add_header("Authorization", f"Token {tokens['RW']}")
    bad.add_header("Content-Encoding", "gzip")
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(bad, b"not gzip at all")
    assert e.value.code == 400


def test_v1_drop_database_admin_only(served):
    base, engine, tokens = served
    engine.store.create_bucket("greengrass", "droppable")
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(base, "/query?db=droppable&q=DROP%20DATABASE%20droppable",
             method="POST", token=tokens["RW"], body="")
    assert e.value.code == 403
    status, body = _req(
        base, "/query?db=droppable&q=DROP%20DATABASE%20droppable",
        method="POST", token=tokens["Admin"], body="")
    assert status == 200
    names = {b.name for b in engine.store.list_buckets("greengrass")}
    assert "droppable" not in names


def test_concurrent_write_query_task_clients(served):
    """VERDICT r5 item 7: parallel write+query+task-run clients against
    ONE engine. Every writer's batches must all land (the per-bucket
    mutation lock serializes parquet append jobs — concurrent appends
    share the committer's _temporary staging and silently lose files
    otherwise), queries must never 5xx mid-write, and a strictly-later
    write to a contended key must win LWW."""
    import threading

    base, engine, tokens = served
    nw, nbatch, nlines = 3, 4, 25
    errors: list[str] = []

    def writer(tid: int) -> None:
        try:
            for b in range(nbatch):
                lines = "\n".join(
                    f"conc,host=w{tid} v={float(tid * 1000 + b * 100 + i)} "
                    f"{T0 + (b * nlines + i) * 60_000_000_000}"
                    for i in range(nlines)
                )
                # contended key: same series+ts from every thread
                lines += f"\nconc,host=shared v={float(tid * 10 + b)} {T0}"
                status, _ = _req(
                    base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
                    token=tokens["RW"], body=lines, ctype="text/plain")
                assert status == 204
        except Exception as e:  # noqa: BLE001
            errors.append(f"writer{tid}: {e!r}")

    def querier(kind: str) -> None:
        try:
            for _ in range(4):
                if kind == "flux":
                    flux = (
                        'from(bucket: "greengrass-telemetry")'
                        " |> range(start: 2024-01-01T00:00:00Z,"
                        " stop: 2024-01-03T00:00:00Z)"
                        ' |> filter(fn: (r) => r._measurement == "conc")'
                        " |> count()"
                    )
                    status, _ = _req(
                        base, "/api/v2/query", "POST", token=tokens["RO"],
                        body={"query": flux, "type": "flux"})
                else:
                    q = urllib.parse.quote(
                        "SELECT COUNT(value) FROM conc "
                        "WHERE time >= '2024-01-01T00:00:00Z'")
                    status, _ = _req(
                        base, f"/query?db=greengrass-telemetry&q={q}",
                        token=tokens["RO"])
                assert status == 200
        except Exception as e:  # noqa: BLE001
            errors.append(f"querier-{kind}: {e!r}")

    def task_client() -> None:
        try:
            flux = (
                'option task = {name: "conc-task", every: 1h}\n'
                'from(bucket: "greengrass-telemetry")\n'
                "  |> range(start: 2024-01-01T00:00:00Z,"
                " stop: 2024-01-03T00:00:00Z)\n"
                '  |> filter(fn: (r) => r._measurement == "conc")\n'
                '  |> group(columns: ["_measurement", "_field"])\n'
                "  |> aggregateWindow(every: 1h, fn: mean)\n"
                '  |> to(bucket: "conc-hourly")'
            )
            status, body = _req(base, "/api/v2/tasks", "POST",
                                token=tokens["RW"], body={"flux": flux})
            assert status == 201
            tid = json.loads(body)["id"]
            for _ in range(2):
                status, body = _req(base, f"/api/v2/tasks/{tid}/runs", "POST",
                                    token=tokens["RW"], body={})
                assert status == 200
                assert json.loads(body)["status"] == "success"
            _req(base, f"/api/v2/tasks/{tid}", "DELETE",
                 token=tokens["RW"], body=None)
        except Exception as e:  # noqa: BLE001
            errors.append(f"task: {e!r}")

    threads = (
        [threading.Thread(target=writer, args=(t,)) for t in range(nw)]
        + [threading.Thread(target=querier, args=(k,))
           for k in ("flux", "influxql")]
        + [threading.Thread(target=task_client)]
    )
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors

    # no lost writes: every (writer, ts) point present exactly once
    pts = engine.store.read_points("greengrass", "greengrass-telemetry")
    conc = pts.filter("measurement = 'conc'").cache()
    for t in range(nw):
        assert conc.filter(f"tags['host'] = 'w{t}'").count() == nbatch * nlines
    # strictly-later write to the contended key wins LWW
    status, _ = _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
                     token=tokens["RW"],
                     body=f"conc,host=shared v=9999.0 {T0}", ctype="text/plain")
    assert status == 204
    pts = engine.store.read_points("greengrass", "greengrass-telemetry")
    shared = pts.filter(
        "measurement = 'conc' AND tags['host'] = 'shared'").collect()
    assert len(shared) == 1 and shared[0]["f_float"] == 9999.0


def test_v1_user_management_lifecycle(served):
    """v1 user-management DDL (public InfluxQL spec): CREATE USER /
    GRANT / SHOW USERS / SHOW GRANTS / REVOKE / SET PASSWORD / DROP
    USER over /query, admin-gated, privileges mapped db≡bucket."""
    base, engine, tokens = served

    def v1(stmt, token):
        qq = urllib.parse.quote(stmt)
        return _req(base, f"/query?db=greengrass-telemetry&q={qq}", token=token)

    # mutation requires admin
    with pytest.raises(urllib.error.HTTPError) as e:
        v1("CREATE USER alice WITH PASSWORD 'Valid#Password99'", tokens["RW"])
    assert e.value.code == 403

    status, _ = v1("CREATE USER alice WITH PASSWORD 'Valid#Password99'",
                   tokens["Admin"])
    assert status == 200
    # weak password → 400 (reference password policy)
    with pytest.raises(urllib.error.HTTPError) as e:
        v1("CREATE USER weak WITH PASSWORD 'abc'", tokens["Admin"])
    assert e.value.code == 400
    # duplicate → 400
    with pytest.raises(urllib.error.HTTPError) as e:
        v1("CREATE USER alice WITH PASSWORD 'Valid#Password99'", tokens["Admin"])
    assert e.value.code == 400

    v1("CREATE USER bob WITH PASSWORD 'Valid#Password99' WITH ALL PRIVILEGES",
       tokens["Admin"])
    status, body = v1("SHOW USERS", tokens["Admin"])
    users = json.loads(body)["results"][0]["series"][0]["values"]
    assert ["alice", False] in users and ["bob", True] in users

    v1("GRANT READ ON telemetry TO alice", tokens["Admin"])
    v1("GRANT ALL ON metrics TO alice", tokens["Admin"])
    _, body = v1("SHOW GRANTS FOR alice", tokens["Admin"])
    grants = json.loads(body)["results"][0]["series"][0]["values"]
    assert grants == [["metrics", "ALL PRIVILEGES"], ["telemetry", "READ"]]

    # revoking READ from ALL leaves WRITE (1.x semantics)
    v1("REVOKE READ ON metrics FROM alice", tokens["Admin"])
    _, body = v1("SHOW GRANTS FOR alice", tokens["Admin"])
    grants = json.loads(body)["results"][0]["series"][0]["values"]
    assert grants == [["metrics", "WRITE"], ["telemetry", "READ"]]

    v1("SET PASSWORD FOR alice = 'Other#Password99'", tokens["Admin"])
    assert engine.users.check_password("alice", "Other#Password99")
    assert not engine.users.check_password("alice", "Valid#Password99")

    # batch: multiple statements in one request, one result each
    status, body = v1("SHOW USERS; SHOW GRANTS FOR alice", tokens["Admin"])
    res = json.loads(body)["results"]
    assert len(res) == 2 and res[1]["statement_id"] == 1

    v1("DROP USER alice", tokens["Admin"])
    with pytest.raises(urllib.error.HTTPError) as e:
        v1("SHOW GRANTS FOR alice", tokens["Admin"])
    assert e.value.code == 400


def test_task_last_success_incremental(served):
    """tasks.lastSuccess(orTime:) from SCRIPT TEXT: first run falls
    back to orTime, later runs start from the previous successful
    aligned run — the stdlib incremental-task idiom."""
    base, engine, tokens = served
    # 4 hours of minutely points
    lines = "\n".join(
        f"lsm,host=h1 v={float(i)} {T0 + i * 60_000_000_000}"
        for i in range(240)
    )
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body=lines, ctype="text/plain")
    flux = (
        'option task = {name: "ls-task", every: 1h}\n'
        'from(bucket: "greengrass-telemetry")\n'
        "  |> range(start: tasks.lastSuccess(orTime: -4h))\n"
        '  |> filter(fn: (r) => r._measurement == "lsm")\n'
        '  |> group(columns: ["_measurement", "_field"])\n'
        "  |> aggregateWindow(every: 1h, fn: count)\n"
    )
    status, body = _req(base, "/api/v2/tasks", "POST", token=tokens["RW"],
                        body={"flux": flux})
    assert status == 201
    tid = json.loads(body)["id"]

    # run 1 at T0+2h: covers the orTime fallback window (-4h)
    status, body = _req(base, f"/api/v2/tasks/{tid}/runs", "POST",
                        token=tokens["RW"], body={"now": T0 + 2 * 3600 * 10**9})
    r1 = json.loads(body)
    assert r1["status"] == "success"
    # run 2 at T0+4h: must start from run 1's aligned now (T0+2h),
    # i.e. cover 2 hourly windows, not the full -4h fallback
    status, body = _req(base, f"/api/v2/tasks/{tid}/runs", "POST",
                        token=tokens["RW"], body={"now": T0 + 4 * 3600 * 10**9})
    r2 = json.loads(body)
    assert r2["status"] == "success"
    assert r2["rows"] <= 3  # 2h of hourly windows (+ boundary), not 4h+
    _req(base, f"/api/v2/tasks/{tid}", "DELETE", token=tokens["RW"], body=None)


def test_v1_admin_introspection(served):
    """SHOW SHARDS / SHOW STATS / SHOW DIAGNOSTICS (v1 admin
    introspection Chronograf issues): shards = (bucket, day)
    partitions; stats = exact measurement/series counters."""
    base, engine, tokens = served

    def v1(stmt):
        qq = urllib.parse.quote(stmt)
        status, body = _req(
            base, f"/query?db=greengrass-telemetry&q={qq}", token=tokens["RW"])
        assert status == 200
        return json.loads(body)["results"][0]

    # seed two days of points so shards exist
    lines = "\n".join(
        f"shm,host=a v={float(i)} {T0 + i * 86_400_000_000_000}"
        for i in range(2)
    )
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body=lines, ctype="text/plain")

    shards = v1("SHOW SHARDS")
    tele = [s for s in shards["series"] if s["name"] == "greengrass-telemetry"]
    assert tele and len(tele[0]["values"]) >= 2
    assert tele[0]["columns"][:4] == ["id", "database", "retention_policy",
                                      "shard_group"]
    day0 = T0 // (86_400 * 10**9)
    groups = {v[3] for v in tele[0]["values"]}
    assert {day0, day0 + 1} <= groups

    stats = v1("SHOW STATS")
    db = [s for s in stats["series"]
          if s.get("tags", {}).get("database") == "greengrass-telemetry"]
    assert db and db[0]["columns"] == ["numMeasurements", "numSeries"]
    n_meas, n_series = db[0]["values"][0]
    assert n_meas >= 1 and n_series >= 1

    diag = v1("SHOW DIAGNOSTICS")
    names = {s["name"] for s in diag["series"]}
    assert {"build", "system"} <= names


def test_v1_write_endpoint(served):
    """v1 compatibility POST /write?db=&precision=: db maps to the
    bucket, v1 precision names accepted (r6)."""
    base, engine, tokens = served
    t_s = (T0 // 10**9) + 7200
    lines = f"v1m,host=a v=1.5 {t_s}"
    status, _ = _req(
        base, "/write?db=greengrass-telemetry&precision=s", "POST",
        token=tokens["RW"], body=lines, ctype="text/plain")
    assert status == 204
    qq = urllib.parse.quote("SELECT v FROM v1m")
    status, body = _req(base, f"/query?db=greengrass-telemetry&q={qq}&epoch=s",
                        token=tokens["RW"])
    vals = json.loads(body)["results"][0]["series"][0]["values"]
    assert [t_s, 1.5] in [[v[0], v[1]] for v in vals]
    # v1 'u' precision spelling maps to us
    status, _ = _req(
        base, "/write?db=greengrass-telemetry&precision=u", "POST",
        token=tokens["RW"], body=f"v1m,host=a v=2.5 {t_s * 10**6 + 5}",
        ctype="text/plain")
    assert status == 204
    # v1 minute/hour precisions are accepted (×60e9 / ×3600e9) like
    # InfluxDB 1.x — ADVICE r6; the v2 route's 400 for them is pinned
    # in tests/test_advice_regressions.py
    status, _ = _req(
        base, "/write?db=greengrass-telemetry&precision=m", "POST",
        token=tokens["RW"], body="v1m,host=a v=3.5 1", ctype="text/plain")
    assert status == 204
    pts = engine.store.read_points("greengrass", "greengrass-telemetry")
    row = pts.filter("measurement = 'v1m' AND f_float = 3.5").collect()
    assert [r.time_ns for r in row] == [60 * 10**9]


def test_flux_query_dialect(served):
    """v2 dialect object on /api/v2/query: annotations subset and
    header=false honored (r6)."""
    base, engine, tokens = served
    q = {"query": 'from(bucket: "greengrass-telemetry") |> limit(n: 1)',
         "dialect": {"annotations": [], "header": True}}
    status, body = _req(base, "/api/v2/query", "POST", token=tokens["RO"],
                        body=q)
    assert status == 200
    text = body.decode() if isinstance(body, bytes) else body
    assert "#datatype" not in text and "#group" not in text
    assert text.startswith(",result,table,")
    q["dialect"] = {"annotations": ["datatype"], "header": False}
    status, body = _req(base, "/api/v2/query", "POST", token=tokens["RO"],
                        body=q)
    text = body.decode() if isinstance(body, bytes) else body
    assert text.startswith("#datatype") and ",result,table," not in text
    assert "#group" not in text and "#default" not in text


def test_integer_field_end_to_end(served):
    """(r6) Integer line-protocol fields aggregate through the full
    facade: write 5i counters, query mean/max back over /query."""
    base, engine, tokens = served
    lines = "\n".join(
        f"ctr,host=e2e hits={i}i {T0 + 86_400_000_000_000 * 30 + i * 10**9}"
        for i in range(6)
    )
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body=lines, ctype="text/plain")
    qq = urllib.parse.quote("SELECT mean(hits), max(hits) FROM ctr")
    status, body = _req(base, f"/query?db=greengrass-telemetry&q={qq}",
                        token=tokens["RW"])
    series = json.loads(body)["results"][0]["series"][0]
    row = dict(zip(series["columns"], series["values"][0]))
    assert row["mean"] == 2.5 and row["max"] == 5.0


def test_flux_per_series_transform_via_http(served):
    """Per-series stage isolation through the facade: derivative()
    must compute within each (measurement, tag set, field) series —
    never across hosts (r8: the facade passed no series key, so every
    per-series transform silently merged series)."""
    base, _, tokens = served
    t0 = T0 + 3_600_000_000_000  # separate hour, away from other tests
    lines = []
    for i in range(4):
        lines.append(f"netiso,host=a rx={float(10 * i)} {t0 + i * 60_000_000_000}")
        # interleaved in time: host=b rises 5/min, host=a 10/min
        lines.append(
            f"netiso,host=b rx={float(5 * i)} {t0 + 30_000_000_000 + i * 60_000_000_000}"
        )
    status, _ = _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
                     token=tokens["RW"], body="\n".join(lines), ctype="text/plain")
    assert status == 204
    flux = (
        'from(bucket: "greengrass-telemetry")'
        " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-02T00:00:00Z)"
        ' |> filter(fn: (r) => r._measurement == "netiso")'
        " |> derivative(unit: 1m)"
    )
    status, body = _req(
        base, "/api/v2/query", "POST",
        token=tokens["RO"], body={"query": flux, "type": "flux"},
    )
    assert status == 200
    import csv as _csv
    import io as _io

    vi = mi = None
    vals = []
    for row in _csv.reader(_io.StringIO(body)):
        if not row:
            continue
        if row[0].startswith("#"):
            continue
        if vi is None:  # header row of the block
            vi = row.index("_value") if "_value" in row else row.index("f_float")
            names = ("_measurement", "measurement")
            mi = next(row.index(n) for n in names if n in row)
            continue
        if row[mi] == "netiso" and row[vi]:
            vals.append(float(row[vi]))
    # per-series rates: exactly 10.0/min (host=a) and 5.0/min (host=b);
    # a cross-series merge would interleave the two ramps and produce
    # alternating garbage deltas instead
    assert set(vals) == {10.0, 5.0}, vals
    assert vals.count(10.0) == 3 and vals.count(5.0) == 3, vals


def test_flux_fields_as_cols_merges_fields_via_http(served):
    """fieldsAsCols through the facade: temp and usage of the SAME tag
    set merge into one wide row (r8: series_key embedded the field
    name, so each field stayed its own half-null row)."""
    base, _, tokens = served
    t0 = T0 + 7_200_000_000_000
    lines = "\n".join(
        f"envx,room=r1 temp={float(20 + i)},hum={float(50 + i)} {t0 + i * 60_000_000_000}"
        for i in range(3)
    )
    status, _ = _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
                     token=tokens["RW"], body=lines, ctype="text/plain")
    assert status == 204
    flux = (
        'import "influxdata/influxdb/schema"\n'
        'from(bucket: "greengrass-telemetry")'
        " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-02T00:00:00Z)"
        ' |> filter(fn: (r) => r._measurement == "envx")'
        " |> schema.fieldsAsCols()"
    )
    status, body = _req(
        base, "/api/v2/query", "POST",
        token=tokens["RO"], body={"query": flux, "type": "flux"},
    )
    assert status == 200
    import csv as _csv
    import io as _io

    header, data = None, []
    for row in _csv.reader(_io.StringIO(body)):
        if not row or row[0].startswith("#"):
            continue
        if header is None:
            header = row
            continue
        if "envx" in row:
            data.append(row)
    assert "temp" in header and "hum" in header
    ti, hi = header.index("temp"), header.index("hum")
    assert len(data) == 3
    for row in data:  # every row carries BOTH fields
        assert row[ti] and row[hi], row


def test_v1_group_by_tag_emits_per_tag_series(served):
    """Stock v1 JSON framing: GROUP BY <tag> returns one series per tag
    set with a "tags" dict, and the tag column removed from columns
    (Grafana's aliasing contract). r8: tags were inlined as a column in
    a single merged series."""
    base, _, tokens = served
    t0 = T0 + 10_800_000_000_000
    lines = "\n".join(
        f"diskiso,host=h{1 + i % 2} free={float(i)} {t0 + i * 60_000_000_000}"
        for i in range(8)
    )
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body=lines, ctype="text/plain")
    q = urllib.parse.quote(
        "SELECT MEAN(free) FROM diskiso WHERE time >= '2024-01-01'"
        " AND time < '2024-01-02' GROUP BY host"
    )
    status, body = _req(
        base, f"/query?db=greengrass-telemetry&q={q}", token=tokens["RO"]
    )
    assert status == 200
    series = json.loads(body)["results"][0]["series"]
    assert len(series) == 2
    by_tag = {s["tags"]["host"]: s for s in series}
    assert set(by_tag) == {"h1", "h2"}
    for s in series:
        assert s["name"] == "diskiso"
        assert "host" not in s["columns"]
    # h1 holds i=0,2,4,6 → mean 3.0; h2 holds 1,3,5,7 → mean 4.0
    mi = series[0]["columns"].index("mean")
    assert by_tag["h1"]["values"][0][mi] == 3.0
    assert by_tag["h2"]["values"][0][mi] == 4.0


def test_v2_csv_wire_columns_are_stock(served):
    """The v2 annotated CSV uses the stock Flux wire names
    (_measurement/_field/_value/_time/_start/_stop + one column per
    tag), never engine internals (f_float/time_ns/series_key) — the
    influxdb-client reader contract (r8)."""
    base, _, tokens = served
    t0 = T0 + 14_400_000_000_000
    lines = "\n".join(
        f"wirex,host=w{1 + i % 2},dc=d1 load={float(i)} {t0 + i * 60_000_000_000}"
        for i in range(6)
    )
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body=lines, ctype="text/plain")
    flux = (
        'from(bucket: "greengrass-telemetry")'
        " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-02T00:00:00Z)"
        ' |> filter(fn: (r) => r._measurement == "wirex")'
        " |> aggregateWindow(every: 1h, fn: mean)"
    )
    _, body = _req(base, "/api/v2/query", "POST", token=tokens["RO"],
                   body={"query": flux, "type": "flux"})
    header = next(
        r for r in body.split("\r\n") if r.startswith(",result,table,")
    ).split(",")
    for required in ("_measurement", "_field", "_value", "_time",
                     "_start", "_stop", "host", "dc"):
        assert required in header, header
    for leaked in ("f_float", "time_ns", "series_key", "measurement",
                   "field", "ingest_seq", "day"):
        assert leaked not in header, header
    # stock per-table numbering: each (tag set) series gets its own
    # table id, and #group marks the key columns true
    group_row = next(r for r in body.split("\r\n") if r.startswith("#group"))
    flags = dict(zip(header, group_row.split(",")))
    assert flags["host"] == "true" and flags["_measurement"] == "true"
    assert flags["_value"] == "false" and flags["_time"] == "false"
    hi, ti = header.index("host"), header.index("table")
    tables = {}
    for r in body.split("\r\n"):
        cells = r.split(",")
        if len(cells) == len(header) and not r.startswith("#") and cells[ti].isdigit():
            tables.setdefault(cells[hi], set()).add(cells[ti])
    assert len(tables.get("w1", set()) | tables.get("w2", set())) >= 2
    assert tables.get("w1") and tables.get("w2")
    assert tables["w1"].isdisjoint(tables["w2"])


def test_v1_star_and_group_star_stock_shapes(served):
    """Stock v1 shapes (r8): SELECT * inlines tags as columns and names
    the value column by its FIELD KEY (no storage internals); GROUP BY *
    frames one series per tag set; a bare aggregate carries the
    epoch-0 time column."""
    base, _, tokens = served
    t0 = T0 + 18_000_000_000_000
    lines = "\n".join(
        f"starx,host=s{1 + i % 2},dc=dx load={float(i)} {t0 + i * 60_000_000_000}"
        for i in range(6)
    )
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body=lines, ctype="text/plain")

    def v1(q):
        _, body = _req(base, f"/query?db=greengrass-telemetry&q="
                       f"{urllib.parse.quote(q)}", token=tokens["RO"])
        return json.loads(body)["results"][0]["series"]

    s = v1("SELECT * FROM starx LIMIT 3")[0]
    assert s["columns"] == ["time", "dc", "host", "load"]
    assert len(s["values"]) == 3

    series = v1("SELECT MEAN(load) FROM starx GROUP BY *")
    assert {(x["tags"]["host"], x["tags"]["dc"]) for x in series} == {
        ("s1", "dx"), ("s2", "dx")
    }
    for x in series:
        assert x["columns"] == ["time", "mean"]
        assert x["values"][0][0] == "1970-01-01T00:00:00Z"

    bare = v1("SELECT MEAN(load) FROM starx")[0]
    assert bare["columns"] == ["time", "mean"]
    assert bare["values"] == [["1970-01-01T00:00:00Z", 2.5]]


def test_flux_keep_drop_regroup_tags_via_http(served):
    """Stock keep()/drop() regroup semantics over the facade (r8):
    dropping a tag merges series that differ only in it; keep() of a
    tag makes it the group key and aggregates per kept tag."""
    base, _, tokens = served
    t0 = T0 + 21_600_000_000_000
    lines = []
    for i in range(4):
        lines.append(f"kdx,host=a,dc=e v={float(i)} {t0 + i * 60_000_000_000}")
        lines.append(f"kdx,host=b,dc=w v={float(10 * i)} {t0 + i * 60_000_000_000}")
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body="\n".join(lines), ctype="text/plain")
    R = ("range(start: 2024-01-01T00:00:00Z, stop: 2024-01-02T00:00:00Z)"
         ' |> filter(fn: (r) => r._measurement == "kdx")')

    _, body = _req(base, "/api/v2/query", "POST", token=tokens["RO"], body={
        "query": f'from(bucket:"greengrass-telemetry") |> {R}'
                 ' |> drop(columns: ["host", "dc"]) |> sum()',
        "type": "flux"})
    # 0+1+2+3 + 0+10+20+30 = 66 merged into ONE table
    assert ",66.0" in body and ",6.0" not in body.replace(",66.0", "")

    _, body = _req(base, "/api/v2/query", "POST", token=tokens["RO"], body={
        "query": f'from(bucket:"greengrass-telemetry") |> {R}'
                 ' |> keep(columns: ["_time", "_value", "host"]) |> sum()',
        "type": "flux"})
    assert ",6.0" in body and ",60.0" in body  # per-host sums
    assert ",66.0" not in body


def test_flux_rename_tag_and_distinct_tag_via_http(served):
    """Stock semantics for map-resident tags (r8): rename() rewrites
    the tag inside the series key (grouping follows the new name);
    distinct(column: <tag>) yields the tag values as _value."""
    base, _, tokens = served
    t0 = T0 + 25_200_000_000_000
    lines = []
    for i in range(3):
        lines.append(f"rtx,host=a v={float(i)} {t0 + i * 60_000_000_000}")
        lines.append(f"rtx,host=b v={float(10 * i)} {t0 + i * 60_000_000_000}")
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body="\n".join(lines), ctype="text/plain")
    R = ('range(start: 2024-01-01T00:00:00Z, stop: 2024-01-02T00:00:00Z)'
         ' |> filter(fn: (r) => r._measurement == "rtx")')

    _, body = _req(base, "/api/v2/query", "POST", token=tokens["RO"], body={
        "query": f'from(bucket:"greengrass-telemetry") |> {R}'
                 ' |> rename(columns: {host: "node"})'
                 ' |> keep(columns: ["_time", "_value", "node"]) |> sum()',
        "type": "flux"})
    assert ",3.0" in body and ",30.0" in body  # per-node sums survive
    assert "node" in body and ",33.0" not in body

    _, body = _req(base, "/api/v2/query", "POST", token=tokens["RO"], body={
        "query": f'from(bucket:"greengrass-telemetry") |> {R}'
                 ' |> group() |> distinct(column: "host")',
        "type": "flux"})
    header = next(r for r in body.split("\r\n")
                  if r.startswith(",result,table,"))
    assert "_value" in header.split(",")
    vals = {r.rsplit(",", 1)[-1] for r in body.split("\r\n")
            if r.startswith(",,")}
    assert {"a", "b"} <= vals


def test_flux_fuzz_via_http_never_5xx(served):
    """Facade round-trip fuzz: random grammar pipelines posted to
    /api/v2/query must return 200 with parseable annotated CSV or a
    typed 400 — never a 5xx (the CSV wire canonicalization and series
    framing must hold for every stage combination, r8)."""
    from hypothesis import HealthCheck, given, settings

    from tests.test_property import _flux_script

    base, _, tokens = served
    t0 = T0 + 28_800_000_000_000
    lines = []
    for i in range(12):
        et = ("click", "view", "error", "purchase")[i % 4]
        lines.append(
            f"events,event_type={et} value={float(i * 37 % 211)} "
            f"{t0 + i * 60_000_000_000}"
        )
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body="\n".join(lines), ctype="text/plain")

    @settings(max_examples=25, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(script=_flux_script())
    def run(script):
        q = script.replace('from(bucket:"b")',
                           'from(bucket:"greengrass-telemetry")')
        try:
            status, body = _req(base, "/api/v2/query", "POST",
                                token=tokens["RO"],
                                body={"query": q, "type": "flux"})
        except urllib.error.HTTPError as e:
            assert e.code < 500, (q, e.code, e.read().decode()[:200])
            return
        assert status == 200
        # every data row must match its block's header width
        width = None
        for row in body.split("\r\n"):
            if row.startswith(",result,table,"):
                width = len(row.split(","))
            elif row.startswith(",,") and width is not None:
                assert len(row.split(",")) == width or '"' in row, (q, row)

    run()


def test_v1_multi_measurement_series_per_name(served):
    """Stock v1 framing (r8): FROM m1, m2 (or a regex) returns one
    series PER MEASUREMENT, named by it, with no measurement column."""
    base, _, tokens = served
    t0 = T0 + 32_400_000_000_000
    lines = [f"mmx1,host=a v={float(i)} {t0 + i * 60_000_000_000}"
             for i in range(3)]
    lines += [f"mmx2,host=a v={float(10 * i)} {t0 + i * 60_000_000_000}"
              for i in range(3)]
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body="\n".join(lines), ctype="text/plain")
    q = urllib.parse.quote("SELECT COUNT(v) FROM mmx1, mmx2")
    _, body = _req(base, f"/query?db=greengrass-telemetry&q={q}",
                   token=tokens["RO"])
    series = json.loads(body)["results"][0]["series"]
    assert {s["name"] for s in series} == {"mmx1", "mmx2"}
    for s in series:
        assert "measurement" not in s["columns"]
        assert s["values"][0][s["columns"].index("count")] == 3


def test_flux_string_bool_fields_reach_value(served):
    """r9 ADVICE-high fix: after unify_numeric_value every frame has an
    f_float column, so the old f_float-first _value binding silently
    dropped string/bool field values. The typed slot must be selected
    by the ftype discriminator and mixed-type results must split into
    one table per datatype with continued table numbering."""
    base, _, tokens = served
    t0 = T0 + 40_000_000_000_000
    lines = "\n".join([
        f'typedmix,host=h1 status="ok",up=true,load=1.5 {t0}',
        f'typedmix,host=h1 status="degraded",up=false,load=2.5 '
        f"{t0 + 60_000_000_000}",
    ])
    status, _ = _req(base, "/api/v2/write?bucket=greengrass-telemetry",
                     "POST", token=tokens["RW"], body=lines,
                     ctype="text/plain")
    assert status == 204
    flux = (
        'from(bucket: "greengrass-telemetry")'
        " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-03T00:00:00Z)"
        ' |> filter(fn: (r) => r._measurement == "typedmix")'
    )
    status, body = _req(base, "/api/v2/query", "POST",
                        token=tokens["RO"], body={"query": flux,
                                                  "type": "flux"})
    assert status == 200
    # the real string/bool values are on the wire, not null-discarded
    assert ",status,ok," in body and ",status,degraded," in body
    assert ",up,true," in body and ",up,false," in body
    assert ",load,1.5," in body and ",load,2.5," in body
    # one #datatype per split: double, string, boolean value columns
    dtypes = [ln for ln in body.splitlines() if ln.startswith("#datatype")]
    value_types = sorted(ln.split(",")[5] for ln in dtypes)
    assert value_types == ["boolean", "double", "string"]
    # table numbering continues across the datatype splits
    tids = {ln.split(",")[2] for ln in body.splitlines()
            if ln.startswith(",,")}
    assert tids == {"0", "1", "2"}


def test_flux_map_value_write_on_string_series_wire(served):
    """r11 verdict #1, pinned at the wire: map() assigning TO _value on
    a string series must rewrite the serialized values (previously a
    silent no-op — the write landed in the dead f_float slot), and a
    map that RETYPES the series must flip the #datatype annotation."""
    base, _, tokens = served
    t0 = T0 + 50_000_000_000_000
    lines = "\n".join([
        f'mapwr,host=h1 state="up" {t0}',
        f'mapwr,host=h1 state="down" {t0 + 60_000_000_000}',
    ])
    status, _ = _req(base, "/api/v2/write?bucket=greengrass-telemetry",
                     "POST", token=tokens["RW"], body=lines,
                     ctype="text/plain")
    assert status == 204
    head = (
        'from(bucket: "greengrass-telemetry")'
        " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-04T00:00:00Z)"
        ' |> filter(fn: (r) => r._measurement == "mapwr")'
    )
    # in-place string rewrite
    flux = head + ' |> map(fn: (r) => ({r with _value: r._value + "!"}))'
    status, body = _req(base, "/api/v2/query", "POST", token=tokens["RO"],
                        body={"query": flux, "type": "flux"})
    assert status == 200
    assert ",up!," in body and ",down!," in body
    assert ",up," not in body.replace(",up!,", "") \
        and ",down," not in body.replace(",down!,", "")

    # retype string → float: value moves slot, #datatype flips
    flux = head + (' |> map(fn: (r) => ({r with _value: '
                   'if r._value == "up" then 1.0 else 0.0}))')
    status, body = _req(base, "/api/v2/query", "POST", token=tokens["RO"],
                        body={"query": flux, "type": "flux"})
    assert status == 200
    dtypes = [ln for ln in body.splitlines() if ln.startswith("#datatype")]
    assert len(dtypes) == 1 and dtypes[0].split(",")[5] == "double"
    vals = sorted(ln.split(",")[5] for ln in body.splitlines()
                  if ln.startswith(",,"))
    assert vals == ["0.0", "1.0"]


def test_v1_into_tag_field_provenance(served):
    """r12: stock INTO semantics — the query's GROUP BY tags stay TAGS
    in the destination; every other result column becomes a FIELD of
    its own type (selected string fields stay string fields; ungrouped
    tags convert to fields). Previously every string column became a
    tag, so `SELECT v, s INTO dst` silently demoted the string field.
    Also pins the empty-tags map type (a raw INTO with no grouped tags
    used to write void-typed map keys, corrupting the parquet
    directory for every later read)."""
    import urllib.parse as up

    base, _, tokens = served
    lines = "\n".join(
        f'intosrc,host=h{i % 2} v={i}.0,s="lab{i % 2}" '
        f"{T0 + i * 60_000_000_000}"
        for i in range(4)
    )
    status, _ = _req(base, "/api/v2/write?bucket=greengrass-telemetry",
                     "POST", token=tokens["RW"], body=lines,
                     ctype="text/plain")
    assert status == 204

    def q(stmt):
        _, body = _req(
            base,
            f"/query?db=greengrass-telemetry&q={up.quote(stmt)}&epoch=ns",
            token=tokens["Admin"], method="POST")
        doc = json.loads(body)
        assert "error" not in doc["results"][0], (stmt, doc)
        return doc["results"][0]

    # raw copy: string field stays a FIELD; bucket stays readable
    res = q("SELECT v, s INTO intoraw FROM intosrc")
    assert res["series"][0]["values"][0][1] == 8  # 4 points x 2 fields
    s0 = q("SELECT * FROM intoraw")["series"][0]
    assert s0["columns"] == ["time", "s", "v"]
    assert s0["values"][0][1] == "lab0" and s0["values"][0][2] == 0.0
    res = q("SHOW TAG KEYS FROM intoraw")
    assert "series" not in res or not res["series"][0].get("values")

    # grouped downsample: the GROUP BY tag stays a TAG
    q("SELECT mean(v) INTO intoagg FROM intosrc WHERE "
      "time >= '2024-01-01' AND time < '2024-01-02' "
      "GROUP BY time(1h), host")
    res = q("SHOW TAG KEYS FROM intoagg")
    assert res["series"][0]["values"] == [["host"]]
    s1 = q("SELECT * FROM intoagg GROUP BY host")["series"][0]
    assert s1["tags"] in ({"host": "h0"}, {"host": "h1"})


def test_flux_set_measurement_routes_to_write(served):
    """r12 probe: set(key: "_measurement", value: "dst") created a NEW
    `_measurement` column while the engine's `measurement` column kept
    the old name — a following to() wrote under the OLD measurement
    and tripped its type pins (400 on a retyped series). The set key
    resolves through the Flux→engine column map; composed here with a
    map() retype, the task-rename idiom."""
    base, _, tokens = served
    t0 = T0 + 60_000_000_000_000
    lines = "\n".join([
        f'setsrc,host=h1 state="up" {t0}',
        f'setsrc,host=h1 state="down" {t0 + 60_000_000_000}',
    ])
    status, _ = _req(base, "/api/v2/write?bucket=greengrass-telemetry",
                     "POST", token=tokens["RW"], body=lines,
                     ctype="text/plain")
    assert status == 204
    flux = (
        'from(bucket: "greengrass-telemetry")'
        " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-05T00:00:00Z)"
        ' |> filter(fn: (r) => r._measurement == "setsrc")'
        ' |> map(fn: (r) => ({r with _value: if r._value == "up" '
        "then 1.0 else 0.0}))"
        ' |> set(key: "_measurement", value: "setdst")'
        ' |> to(bucket: "greengrass-telemetry")'
    )
    status, _ = _req(base, "/api/v2/query", "POST", token=tokens["RW"],
                     body={"query": flux, "type": "flux"})
    assert status == 200
    status, body = _req(
        base, "/api/v2/query", "POST", token=tokens["RO"],
        body={"query": (
            'from(bucket: "greengrass-telemetry")'
            " |> range(start: 2024-01-01T00:00:00Z,"
            " stop: 2024-01-05T00:00:00Z)"
            ' |> filter(fn: (r) => r._measurement == "setdst")'
        ), "type": "flux"})
    assert status == 200
    vals = sorted(ln.split(",")[5] for ln in body.splitlines()
                  if ln.startswith(",,"))
    assert vals == ["0.0", "1.0"]
    assert ",setdst," in body and ",setsrc," not in body


def test_flux_drop_materialized_tag_merges_series(served):
    """r9 ADVICE-medium fix: when a tag was materialized as a real
    column by an earlier stage (sort on the tag), drop() must ALSO
    remove it from series_key/tags — series that differ only in the
    dropped tag merge, exactly as when the tag was map-resident."""
    base, _, tokens = served
    t0 = T0 + 43_200_000_000_000
    lines = []
    for i in range(4):
        lines.append(f"dmx,host=a v={float(i)} {t0 + i * 60_000_000_000}")
        lines.append(f"dmx,host=b v={float(10 * i)} {t0 + i * 60_000_000_000}")
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body="\n".join(lines), ctype="text/plain")
    # sort(columns:["host"]) materializes the tag as a real column,
    # then drop must still merge the two hosts into one summed table
    _, body = _req(base, "/api/v2/query", "POST", token=tokens["RO"], body={
        "query": 'from(bucket:"greengrass-telemetry")'
                 " |> range(start: 2024-01-01T00:00:00Z,"
                 " stop: 2024-01-03T00:00:00Z)"
                 ' |> filter(fn: (r) => r._measurement == "dmx")'
                 ' |> sort(columns: ["host", "_time"])'
                 ' |> drop(columns: ["host"]) |> sum()',
        "type": "flux"})
    assert ",66.0" in body          # 6 + 60 merged into ONE table
    assert ",6.0" not in body.replace(",66.0", "")
    assert ",60.0" not in body.replace(",66.0", "")


def test_v1_raw_select_time_ordered_without_limit(served):
    """r9 probe 2 fix: a bare ``SELECT f FROM m`` (no LIMIT, no GROUP
    BY) must return values time-ascending — stock never leaks
    partition concat order on the raw path."""
    base, _, tokens = served
    t0 = T0 + 86_400_000_000_000 * 3
    # write out of order so shuffle order != time order
    lines = [f"raword v={float(i)} {t0 + i * 60_000_000_000}"
             for i in (5, 1, 4, 0, 3, 2)]
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body="\n".join(lines), ctype="text/plain")
    import urllib.parse as up
    q = up.quote("SELECT v FROM raword")
    _, body = _req(base, f"/query?db=greengrass-telemetry&q={q}&epoch=ns",
                   token=tokens["RO"])
    vals = json.loads(body)["results"][0]["series"][0]["values"]
    assert [v[0] for v in vals] == sorted(v[0] for v in vals)
    assert [v[1] for v in vals] == [0.0, 1.0, 2.0, 3.0, 4.0, 5.0]
    # and DESC still honored
    q = up.quote("SELECT v FROM raword ORDER BY time DESC")
    _, body = _req(base, f"/query?db=greengrass-telemetry&q={q}&epoch=ns",
                   token=tokens["RO"])
    vals = json.loads(body)["results"][0]["series"][0]["values"]
    assert [v[1] for v in vals] == [5.0, 4.0, 3.0, 2.0, 1.0, 0.0]


def test_v1_series_time_ordered_in_statement_direction(served):
    """Every v1 answer goes through one series framer that orders rows
    by time in the statement's direction: an untagged GROUP BY time()
    answer comes back time-ascending, and each series of GROUP BY <tag>
    ORDER BY time DESC descending."""
    base, _, tokens = served
    t0 = T0 + 86_400_000_000_000 * 6
    lines = [f"tord,host=h{i % 2} v={float(i)} {t0 + i * 60_000_000_000}"
             for i in range(360)]
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body="\n".join(lines), ctype="text/plain")
    import urllib.parse as up

    def series(q):
        _, body = _req(base, f"/query?db=greengrass-telemetry&q={up.quote(q)}"
                       "&epoch=ns", token=tokens["RO"])
        return json.loads(body)["results"][0]["series"]

    span = f"time >= {t0} AND time < {t0 + 6 * 3_600_000_000_000}"
    (windows,) = series(f"SELECT mean(v) FROM tord WHERE {span} GROUP BY time(10m)")
    times = [v[0] for v in windows["values"]]
    assert len(times) == 36 and times == sorted(times)
    desc = series(f"SELECT v FROM tord WHERE {span} GROUP BY host ORDER BY time DESC")
    assert [s["tags"] for s in desc] == [{"host": "h0"}, {"host": "h1"}]
    for s in desc:
        times = [v[0] for v in s["values"]]
        assert len(times) == 180 and times == sorted(times, reverse=True)


def test_v1_chunked_true_ndjson_partial_flags(served):
    """r9 probe 2: ``chunked=true&chunk_size=N`` must emit newline-
    delimited COMPLETE {"results":[...]} docs of ≤N rows, with
    series-level AND result-level ``partial: true`` on every non-final
    piece (the stock v1 contract influxdb-python's chunked reader
    parses)."""
    base, _, tokens = served
    t0 = T0 + 86_400_000_000_000 * 4
    lines = [f"chk v={float(i)} {t0 + i * 60_000_000_000}" for i in range(5)]
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body="\n".join(lines), ctype="text/plain")
    import urllib.parse as up
    q = up.quote("SELECT v FROM chk")
    _, body = _req(base,
                   f"/query?db=greengrass-telemetry&q={q}"
                   "&chunked=true&chunk_size=2&epoch=ns",
                   token=tokens["RO"])
    docs = [json.loads(ln) for ln in body.splitlines() if ln.strip()]
    assert len(docs) == 3  # 2 + 2 + 1 rows
    rows = []
    for i, doc in enumerate(docs):
        res = doc["results"][0]
        ser = res["series"][0]
        assert ser["name"] == "chk"
        assert len(ser["values"]) <= 2
        rows += ser["values"]
        last = i == len(docs) - 1
        assert res.get("partial", False) is (not last)
        assert ser.get("partial", False) is (not last)
    assert [r[1] for r in rows] == [0.0, 1.0, 2.0, 3.0, 4.0]


def test_v1_chunked_splits_each_tagged_series(served):
    """``chunked=true`` over a GROUP BY <tag> answer: every series of
    the lazily split row stream arrives whole, in documents of at most
    chunk_size rows, the last document of the statement without the
    result-level partial flag."""
    base, _, tokens = served
    t0 = T0 + 86_400_000_000_000 * 8
    lines = [f"chk2,host=h{i % 2} v={float(i)} {t0 + i * 60_000_000_000}"
             for i in range(6)]
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body="\n".join(lines), ctype="text/plain")
    import urllib.parse as up
    q = up.quote("SELECT v FROM chk2 GROUP BY host")
    _, body = _req(base, f"/query?db=greengrass-telemetry&q={q}"
                   "&chunked=true&chunk_size=2&epoch=ns", token=tokens["RO"])
    docs = [json.loads(ln)["results"][0] for ln in body.splitlines() if ln.strip()]
    assert len(docs) == 4  # 2 + 1 rows per host
    values: dict = {}
    for doc in docs:
        (s,) = doc["series"]
        assert len(s["values"]) <= 2
        values.setdefault(s["tags"]["host"], []).extend(v[1] for v in s["values"])
    assert values == {"h0": [0.0, 2.0, 4.0], "h1": [1.0, 3.0, 5.0]}
    assert [d.get("partial", False) for d in docs] == [True, True, True, False]


def test_v2_dialect_delimiter_comment_prefix_datetime_format(served):
    """r9 probe 4/5: the v2 dialect's delimiter/commentPrefix/
    dateTimeFormat are honored — cells join on the dialect delimiter,
    annotation rows use the dialect comment prefix, and RFC3339 drops
    fractional seconds while RFC3339Nano trims trailing zeros (Go
    time.Format semantics)."""
    base, _, tokens = served
    t0 = T0 + 86_400_000_000_000 * 5
    # 123.456 ms fraction to tell the two datetime formats apart
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"],
         body=f"dlx v=7.5 {t0 + 123_456_000}", ctype="text/plain")
    flux = ('from(bucket:"greengrass-telemetry")'
            " |> range(start: 2024-01-05T00:00:00Z,"
            " stop: 2024-01-07T00:00:00Z)"
            ' |> filter(fn: (r) => r._measurement == "dlx")')
    _, body = _req(base, "/api/v2/query", "POST", token=tokens["RO"], body={
        "query": flux, "type": "flux",
        "dialect": {"delimiter": ";", "commentPrefix": "%"}})
    assert "%datatype;string;long;" in body
    assert "%group;false;false;" in body
    assert ";result;table;" in body
    assert ";;0;" in body
    assert "#datatype" not in body
    # default dateTimeFormat=RFC3339: fraction dropped
    assert "2024-01-06T00:00:00Z" in body
    assert "2024-01-06T00:00:00.123456Z" not in body
    _, body = _req(base, "/api/v2/query", "POST", token=tokens["RO"], body={
        "query": flux, "type": "flux",
        "dialect": {"dateTimeFormat": "RFC3339Nano"}})
    assert "2024-01-06T00:00:00.123456Z" in body
    # invalid dialect values are typed 400s, not 5xx
    for bad in ({"delimiter": "--"}, {"dateTimeFormat": "unix"}):
        try:
            _req(base, "/api/v2/query", "POST", token=tokens["RO"],
                 body={"query": flux, "type": "flux", "dialect": bad})
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400


def test_v1_ddl_admin_fuzz_typed_errors_never_5xx(served):
    """Grammar-fuzz the v1 DDL/admin surface (r9): every CREATE/DROP/
    GRANT/REVOKE/SET/SHOW/DELETE statement — valid or mutated — must
    yield a 200 with parseable results or a TYPED 4xx JSON error,
    never a 5xx; and a statement containing a guaranteed-garbage token
    must never silently succeed."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    base, _, tokens = served
    import urllib.parse as up

    TEMPLATES = [
        "CREATE DATABASE fuzz_scratch",
        "DROP DATABASE fuzz_scratch",
        "SHOW DATABASES",
        "SHOW RETENTION POLICIES ON greengrass-telemetry",
        "CREATE USER fz_u WITH PASSWORD 'FuzzPass#12345'",
        "CREATE USER fz_adm WITH PASSWORD 'FuzzPass#12345' WITH ALL PRIVILEGES",
        "DROP USER fz_u",
        "SET PASSWORD FOR fz_u = 'FuzzPass#54321'",
        "GRANT READ ON fuzz_scratch TO fz_u",
        "GRANT ALL TO fz_u",
        "REVOKE WRITE ON fuzz_scratch FROM fz_u",
        "REVOKE ALL PRIVILEGES FROM fz_u",
        "SHOW USERS",
        "SHOW GRANTS FOR fz_u",
        "DROP MEASUREMENT fuzzm",
        "DROP SERIES FROM fuzzm",
        "DELETE FROM fuzzm WHERE time < now()",
        "CREATE CONTINUOUS QUERY fz_cq ON greengrass-telemetry BEGIN "
        "SELECT mean(value) INTO fuzz_1h FROM fuzzm GROUP BY time(1h) END",
        "DROP CONTINUOUS QUERY fz_cq ON greengrass-telemetry",
        "SHOW CONTINUOUS QUERIES",
    ]
    GARB = "ZZGARBAGEZZ"

    def post(stmt, tok):
        return _req(base, f"/query?db=greengrass-telemetry&q={up.quote(stmt)}",
                    "POST", token=tok)

    # derandomized (r10): run-to-run seed variance made failures
    # unreproducible ("passed on replay" — the r9 verdict's flake);
    # the garbage-token class is covered exhaustively by the
    # deterministic twin test below, so fixed-seed sampling here
    # costs no coverage.
    @settings(max_examples=120, deadline=None, derandomize=True,
              suppress_health_check=list(HealthCheck))
    @given(ti=st.integers(0, len(TEMPLATES) - 1), mut=st.integers(0, 4),
           pos=st.integers(0, 30))
    def run(ti, mut, pos):
        stmt = TEMPLATES[ti]
        words = stmt.split(" ")
        must_error = False
        if mut == 1:  # garbage appended → guaranteed invalid
            stmt, must_error = stmt + " " + GARB, True
        elif mut == 2:  # garbage inserted mid-statement → invalid
            words.insert(pos % (len(words) + 1), GARB)
            stmt, must_error = " ".join(words), True
        elif mut == 3 and len(words) > 1:  # drop a word (may stay valid)
            del words[pos % len(words)]
            stmt = " ".join(words)
        elif mut == 4:  # duplicate a word (may stay valid)
            words.insert(pos % len(words), words[pos % len(words)])
            stmt = " ".join(words)
        try:
            status, body = post(stmt, tokens["Admin"])
        except urllib.error.HTTPError as e:
            assert 400 <= e.code < 500, (stmt, e.code)
            json.loads(e.read().decode())  # typed JSON error body
            return
        assert status == 200, stmt
        doc = json.loads(body)
        assert "results" in doc, stmt
        if must_error:
            assert any("error" in r for r in doc["results"]), (
                "garbage statement silently succeeded", stmt)

    run()


def test_v1_query_string_and_bool_field_values(served):
    """The r9 verdict's open defect, pinned end-to-end: string and bool
    field VALUES must flow through /query (stock v1 returns "ok"/"bad"
    and true/false; the engine returned NULL — every read hardcoded
    f_float). Covers raw select, star select, cross-field WHERE on a
    string field, bool-field WHERE, and type-generic aggregates."""
    import urllib.parse as up

    base, _, tokens = served
    lines = "\n".join(
        f"svc,host=h{i % 2} temp={i}.5,status=\"{'ok' if i % 3 else 'bad'}\","
        f"up={'true' if i % 2 == 0 else 'false'} {T0 + i * 60_000_000_000}"
        for i in range(6)
    )
    status, _ = _req(base, "/api/v2/write?bucket=greengrass-telemetry",
                     "POST", token=tokens["RW"], body=lines,
                     ctype="text/plain")
    assert status == 204

    def q(stmt):
        _, body = _req(
            base,
            f"/query?db=greengrass-telemetry&q={up.quote(stmt)}&epoch=ns",
            token=tokens["RO"])
        doc = json.loads(body)
        assert "error" not in doc["results"][0], doc
        return doc["results"][0].get("series", [])

    # raw string select: the exact probe from the r9 review
    s = q("SELECT status FROM svc")
    vals = [v[1] for v in s[0]["values"]]
    assert vals == ["bad", "ok", "ok", "bad", "ok", "ok"]

    # star select: per-type columns (float + string + bool all typed)
    s = q("SELECT * FROM svc")
    cols = s[0]["columns"]
    row0 = dict(zip(cols, s[0]["values"][0]))
    assert row0["status"] == "bad" and row0["up"] is True
    assert row0["temp"] == 0.5 and row0["host"] == "h0"

    # cross-field WHERE on the string field (point-level semantics)
    s = q("SELECT temp FROM svc WHERE status = 'bad'")
    assert sorted(v[1] for v in s[0]["values"]) == [0.5, 3.5]

    # bool-field WHERE with an unquoted literal
    s = q("SELECT temp FROM svc WHERE up = true")
    assert sorted(v[1] for v in s[0]["values"]) == [0.5, 2.5, 4.5]

    # type-generic aggregates on the string field
    s = q("SELECT count(status) AS n, first(status) AS f, "
          "last(status) AS l FROM svc")
    row = dict(zip(s[0]["columns"], s[0]["values"][0]))
    assert row["n"] == 6 and row["f"] == "bad" and row["l"] == "ok"

    # DISTINCT over strings
    s = q("SELECT DISTINCT(status) FROM svc")
    assert sorted(v[-1] for v in s[0]["values"]) == ["bad", "ok"]

    # companion FIELD on a selector row: stock returns the PICKED
    # point's other field values (they live on sibling rows in the
    # tall frame — r10 attaches them per point before the pick)
    s = q("SELECT last(temp) AS lt, status FROM svc")
    row = dict(zip(s[0]["columns"], s[0]["values"][0]))
    assert row["lt"] == 5.5 and row["status"] == "ok"

    # OR groups mixing string-field and tag conditions evaluate
    # per POINT (a field's value lives on one row of the point)
    s = q("SELECT temp FROM svc WHERE (status = 'bad' OR status = 'ok')")
    assert len(s[0]["values"]) == 6
    s = q("SELECT temp FROM svc WHERE (status = 'bad' OR host = 'h0')")
    assert sorted(v[1] for v in s[0]["values"]) == [0.5, 2.5, 3.5, 4.5]

    # regex operators route to the string slot too
    s = q("SELECT temp FROM svc WHERE status =~ /^b/")
    assert sorted(v[1] for v in s[0]["values"]) == [0.5, 3.5]

    # numeric OR-group members are FIELD conditions (stock supports
    # `(v > 5 OR v < 1)`; r10 — previously a parse error), and they
    # mix with string-field members point-level
    s = q("SELECT temp FROM svc WHERE (temp > 4 OR temp < 1)")
    assert sorted(v[1] for v in s[0]["values"]) == [0.5, 4.5, 5.5]
    s = q("SELECT temp FROM svc WHERE (temp > 4 OR status = 'bad')")
    assert sorted(v[1] for v in s[0]["values"]) == [0.5, 3.5, 4.5, 5.5]

    # numeric fill literal must not crash a string aggregate column
    # (r10: coalesce(string, 0.0) was an ANSI runtime cast error);
    # strings keep null for empty windows, numeric columns get the fill
    s = q("SELECT first(status) AS fs, count(temp) AS n FROM svc WHERE "
          "time >= '2024-01-01' AND time < '2024-01-01T01:00:00Z' "
          "GROUP BY time(10m) fill(7)")
    rows = s[0]["values"]
    assert len(rows) == 6  # six 10-minute windows in the hour
    cols = s[0]["columns"]
    fs_i, n_i = cols.index("fs"), cols.index("n")
    # all six points land in the first window (minutes 0-5): its first
    # status is "bad"; empty windows keep NULL strings, count stays 0
    assert [r[fs_i] for r in rows] == ["bad", None, None, None, None, None]
    assert [r[n_i] for r in rows] == [6, 0, 0, 0, 0, 0]


def test_v1_ddl_garbage_token_never_silently_succeeds(served):
    """Deterministic twin of the hypothesis fuzz above (r10): EVERY
    template × EVERY garbage-insertion position must produce a typed
    error — exhaustively, not sampled. Pins the r9 escape class
    (prefix-tolerant time-predicate parse swallowed trailing tokens:
    ``DELETE FROM m WHERE time < now() ZZGARBAGEZZ`` silently
    succeeded) and is immune to the engine-state/random-seed variance
    that made the fuzz test flake."""
    base, _, tokens = served
    import urllib.parse as up

    TEMPLATES = [
        "CREATE DATABASE fuzz_scratch2",
        "DROP DATABASE fuzz_scratch2",
        "SHOW DATABASES",
        "SHOW RETENTION POLICIES ON greengrass-telemetry",
        "CREATE USER fz2_u WITH PASSWORD 'FuzzPass#12345'",
        "DROP USER fz2_u",
        "SET PASSWORD FOR fz2_u = 'FuzzPass#54321'",
        "GRANT READ ON fuzz_scratch2 TO fz2_u",
        "REVOKE ALL PRIVILEGES FROM fz2_u",
        "SHOW USERS",
        "SHOW GRANTS FOR fz2_u",
        "DROP MEASUREMENT fuzzm2",
        "DROP SERIES FROM fuzzm2",
        "DELETE FROM fuzzm2 WHERE time < now()",
        "CREATE CONTINUOUS QUERY fz2_cq ON greengrass-telemetry BEGIN "
        "SELECT mean(value) INTO fuzz2_1h FROM fuzzm2 GROUP BY time(1h) END",
        "DROP CONTINUOUS QUERY fz2_cq ON greengrass-telemetry",
        "SHOW CONTINUOUS QUERIES",
    ]
    GARB = "ZZGARBAGEZZ"
    escaped = []
    for stmt0 in TEMPLATES:
        words = stmt0.split(" ")
        variants = [" ".join(words[:i] + [GARB] + words[i:])
                    for i in range(len(words) + 1)]
        for stmt in variants:
            try:
                status, body = _req(
                    base,
                    f"/query?db=greengrass-telemetry&q={up.quote(stmt)}",
                    "POST", token=tokens["Admin"])
            except urllib.error.HTTPError as e:
                assert 400 <= e.code < 500, (stmt, e.code)
                json.loads(e.read().decode())
                continue
            assert status == 200, stmt
            doc = json.loads(body)
            if not any("error" in r for r in doc.get("results", [])):
                escaped.append(stmt)
    assert not escaped, f"garbage statements silently succeeded: {escaped}"


def test_flux_http_post_real_socket_roundtrip(served):
    """``http.post`` end-to-end over a real socket: a Flux script posts
    line protocol to the engine's own /api/v2/write, then a follow-up
    query reads the point back — the stock task/alert side-channel
    idiom with zero injection."""
    from aws_greengrass_labs_database_influxdb_spark.frontends.flux import (
        execute_flux,
    )

    base, engine, tokens = served
    t = T0 + 555 * 60_000_000_000
    pts = engine.store.read_points("greengrass", "greengrass-telemetry")
    execute_flux(
        pts,
        f'import "http"\n'
        f'http.post(url: "{base}/api/v2/write?bucket=greengrass-telemetry", '
        f'headers: {{Authorization: "Token {tokens["RW"]}"}}, '
        f'data: bytes(v: "httped,src=flux posted=42.0 {t}"))\n'
        f'from(bucket:"b") |> limit(n: 1)',
    ).collect()
    import urllib.parse as up

    q = up.quote("SELECT posted FROM httped")
    _, body = _req(base, f"/query?db=greengrass-telemetry&q={q}",
                   "POST", token=tokens["RO"])
    vals = json.loads(body)["results"][0]["series"][0]["values"]
    assert vals and vals[0][1] == 42.0


def test_v1_group_by_missing_comma_is_syntax_error(served):
    """r9 DDL-fuzz finding (caught as a state-dependent flake, then
    pinned by an exhaustive mutation sweep): ``GROUP BY junk time(1h)``
    — two items with the comma missing — used to parse as ONE quoted-
    stripped tag key named ``"junk time(1h)"``, which never matches any
    series and therefore SILENTLY succeeded (worst inside CREATE
    CONTINUOUS QUERY, which registered a CQ that groups by nothing).
    Stock treats a GROUP BY item that is not a single identifier /
    time() / * as a syntax error; now so do we."""
    base, _, tokens = served
    import urllib.parse as up

    for stmt in (
        "SELECT mean(value) FROM fuzzm GROUP BY ZZGARBAGEZZ time(1h)",
        "CREATE CONTINUOUS QUERY fz_gb ON greengrass-telemetry BEGIN "
        "SELECT mean(value) INTO fuzz_1h FROM fuzzm "
        "GROUP BY ZZGARBAGEZZ time(1h) END",
    ):
        try:
            _, body = _req(
                base, f"/query?db=greengrass-telemetry&q={up.quote(stmt)}",
                "POST", token=tokens["Admin"])
            doc = json.loads(body)
            assert any("error" in r for r in doc["results"]), stmt
        except urllib.error.HTTPError as e:
            assert 400 <= e.code < 500
    # the comma'd form (a real tag + time window) still parses
    ok = "SELECT mean(value) FROM fuzzm GROUP BY host, time(1h)"
    _, body = _req(base, f"/query?db=greengrass-telemetry&q={up.quote(ok)}",
                   "POST", token=tokens["Admin"])
    assert "error" not in json.loads(body)["results"][0]


def test_v1_ddl_requires_admin_and_does_not_mutate_on_denial(served):
    """A non-admin token must get a typed 401/403 from user DDL — and
    the denied statement must not have mutated state (no half-applied
    CREATE USER)."""
    base, _, tokens = served
    import urllib.parse as up

    stmt = "CREATE USER fz_sneaky WITH PASSWORD 'FuzzPass#12345'"
    try:
        _req(base, f"/query?db=greengrass-telemetry&q={up.quote(stmt)}",
             "POST", token=tokens["RO"])
        raise AssertionError("expected auth error")
    except urllib.error.HTTPError as e:
        assert e.code in (401, 403)
    _, body = _req(base, f"/query?db=greengrass-telemetry&q={up.quote('SHOW USERS')}",
                   "POST", token=tokens["Admin"])
    users = [v[0] for v in
             json.loads(body)["results"][0]["series"][0]["values"]]
    assert "fz_sneaky" not in users


def test_v1_create_cq_rejects_invalid_inner_select(served):
    """r9 DDL-fuzz finding: CREATE CONTINUOUS QUERY used to store the
    inner statement verbatim, so a body that can never execute
    registered silently and first failed at its scheduled run. Stock
    parses the full statement at CREATE — now so do we: typed 400, and
    the broken CQ must NOT be registered."""
    base, _, tokens = served
    import urllib.parse as up

    bad = ("CREATE CONTINUOUS QUERY fz_badcq ON greengrass-telemetry BEGIN "
           "SELECT mean(value) ZZGARBAGEZZ INTO fuzz_1h FROM fuzzm "
           "GROUP BY time(1h) END")
    try:
        _req(base, f"/query?db=greengrass-telemetry&q={up.quote(bad)}",
             "POST", token=tokens["Admin"])
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400
    _, body = _req(
        base,
        f"/query?db=greengrass-telemetry&q={up.quote('SHOW CONTINUOUS QUERIES')}",
        "POST", token=tokens["Admin"])
    assert "fz_badcq" not in body


def test_v1_chunked_ndjson_bounded_driver_pull():
    """r10 (verdict r9 #7): the chunked NDJSON writer must pull rows
    LAZILY — after emitting k documents it may have consumed at most
    k*chunk_size + 1 source rows (one look-ahead), for a result far
    larger than chunk_size; every chunk carries <= chunk_size rows and
    partial flags are correct across many chunks. This is the
    boundedness property the r9 wire-shape tests did not assert."""
    from aws_greengrass_labs_database_influxdb_spark.control.httpapi import (
        _StreamedValues,
        _iter_v1_json_chunked,
    )

    N, CHUNK = 1000, 7
    pulled = {"n": 0}

    def _rows():
        for i in range(N):
            pulled["n"] += 1
            yield [i, float(i)]

    results = [{
        "statement_id": 0,
        "series": [{
            "name": "m", "columns": ["time", "v"],
            "values": _StreamedValues(_rows()),
        }],
    }]
    docs = []
    gen = _iter_v1_json_chunked(results, CHUNK)
    for k, line in enumerate(gen, start=1):
        doc = json.loads(line)
        docs.append(doc)
        # boundedness: emitted k docs => consumed <= k*CHUNK + 1 rows
        assert pulled["n"] <= k * CHUNK + 1, (k, pulled["n"])

    total = sum(len(d["results"][0]["series"][0]["values"]) for d in docs)
    assert total == N
    assert len(docs) == -(-N // CHUNK)  # ceil(N / CHUNK) documents
    for i, d in enumerate(docs):
        s = d["results"][0]["series"][0]
        assert len(s["values"]) <= CHUNK
        is_last = i == len(docs) - 1
        assert s.get("partial", False) == (not is_last)
        assert d["results"][0].get("partial", False) == (not is_last)
    # rows arrive in order, none duplicated or dropped
    flat = [v[0] for d in docs for v in d["results"][0]["series"][0]["values"]]
    assert flat == list(range(N))


def test_write_field_type_conflict_422_partial(served):
    """Stock parity (r10): a write whose field type conflicts with the
    pinned (measurement, field) type is rejected with 422 'field type
    conflict'; NON-conflicting points in the same request still land
    (partial write), and DROP MEASUREMENT frees the pin."""
    import urllib.parse as up

    base, _, tokens = served
    t = T0 + 900 * 60_000_000_000
    status, _ = _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
                     token=tokens["RW"],
                     body=f"typed,host=a v=1.5 {t}", ctype="text/plain")
    assert status == 204

    # conflicting type for v (string), plus a valid point w=2.0
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
             token=tokens["RW"],
             body=f'typed,host=a v="oops" {t + 60_000_000_000}\n'
                  f"typed,host=a w=2.0 {t + 60_000_000_000}",
             ctype="text/plain")
    assert e.value.code == 422
    err = json.loads(e.value.read().decode())
    assert "field type conflict" in err["message"]

    # the valid point landed (partial write), the conflicting one did not
    qs = up.quote("SELECT v, w FROM typed")
    _, body = _req(base, f"/query?db=greengrass-telemetry&q={qs}&epoch=ns",
                   token=tokens["RO"])
    series = json.loads(body)["results"][0]["series"][0]
    vals = {tuple(v) for v in series["values"]}
    cols = series["columns"]
    wi, vi = cols.index("w"), cols.index("v")
    assert any(v[wi] == 2.0 for v in vals)
    assert all(v[vi] != "oops" for v in vals)

    # DROP MEASUREMENT frees the type pin: the string write succeeds
    _req(base, f"/query?db=greengrass-telemetry&q={up.quote('DROP MEASUREMENT typed')}",
         "POST", token=tokens["Admin"])
    status, _ = _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
                     token=tokens["RW"],
                     body=f'typed,host=a v="now-a-string" {t}',
                     ctype="text/plain")
    assert status == 204


def test_flux_string_ops_compose_over_wire(served):
    """r10: the typed-slot operators compose end-to-end over the v2
    wire — a string _value filter feeds count(), and a mixed-type
    pivot emits per-type columns in one annotated-CSV table."""
    base, _, tokens = served
    t0 = T0 + 45_000_000_000_000
    lines = "\n".join([
        f'svcmix,host=h1 state="up",load=1.5 {t0}',
        f'svcmix,host=h1 state="down",load=2.5 {t0 + 60_000_000_000}',
        f'svcmix,host=h1 state="up",load=3.5 {t0 + 120_000_000_000}',
    ])
    status, _ = _req(base, "/api/v2/write?bucket=greengrass-telemetry",
                     "POST", token=tokens["RW"], body=lines,
                     ctype="text/plain")
    assert status == 204

    # string _value filter |> count(): 2 "up" points
    flux = (
        'from(bucket: "greengrass-telemetry")'
        " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-03T00:00:00Z)"
        ' |> filter(fn: (r) => r._measurement == "svcmix"'
        ' and r._value == "up")'
        " |> count()"
    )
    status, body = _req(base, "/api/v2/query", "POST", token=tokens["RO"],
                        body={"query": flux, "type": "flux"})
    assert status == 200
    data_rows = [ln for ln in body.splitlines() if ln.startswith(",,")]
    assert any(",2" in ln or ln.endswith(",2") or ",2," in ln
               for ln in data_rows), body

    # mixed pivot over the wire: per-type columns in one table
    flux = (
        'from(bucket: "greengrass-telemetry")'
        " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-03T00:00:00Z)"
        ' |> filter(fn: (r) => r._measurement == "svcmix")'
        ' |> pivot(rowKey: ["_time"], columnKey: ["_field"],'
        ' valueColumn: "_value")'
    )
    status, body = _req(base, "/api/v2/query", "POST", token=tokens["RO"],
                        body={"query": flux, "type": "flux"})
    assert status == 200
    header = next(ln for ln in body.splitlines() if ",state" in ln
                  and ",load" in ln)
    cols = header.split(",")
    li, si = cols.index("load"), cols.index("state")
    rows = [ln.split(",") for ln in body.splitlines() if ln.startswith(",,")]
    got = sorted((r[li], r[si]) for r in rows if len(r) == len(cols))
    assert got == [("1.5", "up"), ("2.5", "down"), ("3.5", "up")]


def test_v1_numeric_agg_of_string_bool_field_is_empty_series(served):
    """r10 verdict #1, pinned at the wire: a numeric-only aggregate
    (MEAN/SUM/STDDEV/SPREAD/PERCENTILE/MIN/MAX/...) over a string or
    bool field answers `{"statement_id": 0}` with NO series — stock v1
    drops the statement's output entirely, it does not emit a
    null-valued row. Covers bare, GROUP BY tag, GROUP BY time with
    fill (the spine must not resurrect dropped windows), aggregate
    arithmetic, and the selector-with-companion row path. Type-generic
    aggregates (COUNT/FIRST/LAST/DISTINCT) keep answering."""
    import urllib.parse as up

    base, _, tokens = served
    lines = "\n".join(
        f"nulldisp,host=h{i % 2} v={i}.0,phase=\"p{i % 3}\","
        f"ok={'true' if i % 2 == 0 else 'false'} {T0 + i * 60_000_000_000}"
        for i in range(6)
    )
    status, _ = _req(base, "/api/v2/write?bucket=greengrass-telemetry",
                     "POST", token=tokens["RW"], body=lines,
                     ctype="text/plain")
    assert status == 204

    def q(stmt):
        _, body = _req(
            base,
            f"/query?db=greengrass-telemetry&q={up.quote(stmt)}&epoch=ns",
            token=tokens["RO"])
        doc = json.loads(body)
        assert "error" not in doc["results"][0], doc
        return doc["results"][0]

    empty_stmts = [
        "SELECT mean(phase) FROM nulldisp",
        "SELECT sum(ok) FROM nulldisp",
        "SELECT stddev(phase), spread(ok) FROM nulldisp",
        "SELECT mean(phase) FROM nulldisp GROUP BY host",
        "SELECT mean(phase) FROM nulldisp WHERE time >= '2024-01-01' "
        "AND time < '2024-01-01T01:00:00Z' GROUP BY time(10m) fill(0)",
        "SELECT mean(phase) FROM nulldisp WHERE time >= '2024-01-01' "
        "AND time < '2024-01-01T01:00:00Z' GROUP BY time(10m), host "
        "fill(previous)",
        "SELECT sum(phase) + 1 FROM nulldisp",
        "SELECT percentile(phase, 90) FROM nulldisp",
        "SELECT max(ok), v FROM nulldisp",  # selector + companion
        "SELECT min(phase) FROM nulldisp",
    ]
    for stmt in empty_stmts:
        res = q(stmt)
        assert res == {"statement_id": 0}, (stmt, res)

    # type-generic aggregates still answer on the same fields
    res = q("SELECT count(phase) AS n, first(ok) AS f FROM nulldisp")
    row = dict(zip(res["series"][0]["columns"], res["series"][0]["values"][0]))
    assert row["n"] == 6 and row["f"] is True

    # a numeric sibling keeps the statement alive (mixed select): the
    # string aggregate column rides along as null
    res = q("SELECT mean(phase) AS mp, mean(v) AS mv FROM nulldisp")
    row = dict(zip(res["series"][0]["columns"], res["series"][0]["values"][0]))
    assert row["mv"] == 2.5 and row["mp"] is None


def test_v1_top_bottom_of_string_bool_field_is_empty_series(served):
    """r11 verdict #2, pinned at the wire: stock TOP()/BOTTOM() support
    int64/float64 fields only — over a string or bool field the
    statement answers `{"statement_id": 0}` with NO series (never
    lexicographic rows). Covers bare, GROUP BY tag, GROUP BY time, and
    the TOP(field, tag_key, N) variant; numeric fields and the
    any-type SAMPLE keep answering."""
    import urllib.parse as up

    base, _, tokens = served
    lines = "\n".join(
        f"tbmix,host=h{i % 2} v={i}.0,phase=\"p{i % 3}\","
        f"ok={'true' if i % 2 == 0 else 'false'} {T0 + i * 60_000_000_000}"
        for i in range(6)
    )
    status, _ = _req(base, "/api/v2/write?bucket=greengrass-telemetry",
                     "POST", token=tokens["RW"], body=lines,
                     ctype="text/plain")
    assert status == 204

    def q(stmt):
        _, body = _req(
            base,
            f"/query?db=greengrass-telemetry&q={up.quote(stmt)}&epoch=ns",
            token=tokens["RO"])
        doc = json.loads(body)
        assert "error" not in doc["results"][0], doc
        return doc["results"][0]

    empty_stmts = [
        "SELECT top(phase, 2) FROM tbmix",
        "SELECT bottom(ok, 2) FROM tbmix",
        "SELECT top(phase, 2) FROM tbmix GROUP BY host",
        "SELECT bottom(phase, 2) FROM tbmix WHERE time >= '2024-01-01' "
        "AND time < '2024-01-01T01:00:00Z' GROUP BY time(10m)",
        "SELECT top(phase, host, 2) FROM tbmix",
        "SELECT top(ok, 3), v FROM tbmix",  # with companion field
    ]
    for stmt in empty_stmts:
        res = q(stmt)
        assert res == {"statement_id": 0}, (stmt, res)

    # numeric TOP/BOTTOM and any-type SAMPLE keep answering
    res = q("SELECT top(v, 2) FROM tbmix")
    vals = sorted(r[1] for r in res["series"][0]["values"])
    assert vals == [4.0, 5.0]
    res = q("SELECT bottom(v, 2) FROM tbmix")
    vals = sorted(r[1] for r in res["series"][0]["values"])
    assert vals == [0.0, 1.0]
    res = q("SELECT sample(phase, 3) FROM tbmix")
    assert len(res["series"][0]["values"]) == 3
    assert all(str(r[1]).startswith("p") for r in res["series"][0]["values"])


def test_v1_function_typing_matrix(served):
    """r11 verdict #3: one-sweep audit of v1 function typing vs
    stock's type tables, driven as function × {float,int,string,bool}
    at the wire. Any-type functions (COUNT/DISTINCT/MODE/FIRST/LAST/
    SAMPLE/ELAPSED) answer on every type; numeric-only functions
    (aggregates, MIN/MAX/TOP/BOTTOM/PERCENTILE, transforms, TA family,
    math fns) answer on float/int and return `{"statement_id": 0}` on
    string/bool."""
    import urllib.parse as up

    base, _, tokens = served
    lines = "\n".join(
        f"typmat,host=h{i % 2} f={i}.5,i={i}i,s=\"x{i % 2}\","
        f"b={'true' if i % 2 == 0 else 'false'} {T0 + i * 60_000_000_000}"
        for i in range(6)
    )
    status, _ = _req(base, "/api/v2/write?bucket=greengrass-telemetry",
                     "POST", token=tokens["RW"], body=lines,
                     ctype="text/plain")
    assert status == 204

    def q(stmt):
        _, body = _req(
            base,
            f"/query?db=greengrass-telemetry&q={up.quote(stmt)}&epoch=ns",
            token=tokens["RO"])
        doc = json.loads(body)
        assert "error" not in doc["results"][0], (stmt, doc)
        return doc["results"][0]

    anytype = [
        "count({c})", "distinct({c})", "mode({c})", "first({c})",
        "last({c})", "sample({c}, 2)", "elapsed({c})",
    ]
    numeric_only = [
        "sum({c})", "mean({c})", "median({c})", "stddev({c})",
        "spread({c})", "integral({c})", "percentile({c}, 90)",
        "min({c})", "max({c})", "top({c}, 2)", "bottom({c}, 2)",
        "derivative({c})", "non_negative_derivative({c})",
        "difference({c})", "non_negative_difference({c})",
        "cumulative_sum({c})", "moving_average({c}, 2)",
        "exponential_moving_average({c}, 2)",
        "double_exponential_moving_average({c}, 2)",
        "triple_exponential_moving_average({c}, 2)",
        "relative_strength_index({c}, 2)",
        "chande_momentum_oscillator({c}, 2)",
        "kaufmans_efficiency_ratio({c}, 2)",
        "kaufmans_adaptive_moving_average({c}, 2)",
        "abs({c})", "ceil({c})", "round({c})", "pow({c}, 2)",
    ]
    for tmpl in anytype:
        for c in ("f", "i", "s", "b"):
            res = q(f"SELECT {tmpl.format(c=c)} FROM typmat")
            assert res.get("series"), (tmpl, c, res)
    for tmpl in numeric_only:
        for c in ("f", "i"):
            res = q(f"SELECT {tmpl.format(c=c)} FROM typmat")
            assert res.get("series"), (tmpl, c, res)
        for c in ("s", "b"):
            res = q(f"SELECT {tmpl.format(c=c)} FROM typmat")
            assert res == {"statement_id": 0}, (tmpl, c, res)


def test_concurrent_conflicting_type_pins_one_winner(served):
    """r10 verdict #6: the field-type catalog is read-modify-write
    under the store's mutation lock, but the HTTP facade serves
    concurrent clients. Two threads race to create the SAME new field
    with CONFLICTING types: exactly one must win the pin and the other
    must get the 422 — no lost update (both 204) and no double-pin
    (catalog holding the loser's type). 50 fresh fields, one race
    each."""
    import threading
    import urllib.parse as up

    base, engine, tokens = served

    def write(lp):
        try:
            status, _ = _req(
                base, "/api/v2/write?bucket=greengrass-telemetry",
                "POST", token=tokens["RW"], body=lp, ctype="text/plain")
            return status
        except urllib.error.HTTPError as e:
            return e.code

    for it in range(50):
        fld = f"race_{it}"
        results = [None, None]
        bodies = [
            f"racepin {fld}=1.5 {T0 + it * 1_000_000_000}",       # float
            f'racepin {fld}="x" {T0 + it * 1_000_000_000 + 1}',    # string
        ]

        def run(slot, body):
            results[slot] = write(body)

        ts = [threading.Thread(target=run, args=(k, b))
              for k, b in enumerate(bodies)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()

        assert sorted(results) == [204, 422], (it, results)
        pinned = engine.store.field_types(
            engine.config.org, "greengrass-telemetry")["racepin"][fld]
        # the 204's type is the pin; the 422's type must NOT be it
        winner_type = "float" if results[0] == 204 else "string"
        assert pinned == winner_type, (it, results, pinned)

    # and none of the losing rows landed: every stored value of the
    # measurement carries the pinned type
    import urllib.parse as up2
    _, body = _req(
        base,
        "/query?db=greengrass-telemetry&q=" + up2.quote(
            "SELECT count(*) FROM racepin"),
        token=tokens["RO"])
    doc = json.loads(body)
    assert "error" not in doc["results"][0]


def test_v1_star_variants_stock_shapes(served):
    """r10 verdict #7, stock-parity probes for the star family over a
    MIXED-TYPE measurement: `*::field` pivots fields only (tags stay
    off the row), `*::tag` alone is the stock parse error, raw `*`
    with GROUP BY time() is the stock aggregate-required error, and
    `agg(*)` expands to one column per eligible field — all fields
    for COUNT/FIRST/LAST, numeric fields only for MEAN/SUM/..., named
    `<alias>_<field>`."""
    import urllib.parse as up

    base, _, tokens = served
    t0 = T0 + 36_000_000_000_000
    lines = "\n".join(
        f"starmix,host=m{i % 2} load={float(i)},state=\"s{i % 2}\","
        f"on={'true' if i % 2 == 0 else 'false'} {t0 + i * 60_000_000_000}"
        for i in range(6)
    )
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body=lines, ctype="text/plain")

    def v1(q):
        _, body = _req(base, f"/query?db=greengrass-telemetry&q="
                       f"{up.quote(q)}", token=tokens["RO"])
        return json.loads(body)["results"][0]

    # *::field — fields only, sorted, no tag columns
    s = v1("SELECT *::field FROM starmix")["series"][0]
    assert s["columns"] == ["time", "load", "on", "state"]

    # plain * keeps tags inline (regression guard for the variant)
    s = v1("SELECT * FROM starmix")["series"][0]
    assert s["columns"] == ["time", "host", "load", "on", "state"]

    # *::tag alone: stock parse error (HTTP 400, typed message)
    def expect_400(q, needle):
        with pytest.raises(urllib.error.HTTPError) as e:
            v1(q)
        assert e.value.code == 400
        assert needle in json.loads(e.value.read().decode())["message"]

    expect_400("SELECT *::tag FROM starmix", "at least one field")

    # raw star + GROUP BY time(): stock aggregate-required error
    expect_400("SELECT * FROM starmix GROUP BY time(1m)", "aggregate")

    # agg(*) expansion: numeric-only for MEAN, all fields for COUNT
    s = v1("SELECT mean(*) FROM starmix")["series"][0]
    assert s["columns"] == ["time", "mean_load"]
    assert s["values"][0][1] == 2.5
    s = v1("SELECT count(*) FROM starmix")["series"][0]
    assert s["columns"] == ["time", "count_load", "count_on", "count_state"]
    assert s["values"][0][1:] == [6, 6, 6]
    s = v1("SELECT first(*) FROM starmix")["series"][0]
    assert s["columns"] == ["time", "first_load", "first_on", "first_state"]
    assert s["values"][0][1:] == [0.0, True, "s0"]

    # alias prefixes the per-field names; windows still frame
    s = v1("SELECT mean(*) AS m FROM starmix WHERE time >= "
           f"'{dt_iso(t0)}' AND time < '{dt_iso(t0 + 360_000_000_000)}' "
           "GROUP BY time(3m)")["series"][0]
    assert s["columns"] == ["time", "m_load"]
    assert len(s["values"]) == 2


def dt_iso(ns: int) -> str:
    import datetime as _dt

    return _dt.datetime.fromtimestamp(
        ns / 1e9, _dt.timezone.utc
    ).strftime("%Y-%m-%dT%H:%M:%SZ")


def test_v1_regex_field_selection(served):
    """Stock regex field selection (r11): `SELECT /re/` expands like *
    restricted to matching FIELD and TAG keys; `agg(/re/)` expands
    per matching field like agg(*); a regex matching no field answers
    with no series."""
    import urllib.parse as up

    base, _, tokens = served
    t0 = T0 + 72_000_000_000_000
    lines = "\n".join(
        f"rgx,host=r{i % 2} water_level={i}.5,level_desc=\"d{i % 2}\","
        f"battery={i * 2}.0 {t0 + i * 60_000_000_000}"
        for i in range(4)
    )
    _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
         token=tokens["RW"], body=lines, ctype="text/plain")

    def v1(q):
        _, body = _req(base, f"/query?db=greengrass-telemetry&q="
                       f"{up.quote(q)}", token=tokens["RO"])
        return json.loads(body)["results"][0]

    # raw regex star: matching fields + matching tags, sorted
    s = v1("SELECT /level/ FROM rgx")["series"][0]
    assert s["columns"] == ["time", "level_desc", "water_level"]
    assert len(s["values"]) == 4

    # agg(/re/) expands per matching numeric field
    s = v1("SELECT mean(/^(water|batt)/) FROM rgx")["series"][0]
    assert s["columns"] == ["time", "mean_battery", "mean_water_level"]
    assert s["values"][0][1:] == [3.0, 2.0]

    # regex matching only a tag key (host) → no series
    assert v1("SELECT /host/ FROM rgx") == {"statement_id": 0}
    # regex matching nothing → no series
    assert v1("SELECT mean(/nope/) FROM rgx") == {"statement_id": 0}


def test_flux_mixed_measurement_selectors_on_wire(served):
    """r13 wire pin (r12 verdict #1): a measurement mixing a string
    and a float field is ONE mixed frame after from|>range; min()/
    mode()/bottom() must answer BOTH tables' typed values on the wire
    (previously the string table either vanished into an all-NULL row,
    answered null, or ranked by the dead float slot)."""
    base, _, tokens = served
    t0 = T0 + 10_800_000_000_000  # own hour
    lines = []
    for i, (sv, fv) in enumerate([("ok", 5.0), ("bad", 1.0), ("ok", 9.0)]):
        ts = t0 + i * 60_000_000_000
        lines.append(f'mixwire,host=h1 st="{sv}",val={fv} {ts}')
    status, _ = _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
                     token=tokens["RW"], body="\n".join(lines),
                     ctype="text/plain")
    assert status == 204

    import csv as _csv
    import io as _io

    def run(stage):
        flux = (
            'from(bucket: "greengrass-telemetry")'
            " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-02T00:00:00Z)"
            ' |> filter(fn: (r) => r._measurement == "mixwire")'
            f" |> {stage}"
        )
        status, body = _req(
            base, "/api/v2/query", "POST",
            token=tokens["RO"], body={"query": flux, "type": "flux"},
        )
        assert status == 200
        vals = {}
        header = None
        for row in _csv.reader(_io.StringIO(body)):
            if not row or row[0].startswith("#"):
                header = None if not row else header
                continue
            if header is None or "_value" not in header:
                if "_value" in row:
                    header = row
                continue
            fi, vi = header.index("_field"), header.index("_value")
            if len(row) > max(fi, vi) and row[fi]:
                vals.setdefault(row[fi], []).append(row[vi])
        return vals

    got = run("min()")
    assert got.get("st") == ["bad"] and got.get("val") == ["1.0"], got
    got = run("mode()")
    assert got.get("st") == ["ok"], got
    got = run("bottom(n: 1)")
    assert got.get("st") == ["bad"] and got.get("val") == ["1.0"], got
    got = run("aggregateWindow(every: 1h, fn: last, createEmpty: false)")
    assert got.get("st") == ["ok"] and got.get("val") == ["9.0"], got


def test_catalog_resolves_group_collision_check_zero_jobs(served):
    """r14 (r13 verdict #5): group(columns:) collision checks on
    store-backed frames resolve from the bucket's field-type pins —
    zero probe jobs when the new key keeps field granularity or the
    bucket is single-class; the bounded scan remains only for tag-only
    keys over genuinely multi-class buckets (tag→type co-location is
    data, not catalog), where it still detects the stock error."""
    from aws_greengrass_labs_database_influxdb_spark.frontends import flux as _fx

    base, _, tokens = served
    t0 = T0 + 14_400_000_000_000  # own hour
    lines = []
    for i, (sv, fv) in enumerate([("ok", 5.0), ("bad", 1.0)]):
        ts = t0 + i * 60_000_000_000
        lines.append(f'mixcat,host=h1 st="{sv}",val={fv} {ts}')
        lines.append(f"floatcat,host=h1 a={fv},b={fv + 1.0} {ts}")
    status, _ = _req(base, "/api/v2/write?bucket=greengrass-telemetry", "POST",
                     token=tokens["RW"], body="\n".join(lines),
                     ctype="text/plain")
    assert status == 204

    def run(measurement, stages):
        flux = (
            'from(bucket: "greengrass-telemetry")'
            " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-02T00:00:00Z)"
            f' |> filter(fn: (r) => r._measurement == "{measurement}")'
            f" |> {stages}"
        )
        try:
            return _req(base, "/api/v2/query", "POST", token=tokens["RO"],
                        body={"query": flux, "type": "flux"})
        except urllib.error.HTTPError as e:
            return e.code, e.read().decode()

    # field-granular regroup over a MIXED measurement: catalog pins
    # prove each field single-class — no collision scan, no ftype probe
    before_c, before_p = _fx._COLLISION_PROBE_RUNS, _fx._PROBE_RUNS
    status, _body = run("mixcat", 'group(columns: ["_field"]) |> mode()')
    assert status == 200
    assert _fx._COLLISION_PROBE_RUNS == before_c, (
        "catalog pins must resolve field-granular collision checks"
    )
    assert _fx._PROBE_RUNS == before_p

    # tag-only regroup over a SINGLE-CLASS measurement in the
    # multi-class bucket: the measurement-equality filter narrows the
    # catalog pins, so count() and even typed consumers plan with zero
    # jobs of either kind (the verdict's Done criterion)
    for stage in ('group(columns: ["host"]) |> count()',
                  'group(columns: ["host"]) |> mode()'):
        before_c, before_p = _fx._COLLISION_PROBE_RUNS, _fx._PROBE_RUNS
        status, _body = run("floatcat", stage)
        assert status == 200, _body
        assert _fx._COLLISION_PROBE_RUNS == before_c, stage
        assert _fx._PROBE_RUNS == before_p, stage

    # tag-only regroup feeding a typed consumer over a genuinely
    # multi-class measurement: the bounded scan still runs and still
    # raises stock's schema collision (the catalog cannot prove
    # tag→type co-location)
    status, body = run("mixcat", 'group(columns: ["host"]) |> mode()')
    assert status == 400 and "schema collision" in body


def test_catalog_seeded_live_slots_skip_probe(served):
    """r13: a store-backed Flux query seeds the live-slot cache from
    the bucket's field-type catalog, so ordering/presence consumers
    (sort/selectors/count) pay ZERO plan-time ftype probe jobs — at
    100 TB the probe was a full column scan per consumer stage."""
    from aws_greengrass_labs_database_influxdb_spark.frontends import flux as _fx

    base, _, tokens = served
    flux = (
        'from(bucket: "greengrass-telemetry")'
        " |> range(start: 2024-01-01T00:00:00Z, stop: 2024-01-02T00:00:00Z)"
        ' |> filter(fn: (r) => r._measurement == "mixwire")'
        ' |> sort(columns: ["_value"])'
        " |> top(n: 2)"
        " |> min()"
    )
    before = _fx._PROBE_RUNS
    status, _body = _req(
        base, "/api/v2/query", "POST",
        token=tokens["RO"], body={"query": flux, "type": "flux"},
    )
    assert status == 200
    assert _fx._PROBE_RUNS == before, (
        "catalog-seeded session must not run plan-time ftype probes "
        "for ordering consumers"
    )
