"""Wire bytes and row order of the HTTP query answers, pinned.

``wire_golden.json`` holds the annotated-CSV and v1 JSON bodies that the
streaming writer (``orderBy`` + ``toLocalIterator``, tag keys from a
``map_keys`` distinct) produced for each case below. The façade answers
small results with one bounded top-K job and large results by
streaming; both paths must reproduce every body byte for byte. The
large path is forced by lowering ``annotated_csv.BOUND``.

One body differs from what the streaming writer produced:
``sort_value``. Its group-key ``orderBy`` let Spark's optimizer drop the
query's own ``sort(columns: ["_value"])``, so rows came out in storage
order inside each table; the golden body holds the same rows sorted by
``_value`` inside each table (stable, ties in storage order), as stock
Flux emits them.

Regenerate the golden file only when the wire format is meant to
change: ``python tests/test_wire_golden.py > tests/wire_golden.json``
from the root of a checkout.
"""

from __future__ import annotations

import json
import os
import urllib.request

import pytest

T0 = 1704067200_000_000_000  # 2024-01-01T00:00:00Z
MIN = 60 * 10**9
BUCKET = "greengrass-telemetry"
GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "wire_golden.json")

_RANGE = "range(start: 2023-12-31T23:00:00Z, stop: 2024-01-02T00:00:00Z)"


def _src(meas: str) -> str:
    return (f'from(bucket: "{BUCKET}") |> {_RANGE}'
            f' |> filter(fn: (r) => r._measurement == "{meas}")')


def lines() -> str:
    out = []
    # wg1: three series, the third has no `rack` tag; ties in _value
    for i, v in enumerate((3.0, 1.0, 3.0, 2.0, 1.0, 4.0)):
        t = T0 + i * MIN + 123_456_789
        out.append(f"wg1,host=a,rack=east v={v} {t}")
        out.append(f"wg1,host=b,rack=west v={v + 0.5} {t}")
        out.append(f"wg1,host=c v={v * 2} {t}")
    # wg2: one measurement with a string and a float field
    for i in range(3):
        t = T0 + i * MIN
        out.append(f'wg2,host=a s="x{i}" {t}')
        out.append(f"wg2,host=a v={i + 0.25} {t}")
        out.append(f'wg2,host=b s="y,{i}" {t}')
    # wg4: a tag key no wg1/wg2 row carries
    out.append(f"wg4,zone=z1 v=1.0 {T0}")
    return "\n".join(out)


FLUX = {
    "missing_tag": _src("wg1"),
    "mixed_types": _src("wg2"),
    "multi_yield": (
        f"base = {_src('wg1')}\n"
        'base |> max() |> yield(name: "mx")\n'
        'base |> count() |> yield(name: "n")\n'
    ),
    "dialect": {"query": _src("wg1"),
                "dialect": {"annotations": ["datatype", "group"],
                            "delimiter": ";", "commentPrefix": "@",
                            "dateTimeFormat": "RFC3339Nano"}},
    "sort_value": _src("wg1") + ' |> sort(columns: ["_value"])',
    "aggregate_window": _src("wg1") + " |> aggregateWindow(every: 2m, fn: mean)",
    "group_tag": (_src("wg1") + ' |> group(columns: ["rack"])'
                  " |> aggregateWindow(every: 2m, fn: max)"),
    "ema": _src("wg1") + " |> exponentialMovingAverage(n: 2)",
    "empty": _src("nope"),
    # a tag key the bucket's catalog does not list
    "renamed_tag": _src("wg1") + ' |> rename(columns: {host: "node"})',
}

INFLUXQL = {
    "v1_group_time_tag": ("SELECT mean(v) FROM wg1 WHERE time >= '2024-01-01T00:00:00Z'"
                          " AND time < '2024-01-01T01:00:00Z' GROUP BY time(2m), host"),
    "v1_raw_group_tag": "SELECT v FROM wg1 GROUP BY host",
}


def _req(base, path, token, body, ctype="application/json"):
    req = urllib.request.Request(base + path, method="POST")
    req.add_header("Authorization", f"Token {token}")
    req.add_header("Content-Type", ctype)
    data = body.encode() if isinstance(body, str) else json.dumps(body).encode()
    with urllib.request.urlopen(req, data) as resp:
        assert resp.status in (200, 204)
        return resp.read().decode()


def bodies(base: str, tokens: dict) -> dict[str, str]:
    from urllib.parse import quote

    out = {}
    for name, q in FLUX.items():
        body = q if isinstance(q, dict) else {"query": q, "type": "flux"}
        out[name] = _req(base, "/api/v2/query", tokens["RO"], body)
    for name, q in INFLUXQL.items():
        out[name] = _req(base, f"/query?db={BUCKET}&q={quote(q)}",
                         tokens["RO"], "")
    return out


def serve(spark, store_root: str):
    from aws_greengrass_labs_database_influxdb_spark.control.engine import (
        Engine, EngineConfig,
    )
    from aws_greengrass_labs_database_influxdb_spark.control.httpapi import HttpApi
    from aws_greengrass_labs_database_influxdb_spark.control.secrets import (
        CredentialsProvider,
    )

    engine = Engine(spark, EngineConfig(store_root=store_root))
    engine.setup(CredentialsProvider({"influxdb_username": "greengrass",
                                      "influxdb_password": "ValidPassword#123"}))
    engine.serve()
    api = HttpApi(engine)
    host, port = api.start()
    tokens = {level: engine.get_publish_json(
        {"action": "RetrieveToken", "accessLevel": level})["InfluxDBToken"]
        for level in ("RO", "RW")}
    base = f"http://{host}:{port}"
    _req(base, f"/api/v2/write?bucket={BUCKET}", tokens["RW"], lines(),
         ctype="text/plain")
    return engine, api, base, tokens


@pytest.fixture(scope="module")
def golden_served(spark, tmp_path_factory):
    engine, api, base, tokens = serve(spark, str(tmp_path_factory.mktemp("wire")))
    yield base, tokens
    api.stop()
    engine.close()


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as f:
        return json.load(f)


@pytest.mark.parametrize("catalog", ["known", "unknown"])
@pytest.mark.parametrize("bound", [None, 1], ids=["small", "large"])
def test_wire_bodies_match_golden(golden_served, golden, monkeypatch, bound, catalog):
    from aws_greengrass_labs_database_influxdb_spark.frontends import annotated_csv
    from aws_greengrass_labs_database_influxdb_spark.sources.bucket import BucketStore

    if bound is not None:
        monkeypatch.setattr(annotated_csv, "BOUND", bound)
    if catalog == "unknown":
        monkeypatch.setattr(BucketStore, "tag_keys", lambda self, org, name: None)
    base, tokens = golden_served
    got = bodies(base, tokens)
    assert sorted(got) == sorted(golden)
    for name in golden:
        assert got[name] == golden[name], name


def test_sort_value_golden_sorted_within_tables(golden):
    rows = [r.split(",") for r in golden["sort_value"].split("\r\n")[4:] if r]
    by_table: dict = {}
    for r in rows:
        by_table.setdefault(r[2], []).append(float(r[5]))
    assert len(by_table) == 3
    assert all(v == sorted(v) for v in by_table.values())


if __name__ == "__main__":
    import sys
    import tempfile

    sys.path.insert(0, os.getcwd())
    from aws_greengrass_labs_database_influxdb_spark.session import get_spark

    spark = get_spark(app_name="wire_golden", shuffle_partitions=4)
    with tempfile.TemporaryDirectory() as d:
        engine, api, base, tokens = serve(spark, d)
        try:
            print(json.dumps(bodies(base, tokens), indent=1, sort_keys=True))
        finally:
            api.stop()
            engine.close()
