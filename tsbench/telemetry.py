"""The ``telemetry`` workload: edge writes and dashboard reads over HTTP.

Set-up provisions the engine, vends RO/RW tokens through
``Engine.get_publish_json``, starts the HTTP façade, preloads a day of
history through ``POST /api/v2/write`` and compacts it once. Each round
then interleaves two live line-protocol batches with the four panels
of a dashboard, in this order::

    write, flux_narrow, influxql, write, flux_wide, flux_analytic

The live batches land on top of the compacted day and are never
compacted, so the panels read the file layout the writes leave behind.
Every panel covers a window ending at the newest data, and every answer
is compared with one computed from the generated points.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import json
import os
import time
import urllib.error
import urllib.parse
import urllib.request

import data
from data import DEVICES, FIELDS, MEASUREMENT, NS, T0, mean, site_of
from harness import CheckFailed, Op, check, close

ORG, BUCKET = "greengrass", "greengrass-telemetry"
SECRET = {"influxdb_username": "greengrass", "influxdb_password": "ValidPassword#123"}
MIN = 60 * NS
HOUR = 3600 * NS

NARROW = ("d03", "f0")  # one series, last 2 h, 10 min means
WIDE_FIELD = "f1"  # every series, last 24 h, per-site hourly max
INFLUXQL_FIELD = "f2"  # last 6 h, 10 min means per site
ANALYTIC = ("d05", "f3", 10)  # one series, last 2 h, EMA(n: 10)

# one round's ops, in order; the op kinds and the panels among them
ROTATION = ("write", "flux_narrow", "influxql", "write", "flux_wide", "flux_analytic")
KINDS = tuple(dict.fromkeys(ROTATION))
QUERY_KINDS = tuple(k for k in KINDS if k != "write")
FLUX_PANELS = {k: k.removeprefix("flux_") for k in QUERY_KINDS if k.startswith("flux_")}


def rfc3339(ns: int) -> str:
    return dt.datetime.fromtimestamp(ns // NS, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def parse_rfc3339(s: str) -> int:
    t = dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    return int(t.timestamp()) * NS


def csv_rows(text: str) -> list[dict]:
    """Data rows of an annotated-CSV response, as dicts by header."""
    rows, header = [], None
    for rec in csv.reader(io.StringIO(text)):
        if not rec or not any(rec):
            header = None
        elif rec[0].startswith("#"):
            continue
        elif header is None:
            header = rec
        else:
            rows.append(dict(zip(header, rec)))
    return rows


class Telemetry:
    # the first round after the preload costs about twice the engine
    # CPU of the later ones, and after two warm-up rounds the first timed
    # round still costs 5-15 % more than the next (on 4 vCPUs); after
    # three, a round's engine CPU stays within about 8 % of the run's
    # median
    warmup_rounds = 3
    round_s = 5  # one timed round per started 5 s of --seconds
    root_span = "request"

    def __init__(self, spark, work_dir: str, seed: int):
        from aws_greengrass_labs_database_influxdb_spark.control.engine import (
            Engine,
            EngineConfig,
        )
        from aws_greengrass_labs_database_influxdb_spark.control.httpapi import HttpApi
        from aws_greengrass_labs_database_influxdb_spark.control.secrets import (
            CredentialsProvider,
        )

        self.gen = data.Points(seed)
        self.store_root = os.path.join(work_dir, "store")
        self.engine = Engine(spark, EngineConfig(org=ORG, bucket=BUCKET,
                                                 store_root=self.store_root))
        self.engine.setup(CredentialsProvider(SECRET))
        self.engine.serve()
        self.tokens = {
            level: self.engine.get_publish_json(
                {"action": "RetrieveToken", "accessLevel": level})["InfluxDBToken"]
            for level in ("RO", "RW")
        }
        self.api = HttpApi(self.engine)
        host, port = self.api.start()
        self.base = f"http://{host}:{port}"
        self.points_acked = 0

    def close(self) -> None:
        self.api.stop()
        self.engine.close()

    # --------------------------------------------------------------- HTTP

    def _request(self, path: str, token: str, body: bytes | None = None,
                 ctype: str | None = None) -> tuple[int, bytes]:
        req = urllib.request.Request(self.base + path, data=body,
                                     method="POST" if body is not None else "GET")
        req.add_header("Authorization", f"Token {self.tokens[token]}")
        if ctype:
            req.add_header("Content-Type", ctype)
        try:
            with urllib.request.urlopen(req, timeout=120) as resp:
                return resp.status, resp.read()
        except urllib.error.HTTPError as e:
            raise CheckFailed(f"HTTP {e.code}: {e.read()[:300]!r}") from None

    def write(self, body: bytes) -> None:
        status, _ = self._request(
            f"/api/v2/write?org={ORG}&bucket={BUCKET}&precision=ns", "RW", body,
            "text/plain; charset=utf-8")
        check(status == 204, f"write answered {status}")

    def flux(self, query: str) -> str:
        status, body = self._request(
            f"/api/v2/query?org={ORG}", "RO",
            json.dumps({"query": query, "type": "flux"}).encode(), "application/json")
        check(status == 200, f"flux answered {status}")
        return body.decode()

    def influxql(self, query: str) -> dict:
        q = urllib.parse.urlencode({"db": BUCKET, "q": query, "epoch": "ns"})
        status, body = self._request(f"/query?{q}", "RO")
        check(status == 200, f"influxql answered {status}")
        return json.loads(body)

    # ------------------------------------------------------------ set-up

    def load(self, setup: dict) -> None:
        """Preload the history through the write endpoint, then compact."""
        t = time.perf_counter()
        for body in self.gen.history_batches():
            self.write(body)
        self.points_acked = self.gen.n_points()
        setup["preload_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.engine.store.compact(ORG, BUCKET)
        setup["compact_s"] = time.perf_counter() - t

    # --------------------------------------------------------------- ops

    def rotation(self) -> list[Op]:
        make = {"write": self._write_op, "flux_narrow": self._narrow_op,
                "influxql": self._influxql_op, "flux_wide": self._wide_op,
                "flux_analytic": self._analytic_op}
        return [make[kind]() for kind in ROTATION]

    def _write_op(self) -> Op:
        box = {}

        def prepare():
            # generated when the op is due, so the panels that follow
            # see the head this batch moved
            box["body"] = self.gen.live_batch()

        def verify(_):
            n = self.gen.ack()
            self.points_acked += n
            return {"points": n, "lines": box["body"].count(b"\n") + 1}

        return Op("write", lambda: self.write(box["body"]), verify, prepare)

    def _range(self, hours: int, align: int) -> tuple[int, int]:
        stop = self.gen.head_ns - (self.gen.head_ns - T0) % align
        return stop - hours * HOUR, stop

    def _flux_filter(self, start, stop, pred) -> str:
        return (f'from(bucket: "{BUCKET}")\n'
                f"  |> range(start: {rfc3339(start)}, stop: {rfc3339(stop)})\n"
                f'  |> filter(fn: (r) => r._measurement == "{MEASUREMENT}" and {pred})\n')

    def _narrow_op(self) -> Op:
        device, fld = NARROW
        box = {}

        def prepare():
            start, stop = box["range"] = self._range(2, 10 * MIN)
            box["q"] = (
                self._flux_filter(start, stop, f'r.device == "{device}" and r._field == "{fld}"')
                + "  |> aggregateWindow(every: 10m, fn: mean)")

        def verify(text):
            start, stop = box["range"]
            want = {w + 10 * MIN: v for w, v in self.gen.window_agg(
                [device], fld, start, stop, 10 * MIN, mean).items()}
            got = {parse_rfc3339(r["_time"]): float(r["_value"]) for r in csv_rows(text)}
            _same(got, want, "flux_narrow")
            return {"bytes": len(text), "rows": len(got)}

        return Op("flux_narrow", lambda: self.flux(box["q"]), verify, prepare)

    def _wide_op(self) -> Op:
        box = {}

        def prepare():
            start, stop = box["range"] = self._range(24, HOUR)
            box["q"] = (
                self._flux_filter(start, stop, f'r._field == "{WIDE_FIELD}"')
                + '  |> group(columns: ["site"])\n'
                + "  |> aggregateWindow(every: 1h, fn: max)")

        def verify(text):
            start, stop = box["range"]
            want = {}
            for site in ("s0", "s1"):
                devs = [d for d in DEVICES if site_of(d) == site]
                for w, v in self.gen.window_agg(devs, WIDE_FIELD, start, stop, HOUR, max).items():
                    want[(site, w + HOUR)] = v
            got = {(r["site"], parse_rfc3339(r["_time"])): float(r["_value"])
                   for r in csv_rows(text)}
            _same(got, want, "flux_wide")
            return {"bytes": len(text), "rows": len(got)}

        return Op("flux_wide", lambda: self.flux(box["q"]), verify, prepare)

    def _analytic_op(self) -> Op:
        device, fld, n = ANALYTIC
        box = {}

        def prepare():
            start, stop = box["range"] = self._range(2, 10 * MIN)
            box["q"] = (
                self._flux_filter(start, stop, f'r.device == "{device}" and r._field == "{fld}"')
                + f"  |> exponentialMovingAverage(n: {n})")

        def verify(text):
            start, stop = box["range"]
            want = dict(self.gen.ema(device, fld, start, stop, n))
            got = {parse_rfc3339(r["_time"]): float(r["_value"]) for r in csv_rows(text)}
            _same(got, want, "flux_analytic")
            return {"bytes": len(text), "rows": len(got)}

        return Op("flux_analytic", lambda: self.flux(box["q"]), verify, prepare)

    def _influxql_op(self) -> Op:
        box = {}

        def prepare():
            start, stop = box["range"] = self._range(6, 10 * MIN)
            box["q"] = (
                f"SELECT mean({INFLUXQL_FIELD}) FROM {MEASUREMENT} "
                f"WHERE time >= '{rfc3339(start)}' AND time < '{rfc3339(stop)}' "
                "GROUP BY time(10m), site")

        def verify(doc):
            start, stop = box["range"]
            want = {}
            for site in ("s0", "s1"):
                devs = [d for d in DEVICES if site_of(d) == site]
                for w, v in self.gen.window_agg(
                        devs, INFLUXQL_FIELD, start, stop, 10 * MIN, mean).items():
                    want[(site, w)] = v
            got = {}
            for series in doc["results"][0].get("series", []):
                cols = series["columns"]
                for row in series["values"]:
                    rec = dict(zip(cols, row))
                    got[(series["tags"]["site"], rec["time"])] = rec["mean"]
            _same(got, want, "influxql")
            return {"rows": len(got)}

        return Op("influxql", lambda: self.influxql(box["q"]), verify, prepare)

    # ------------------------------------------------------------- final

    def final_check(self) -> None:
        """Every acknowledged point must read back, with its last value."""
        doc = self.influxql(
            f"SELECT {','.join(FIELDS)} FROM {MEASUREMENT} "
            f"WHERE time >= '{rfc3339(T0)}' AND time < '{rfc3339(self.gen.head_ns)}' "
            "GROUP BY device")
        got = {}
        for series in doc["results"][0].get("series", []):
            device = series["tags"]["device"]
            cols = series["columns"]
            for row in series["values"]:
                rec = dict(zip(cols, row))
                for f in FIELDS:
                    got[(device, f, rec["time"])] = rec[f]
        want = {(d, f, ts): v for (d, f), s in self.gen.acked.items() for ts, v in s.items()}
        _same(got, want, "read-back")


def _same(got: dict, want: dict, what: str) -> None:
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    check(not missing and not extra,
          f"{what}: {len(missing)} keys missing, {len(extra)} unexpected "
          f"(e.g. {sorted(missing or extra)[:2]})")
    bad = [k for k, v in want.items() if got[k] is None or not close(got[k], v)]
    check(not bad, f"{what}: {len(bad)} values differ, e.g. {bad[0] if bad else None}: "
                   f"got {got[bad[0]] if bad else None}, want {want[bad[0]] if bad else None}")
