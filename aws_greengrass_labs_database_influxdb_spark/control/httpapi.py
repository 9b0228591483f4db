"""HTTP façade: the ``/api/v2``-shaped surface of the provisioned engine.

The reference component's clients talk to the database over HTTP on
``{interface}:{port}`` (defaults ``127.0.0.1:8086``,
``/root/reference/recipe.yaml:22-27``): peer components POST line
protocol to ``/api/v2/write`` and Flux to ``/api/v2/query``
(consumption documented at ``/root/reference/README.md:292-297`` and
``:406-410``), authenticating with the tokens vended over IPC
(§3.2/§3.3 of SURVEY.md). This module closes that last loop: a user of
the reference can point the same client at this engine.

Endpoints (InfluxDB 2.0 API shapes, plus the 1.x ``/query`` and
``/write`` compatibility pair): one row each in ``_V2_ROUTES``, which
names the method, the path and the answer; v1 statements are rows of
``_V1_STATEMENTS``.

Auth: ``Authorization: Token <token>`` resolved against the engine's
:class:`~.tokens.TokenRegistry`; scoped tokens carry
``read:orgs/{org}/buckets/{bucket_id}`` / ``write:...`` permissions
(fixture shape ``/root/reference/test/test_influxDBTokenStreamHandler.py:36-49``),
admin tokens carry org-wide ``read:orgs``/``write:orgs``. Missing or
unknown token → 401; insufficient scope → 403 — matching the
"unauthorized access to path" failure mode shown at ``README.md:406-410``.

Scale note: the HTTP layer is control-plane-thin — each request turns
into one Spark job (append or query); no per-row Python work happens
here beyond line-protocol parsing of the posted batch, and nothing is
collected except final query results (post-aggregation row counts).
"""

from __future__ import annotations

import datetime as dt
import functools
import gzip
import itertools
import json
import os
import re
import ssl
import subprocess
import threading
import time
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path
from typing import NamedTuple
from urllib.parse import parse_qs, urlsplit

from pyspark.sql import functions as F

from ..frontends.annotated_csv import given_rows, iter_annotated_csv, ordered_rows
from ..frontends.flux import execute_flux_multi
from ..frontends.influxql import (
    _DELETE_RX, _INTO_RX, _SHOW_CARD_RX, _SHOW_RX, execute_influxql, is_raw,
    measurement_delete, parse_statement, select_into,
)
from ..schema import SLOT_OF_FTYPE
from ..sources.io import write_result
from ..sources.lineprotocol import parse_lines
from ..sources.seq import next_seq_base
from ..streaming.cq import (
    _CREATE_RX as _CQ_CREATE_RX, _DROP_RX as _CQ_DROP_RX, CQRegistry,
)
from ..streaming.flux_tasks import FluxTask, FluxTaskRegistry, parse_task
from .engine import Engine


class ApiError(Exception):
    def __init__(self, status: int, code: str, message: str):
        super().__init__(message)
        self.status, self.code, self.message = status, code, message


def generate_self_signed_cert(
    cert_dir: str, days: int = 365, subject: str = "/C=US/O=engine/CN=localhost"
) -> tuple[str, str]:
    """Self-signed cert + key, the reference's Install-step recipe
    (``/root/reference/recipe.yaml:63-78``: ``openssl req -x509 -newkey
    rsa:2048 -nodes``, configurable expiry, key chmod'd private).
    Idempotent: reuses an existing pair in ``cert_dir``.
    """
    d = Path(cert_dir)
    d.mkdir(parents=True, exist_ok=True)
    cert, key = d / "influxdb.crt", d / "influxdb.key"
    if not (cert.exists() and key.exists()):
        subprocess.run(
            [
                "openssl", "req", "-x509", "-newkey", "rsa:2048",
                "-keyout", str(key), "-out", str(cert),
                "-days", str(days), "-nodes", "-subj", subject,
            ],
            check=True,
            capture_output=True,
        )
        os.chmod(key, 0o600)  # recipe.yaml:77 chmods the key dir private
    return str(cert), str(key)


# matches from(bucket: "...") and schema.*(bucket: "...") alike
_FROM_BUCKET_RX = re.compile(r'bucket\s*:\s*"([^"]+)"')


def _rfc3339_to_ns(s: str) -> int:
    s = s.strip()
    # fromisoformat (3.11+) accepts 'Z'; normalize for older parsers
    ts = dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=dt.timezone.utc)
    # integer calendar arithmetic — float timestamp() loses ulps at ns
    delta = ts - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    micros = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
    return micros * 1000


def _split_v1_statements(text: str) -> list[str]:
    """Split a v1 ``q=`` payload on semicolons outside quotes."""
    out, buf, quote = [], [], None
    for c in text:
        if quote:
            buf.append(c)
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
            buf.append(c)
        elif c == ";":
            if "".join(buf).strip():
                out.append("".join(buf).strip())
            buf = []
        else:
            buf.append(c)
    if "".join(buf).strip():
        out.append("".join(buf).strip())
    return out


def _ns_to_rfc3339(ns: int) -> str:
    ts = dt.datetime.fromtimestamp(ns // 1_000_000_000, tz=dt.timezone.utc)
    frac = ns % 1_000_000_000
    base = ts.strftime("%Y-%m-%dT%H:%M:%S")
    return f"{base}.{frac:09d}Z" if frac else f"{base}Z"


class _StreamedValues:
    """Marker wrapper: a lazy row iterator standing in for a series'
    ``values`` list, so the v1 JSON envelope can be emitted
    incrementally instead of materializing the result driver-side."""

    def __init__(self, rows):
        self.rows = rows


def _iter_v1_json(results: list[dict], batch_rows: int = 500):
    """Incrementally serialize the v1 ``{"results": [...]}`` envelope.

    Statements whose series carry ``_StreamedValues`` have their rows
    pulled lazily and emitted in ``batch_rows`` JSON chunks; everything
    else (meta statements, DDL acks) is dumped whole — those are
    bounded-small by construction.
    """
    yield '{"results": ['
    for i, res in enumerate(results):
        if i:
            yield ", "
        series = res.get("series", [])
        # series may be a LAZY iterator (GROUP BY <tag> splits one
        # streamed row scan into per-tag-set series) — only a concrete
        # list with no streamed values takes the dump-whole path
        if isinstance(series, list) and not any(
            isinstance(s.get("values"), _StreamedValues) for s in series
        ):
            yield json.dumps(res)
            continue
        yield '{"series": ['
        for si, s in enumerate(series):
            if si:
                yield ", "
            tags_part = (
                ', "tags": ' + json.dumps(s["tags"]) if s.get("tags") else ""
            )
            yield (
                '{"name": ' + json.dumps(s["name"]) + tags_part
                + ', "columns": ' + json.dumps(s["columns"])
                + ', "values": ['
            )
            vals = s["values"]
            rows_iter = vals.rows if isinstance(vals, _StreamedValues) else iter(vals)
            buf: list[str] = []
            first = True
            for row in rows_iter:
                buf.append(json.dumps(row))
                if len(buf) >= batch_rows:
                    yield ("" if first else ", ") + ", ".join(buf)
                    first = False
                    buf = []
            if buf:
                yield ("" if first else ", ") + ", ".join(buf)
            yield "]}"
        yield '], "statement_id": ' + str(res.get("statement_id", i)) + "}"
    yield "]}"


def _iter_v1_json_chunked(results: list[dict], chunk_size: int):
    """v1 ``chunked=true`` wire shape: a sequence of
    newline-delimited COMPLETE ``{"results": [...]}`` documents, each
    carrying at most ``chunk_size`` rows of one series. A series split
    across documents marks every non-final piece ``"partial": true``
    (series level), and a statement with more data to come marks its
    result entry partial too — exactly the stock v1 contract clients
    like influxdb-python's chunked reader parse.

    Streaming shape: rows are pulled lazily (``_StreamedValues``) —
    facade memory stays O(chunk_size).
    """
    for res in results:
        sid = res.get("statement_id", 0)
        sit = iter(res.get("series", []))
        cur = next(sit, None)
        if cur is None:
            doc = dict(res)
            doc["statement_id"] = sid
            yield json.dumps({"results": [doc]}) + "\n"
            continue
        while cur is not None:
            vals = cur.get("values", [])
            rows_iter = vals.rows if isinstance(vals, _StreamedValues) else iter(vals)
            pending = next(rows_iter, None)
            nxt = None
            first_batch = True
            while first_batch or pending is not None:
                batch = []
                while pending is not None and len(batch) < chunk_size:
                    batch.append(pending)
                    pending = next(rows_iter, None)
                series_more = pending is not None
                if not series_more:
                    # one-series look-ahead for the result-level partial
                    # flag, taken only once this series is read out: the
                    # series of a lazy generator share one row stream
                    nxt = next(sit, None)
                s_doc = {"name": cur.get("name")}
                if cur.get("tags"):
                    s_doc["tags"] = cur["tags"]
                s_doc["columns"] = cur.get("columns", [])
                s_doc["values"] = batch
                if series_more:
                    s_doc["partial"] = True
                r_doc = {"statement_id": sid, "series": [s_doc]}
                if series_more or nxt is not None:
                    r_doc["partial"] = True
                yield json.dumps({"results": [r_doc]}) + "\n"
                first_batch = False
            cur = nxt


#: the frame's tag map, kept while the catalog superset stands in for
#: its keys
_TAGS_M = "_tags_m"


def _fluxify_result(df, tag_keys=(), keep_map=False):
    """Rename engine-internal result columns to the Flux WIRE names a
    stock client parses (``_measurement``/``_field``/``_value``/
    ``_time``/``_start``/``_stop``) and materialize the tag map as one
    column per key in ``tag_keys`` — the stock annotated-CSV shape.
    ``keep_map`` keeps the map itself as ``_tags_m``.

    Column work only, apart from one ``ftype`` distinct (bounded by the
    5 field types) when the catalog allows more than one value slot.

    Returns a list of ``(df, wire_group_key)`` splits — one per result
    datatype (usually a single entry). The key drives the stock
    ``#group`` annotation and per-table numbering in the CSV; each
    split gets its own annotation block (schema change = new header,
    per the annotated-CSV spec)."""
    from ..frontends.flux import (
        _VALUE_RESULT_ALIASES, _tags_map_col, cached_live_slots,
    )

    result = df
    tag_cols: list[str] = []
    tags_map = _tags_map_col(df)
    if tags_map is not None:
        df = df.withColumn(_TAGS_M, tags_map)
        for k in sorted(tag_keys):
            if k and k not in df.columns:
                df = df.withColumn(k, F.col(_TAGS_M)[k])
        if not keep_map:
            df = df.drop(_TAGS_M)
        tag_cols = [k for k in sorted(tag_keys) if k and k in df.columns]
    for src, dst in (("_start_ns", "_start"), ("_stop_ns", "_stop")):
        if src in df.columns and dst not in df.columns:
            df = df.withColumn(
                dst, F.timestamp_micros(F.expr(f"`{src}` div 1000"))
            )
    # the typed value slot → _value. unify_numeric_value guarantees an
    # f_float column on every frame (null for string/bool points), so
    # the slot is the one the frame's ``ftype`` discriminator says is
    # populated, and a frame that mixes datatypes splits into one table
    # per type (stock emits a fresh annotation block per schema —
    # handled by the caller iterating the returned splits).
    splits: list = []
    if "_value" not in df.columns:
        slots = [s for s in ("f_float", "f_str", "f_bool") if s in df.columns]
        if len(slots) > 1:
            # which slots actually hold data? ftype is authoritative
            # (kept even on legitimately-null values, e.g. createEmpty
            # spines). The catalog's type pins are a superset of the
            # live types: when they allow floats only, no job runs;
            # otherwise one distinct, bounded by the 5 field types.
            if "ftype" in df.columns:
                if cached_live_slots(result) == ["f_float"]:
                    live = ["f_float"]
                else:
                    ftypes = [
                        r[0]
                        for r in df.select("ftype").distinct().collect()
                        if r[0] in SLOT_OF_FTYPE
                    ]
                    live = sorted(
                        {SLOT_OF_FTYPE[t] for t in ftypes}, key=slots.index
                    )
                if len(live) > 1:
                    for slot in live:
                        types = [t for t, s in SLOT_OF_FTYPE.items() if s == slot]
                        splits.append(
                            (df.filter(F.col("ftype").isin(types))
                               .withColumnRenamed(slot, "_value"),
                             slot)
                        )
                else:
                    df = df.withColumnRenamed(live[0] if live else "f_float",
                                              "_value")
            else:
                # no discriminator: one columnar count job finds the
                # populated slot(s); split on non-null as best effort.
                counts = df.agg(
                    *[F.count(F.col(s)).alias(s) for s in slots]
                ).first()
                live = [s for s in slots if counts[s] > 0]
                if len(live) > 1:
                    for slot in live:
                        splits.append(
                            (df.filter(F.col(slot).isNotNull())
                               .withColumnRenamed(slot, "_value"),
                             slot)
                        )
                else:
                    df = df.withColumnRenamed(live[0] if live else "f_float",
                                              "_value")
        elif slots:
            df = df.withColumnRenamed(slots[0], "_value")
        else:
            hits = [c for c in df.columns if c in _VALUE_RESULT_ALIASES]
            if len(hits) == 1:
                df = df.withColumnRenamed(hits[0], "_value")
    def _finish(frame):
        renames = {"measurement": "_measurement", "field": "_field",
                   "time": "_time"}
        for src, dst in renames.items():
            if src in frame.columns and dst not in frame.columns:
                frame = frame.withColumnRenamed(src, dst)
        drop = [
            c for c in ("tags", "series_key", "time_ns", "ingest_seq",
                        "_ts_raw", "ftype", "props", "day", "f_int", "f_uint",
                        "f_float", "f_str", "f_bool", "_start_ns", "_stop_ns",
                        "_rb_start_ns", "_rb_stop_ns")
            if c in frame.columns
        ]
        if drop:
            frame = frame.drop(*drop)
        # the wire GROUP KEY: what stock marks true in #group and numbers
        # tables by — measurement/tags/field/window bounds, never
        # _time/_value. Regrouped frames (group(columns:["host"]) dropped
        # series_key) keep their key as bare string columns — fold those
        # in too.
        from pyspark.sql import types as T

        known = {"_measurement", "_field", "_start", "_stop", *tag_cols}
        extra = [
            f.name
            for f in frame.schema.fields
            if isinstance(f.dataType, T.StringType)
            and not f.name.startswith("_")
            and f.name not in known
        ]
        wire_key = tuple(
            c for c in ("_measurement", *tag_cols, *extra, "_field",
                        "_start", "_stop")
            if c in frame.columns
        )
        return frame, wire_key

    if splits:
        return [_finish(frame) for frame, _slot in splits]
    return [_finish(df)]


def _observed(obs) -> dict:
    """``obs.get``, or {} when the optimizer proved the observed plan
    empty and removed the observing node with it (Spark then reports
    a metrics row without a schema)."""
    from py4j.protocol import Py4JJavaError

    try:
        return obs.get
    except Py4JJavaError:
        return {}


def _flux_blocks(df, tag_keys=None) -> list:
    """The wire blocks of one Flux result: ``(frame, wire_key, rows)``
    per datatype split, ``rows`` already in wire order, or None when
    the block is larger than ``annotated_csv.BOUND`` and must stream.

    A small split costs one Spark job (:func:`sorted_rows`). With the
    bucket's catalog superset of tag keys (``tag_keys``), that same job
    observes which of the keys the answer really carries; the absent
    ones (all-NULL, so they never changed the order) are dropped
    before any header is written. A key outside the catalog — a writer
    that raced the catalog read, or a tag map rewritten by the query —
    or a missing observation on a non-empty answer falls back to the
    exact path. Without a usable superset, one exact
    ``map_keys`` distinct finds the keys and counts the answer's rows,
    so a large answer streams with no top-K attempt."""
    from pyspark.sql import Observation

    from ..frontends import annotated_csv
    from ..frontends.flux import _tags_map_col

    tags = _tags_map_col(df)
    if tags is None:
        return [(frame, key, annotated_csv.sorted_rows(frame, key))
                for frame, key in _fluxify_result(df)]
    if tag_keys is None or set(tag_keys) & set(df.columns):
        obs = Observation()
        keys = [r[0] for r in df.observe(obs, F.count(F.lit(1)).alias("n"))
                .select(F.explode(F.map_keys(tags)).alias("k"))
                .distinct().collect()]
        small = _observed(obs).get("n", 0) <= annotated_csv.BOUND
        return [(frame, key, annotated_csv.sorted_rows(frame, key) if small else None)
                for frame, key in _fluxify_result(df, keys)]
    keys = F.map_keys(F.col(_TAGS_M))
    allowed = F.array(*[F.lit(k) for k in ("", *tag_keys)])
    probes = [F.count_if(F.array_contains(keys, k)).alias(f"k{i}")
              for i, k in enumerate(tag_keys)]
    probes.append(F.count_if(F.size(F.array_except(keys, allowed)) > 0)
                  .alias("other"))
    seen: set = set()
    blocks = []
    for frame, key in _fluxify_result(df, tag_keys, keep_map=True):
        obs = Observation()
        rows = annotated_csv.sorted_rows(frame, key, observe=(obs, *probes),
                                         drop=(_TAGS_M,))
        got = _observed(obs)
        if got.get("other") or (not got and rows != []):
            return _flux_blocks(df)
        seen |= {k for i, k in enumerate(tag_keys) if got.get(f"k{i}")}
        blocks.append((frame, key, rows))
    absent = [k for k in tag_keys if k not in seen]
    return [(frame.drop(_TAGS_M, *absent),
             tuple(c for c in key if c not in absent), rows)
            for frame, key, rows in blocks]


def _parse_delete_predicate(pred: str):
    """``_measurement="m" AND tag="v"`` → Column (equality conjunctions,
    the grammar the delete API supports)."""
    col = None
    for clause in re.split(r"\s+AND\s+", pred.strip()):
        m = re.match(r'^\s*([\w.]+)\s*=\s*"([^"]*)"\s*$', clause)
        if not m:
            raise ApiError(400, "invalid", f"bad delete predicate clause: {clause!r}")
        key, val = m.group(1), m.group(2)
        c = (
            F.col("measurement") == val
            if key == "_measurement"
            else F.col("tags")[key] == val
        )
        col = c if col is None else (col & c)
    return col


# -------------------------------------------------------- v1 statements


class _V1Call(NamedTuple):
    """What a v1 statement's answer reads besides its match."""

    api: HttpApi
    org: str
    db: str  # the database the statement acts on
    epoch: str | None

    @property
    def store(self):
        return self.api.engine.store

    @property
    def users(self):
        return self.api.engine.users


class _V1Statement(NamedTuple):
    """One v1 statement kind: the whole-statement pattern that
    recognizes it (a ``db`` group names the database it acts on;
    without one it acts on the request's ``?db=``), the grant it needs
    on that database (``read`` / ``write``) or org-wide
    (``write:orgs``, ``write:authorizations``), and its answer, a
    ``results[i]`` dict or None for the empty result of a mutation."""

    pattern: re.Pattern
    grant: str
    answer: Callable[[_V1Call, re.Match], dict | None]


def _rx(body: str) -> re.Pattern:
    return re.compile(rf"(?is)^\s*{body}\s*$")


def _ack(action) -> Callable[[_V1Call, re.Match], None]:
    """The answer of a mutation: run it, answer the empty result."""
    def answer(v: _V1Call, m) -> None:
        action(v, m)
    return answer


def _show_databases(v: _V1Call, m) -> dict:
    names = [[b.name] for b in v.store.list_buckets(v.org)]
    return {"series": [{"name": "databases", "columns": ["name"], "values": names}]}


def _drop_measurement(v: _V1Call, m) -> None:
    v.store.delete_predicate(
        v.org, v.db, *measurement_delete(m["name"], None, "DROP MEASUREMENT"))
    # the dropped measurement's field-type pins go with it (stock: a
    # re-created measurement may choose new types)
    v.store.forget_measurement_types(v.org, v.db, m["name"])


def _show_retention_policies(v: _V1Call, m) -> dict:
    ret = v.store.get_bucket(v.org, v.db).retention_ns
    return {"series": [
        {"name": v.db,
         "columns": ["name", "duration", "shardGroupDuration", "replicaN",
                     "default"],
         "values": [["autogen", f"{ret // 10**9}s" if ret else "0s", "0s", 1,
                     True]]}]}


def _show_shards(v: _V1Call, m) -> dict:
    # one shard ≡ one (bucket, day) parquet partition — the store's
    # physical unit of retention/delete granularity. Filesystem-metadata
    # walk only: no Spark job.
    from ..sources.bucket import DAY_NS

    cols = ["id", "database", "retention_policy", "shard_group",
            "start_time", "end_time", "expiry_time", "owners"]
    series, sid = [], 1
    for b in v.store.list_buckets(v.org):
        data = v.store._data_dir(v.org, b.name)
        days = sorted({
            int(p.name.split("=", 1)[1])
            for p in data.glob("measurement=*/day=*") if p.is_dir()
        }) if data.exists() else []
        vals = []
        for d in days:
            start = _ns_to_rfc3339(d * DAY_NS)
            end = _ns_to_rfc3339((d + 1) * DAY_NS)
            exp = _ns_to_rfc3339(
                (d + 1) * DAY_NS + (b.retention_ns or 0)
            ) if b.retention_ns else end
            vals.append([sid, b.name, "autogen", d, start, end, exp, ""])
            sid += 1
        series.append({"name": b.name, "columns": cols, "values": vals})
    return {"series": series}


def _show_stats(v: _V1Call, m) -> dict:
    # exact per-database counters (the v1 'database' stats block):
    # measurements from partition dirs (metadata), series from a pruned
    # distinct scan of the dictionary-encoded series_key column
    series = []
    for b in v.store.list_buckets(v.org):
        data = v.store._data_dir(v.org, b.name)
        n_meas = len(list(data.glob("measurement=*"))) if data.exists() else 0
        n_series = 0
        if n_meas:
            n_series = (
                v.store.read_points(v.org, b.name, lww=False)
                .select("series_key").distinct().count()
            )
        series.append({
            "name": "database", "tags": {"database": b.name},
            "columns": ["numMeasurements", "numSeries"],
            "values": [[n_meas, n_series]],
        })
    return {"series": series}


def _show_diagnostics(v: _V1Call, m) -> dict:
    import platform

    from .. import __version__

    now = dt.datetime.now(dt.timezone.utc)
    return {"series": [
        {"name": "build",
         "columns": ["Branch", "Commit", "Version"],
         "values": [["main", "", __version__]]},
        {"name": "system",
         "columns": ["PID", "currentTime", "hostname"],
         "values": [[os.getpid(), now.isoformat(), platform.node()]]},
    ]}


def _show_grants(v: _V1Call, m) -> dict:
    return {"series": [{
        "columns": ["database", "privilege"],
        "values": [[d, ("ALL PRIVILEGES" if p == "ALL" else p)]
                   for d, p in v.users.show_grants(m["user"])],
    }]}


def _show_continuous_queries(v: _V1Call, m) -> dict:
    by_db: dict[str, list] = {}
    for row in v.api._cq_registry(v.org).show():
        by_db.setdefault(row["db"], []).append([row["name"], row["query"]])
    return {"series": [
        {"name": d, "columns": ["name", "query"], "values": vals}
        for d, vals in sorted(by_db.items())
    ] or [{"name": v.db, "columns": ["name", "query"], "values": []}]}


def _select_into(v: _V1Call, m) -> dict:
    # the v1 continuous-query idiom: run the query, write its rows back
    # as points of the target measurement
    from ..sources.bucket import FieldTypeConflict

    try:
        written = select_into(v.store, v.org, v.db, m.string,
                              v.store.read_points(v.org, v.db))
    except FieldTypeConflict as e:
        # v1 returns the conflict as a statement-level error
        return {"error": str(e)}
    return {"series": [{"name": "result", "columns": ["time", "written"],
                        "values": [[0, written]]}]}


def _select(v: _V1Call, m) -> dict:
    """The data path: SELECT, SHOW, EXPLAIN and subquery statements,
    answered by the InfluxQL executor and framed as v1 series."""
    text = m.string
    # parsed once: the executor resolves the statement in place, and
    # the series framing reads its GROUP BY back from it
    stmt = parse_statement(text)
    # the store's field-type catalog resolves field slots driver-side —
    # no per-query distinct job
    result = execute_influxql(
        v.store.read_points(v.org, v.db), text if stmt is None else stmt,
        field_types=v.store.field_types(v.org, v.db),
    )
    if stmt is not None:
        name = stmt.measurement or v.db
    else:
        found = re.search(r'FROM\s+"?(\w+)"?', text, re.IGNORECASE)
        name = found.group(1) if found else v.db
    return _v1_series(result, stmt, name, v.epoch)


def _v1_series(result, stmt, name: str, epoch: str | None) -> dict:
    """Frame an InfluxQL answer as v1 series named ``name``.

    Stock v1 framing: one series per set of splitter values — a retained
    `measurement` column (multi-measurement FROM lists / regexes: one
    series PER MEASUREMENT, named by it), then the GROUP BY tags, each
    series tagged with {"tags": {...}} and the tag columns removed from
    "columns" (Grafana reads the tags dict for aliasing). An answer
    without a tag is the zero-splitter case: one series. SHOW, EXPLAIN
    and subquery answers (``stmt`` None) carry no GROUP BY tags."""
    div = {"ns": 1, "u": 1000, "us": 1000, "ms": 10**6, "s": 10**9}.get(epoch)
    # epoch ns computed in the plan (unix_micros is tz-independent);
    # collect() returns naive local-tz datetimes, so any driver-side
    # tz math would shift on non-UTC drivers
    cols = result.columns
    if "time" in cols:
        result = result.withColumn(
            "_time_ns_out", F.expr("unix_micros(time) * 1000")
        )

    def cell(row, c):
        val = row[c]
        if c == "time" and val is not None:
            ns = row["_time_ns_out"]
            return ns // div if div else _ns_to_rfc3339(ns)
        return val

    gtags: list[str] = []
    is_agg = False
    if stmt is not None:
        # the executed GROUP BY: GROUP BY * already expanded to the
        # queried rows' tag keys; a multi-measurement read leads with
        # `measurement`, which splits series by name below
        gtags = [t for t in stmt.group_tags
                 if t != "measurement" and t in cols]
        is_agg = bool(any(fn for fn, _f, _a in stmt.fields)
                      or stmt.nested or stmt.arith)

    # stock v1: an aggregate without GROUP BY time still carries a
    # leading time column pinned to epoch 0
    synth_time = is_agg and "time" not in cols
    t0_cell = (0 if div else _ns_to_rfc3339(0)) if synth_time else None

    # rows arrive sorted by the splitters, then by time in the
    # statement's direction (other statements keep their own order),
    # as the v2 annotated-CSV path delivers them: one bounded job, or a
    # stream for a large answer, so a raw SELECT * over a big
    # measurement never materializes in facade memory. A raw answer
    # already comes out of the executor in that order and is read as
    # given. itertools.groupby cuts series boundaries without
    # buffering; the JSON envelope is emitted incrementally by
    # _iter_v1_json
    split_meas = "measurement" in cols
    splitters = (["measurement"] if split_meas else []) + gtags
    order = list(splitters)
    if "time" in cols and stmt is not None:
        order.append(F.desc("time") if stmt.order_desc else F.col("time"))
    data_cols = [c for c in cols if c not in splitters]
    out_cols = (["time"] if synth_time else []) + data_cols

    def _series_gen():
        rows = (given_rows(result) if stmt is not None and is_raw(stmt)
                else ordered_rows(result, order))
        for key, group in itertools.groupby(
            rows, key=lambda r: tuple(r[t] for t in splitters),
        ):
            tags = dict(zip(splitters, key))
            meas_name = tags.pop("measurement", None)
            series = {
                "name": meas_name if split_meas else name,
                "columns": out_cols,
                "values": _StreamedValues(
                    ([t0_cell] if synth_time else [])
                    + [cell(r, c) for c in data_cols]
                    for r in group
                ),
            }
            if tags:
                series["tags"] = tags
            yield series

    # stock v1: a data query with no rows answers with NO series key at
    # all ({"statement_id": 0}) — one-series look-ahead, then the
    # generator resumes streaming
    gen = _series_gen()
    head = next(gen, None)
    if head is None:
        return {}
    return {"series": itertools.chain([head], gen)}


_USER = r'"?(?P<user>[\w.\-]+)"?'
_NAME = r'"?(?P<name>[\w.\-]+)"?'
_PRIV_ON = r'(?P<priv>READ|WRITE|ALL)\s+ON\s+"?(?P<on>[\w.\-]+)"?'
_ADMIN = "write:authorizations"

#: Every v1 statement kind, in match order; the data path is last.
_V1_STATEMENTS = (
    # datasource-init meta statements (Grafana issues these before any
    # data query)
    _V1Statement(_rx(r"SHOW\s+DATABASES"), "read", _show_databases),
    _V1Statement(
        _rx(r'SHOW\s+RETENTION\s+POLICIES(?:\s+ON\s+"?(?P<db>[\w.\-]+)"?)?'),
        "read", _show_retention_policies),
    # v1 DATABASE ≡ v2 bucket (1:1 DBRP): created and dropped org-wide,
    # like POST /api/v2/buckets; the create is idempotent like the
    # store's create_bucket (reference A6)
    _V1Statement(_rx(rf"CREATE\s+DATABASE\s+{_NAME}"), "write:orgs",
                 _ack(lambda v, m: v.store.create_bucket(v.org, m["name"]))),
    _V1Statement(_rx(rf"DROP\s+DATABASE\s+{_NAME}"), "write:orgs",
                 _ack(lambda v, m: v.store.drop_bucket(v.org, m["name"]))),
    _V1Statement(_rx(rf"DROP\s+MEASUREMENT\s+{_NAME}"), "write",
                 _drop_measurement),
    _V1Statement(_rx(r"SHOW\s+SHARDS"), "read", _show_shards),
    _V1Statement(_rx(r"SHOW\s+STATS"), "read", _show_stats),
    _V1Statement(_rx(r"SHOW\s+DIAGNOSTICS"), "read", _show_diagnostics),
    # v1 user management (public InfluxQL spec; privileges map to the
    # v2 model like DBRP: db ≡ bucket), admin-gated like v2
    # authorizations. SHOW USERS → (user, admin); SHOW GRANTS FOR u →
    # (database, privilege)
    _V1Statement(
        _rx(rf"CREATE\s+USER\s+{_USER}\s+WITH\s+PASSWORD\s+'(?P<pw>[^']*)'"
            r"(?P<admin>\s+WITH\s+ALL\s+PRIVILEGES)?"), _ADMIN,
        _ack(lambda v, m: v.users.create(m["user"], m["pw"],
                                         admin=bool(m["admin"])))),
    _V1Statement(_rx(rf"DROP\s+USER\s+{_USER}"), _ADMIN,
                 _ack(lambda v, m: v.users.drop(m["user"]))),
    _V1Statement(_rx(rf"SET\s+PASSWORD\s+FOR\s+{_USER}\s*=\s*'(?P<pw>[^']*)'"),
                 _ADMIN,
                 _ack(lambda v, m: v.users.set_password(m["user"], m["pw"]))),
    _V1Statement(_rx(rf"GRANT\s+ALL(?:\s+PRIVILEGES)?\s+TO\s+{_USER}"), _ADMIN,
                 _ack(lambda v, m: v.users.grant_all(m["user"]))),
    _V1Statement(_rx(rf"GRANT\s+{_PRIV_ON}\s+TO\s+{_USER}"), _ADMIN,
                 _ack(lambda v, m: v.users.grant(m["user"], m["on"], m["priv"]))),
    _V1Statement(_rx(rf"REVOKE\s+ALL(?:\s+PRIVILEGES)?\s+FROM\s+{_USER}"), _ADMIN,
                 _ack(lambda v, m: v.users.revoke_all(m["user"]))),
    _V1Statement(_rx(rf"REVOKE\s+{_PRIV_ON}\s+FROM\s+{_USER}"), _ADMIN,
                 _ack(lambda v, m: v.users.revoke(m["user"], m["on"], m["priv"]))),
    _V1Statement(_rx(r"SHOW\s+USERS"), _ADMIN, lambda v, m: {"series": [{
        "name": "users", "columns": ["user", "admin"],
        "values": [[n, a] for n, a in v.users.show_users()]}]}),
    _V1Statement(_rx(rf"SHOW\s+GRANTS\s+FOR\s+{_USER}"), _ADMIN, _show_grants),
    # continuous-query DDL (streaming/cq.py owns the semantics): a CQ
    # re-runs on the database it names, so it is authorized there
    _V1Statement(_CQ_CREATE_RX, "write",
                 _ack(lambda v, m: v.api._cq_registry(v.org).create(m.string))),
    _V1Statement(_CQ_DROP_RX, "write",
                 _ack(lambda v, m: v.api._cq_registry(v.org).drop(m.string))),
    _V1Statement(_rx(r"SHOW\s+CONTINUOUS\s+QUERIES"), "read",
                 _show_continuous_queries),
    # DELETE FROM m / DROP SERIES FROM m [WHERE ...]: one store delete
    _V1Statement(_DELETE_RX, "write", _ack(lambda v, m: v.store.delete_predicate(
        v.org, v.db, *measurement_delete(m["meas"], m["where"], m["kw"])))),
    _V1Statement(_INTO_RX, "write", _select_into),
    # SHOW MEASUREMENTS / TAG KEYS / TAG VALUES / FIELD KEYS / SERIES
    # and SHOW … CARDINALITY [ON <db>]: the data path, on the database
    # the statement names
    _V1Statement(_SHOW_CARD_RX, "read", _select),
    _V1Statement(_SHOW_RX, "read", _select),
    _V1Statement(re.compile(r"(?s).*"), "read", _select),
)


# ------------------------------------------------------------ v2 routes


class _V2Call(NamedTuple):
    """What a v2 route's answer reads besides its path match."""

    api: HttpApi
    handler: BaseHTTPRequestHandler
    q: dict  # the query string, first value per key
    body: bytes  # un-gzipped

    @property
    def engine(self) -> Engine:
        return self.api.engine

    @property
    def org(self) -> str:
        """``?org=``, else the engine's org."""
        return self.q.get("org") or self.engine.config.org

    @property
    def payload(self) -> dict:
        """The JSON body; an empty body is ``{}``."""
        return json.loads(self.body or b"{}")


class _V2Route(NamedTuple):
    """One v2 route: the method and the whole-path pattern that select
    it (a task route names its task in an ``id`` group), and its
    answer, a ``(status, payload)`` reply or None when the answer has
    streamed its own."""

    method: str
    path: re.Pattern
    answer: Callable[[_V2Call, re.Match], tuple | None]


def _health(v: _V2Call, m) -> tuple:
    ok = v.engine.ping() == "OK"
    return 200 if ok else 503, {
        "name": "influxdb", "status": "pass" if ok else "fail",
        "message": "ready for queries and writes", "checks": []}


def _write(v: _V2Call, m) -> tuple:
    # the v2 precision set is ns/us/ms/s (public API contract); m/h
    # are legal only on the v1 /write route
    precision = v.q.get("precision", "ns")
    if precision not in ("ns", "us", "ms", "s"):
        raise ApiError(400, "invalid",
                       f"invalid precision {precision!r} (ns, us, ms, s)")
    return _write_lines(v, v.q.get("bucket"), precision)


def _write_v1(v: _V2Call, m) -> tuple:
    """The v1 compatibility write (Telegraf's v1 output, legacy
    clients): ``?db=`` is the bucket (1:1 DBRP), rp is ignored, and the
    v1 precision names n/u/µ map to the v2 set. m/h pass through:
    InfluxDB 1.x accepts minute/hour precision (the line-protocol
    parser scales timestamps ×60e9 / ×3600e9), as legacy clients
    expect."""
    precision = v.q.get("precision", "ns")
    return _write_lines(v, v.q.get("db") or v.q.get("bucket"),
                        {"n": "ns", "u": "us", "µ": "us"}.get(precision, precision))


def _write_lines(v: _V2Call, bucket: str | None, precision: str) -> tuple:
    """The line-protocol body → one LWW append into ``bucket`` (the
    engine's bucket when None)."""
    org, bucket = v.org, bucket or v.engine.config.bucket
    v.api._authorize(v.handler, "write", org, bucket)
    rows = parse_lines(v.body.decode().splitlines(), precision=precision,
                       default_time_ns=time.time_ns())
    if not rows:
        raise ApiError(400, "invalid", "no points in request body")
    # Shared wall-clock base (sources/seq.py) so LWW order is
    # consistent with the streaming ingest path; line index within
    # the request stays the low bits (later duplicate line wins).
    base = next_seq_base(rows=len(rows))
    import pandas as pd

    from ..schema import POINTS_SCHEMA
    from ..sources.bucket import FieldTypeConflict

    pdf = pd.DataFrame(rows)
    pdf["ingest_seq"] = pdf["ingest_seq"] + base
    pdf["time"] = pd.to_datetime(pdf["time_ns"] // 1000, unit="us")
    df = v.engine.spark.createDataFrame(
        pdf[[f.name for f in POINTS_SCHEMA.fields]], POINTS_SCHEMA
    )
    try:
        # line protocol is parsed driver-side — the type pins and
        # tag keys are already known, so the write runs a single
        # Spark job
        v.engine.store.write_points(
            org, bucket, df,
            known_types={(r["measurement"], r["field"], r["ftype"])
                         for r in rows},
            tag_keys={k for r in rows for k in r["tags"]},
        )
    except FieldTypeConflict as e:
        # stock partial-write contract: valid points landed, the
        # conflicting field is reported with 422 unprocessable
        raise ApiError(422, "unprocessable entity", str(e)) from None
    return 204, None


def _query_flux(v: _V2Call, m) -> None:
    org = v.org
    text = v.body.decode()
    # v2 dialect object: which annotation rows + header to emit,
    # plus delimiter / commentPrefix / dateTimeFormat (stock
    # honors all five; dateTimeFormat defaults RFC3339 —
    # which DROPS fractional seconds — vs RFC3339Nano)
    annotations: tuple = ("group", "datatype", "default")
    csv_header = True
    delimiter, comment_prefix = ",", "#"
    datetime_format = "RFC3339"
    if "json" in v.handler.headers.get("Content-Type", ""):
        req = json.loads(text)
        text = req.get("query", "")
        dialect = req.get("dialect") or {}
        if "annotations" in dialect:
            annotations = tuple(dialect["annotations"])
        csv_header = bool(dialect.get("header", True))
        delimiter = dialect.get("delimiter", ",")
        comment_prefix = dialect.get("commentPrefix", "#")
        datetime_format = dialect.get("dateTimeFormat", "RFC3339")
        if len(delimiter) != 1 or delimiter == '"':
            raise ApiError(400, "invalid",
                           "dialect delimiter must be a single non-quote character")
        if datetime_format not in ("RFC3339", "RFC3339Nano"):
            raise ApiError(400, "invalid",
                           "dialect dateTimeFormat must be RFC3339 or RFC3339Nano")
    found = _FROM_BUCKET_RX.search(text)
    if not found:
        raise ApiError(400, "invalid", 'query must reference bucket: "..."')
    bucket = found.group(1)
    v.api._authorize(v.handler, "read", org, bucket)
    store = v.engine.store
    points = store.read_points(org, bucket)
    # the bucket's catalog, read AFTER read_points listed the files,
    # is a superset of what those files hold. The field-type pins
    # bound which value slots can be live, so ordering/presence
    # consumers (sort, selectors, count, conversions, map) and the
    # numeric-input check on float-only data skip their ftype
    # probe; the full map lets group(columns:) collision checks
    # resolve from the pins. The tag keys stand in for the tag-key
    # distinct (see _flux_blocks).
    from ..frontends.flux import seed_live_slots

    cat = store.field_types(org, bucket)
    tag_keys = store.tag_keys(org, bucket)
    seed_live_slots(
        points,
        {t for fields in cat.values() for t in fields.values()},
        catalog=cat,
    )
    # Flux from() tables are keyed by measurement + TAG SET + field
    # (stock InfluxDB: each series is its own table). The stored
    # bucket schema carries the serialized tag set as series_key;
    # without it in the group key, per-series stages (sum, mean,
    # derivative, aggregateWindow, …) would merge every series of
    # a measurement into one stream.
    gk = (
        ("measurement", "series_key", "field")
        if "series_key" in points.columns
        else ("measurement", "field")
    )
    sink = None
    if re.search(r"\|>\s*to\s*\(", text):
        # write stage present → needs write scope and a store sink
        v.api._authorize(v.handler, "write", org, bucket)
        sink = functools.partial(write_result, store, org)
    results = execute_flux_multi(points, text, sink=sink, group_key=gk)

    # chunked encoding; each result block is one bounded Spark job,
    # or a toLocalIterator stream when it is larger (see
    # annotated_csv), so facade memory stays bounded. Multi-yield
    # scripts emit one CSV block per yield, each tagged with its
    # result name and separated by an empty row (InfluxDB
    # multi-result annotated-CSV framing).
    from ..frontends.annotated_csv import stream_rows

    def _gen():
        for i, (name, df) in enumerate(results.items()):
            if i:
                yield "\r\n"
            # table numbering continues across datatype splits of
            # one result (shared table_ids dict); each split emits
            # its own annotation block (schema changed).
            table_ids: dict = {}
            for j, (wire_df, wire_key, rows) in enumerate(
                    _flux_blocks(df, tag_keys)):
                if j:
                    yield "\r\n"
                yield from iter_annotated_csv(
                    wire_df, group_key=wire_key, result_name=name,
                    annotations=annotations, header=csv_header,
                    table_ids=table_ids, delimiter=delimiter,
                    comment_prefix=comment_prefix,
                    datetime_format=datetime_format,
                    rows=(stream_rows(wire_df, wire_key)
                          if rows is None else rows),
                )

    v.api._respond_chunks(v.handler, _gen())


def _query_v1(v: _V2Call, m) -> tuple | None:
    """InfluxQL compatibility: ``/query?db=<bucket>&q=<stmts>`` →
    the 1.x JSON results envelope (DBRP maps db→bucket 1:1 here).

    Multiple semicolon-separated statements run in order, one
    ``results`` entry each (Grafana batches its init SHOWs)."""
    q = dict(v.q)
    if not q.get("q") and v.body:
        q.update({k: val[0] for k, val in parse_qs(v.body.decode()).items()})
    db, text = q.get("db"), q.get("q")
    if not db or not text:
        raise ApiError(400, "invalid", "db and q parameters are required")
    org = q.get("org") or v.engine.config.org
    results = []
    for i, stmt in enumerate(_split_v1_statements(text)):
        res = v.api._run_v1_statement(v.handler, org, db, stmt, q.get("epoch"))
        res["statement_id"] = i
        results.append(res)
    if not results:
        raise ApiError(400, "invalid", "empty query")

    if q.get("chunked") in ("true", "1"):
        # stock v1 chunked mode: newline-delimited complete JSON
        # documents of at most chunk_size rows each, with partial
        # flags while a series/statement has more data
        try:
            chunk_size = max(1, int(q.get("chunk_size", 10000)))
        except ValueError:
            chunk_size = 10000
        v.api._respond_chunks(
            v.handler, _iter_v1_json_chunked(results, chunk_size),
            content_type="application/json",
        )
        return None

    def _is_streamed(res: dict) -> bool:
        s = res.get("series", [])
        if not isinstance(s, list):
            return True  # lazy series generator — MUST NOT iterate here
        return any(isinstance(x.get("values"), _StreamedValues) for x in s)

    if any(_is_streamed(res) for res in results):
        v.api._respond_chunks(
            v.handler, _iter_v1_json(results), content_type="application/json"
        )
        return None
    return 200, {"results": results}


def _delete(v: _V2Call, m) -> tuple:
    org = v.org
    bucket = v.q.get("bucket") or v.engine.config.bucket
    v.api._authorize(v.handler, "write", org, bucket)
    req = v.payload
    if "start" not in req or "stop" not in req:
        raise ApiError(400, "invalid", "start and stop are required")
    predicate = (
        _parse_delete_predicate(req["predicate"]) if req.get("predicate") else None
    )
    v.engine.store.delete_predicate(
        org,
        bucket,
        _rfc3339_to_ns(req["start"]),
        _rfc3339_to_ns(req["stop"]),
        predicate,
    )
    return 204, None


def _orgs(v: _V2Call, m) -> tuple:
    org = v.engine.config.org
    v.api._authorize(v.handler, "read", org, v.engine.config.bucket)
    name = v.q.get("org") or v.q.get("name")
    return 200, {"orgs": [] if name and name != org else [{"id": org, "name": org}]}


def _authorizations(v: _V2Call, m) -> tuple:
    v.api._authorize(v.handler, "read:authorizations", None, None)
    return 200, {"authorizations": v.engine.tokens.list_records()}


def _bucket_json(org: str, meta) -> dict:
    return {"id": meta.id, "orgID": org, "name": meta.name, "type": "user",
            "retentionRules": (
                [{"type": "expire", "everySeconds": meta.retention_ns // 10**9}]
                if meta.retention_ns else [])}


def _create_bucket(v: _V2Call, m) -> tuple:
    doc = v.payload
    org = doc.get("orgID") or doc.get("org") or v.engine.config.org
    name = doc.get("name")
    if not name:
        raise ApiError(400, "invalid", "bucket name required")
    # bucket creation is an org-admin operation (the scoped RO/RW
    # tokens only grant their one bucket)
    v.api._authorize(v.handler, "write:orgs", org, None)
    rules = doc.get("retentionRules") or []
    ret_ns = None
    if rules and rules[0].get("everySeconds"):
        ret_ns = int(rules[0]["everySeconds"]) * 10**9
    # InfluxDB v2 answers 422 on a duplicate bucket name — the store's
    # idempotent create is for engine setup (reference A6), not for
    # the public API
    if v.engine.store._meta_path(org, name).exists():
        raise ApiError(422, "conflict", f"bucket with name {name} already exists")
    return 201, _bucket_json(org, v.engine.store.create_bucket(org, name, ret_ns))


def _list_buckets(v: _V2Call, m) -> tuple:
    # read scope on the org's provisioned bucket gates the discovery
    org = v.org
    v.api._authorize(v.handler, "read", org, v.engine.config.bucket)
    name = v.q.get("name")
    return 200, {"buckets": [_bucket_json(org, b)
                             for b in v.engine.store.list_buckets(org)
                             if not name or b.name == name]}


def _task_json(task: FluxTask) -> dict:
    return {"id": task.id, "name": task.name, "status": task.status,
            "flux": task.flux, "everySeconds": task.every_ns // 10**9,
            "offsetSeconds": task.offset_ns // 10**9}


def _create_task(v: _V2Call, m) -> tuple:
    task = parse_task(v.payload.get("flux", ""))
    # a task mutation needs write on the task's SOURCE bucket (the to()
    # sink re-checks nothing: a task writes derived data to a bucket
    # the org owns, as the CQ path does), granted before it registers
    v.api._authorize(v.handler, "write", v.org, task.source_bucket)
    return 201, _task_json(v.api._task_registry(v.org).register(task))


def _list_tasks(v: _V2Call, m) -> tuple:
    v.api._authorize(v.handler, "read", v.org, v.engine.config.bucket)
    return 200, {"tasks": [_task_json(t) for t in v.api._task_registry(v.org).list()]}


def _on_task(grant: str, answer) -> Callable[[_V2Call, re.Match], tuple]:
    """The answer of a route on one task: resolve the ``id`` group
    (404 when unknown), authorize ``grant`` on the task's source
    bucket, then answer with the registry and the task."""
    def resolved(v: _V2Call, m) -> tuple:
        reg = v.api._task_registry(v.org)
        try:
            task = reg.get(m["id"])
        except KeyError:
            raise ApiError(404, "not found", f"task {m['id']!r} not found") from None
        v.api._authorize(v.handler, grant, v.org, task.source_bucket)
        return answer(v, reg, task)
    return resolved


def _delete_task(v: _V2Call, reg, task: FluxTask) -> tuple:
    reg.delete(task.id)
    return 204, None


def _set_task_status(v: _V2Call, reg, task: FluxTask) -> tuple:
    status = v.payload.get("status")
    if status not in ("active", "inactive"):
        raise ApiError(400, "invalid", "status must be active|inactive")
    task.status = status
    return 200, _task_json(task)


def _run_task(v: _V2Call, reg, task: FluxTask) -> tuple:
    # an optional "now" (epoch ns) pins the run time — the scheduledFor
    # equivalent; tests and replays use it
    now_ns = int(v.payload.get("now") or time.time_ns())
    rows = reg.run(v.engine.spark, task.id, now_ns)
    return 200, {"taskID": task.id, "status": "success", "rows": rows}


_TASK = r"/api/v2/tasks/(?P<id>[0-9a-f]+)"

#: Every HTTP route, in match order: a request takes the first row
#: whose method and whole path match it; none matching is a 404.
_V2_ROUTES = tuple(
    _V2Route(method, re.compile(path), answer)
    for method, path, answer in (
        # liveness: the `influx ping` probe the reference health check drives
        ("GET", "/ping", lambda v, m: (204, None)),
        ("GET", "/health", _health),
        # provision state (the reference's troubleshooting probe)
        ("GET", "/api/v2/setup",
         lambda v, m: (200, {"allowed": not v.engine._provisioned})),
        ("POST", "/api/v2/write", _write),
        ("POST", "/write", _write_v1),
        ("POST", "/api/v2/query", _query_flux),
        ("GET", "/query", _query_v1),
        ("POST", "/query", _query_v1),
        ("POST", "/api/v2/delete", _delete),
        # the org-name → ID lookup the influx CLI makes before most calls
        ("GET", "/api/v2/orgs", _orgs),
        # `influx auth list` over HTTP: the token records, admin only
        ("GET", "/api/v2/authorizations", _authorizations),
        ("POST", "/api/v2/buckets", _create_bucket),
        # the discovery call the influx CLI and Grafana's Flux source make first
        ("GET", "/api/v2/buckets", _list_buckets),
        # the 2.x downsampling-task API (streaming/flux_tasks.py)
        ("POST", "/api/v2/tasks", _create_task),
        ("GET", "/api/v2/tasks", _list_tasks),
        # the influx CLI fetches a task by id after creating it
        ("GET", _TASK, _on_task("read", lambda v, reg, task: (200, _task_json(task)))),
        ("DELETE", _TASK, _on_task("write", _delete_task)),
        # pause/resume: an inactive task is skipped by run_due
        ("PATCH", _TASK, _on_task("write", _set_task_status)),
        ("POST", _TASK + "/runs", _on_task("write", _run_task)),
    )
)


class HttpApi:
    """Serve an :class:`Engine` over HTTP or HTTPS.

    ``port=0`` picks a free port. ``tls=True`` serves HTTPS with a
    self-signed certificate (generated into ``cert_dir``, or reused) —
    the reference's *default* posture (``recipe.yaml:24-27``
    ``ServerProtocol: https`` + ``SkipTLSVerify: true``, certs from the
    Install step). Clients opt out of verification exactly like the
    vended ``InfluxDBSkipTLSVerify`` flag tells them to.
    """

    def __init__(
        self,
        engine: Engine,
        host: str = "127.0.0.1",
        port: int = 0,
        tls: bool = False,
        cert_dir: str | None = None,
    ):
        self.engine = engine
        self.host, self.port = host, port
        self.tls = tls
        self.cert_dir = cert_dir
        self.cert_file: str | None = None
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self._cq_registries: dict[str, CQRegistry] = {}
        self._task_registries: dict[str, FluxTaskRegistry] = {}

    def _cq_registry(self, org: str) -> CQRegistry:
        """Per-org continuous-query registry (lazy; see streaming/cq.py)."""
        if org not in self._cq_registries:
            self._cq_registries[org] = CQRegistry(self.engine.store, org)
        return self._cq_registries[org]

    def _task_registry(self, org: str) -> FluxTaskRegistry:
        """Per-org Flux task registry (lazy; see streaming/flux_tasks.py)."""
        if org not in self._task_registries:
            self._task_registries[org] = FluxTaskRegistry(self.engine.store, org)
        return self._task_registries[org]

    def run_continuous_queries(self, now_ns: int | None = None) -> dict[str, int]:
        """Run every registered CQ and every active Flux task once, all
        at the same ``now`` (idempotent; callers own the cadence — a
        production deployment wraps this in a timer at the finest CQ or
        task grain, matching InfluxDB's own schedulers). Returns the
        rows per CQ or task name."""
        now = now_ns if now_ns is not None else time.time_ns()
        out: dict[str, int] = {}
        for reg in (*self._cq_registries.values(), *self._task_registries.values()):
            out.update(reg.run_due(self.engine.spark, now))
        return out

    # ------------------------------------------------------------ lifecycle

    def start(self) -> tuple[str, int]:
        api = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def do_GET(self):
                api._dispatch(self, "GET")

            def do_POST(self):
                api._dispatch(self, "POST")

            def do_DELETE(self):
                api._dispatch(self, "DELETE")

            def do_PATCH(self):
                api._dispatch(self, "PATCH")

        self._server = ThreadingHTTPServer((self.host, self.port), Handler)
        if self.tls:
            cert_dir = self.cert_dir or str(
                Path(self.engine.config.store_root) / "tls"
            )
            cert, key = generate_self_signed_cert(cert_dir)
            self.cert_file = cert
            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
            ctx.load_cert_chain(cert, key)
            self._server.socket = ctx.wrap_socket(
                self._server.socket, server_side=True
            )
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self.host, self.port

    def stop(self) -> None:
        if self._server:
            self._server.shutdown()
            self._server.server_close()
            self._server = None

    # ----------------------------------------------------------------- auth

    def _authorize(self, handler, grant: str, org: str, bucket: str | None) -> None:
        """401 unless a known token; 403 unless it holds ``grant``: an
        org-wide permission (``write:orgs``, ``read:authorizations``,
        …), or ``read`` / ``write`` on ``bucket`` through its scoped
        grant or the org-wide one (404 for an unknown bucket)."""
        permissions = self._bearer_record(handler)["permissions"]
        allowed = {grant}
        if ":" not in grant:
            try:
                bucket_id = self.engine.store.get_bucket(org, bucket).id
            except FileNotFoundError:
                raise ApiError(404, "not found", f"bucket {bucket!r} not found")
            allowed = {f"{grant}:orgs", f"{grant}:orgs/{org}/buckets/{bucket_id}"}
        if not allowed.intersection(permissions):
            raise ApiError(403, "forbidden", f"insufficient permissions for {grant}")

    def _bearer_record(self, handler) -> dict:
        """The token record for the request's Authorization header —
        401 when absent/unknown."""
        auth = handler.headers.get("Authorization", "")
        if not auth.startswith("Token "):
            raise ApiError(401, "unauthorized", "unauthorized access")
        token = auth[len("Token "):].strip()
        record = next(
            (r for r in self.engine.tokens.list_records() if r["token"] == token),
            None,
        )
        if record is None:
            raise ApiError(401, "unauthorized", "unknown authorization token")
        return record

    # ------------------------------------------------------------- dispatch

    def _dispatch(self, handler, method: str) -> None:
        """Answer one request with the first row of ``_V2_ROUTES`` that
        matches its method and path."""
        url = urlsplit(handler.path)
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        try:
            body = b""
            length = int(handler.headers.get("Content-Length") or 0)
            if length:
                body = handler.rfile.read(length)
            # Telegraf's v2 output gzips bodies by default; the
            # reference engine accepts Content-Encoding: gzip on write
            # and query bodies alike
            if handler.headers.get("Content-Encoding", "").lower() == "gzip":
                try:
                    body = gzip.decompress(body)
                except OSError:
                    raise ApiError(400, "invalid", "body is not valid gzip")
            route, m = next(((r, m) for r in _V2_ROUTES if r.method == method
                             and (m := r.path.fullmatch(url.path))), (None, None))
            if route is None:
                raise ApiError(404, "not found", f"path not found: {url.path}")
            reply = route.answer(_V2Call(self, handler, q, body), m)
            if reply is not None:
                self._respond(handler, *reply)
        except ApiError as e:
            self._respond(handler, e.status, {"code": e.code, "message": e.message})
        except Exception as e:  # surface engine errors as 400s, keep serving
            self._respond(handler, 400, {"code": "invalid", "message": str(e)})

    def _respond(self, handler, status: int, payload) -> None:
        """One whole reply: a JSON body, or none when ``payload`` is None."""
        handler.send_response(status)
        if payload is None:
            handler.end_headers()
            return
        data = json.dumps(payload).encode()
        handler.send_header("Content-Type", "application/json")
        handler.send_header("Content-Length", str(len(data)))
        handler.end_headers()
        handler.wfile.write(data)

    def _respond_chunks(self, handler, chunks, content_type="text/csv; charset=utf-8"):
        """Chunked transfer encoding: facade memory stays O(chunk) no
        matter how large the query result is.

        The FIRST chunk is materialized before the status line goes
        out, so plan-time and first-batch errors still surface as a
        proper 400/500. An error after streaming began cannot change
        the status — stock InfluxDB appends an annotated-CSV *error
        table* and terminates the chunk stream, and so do we — a second
        status line written into the chunk stream would corrupt the
        transfer."""
        it = iter(chunks)
        try:
            first = next(it)
        except StopIteration:
            first, it = "", iter(())
        handler.send_response(200)
        handler.send_header("Content-Type", content_type)
        handler.send_header("Transfer-Encoding", "chunked")
        handler.end_headers()

        def _write(text: str) -> None:
            data = text.encode()
            if data:
                handler.wfile.write(f"{len(data):X}\r\n".encode() + data + b"\r\n")

        try:
            for chunk in itertools.chain([first], it):
                _write(chunk)
        except Exception as exc:  # noqa: BLE001 — mid-stream: emit typed error
            # the error fragment must match the stream's content type
            # (CSV error text inside a JSON envelope leaves clients
            # with unparseable output) — CSV gets the stock
            # annotated error table; JSON gets a JSON error object the
            # client can detect after its truncated envelope.
            raw = str(exc).split("\n", 1)[0][:500]
            if content_type.startswith("application/json"):
                _write("\n" + json.dumps({"error": raw}))
            else:
                msg = raw.replace('"', '""')
                _write(
                    "\r\n#datatype,string,string\r\n#group,true,true\r\n"
                    f'#default,,\r\n,error,reference\r\n,"{msg}",\r\n'
                )
        handler.wfile.write(b"0\r\n\r\n")

    # ------------------------------------------------------------ v1

    def _run_v1_statement(self, handler, org: str, db: str, text: str,
                          epoch: str | None) -> dict:
        """One v1 statement → its ``results[i]`` dict (sans id): the
        first row of ``_V1_STATEMENTS`` that matches it, authorized on
        the database the statement names (else the request's ``db``)."""
        row, m = next((row, m) for row in _V1_STATEMENTS
                      if (m := row.pattern.match(text)))
        db = m.groupdict().get("db") or db
        self._authorize(handler, row.grant, org, db)
        out = row.answer(_V1Call(self, org, db, epoch), m)
        return {} if out is None else out
