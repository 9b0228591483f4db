"""Single-execution write contract (r11, VERDICT r10 #2).

The r10 review found every ``write_points`` call re-executed its input
pipeline 2-3×: the field-type-pin distinct ran the unpersisted upstream
once, the parquet append ran it again, and the CQ runner's row-count a
third time. These tests pin the fix three ways:

* ``known_types`` writes run exactly ONE Spark job (no pin distinct);
* type-discovery writes evaluate the input pipeline exactly ONCE
  (persist around pin + append), counted by an accumulator riding a
  pass-through ``mapInPandas``;
* the CQ runner's per-CQ row count arrives as an ``Observation`` metric
  of the write job itself, not a separate ``count()`` action.
"""

from __future__ import annotations

import datetime as dt

import pytest

from aws_greengrass_labs_database_influxdb_spark.schema import POINTS_COLUMNS, POINTS_SCHEMA
from aws_greengrass_labs_database_influxdb_spark.sources.bucket import BucketStore


def _points_df(spark, n=40, measurement="m"):
    rows = []
    t0 = 1704067200_000_000_000
    for i in range(n):
        ns = t0 + i * 60_000_000_000
        rows.append((
            measurement,
            dt.datetime.fromtimestamp(ns / 1e9, dt.timezone.utc).replace(tzinfo=None),
            ns,
            {"host": f"h{i % 2}"},
            "v",
            float(i), None, None, None, None,
            "float",
            1000 + i,
        ))
    return spark.createDataFrame(rows, POINTS_SCHEMA)


def _jobs_in_group(spark, group, fn):
    """Run fn() inside a fresh job group; return the number of Spark
    ACTIONS it launched (local-mode statusTracker). AQE materializes
    each shuffle stage as its own sub-job, which would make the count
    assert Spark internals rather than our action count — switch it
    off for the measurement (the production path keeps AQE)."""
    sc = spark.sparkContext
    old = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", old)
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    return len(ids)


def test_known_types_write_is_single_job(spark, tmp_path):
    store = BucketStore(spark, str(tmp_path / "store"))
    store.create_bucket("org", "db")
    pts = _points_df(spark)
    n_jobs = _jobs_in_group(
        spark, "wp-known",
        lambda: store.write_points(
            "org", "db", pts, known_types=[("m", "v", "float")]
        ),
    )
    assert n_jobs == 1, f"known_types write ran {n_jobs} jobs, want 1"
    # the pin landed without a distinct job
    assert store.field_types("org", "db") == {"m": {"v": "float"}}
    got = store.read_points("org", "db")
    assert got.count() == 40


def test_type_discovery_write_executes_pipeline_once(spark, tmp_path):
    store = BucketStore(spark, str(tmp_path / "store"))
    store.create_bucket("org", "db")
    acc = spark.sparkContext.accumulator(0)
    base = _points_df(spark)

    def bump(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    pts = base.mapInPandas(bump, POINTS_SCHEMA).select(*POINTS_COLUMNS)
    store.write_points("org", "db", pts)  # no known_types → discovery
    # persist around (pin distinct + append): upstream evaluated once.
    # Pre-fix this was 2n (distinct re-ran the pipeline, then the write
    # ran it again).
    assert acc.value == 40, f"pipeline executed {acc.value / 40:.1f}×, want 1×"
    assert store.field_types("org", "db") == {"m": {"v": "float"}}


def test_cq_run_due_is_single_job_per_cq(spark, tmp_path):
    from aws_greengrass_labs_database_influxdb_spark.streaming.cq import CQRegistry

    store = BucketStore(spark, str(tmp_path / "store"))
    store.create_bucket("org", "db")
    pts = _points_df(spark, n=120, measurement="events")
    store.write_points("org", "db", pts,
                       known_types=[("events", "v", "float")])

    reg = CQRegistry(store, "org")
    reg.create(
        "CREATE CONTINUOUS QUERY cq1 ON db BEGIN "
        "SELECT mean(v) AS v INTO ev_1h FROM events "
        "GROUP BY time(1h) END"
    )
    max_ns = 1704067200_000_000_000 + 120 * 60_000_000_000
    n_jobs = _jobs_in_group(
        spark, "cq-run", lambda: reg.run_due(spark, max_ns + 1)
    )
    # one write job per CQ (the observation metric rides it); r10 ran
    # three (append + pin distinct + count) per CQ
    assert n_jobs == 1, f"run_due launched {n_jobs} jobs for 1 CQ, want 1"
    # and the reported count matches a recount of the target
    written = reg.run_due(spark, max_ns + 1)
    target = store.read_points("org", "db").filter("measurement = 'ev_1h'")
    assert written["cq1"] == target.count() == 2  # 120 min → two 1h rows


def test_write_conflict_contract_survives_known_types(spark, tmp_path):
    from aws_greengrass_labs_database_influxdb_spark.sources.bucket import FieldTypeConflict

    store = BucketStore(spark, str(tmp_path / "store"))
    store.create_bucket("org", "db")
    store.write_points("org", "db", _points_df(spark, n=4),
                       known_types=[("m", "v", "float")])
    # conflicting declared type: partial-write-then-raise still holds
    pts2 = _points_df(spark, n=4)
    from pyspark.sql import functions as F

    pts2 = pts2.select(
        *[c for c in POINTS_COLUMNS if c not in ("ftype", "f_str", "f_float")],
        F.lit(None).cast("double").alias("f_float"),
        F.lit("x").alias("f_str"),
        F.lit("string").alias("ftype"),
    ).select(*POINTS_COLUMNS)
    with pytest.raises(FieldTypeConflict):
        store.write_points("org", "db", pts2,
                           known_types=[("m", "v", "string")])
    # pin unchanged, conflicting rows excluded
    assert store.field_types("org", "db") == {"m": {"v": "float"}}
    got = store.read_points("org", "db").filter("ftype = 'string'")
    assert got.count() == 0


def test_known_types_completeness_contract_debug_assert(spark, tmp_path, monkeypatch):
    """r11 ADVICE: known_types promises to cover every (measurement,
    field, ftype) triple in the batch. The opt-in debug verifier
    (SPARK_GRAFT_VERIFY_KNOWN_TYPES=1) catches an incomplete set; a
    complete set passes."""
    store = BucketStore(spark, str(tmp_path / "store"))
    store.create_bucket("o", "b")
    pts = _points_df(spark, n=4, measurement="kc")
    monkeypatch.setenv("SPARK_GRAFT_VERIFY_KNOWN_TYPES", "1")
    with pytest.raises(AssertionError, match="known_types incomplete"):
        store.write_points("o", "b", pts,
                           known_types={("kc", "other", "float")})
    store.write_points("o", "b", pts,
                       known_types={("kc", "v", "float")})
    assert store.read_points("o", "b").count() == 4


def _files_per_dir(data) -> dict[str, int]:
    import os

    return {os.path.relpath(d, data): sum(f.endswith(".parquet") for f in files)
            for d, _, files in os.walk(data) if "day=" in os.path.basename(d)}


def test_http_batch_writes_one_file_per_directory_in_one_job(spark, tmp_path):
    """An HTTP line-protocol batch is a driver-resident frame: its write
    is one Spark job (AQE on, as in production) and adds one file to
    each (measurement, day) directory. The same rows from a non-local
    frame go through the clustering repartition and read back the
    same."""
    import urllib.request

    from pyspark.sql import functions as F

    from aws_greengrass_labs_database_influxdb_spark.control.engine import (
        Engine, EngineConfig,
    )
    from aws_greengrass_labs_database_influxdb_spark.control.httpapi import HttpApi
    from aws_greengrass_labs_database_influxdb_spark.control.secrets import (
        CredentialsProvider,
    )

    engine = Engine(spark, EngineConfig(store_root=str(tmp_path / "http")))
    engine.setup(CredentialsProvider({"influxdb_username": "greengrass",
                                      "influxdb_password": "ValidPassword#123"}))
    engine.serve()
    api = HttpApi(engine)
    host, port = api.start()
    token = engine.get_publish_json(
        {"action": "RetrieveToken", "accessLevel": "RW"})["InfluxDBToken"]
    org, bucket = engine.config.org, engine.config.bucket
    day0 = 1704067200_000_000_000  # 2024-01-01T00:00:00Z
    step = 15 * 60_000_000_000

    def write(offset):
        # 2 measurements × 8 hosts, 15-minute steps from 18:00 to 06:00:
        # every (measurement, day) directory of both days gets rows
        lines = "\n".join(
            f"{m},host=h{h} v={i + h}.5 {day0 + offset + (72 + i) * step}"
            for m in ("cpu", "mem") for h in range(8) for i in range(48))
        req = urllib.request.Request(
            f"http://{host}:{port}/api/v2/write?bucket={bucket}", method="POST",
            data=lines.encode())
        req.add_header("Authorization", f"Token {token}")
        req.add_header("Content-Type", "text/plain")
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 204

    try:
        data = engine.store.root / org / bucket / "data"
        write(0)
        before = _files_per_dir(data)
        assert len(before) == 4 and set(before.values()) == {1}
        tracker = spark.sparkContext.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(None) or [])
        write(1)  # a second batch, one nanosecond later
        jobs = set(tracker.getJobIdsForGroup(None) or []) - jobs
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert len(jobs) == 1, f"HTTP write ran {len(jobs)} Spark jobs"
        after = _files_per_dir(data)
        assert {d: after[d] - before[d] for d in after} == {d: 1 for d in before}

        pts = engine.store.read_points(org, bucket).select(*POINTS_COLUMNS).repartition(8)
        assert not pts.isLocal()
        copy = BucketStore(spark, str(tmp_path / "copy"))
        copy.create_bucket(org, bucket)
        copy.write_points(org, bucket, pts)
        files = _files_per_dir(copy.root / org / bucket / "data")
        assert set(files) == set(after)
        assert max(files.values()) <= BucketStore.WRITE_FILES_PER_PARTITION

        def rows(store):
            return (store.read_points(org, bucket)
                    .select("measurement", "day", "series_key", "time_ns",
                            "field", "f_float", "ftype", "ingest_seq")
                    .orderBy("measurement", "series_key", "time_ns").collect())

        got = rows(engine.store)
        assert len(got) == 2 * 2 * 8 * 48 and got == rows(copy)
        assert engine.store.read_points(org, bucket).filter(
            F.col("day") == day0 // 86_400_000_000_000 + 1).count() == 2 * 2 * 8 * 24
    finally:
        api.stop()
        engine.close()
