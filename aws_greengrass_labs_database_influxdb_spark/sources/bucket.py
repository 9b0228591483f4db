"""Bucket store: the engine's managed table layout with LWW upsert and
retention — the Spark re-expression of InfluxDB's bucket/TSM/retention
behavior (SURVEY.md §1.1, §4.2).

Layout:  ``{root}/{org}/{bucket}/data/`` parquet, partitioned by
``(measurement, day)`` where ``day = time_ns div 86 400e9`` — so
``range(start, stop)`` prunes partitions and per-measurement scans
touch one subtree. ``series_key`` (serialized sorted tags) is stored
as a plain string column: groupable, orderable, min/max-stat friendly
(MapType is none of those).

Last-write-wins: InfluxDB upserts a point on (series, time, field) —
``to()`` semantics. Appends are cheap (no read-modify-write at ingest);
LWW resolves at read (window dedup on ingest_seq) and is made durable
by :meth:`BucketStore.compact`, which rewrites partitions keeping the
max-ingest_seq row — the classic log-structured merge split, which is
what scales to 100 TB of appends.

Retention: dropping whole day-partitions older than the bucket's
retention period — a metadata/file operation, no data rewrite
(InfluxDB drops expired shard groups the same way).
"""

from __future__ import annotations

import json
import shutil
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F, Window as W

from ..schema import POINTS_SCHEMA, series_key

DAY_NS = 86_400 * 10**9


class FieldTypeConflict(ValueError):
    """A write carried a field whose type conflicts with the type
    already pinned for that (measurement, field) — stock rejects the
    conflicting points with a 422 'field type conflict' partial-write
    error. ``conflicts`` is [(measurement, field, have, got), ...]."""

    def __init__(self, conflicts):
        self.conflicts = list(conflicts)
        m, f, have, got = self.conflicts[0]
        more = (f" (+{len(self.conflicts) - 1} more)"
                if len(self.conflicts) > 1 else "")
        super().__init__(
            f"field type conflict: input field \"{f}\" on measurement "
            f"\"{m}\" is type {got}, already exists as type {have} — "
            f"dropped{more}"
        )


@dataclass
class BucketMeta:
    org: str
    name: str
    retention_ns: int | None = None  # None = infinite
    id: str = ""
    created_ns: int = field(default_factory=lambda: time.time_ns())

    def to_json(self) -> str:
        return json.dumps(self.__dict__)


class BucketStore:
    # max parquet files one append of a non-local frame creates per
    # (measurement, day) directory (a driver-resident batch writes one;
    # see write_points). 4 balances the small-files problem against
    # per-day write parallelism; raise for hot-partition ingest at
    # cluster scale.
    WRITE_FILES_PER_PARTITION = 4

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        # Per-bucket mutation serialization: concurrent append jobs to
        # ONE parquet dir share the Hadoop committer's _temporary/0
        # staging — the first job commit deletes it under the second
        # (silent lost writes), and compact/delete additionally swap
        # directories. The ThreadingHTTPServer facade makes concurrent
        # writers real, so every mutating op takes this lock (readers
        # stay lock-free: they only see committed files). Single
        # writer per bucket is the same contract InfluxDB's storage
        # engine serializes via its WAL; cross-PROCESS writers would
        # need a lock file or per-job staging dirs (out of scope —
        # one engine process owns a store root).
        self._mutation_locks: dict[tuple[str, str], threading.Lock] = {}
        self._locks_guard = threading.Lock()

    def _mutation_lock(self, org: str, name: str) -> threading.Lock:
        with self._locks_guard:
            return self._mutation_locks.setdefault(
                (org, name), threading.Lock()
            )

    # ---------------------------------------------------------------- admin

    def _meta_path(self, org: str, name: str) -> Path:
        return self.root / org / name / "bucket.json"

    def create_bucket(
        self, org: str, name: str, retention_ns: int | None = None
    ) -> BucketMeta:
        meta = BucketMeta(org=org, name=name, retention_ns=retention_ns)
        meta.id = f"{abs(hash((org, name))) & 0xFFFFFFFFFFFFFFFF:016x}"
        p = self._meta_path(org, name)
        if p.exists():  # idempotent re-open (reference A6)
            return self.get_bucket(org, name)
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(meta.to_json())
        return meta

    def get_bucket(self, org: str, name: str) -> BucketMeta:
        data = json.loads(self._meta_path(org, name).read_text())
        return BucketMeta(**data)

    def list_buckets(self, org: str) -> list[BucketMeta]:
        org_dir = self.root / org
        if not org_dir.exists():
            return []
        return [
            self.get_bucket(org, d.name)
            for d in sorted(org_dir.iterdir())
            if (d / "bucket.json").exists()
        ]

    def drop_bucket(self, org: str, name: str) -> bool:
        """Delete a bucket's metadata and data (v1 DROP DATABASE / v2
        bucket delete). Returns False when the bucket does not exist
        (idempotent — matching create_bucket's reference-A6 shape)."""
        import shutil

        bucket_dir = self.root / org / name
        if not (bucket_dir / "bucket.json").exists():
            return False
        shutil.rmtree(bucket_dir)
        return True

    def _data_dir(self, org: str, name: str) -> Path:
        return self.root / org / name / "data"

    # ------------------------------------------------------ field types

    def _types_path(self, org: str, name: str) -> Path:
        return self.root / org / name / "_field_types.json"

    def _tag_keys_path(self, org: str, name: str) -> Path:
        return self.root / org / name / "_tag_keys.json"

    @staticmethod
    def _write_json(path: Path, obj) -> None:
        """Replace a catalog file atomically: lock-free readers see the
        old or the new content, never a torn write."""
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_name(path.name + ".tmp")
        tmp.write_text(json.dumps(obj))
        tmp.replace(path)

    def field_types(self, org: str, name: str) -> dict:
        """The bucket's field-type catalog: {measurement: {field:
        ftype}} — maintained by write_points, the authority for stock's
        per-field type pinning (a field key has ONE type; a conflicting
        write is rejected with the v1/v2 'field type conflict' error)."""
        p = self._types_path(org, name)
        if not p.exists():
            return {}
        return json.loads(p.read_text())

    def tag_keys(self, org: str, name: str) -> list[str] | None:
        """The bucket's tag-key catalog: a sorted SUPERSET of the tag
        keys its rows carry, or None when unknown.

        write_points records every write's keys before its rows land,
        so a reader that lists the bucket's files first and reads this
        catalog second holds a superset of the keys in the files it
        read. Deletes and drops only remove rows, so keys that no row
        carries any more stay listed. The set is unknown (None) once a
        writer could not name its keys, and for data written before
        the catalog existed."""
        p = self._tag_keys_path(org, name)
        if p.exists():
            return json.loads(p.read_text())
        return None if self._data_dir(org, name).exists() else []

    def _record_tag_keys(self, org: str, name: str, keys) -> None:
        """Union ``keys`` into the tag-key catalog (``None``: the writer
        cannot name its keys, so the catalog turns unknown). The caller
        holds the bucket's mutation lock."""
        have = self.tag_keys(org, name)
        new = (None if keys is None or have is None
               else sorted(set(have) | {k for k in keys if k}))
        if new != have or not self._tag_keys_path(org, name).exists():
            self._write_json(self._tag_keys_path(org, name), new)

    def forget_measurement_types(self, org: str, name: str,
                                 measurement: str) -> None:
        """DROP MEASUREMENT resets its fields' type pins (stock: the
        constraint lives with the data; dropped data frees it)."""
        with self._mutation_lock(org, name):
            cat = self.field_types(org, name)
            if measurement in cat:
                del cat[measurement]
                self._write_json(self._types_path(org, name), cat)

    # ---------------------------------------------------------------- write

    def write_points(self, org: str, name: str, points: DataFrame,
                     known_types=None, tag_keys=None) -> None:
        """Append points (canonical schema). Adds ``series_key`` and the
        ``day`` partition column; never rewrites existing data.

        Field types: each (measurement, field) is pinned to the first
        ftype ever written. Points whose ftype conflicts are EXCLUDED
        from the append and reported by raising
        :class:`FieldTypeConflict` AFTER the valid rows land — stock's
        partial-write-then-422 contract.

        Catalog: the type pins and the tag keys are recorded in one
        locked update BEFORE the append, so the catalog is always a
        superset of the committed rows.

        - Callers that know their (measurement, field, ftype) triples
          on the driver pass ``known_types`` (HTTP writes parse line
          protocol on the driver; SELECT INTO / CQ triples come from
          the result schema) and their ``tag_keys`` the same way; the
          write is then ONE Spark job. ``known_types`` must cover
          EVERY triple in ``points``: an uncovered triple lands
          un-pinned and un-conflict-checked. A schema-derived triple
          whose rows are all null still pins the type its rows would
          have had. ``SPARK_GRAFT_VERIFY_KNOWN_TYPES=1`` asserts the
          contract (debug runs only: it adds a distinct job).
        - Callers with data-dependent types (streaming ingest, Flux
          ``to()``) leave ``known_types`` None: the input is persisted
          for the write, and one distinct job over the cache finds the
          triples and the tag keys before the append reads the same
          cache.
        - ``known_types`` given without ``tag_keys`` means the caller
          cannot name its keys: the bucket's tag-key catalog turns
          unknown (see :meth:`tag_keys`).
        """
        import os

        from pyspark import StorageLevel

        df = points
        cached = None
        conflicts: list[tuple[str, str, str, str]] = []
        new: list = []
        if "ftype" in df.columns:
            if known_types is not None:
                new = sorted(set(known_types))
                if os.environ.get("SPARK_GRAFT_VERIFY_KNOWN_TYPES"):
                    actual = {
                        (r[0], r[1], r[2])
                        for r in df.select("measurement", "field", "ftype")
                        .distinct().collect()
                    }
                    missing = actual - set(new)
                    if missing:
                        raise AssertionError(
                            f"known_types incomplete: {sorted(missing)}"
                        )
            else:
                cached = df.persist(StorageLevel.MEMORY_AND_DISK)
                df = cached
                key = (F.explode_outer(F.map_keys("tags"))
                       if "tags" in df.columns else F.lit(None).cast("string"))
                found = (df.select("measurement", "field", "ftype",
                                   key.alias("k"))
                         .distinct().collect())
                new = sorted({(r[0], r[1], r[2]) for r in found})
                tag_keys = {r[3] for r in found}
        with self._mutation_lock(org, name):
            if new:
                cat = self.field_types(org, name)
                for m, f, t in new:
                    have = cat.get(m, {}).get(f)
                    if have is None:
                        cat.setdefault(m, {})[f] = t
                    elif have != t:
                        conflicts.append((m, f, have, t))
                self._write_json(self._types_path(org, name), cat)
            self._record_tag_keys(org, name, tag_keys)
        if conflicts:
            # drop only the conflicting (measurement, field,
            # incoming-type) triples — a literal isin over one
            # concatenated key keeps it a single codegen'd predicate
            key = F.concat_ws("\x1f", "measurement", "field", "ftype")
            bad_keys = ["\x1f".join((m, f, t))
                        for m, f, _h, t in conflicts]
            df = df.filter(~key.isin(bad_keys))
        if "series_key" not in df.columns:
            df = series_key(df)
        if "ingest_seq" not in df.columns or df.schema["ingest_seq"].nullable:
            from .seq import INTRA_BITS, next_seq_base

            # wall-clock base (shared allocator) so rows stamped here
            # order correctly against every other write path's LWW seqs
            base = next_seq_base()
            fallback = F.lit(base) + F.monotonically_increasing_id() % F.lit(1 << INTRA_BITS)
            if "ingest_seq" in df.columns:
                df = df.withColumn("ingest_seq", F.coalesce(F.col("ingest_seq"), fallback))
            else:
                df = df.withColumn("ingest_seq", fallback)
        df = df.withColumn("day", F.expr(f"time_ns div {DAY_NS}"))
        # Files per (measurement, day) directory, per append:
        # - a driver-resident batch (``points.isLocal()``: a
        #   LocalRelation, which is what an HTTP line-protocol write
        #   is) is coalesced to one task — one job, one task, one file
        #   per directory. On 4 vCPUs the one task wrote no slower than
        #   the clustered plan up to the largest batch measured, 240,000
        #   points over 14 days (5.0 s against 5.7 s);
        # - any other input (SELECT INTO, continuous queries, Flux
        #   ``to()``, streaming ingest) is clustered by (measurement,
        #   day, hash(series_key) mod WRITE_FILES_PER_PARTITION), so a
        #   directory gets at most that many files however many
        #   upstream tasks feed it, and one hot day still writes with
        #   that many tasks.
        if points.isLocal():
            df = df.coalesce(1)
        else:
            df = df.repartition(
                F.col("measurement"), F.col("day"),
                F.pmod(F.xxhash64("series_key"),
                       F.lit(self.WRITE_FILES_PER_PARTITION)),
            )
        try:
            with self._mutation_lock(org, name):
                (
                    df.write.mode("append")
                    .partitionBy("measurement", "day")
                    .parquet(str(self._data_dir(org, name)))
                )
        finally:
            if cached is not None:
                cached.unpersist()
        if conflicts:
            # raised AFTER the valid rows landed — stock's partial
            # write: the client gets the 422, the good points stay
            raise FieldTypeConflict(conflicts)

    # ----------------------------------------------------------------- read

    def read_points(self, org: str, name: str, lww: bool = True) -> DataFrame:
        """Scan the bucket; ``lww=True`` resolves upserts (latest
        ingest_seq per (series_key, time_ns)) with a window dedup.

        After :meth:`compact`, partitions are already unique per key and
        the window collapses to a no-op pass (still correct for any
        fresh appends since the compaction).

        Small-bucket rule: when the bucket's data files add up to less
        than half the session's
        ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (4 MiB of the
        engine's 8 MiB), the scan is coalesced to one partition before
        the window. A single-partition child satisfies every clustered
        distribution, so the window, the aggregates and the sorts above
        it plan no Exchange and a dashboard panel runs as one task. A
        bucket at or above that size keeps the parallel scan and its
        shuffles. Half is where one task stopped paying (measured on 4
        vCPUs only): over a dense store, every point in the panels' last
        day, each of the four tsbench telemetry panels answered as fast
        or faster in one task up to 3.1 MB of parquet, and the InfluxQL
        panel was 4 % slower at 4.7 MB and 43 % slower at 8.6 MB.
        """
        data = self._data_dir(org, name)
        if not data.exists():
            # provisioned-but-never-written bucket: queryable-empty
            # (a query racing ahead of the first write is a normal
            # concurrent-client pattern, not an error)
            return self.spark.createDataFrame([], self._stored_schema())
        df = self.spark.read.schema(self._stored_schema()).parquet(str(data))
        # provenance mark: push_time_filter prunes on the
        # `day` partition column ONLY when this metadata flag says the
        # column is the store's time_ns-derived directory key — a
        # user-computed column that merely shares the name must not be
        # range-filtered. Metadata rides the column through projections.
        df = df.withMetadata("day", {"spark_graft.partition": "day"})
        if not lww:
            return df
        # Spark's size of the scan is the bytes of the files its listing
        # just found. Filters above the coalesce still push into the
        # scan, so day pruning and the scan's input rows are the same
        # either way.
        advisory = self.spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            self.spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
        if df._jdf.queryExecution().analyzed().stats().sizeInBytes() < advisory // 2:
            df = df.coalesce(1)
        # `day` is redundant in the key (determined by time_ns) but
        # listing it makes it a PARTITION COLUMN of the window, so a
        # downstream day-range filter (push_time_filter's partition-
        # pruning superset) pushes below the dedup instead of
        # LWW-shuffling the bucket's entire history first.
        w = W.partitionBy("measurement", "day", "series_key", "time_ns").orderBy(
            F.desc("ingest_seq")
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    @staticmethod
    def _stored_schema():
        from pyspark.sql import types as T

        return T.StructType(
            POINTS_SCHEMA.fields
            + [
                T.StructField("series_key", T.StringType(), True),
                T.StructField("day", T.LongType(), True),
            ]
        )

    # ---------------------------------------------------------- maintenance

    def compact(self, org: str, name: str) -> None:
        """Rewrite the bucket with LWW applied — makes upserts durable
        and restores scan speed after heavy overwrite traffic."""
        data = self._data_dir(org, name)
        lock = self._mutation_lock(org, name)
        lock.acquire()
        try:
            self._compact_locked(org, name, data)
        finally:
            lock.release()

    def _compact_locked(self, org: str, name: str, data: Path) -> None:
        resolved = self.read_points(org, name, lww=True)
        tmp = data.with_name("data_compacting")
        (
            # one task per (measurement, day) → one file per partition
            # (the LWW window leaves every task holding rows of many
            # days; writing that directly sprays tasks×days small
            # files), then cluster each file by (series, time): parquet
            # row-group min/max on time_ns become tight (sub-day range
            # pruning) and series_key/tags dictionary+RLE-compress —
            # the TSM-file ordering equivalent, restored at every
            # compaction
            resolved.repartition("measurement", "day")
            .sortWithinPartitions("series_key", "time_ns")
            .write.mode("overwrite")
            .partitionBy("measurement", "day")
            .parquet(str(tmp))
        )
        shutil.rmtree(data)
        tmp.rename(data)

    def enforce_retention(self, org: str, name: str, now_ns: int | None = None) -> int:
        """Drop day-partitions entirely older than the retention period.
        Returns the number of dropped partitions (file-level op, no
        rewrite — the shard-group-expiry equivalent)."""
        meta = self.get_bucket(org, name)
        if not meta.retention_ns:
            return 0
        now_ns = now_ns if now_ns is not None else time.time_ns()
        cutoff_day = (now_ns - meta.retention_ns) // DAY_NS
        dropped = 0
        data = self._data_dir(org, name)
        with self._mutation_lock(org, name):
            for mdir in data.glob("measurement=*"):
                for ddir in mdir.glob("day=*"):
                    day = int(ddir.name.split("=")[1])
                    if day < cutoff_day:
                        shutil.rmtree(ddir)
                        dropped += 1
        return dropped

    def delete_predicate(
        self,
        org: str,
        name: str,
        start_ns: int,
        stop_ns: int,
        predicate=None,
    ) -> None:
        """``POST /api/v2/delete`` equivalent: remove points in
        [start, stop) matching the tag predicate — an anti-filter
        rewrite of only the affected day partitions."""
        data = self._data_dir(org, name)
        lo_day, hi_day = start_ns // DAY_NS, (stop_ns - 1) // DAY_NS
        lock = self._mutation_lock(org, name)
        lock.acquire()
        try:
            self._delete_locked(data, lo_day, hi_day, start_ns, stop_ns, predicate)
        finally:
            lock.release()

    def _delete_locked(self, data, lo_day, hi_day, start_ns, stop_ns, predicate):
        df = self.spark.read.schema(self._stored_schema()).parquet(str(data))
        affected = df.filter((F.col("day") >= lo_day) & (F.col("day") <= hi_day))
        doomed = (F.col("time_ns") >= start_ns) & (F.col("time_ns") < stop_ns)
        if predicate is not None:
            doomed = doomed & predicate
        # Null-safe negation: a tag predicate like tags['host']=='h1' is NULL
        # for points without that tag; ~NULL is NULL, and filter(NULL) drops
        # the row — which would silently delete every point lacking the tag.
        # InfluxDB deletes only matching series, so NULL must mean "keep".
        kept = affected.filter(~F.coalesce(doomed, F.lit(False)))
        tmp = data.with_name("data_delete_tmp")
        kept.write.mode("overwrite").partitionBy("measurement", "day").parquet(str(tmp))
        # swap in rewritten partitions for the affected day range only
        for mdir in data.glob("measurement=*"):
            for ddir in mdir.glob("day=*"):
                day = int(ddir.name.split("=")[1])
                if lo_day <= day <= hi_day:
                    shutil.rmtree(ddir)
        for mdir in tmp.glob("measurement=*"):
            for ddir in mdir.glob("day=*"):
                target = data / mdir.name / ddir.name
                target.parent.mkdir(parents=True, exist_ok=True)
                if target.exists():
                    shutil.rmtree(target)
                ddir.rename(target)
        shutil.rmtree(tmp)
