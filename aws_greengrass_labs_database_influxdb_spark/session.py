"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same settings are
cluster-safe (AQE, Arrow, UTC) — only ``master``/memory change.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

#: The directory that holds this package. Spark's Python workers import
#: the engine's UDF code through their own path, which starts with the
#: working directory, not through the driver's ``sys.path``.
_PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)


def fresh_persist(df: DataFrame) -> DataFrame:
    """``persist(MEMORY_AND_DISK)`` that first EVICTS any cache entry a
    previous construction of the same plan left behind.

    Spark's CacheManager matches persisted entries by canonicalized
    logical plan, so re-building the same query in one session would
    silently reuse the earlier construction's blocks — a second timed
    run of a query would skip its corpus passes entirely and measure
    cache reads instead of the query. Every construction must compute
    from the source inputs; the eviction makes that a structural fact
    rather than a session-hygiene convention. Within ONE constructed
    query the persist still deduplicates the multi-consumer subtree,
    and (unlike ``localCheckpoint``) lineage survives executor loss.
    """
    df.unpersist()
    return df.persist()


def get_spark(
    app_name: str = "aws_greengrass_labs_database_influxdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults honor ``SPARK_GRAFT_CPUS`` for local parallelism. AQE is on
    so skewed series keys and small shuffles re-plan at runtime; Arrow is
    on for the pandas-UDF operators (EMA, Holt-Winters, multimodal).
    The package root goes on the Python workers' path before the JVM
    starts, so the engine runs from any working directory.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Let data volume, not a fixed constant, pick reduce-task
        # counts: start every shuffle at 8×CPUs partitions and let AQE
        # coalesce down by size. With the flat N-CPUs default, a 30×
        # corpus packs 3× more rows per reduce partition until sorts
        # spill — the ngram-shingle aggregate measured 4.1× wall for a
        # 3× data step at 32 fixed partitions vs 2.4× with this pair
        # (SCALE.md §shuffle-partitions). 8 MiB advisory (not the 64
        # MiB default) because shuffle bytes underestimate in-memory
        # row expansion ~5-10× for the string/struct-heavy frames this
        # engine aggregates (shingles, tag maps, signature arrays).
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(8 * int(cpus) if str(cpus).isdigit() else 256))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # Let the advisory size actually govern coalescing. With
        # the default parallelismFirst=true, AQE only shrinks to
        # defaultParallelism and ignores the advisory target — small
        # shuffles ran all 8×CPUs initial partitions (observed: 256
        # near-empty tasks per stage at bench scale; ~6% of the bench
        # was task-launch overhead). false is the setting the Spark
        # tuning docs themselves recommend; at corpus scale the 8 MiB
        # advisory yields far more partitions than cores, so cluster
        # parallelism is unaffected.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        # Let AQE re-optimize CACHED plan fragments too. With the
        # default (false), a persisted aggregate's InMemoryRelation is
        # built with the initial 8×CPU shuffle partitions and no
        # coalescing — dsir's doc_bucket cache build ran 256 near-empty
        # tasks (measured: 3.38 → 2.53 s best, same-window interleaved
        # A/B at sf0.1). The trade (the conf's reason for defaulting
        # false) is that a cache's output partitioning may no longer
        # match a downstream join's expectation, costing a re-shuffle —
        # none of this engine's cached frames are consumed
        # partitioning-sensitively (they feed broadcasts, aggregations,
        # or re-keyed joins). Scale-independent: governed by the same
        # advisory size as every other AQE decision.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Skip PySpark's per-Column-call origin capture. With the
        # default (true), EVERY wrapped Column operation pays a Python
        # stack walk plus THREE extra py4j round trips (conf.get +
        # PySparkCurrentOrigin.set/clear, ~0.2 ms each here) purely to
        # enrich error messages with the user-code line; measured
        # 10.5 s → 8.6 s of DataFrame-construction time across the
        # bench's 39 construct-timed queries (both A/B orders). Driver-
        # side and master-independent — not a local-mode tune. Flip to
        # true (extra_conf) when debugging a query's error context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
