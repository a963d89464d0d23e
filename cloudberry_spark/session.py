"""SparkSession bootstrap.

The reference engine's session-level behavior (GUCs enabling multiphase
aggregation, predicate pushdown, runtime bloom filters, partition pruning
— /root/reference/src/backend/utils/misc/guc_gp.c:278,470,473) is all
Catalyst-native; this module just turns the right knobs on and pins
timezone/partition defaults so results are deterministic against the
DuckDB oracle.

Scale notes (targets a 1000-executor cluster even though tests run
local[32]):
- AQE handles runtime shuffle-partition coalescing, skew-join splitting
  and broadcast demotion — strictly better than the reference's static
  ``cdbpath_motion_for_join`` decisions.
- Runtime bloom-filter join == the reference's RuntimeFilter node
  (/root/reference/src/backend/executor/nodeRuntimeFilter.c:20).
- ``spark.sql.legacy.parquet.nanosAsLong`` lets us scan nanosecond
  parquet timestamps (the ``events`` fixture) without a driver-side
  rewrite; the catalog converts to TIMESTAMP with ``timestamp_micros``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Session-level SQL confs that are safe to (re)apply at runtime.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Respect the advisory partition size when coalescing instead of
    # maximizing parallelism (r13 opt, guide §2.2): with the default
    # (true), AQE deliberately keeps ~2x-cores post-shuffle partitions
    # even for KB-sized shuffles, so tiny-input plans pay 32-way task
    # launch per exchange — measured as the 8-cores-beats-32 inversion
    # on the K=1 spec suite (PERF_r12 scaling block; in-session A/B:
    # 11-query inversion list 8.27s -> 6.93s median). At real data
    # volumes partitions exceed the 64MB advisory size and this setting
    # changes nothing — it is scale-adaptive, not a local tuning.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS); read as long, convert in catalog.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for any pandas_udf/mapInPandas path (the only Python hot paths).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Generated class names leave out the whole-stage codegen id. AQE
    # numbers codegen stages in the order it plans query stages, which
    # varies between runs of one query, so an unchanged stage came back
    # under a new class name and missed the codegen cache: every warm
    # run of dedup_incremental_index_probe over the sf0.001 fixture
    # recompiled 4-8 such classes.
    # Plans still show the ids.
    "spark.sql.codegen.useIdInClassName": "false",
}


#: Confs that query results depend on: timestamp casts and truncations
#: follow the session time zone, which the DuckDB oracles assume is UTC,
#: and ``events`` cannot be scanned without nanosAsLong.
#: Failing to set one of these raises; every other conf in
#: RUNTIME_CONFS is an optimization or compat knob and stays best-effort.
REQUIRED_CONFS: frozenset[str] = frozenset(
    {"spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong"}
)

#: Janino classes Spark's codegen cache keeps
#: (``spark.sql.codegen.cache.maxEntries``, a static conf, 100 by
#: default). Same reason as the JIT code cache below: a long-lived
#: session runs many different plans. One cold pass of three pipeline
#: operators (dml_partition_confined_update, ivm_incremental_refresh,
#: dedup_incremental_index_probe) over an sf0.01 fixture compiled about
#: 100 classes, driver and executor copies counted. With 100 entries
#: and those queries run over and over in one order, LRU evicted most
#: classes before their next use: warm passes recompiled 28-60 of them
#: (about 1.6 s of compile time per pass). With 1000 entries they
#: recompiled 0-4, and 0 once class names dropped the stage id
#: (``useIdInClassName`` above).
CODEGEN_CACHE_ENTRIES = 1000


def require_conf(spark: SparkSession, key: str, value: str) -> None:
    """Set a conf that query results depend on, or raise."""
    try:
        spark.conf.set(key, value)
    except Exception as ex:
        raise RuntimeError(
            f"cannot set {key}={value}, which query results depend on"
        ) from ex


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (e.g. the driver's).

    Shuffle partitions are the core count, at least 8, unless the
    session set its own: Spark's default of 200 ran a few-row stateful
    stream stage as 200 tasks (stream_dedup_watermark: 30-38 s vs 2 s).
    """
    for k, v in RUNTIME_CONFS.items():
        if k in REQUIRED_CONFS:
            require_conf(spark, k, v)
            continue
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # not modifiable in this deployment; a knob, not a result
    key = "spark.sql.shuffle.partitions"
    try:
        if spark.conf.get(key, None) is None:  # None only while unset
            spark.conf.set(key, str(max(spark.sparkContext.defaultParallelism, 8)))
    except Exception:
        pass  # a knob, as above
    return spark


def get_session(app_name: str = "cloudberry-spark") -> SparkSession:
    """Build (or fetch) the engine session.

    ``SPARK_GRAFT_CPUS`` sets local parallelism; ``configure_session``
    sets shuffle partitions from it.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    # JIT code cache: a long-lived analytics session compiles one or more
    # Janino classes per distinct plan; a few hundred distinct queries
    # overflow the JVM default (240 MB), after which freshly generated
    # code runs INTERPRETED — measured here as a uniform ~5x collapse of
    # the whole bench's tail (ds_real suite 488s -> 119s cold once the
    # cache is sized for the workload; see OPTIMIZATION_r12.md §1). Same
    # knob a production cluster sets for any plan-diverse workload.
    java_opts = os.environ.get(
        "SPARK_GRAFT_DRIVER_JAVA_OPTS",
        "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # Reliable-checkpoint dir for iterative operators (scratch.py): on a
    # cluster point this at HDFS/S3 so truncated lineage survives
    # executor loss; unset => localCheckpoint fallback (local dev).
    ckpt = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt and spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(ckpt)
    return configure_session(spark)
