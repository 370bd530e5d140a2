"""SparkSession factory tuned for the engine.

Scale posture: these configs are chosen so the same code runs on a
1000-executor cluster against ~100 TB — AQE handles post-shuffle partition
coalescing and skew-join splitting at runtime, broadcast threshold keeps
dimension joins shuffle-free, and Arrow makes the (rare) pandas-UDF path
batch-vectorized. Locally we default parallelism to the machine size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def env_flag(name: str) -> bool:
    """A boolean env flag. Only ``1``, ``true`` or ``yes`` (any case)
    turn it on, so ``=0``, ``=false`` and an empty value all mean off."""
    return os.environ.get(name, "").strip().lower() in ("1", "true", "yes")


# spellings of "the session timezone is UTC" accepted by the UTC-gated
# fast paths (statement-log Arrow frames, nested-timestamp tokens).
# ONE set — two hand-maintained copies classified 'Etc/GMT' differently
UTC_TZ_NAMES = frozenset({"UTC", "Etc/UTC", "GMT", "Etc/GMT", "+00:00", "Z"})


def session_tz_is_utc(spark: SparkSession | None = None) -> bool:
    """True when the (given or active) session's timeZone is UTC —
    get_spark pins it, so this is False only for foreign sessions."""
    s = spark or SparkSession.getActiveSession()
    if s is None:
        return False
    return s.conf.get("spark.sql.session.timeZone", "UTC") in UTC_TZ_NAMES


def get_spark(app_name: str = "cassandra-pmem-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    - AQE on: runtime coalescing of shuffle partitions + skew-join handling,
      the Spark analog of the reference's adaptive range-scan fan-out
      (service/StorageProxy.java:1939-2015).
    - UTC session timezone: deterministic timestamp semantics regardless of
      host zone (the reference stores epoch millis; TimestampType.java).
    - Arrow enabled for the pandas-UDF slow path.
    - ANSI off: CQL semantics are permissive (overflow wraps, bad casts are
      errors at *prepare* time, not row time); we validate up front instead.
    - Python workers start from ``worker_daemon``, which takes Spark's
      own zip archives off their path, so a task no longer re-reads them.
      The directory holding this package joins the workers' PYTHONPATH,
      so they find it whatever the driver's working directory.
    - No DataFrame call-site capture: with it on, every ``Column``
      method and ``F.*`` call makes ~4 extra py4j round trips to record
      the Python file:line in the JVM (pyspark.errors.utils._with_origin),
      which tripled a CQL statement's py4j calls. Spark errors raised
      from DataFrame code lose that Python context. A static conf, so
      it is set on the builder.
    - A codegen cache that holds a CQL session's generated classes. In
      local mode the driver and the executor each compile a body once
      (the cache keys on the class loader), and one cql_write session
      needs more entries than Spark's default of 100, so every session
      recompiled classes the previous one had compiled.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.python.daemon.module", "cassandra_pmem_spark.worker_daemon")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # ~110 entries per cql_write session (driver + executor copies)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if not env_flag("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    # a Spark Connect session (SPARK_REMOTE) is another class with no
    # local SparkContext: its server starts the workers
    if isinstance(spark, SparkSession):
        _add_package_to_worker_path(spark.sparkContext.environment)
    return spark


def _add_package_to_worker_path(env: dict) -> None:
    """Append the directory holding this package to the PYTHONPATH in
    ``env`` (a SparkContext's environment, which every Python function
    created after this carries to its workers). Entries already there,
    set through ``spark.executorEnv.PYTHONPATH``, stay first."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parts = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in parts:
        env["PYTHONPATH"] = os.pathsep.join(parts + [root])
