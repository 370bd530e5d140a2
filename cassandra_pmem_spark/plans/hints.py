"""Size-gated broadcast hints.

A forced ``F.broadcast(df)`` never falls back: if the frame turns out to
be hundreds of GB (TPC-H customer/supplier/part all scale linearly with
the scale factor), the driver collects it and OOMs. ``maybe_broadcast``
applies the hint only when Catalyst's own optimized-plan size estimate is
under a cap; otherwise the frame is left unhinted and AQE's *runtime*
statistics pick the join strategy — broadcast when the actual post-filter
size is small, shuffle-hash otherwise. Always-tiny frames (nation=25,
region=5 rows, 1-row scalar aggregates) keep plain ``F.broadcast``.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassandra_pmem_spark.session import env_flag

# Hint only below this planner-estimated size. Larger than the default
# spark.sql.autoBroadcastJoinThreshold (10 MB) because the planner's
# estimate for a filtered parquet scan is the full file size (filter
# selectivity is not modeled without CBO) — a dimension that estimates at
# 40 MB pre-filter is usually far smaller at runtime. AQE still has the
# final say: an unhinted join whose build side measures small at runtime
# converts to broadcast anyway.
DEFAULT_MAX_BYTES = 64 * 1024 * 1024

# Estimates memoized by the RAW logical-plan tree string: producing it runs
# neither the analyzer nor the optimizer, while the estimate itself costs an
# optimizer pass (~50-100 ms driver-side). Dimension frames are rebuilt with
# identical plans across queries and bench iterations, so the cache turns
# repeat estimation into a dict hit. The estimate depends only on the files
# and plan shape, not the session, so cross-session reuse is safe.
_SIZE_CACHE: dict[str, int | None] = {}
_SIZE_CACHE_CAP = 4096


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's estimated size of ``df``'s optimized plan in bytes
    (driver-side estimation — no job runs). None when the JVM plan is not
    reachable (e.g. Spark Connect); callers treat None as "unknown, don't
    force anything"."""
    try:
        key = df._jdf.queryExecution().logical().toString()
    except Exception:
        key = None
    if key is not None and key in _SIZE_CACHE:
        return _SIZE_CACHE[key]
    try:
        # py4j maps the scala BigInt to a Python int on some Spark builds
        # and a JavaObject on others; str() round-trips both
        size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        size = None
    if key is not None and len(_SIZE_CACHE) < _SIZE_CACHE_CAP:
        _SIZE_CACHE[key] = size
    return size


def maybe_broadcast(df: DataFrame, max_bytes: int = DEFAULT_MAX_BYTES) -> DataFrame:
    """Broadcast-hint ``df`` only if the planner thinks it is small."""
    size = plan_size_bytes(df)
    if size is not None and size <= max_bytes:
        return F.broadcast(df)
    return df


def unpersist_quietly(df: DataFrame) -> None:
    """Unpin a persisted frame; never fails (the Spark session may
    already be stopped when a finalizer or cache eviction runs)."""
    try:
        df.unpersist(blocking=False)
    except Exception:
        pass


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize a bounded intermediate and truncate its lineage —
    the shared primitive behind every iterative loop's per-round barrier
    and every reused small proxy frame (guide §8: decide with small
    rows).

    ``eager=False`` truncates the logical plan NOW (the returned frame
    plans as a LogicalRDD leaf, so loop plans stay flat) but computes at
    the frame's FIRST action — iterative loops exploit this to make
    their convergence probe the materializing job, one Spark job per
    round instead of a checkpoint barrier plus the probe (§1.2). The
    first action must be a full scan (an aggregate, a count — not a
    limit) or the blocks are only partially built.

    Default backend: ``localCheckpoint`` — executor-local blocks, no
    DFS round trip, the right call for bounded proxies on a single box.
    Fault posture: local checkpoint blocks are NOT replicated, so on a
    cluster an executor loss makes the frame unrecoverable mid-query
    (lineage is truncated — Spark fails the job rather than
    recomputing). For cluster deployments where that matters, set
    SPARK_GRAFT_RELIABLE_CHECKPOINT=1 (and optionally
    SPARK_GRAFT_CHECKPOINT_DIR, which must be cluster-visible storage —
    HDFS/S3): frames then go through ``checkpoint()``, surviving
    executor loss at the cost of a write to reliable storage. Same
    rows, same plans above the checkpoint boundary — an availability
    trade only (SCALE.md §r14)."""
    if env_flag("SPARK_GRAFT_RELIABLE_CHECKPOINT"):
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            sc.setCheckpointDir(
                os.environ.get(
                    "SPARK_GRAFT_CHECKPOINT_DIR",
                    os.path.join(tempfile.gettempdir(), "spark-graft-ckpt"),
                )
            )
        # persist first (the RDD.checkpoint contract's own recommendation):
        # the reliable-checkpoint file write runs as a follow-up job that
        # would otherwise RECOMPUTE the frame from lineage — persisting
        # makes it a cache read. The blocks are dropped once the
        # checkpoint files are the source of truth: now when eager, by
        # release_pin after the first action when lazy.
        df = df.persist()
        out = df.checkpoint(eager=eager)
        if eager:
            df.unpersist(blocking=False)
        else:
            out._checkpoint_pin = df
        return out
    return df.localCheckpoint(eager=eager)


def release_pin(df: DataFrame) -> None:
    """Drop the blocks a lazy reliable checkpoint (``materialize(...,
    eager=False)`` with SPARK_GRAFT_RELIABLE_CHECKPOINT) persisted to
    write its files. Call once the frame's first full action has run:
    the checkpoint is written by then, so nothing reads the blocks
    again. A no-op for every other frame, so the default
    localCheckpoint path plans exactly as before."""
    pin = getattr(df, "_checkpoint_pin", None)
    if pin is not None:
        unpersist_quietly(pin)


def ensure_scan_parallelism(df: DataFrame) -> DataFrame:
    """Repartition ``df`` up to the cluster's default parallelism when
    the scan yields fewer partitions — the guard for CPU-BOUND per-row
    stages (codec chains, corpus-wide explode passes) whose parallelism
    equals the scan's split count. A small table read as one parquet
    split would otherwise serialize the whole stage onto one core. At
    warehouse scale inputs carry many splits, so this is a no-op and
    the stage stays zero-Exchange; when it does fire, the shuffle moves
    only the raw input rows once, before the expensive work."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df
