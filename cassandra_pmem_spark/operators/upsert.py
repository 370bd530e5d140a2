"""Write-path emulation: upsert / LWW / tombstones / TTL (SURVEY §2.9).

The reference's INSERT/UPDATE are upserts with *cell-level* last-write-wins
by timestamp (cql3/statements/ModificationStatement.java:66; merge at read
time via db/rows/Rows.java). DELETE writes tombstones — partition, row,
range, or cell — that shadow older-timestamped data
(db/RangeTombstone.java, db/DeletionTime.java), and TTL'd cells expire at
read time (db/LivenessInfo.java, purge via db/partitions/PurgeFunction.java).

For a batch analytics engine these become *loader* transforms over a
mutation log DataFrame:

  data rows:       key cols…, value cols…, writetime, [expiry_ts]
  row tombstones:  key cols…, writetime
  range tombstones: pk cols…, ck_lo, ck_hi, writetime

Everything below is shuffle-based aggregation / anti-join — no collect(),
no Python row loop — so it scales linearly with cluster size. At 100 TB the
single shuffle on the primary key dominates; pre-bucketing the mutation log
by pk makes the groupBy/anti-join shuffle-free.

`lww_cell_aggs` is the per-cell aggregate list behind `upsert_lww_cells`.
The CQL statement path (cql/writes.py) appends its row-liveness max
(db/LivenessInfo.java) to the same list, so a row's cells and its
primary-key liveness reconcile in ONE groupBy — one shuffle, no join —
the way db/rows/Rows.java merges them in one pass. Its tombstones are
column expressions over that aggregate, not the joins below.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def upsert_lww_rows(
    mutations: DataFrame, key: Sequence[str], writetime_col: str = "writetime"
) -> DataFrame:
    """Row-granular last-write-wins: keep the newest row per primary key.

    Correct when every mutation writes the full row. Implemented as max_by
    (one hash-aggregate, map-side partial) rather than a window sort — at
    scale this is one shuffle with partial aggregation, not a per-partition
    sort. Ties broken arbitrarily-but-deterministically by struct order
    (the reference breaks cell ties by value bytes — Cell.java reconcile)."""
    value_cols = [c for c in mutations.columns if c not in key]
    packed = F.struct(F.col(writetime_col), *[F.col(c) for c in value_cols if c != writetime_col])
    agg = mutations.groupBy(*key).agg(F.max(packed).alias("__newest"))
    out = agg.select(
        *key,
        *[F.col(f"__newest.{c}").alias(c) for c in value_cols if c != writetime_col],
        F.col(f"__newest.{writetime_col}").alias(writetime_col),
    )
    return out


def lww_cell_aggs(
    value_cols: Sequence[str],
    writetime_col: str = "writetime",
    expiry_col: str | None = None,
) -> list:
    """The per-cell LWW aggregate expressions behind `upsert_lww_cells`:
    per column, the non-null value with the highest writetime
    (``max_by``) and that writetime as ``_writetime_{col}``; with
    ``expiry_col``, the winning cell's expiry as ``_expiry_{col}``.
    Exposed so a caller can fold further aggregates (the statement
    path's row liveness) into the SAME groupBy — one shuffle."""
    aggs = []
    for c in value_cols:
        wt = F.when(F.col(c).isNotNull(), F.col(writetime_col))
        aggs.append(F.max_by(F.col(c), wt).alias(c))
        aggs.append(F.max(wt).alias(f"_writetime_{c}"))
        if expiry_col is not None:
            aggs.append(F.max_by(F.col(expiry_col), wt).alias(f"_expiry_{c}"))
    return aggs


def upsert_lww_cells(
    mutations: DataFrame,
    key: Sequence[str],
    value_cols: Sequence[str],
    writetime_col: str = "writetime",
    expiry_col: str | None = None,
) -> DataFrame:
    """Cell-granular LWW: per column, the non-null value with the highest
    writetime wins — two writes touching disjoint columns both survive.

    This is the subtle one (SURVEY §7 risk register): a row-level
    row_number() dedup is WRONG here. Uses max_by(value, writetime) filtered
    to non-null cells, i.e. per-cell reconcile like db/rows/Cells.reconcile.
    Single hash aggregate; fully JVM-side. With ``expiry_col``, each
    surviving cell also carries its own expiry as ``_expiry_{col}`` (the
    liveness the TTL(col) selector reads — db/LivenessInfo.java)."""
    return mutations.groupBy(*key).agg(
        *lww_cell_aggs(value_cols, writetime_col, expiry_col)
    )


def apply_row_tombstones(
    data: DataFrame,
    tombstones: DataFrame,
    key: Sequence[str],
    writetime_col: str = "writetime",
    tombstone_writetime_col: str = "writetime",
) -> DataFrame:
    """Row/partition deletes: drop data rows whose key matches a tombstone
    with writetime >= the row's (tombstones shadow by timestamp —
    db/DeletionTime.java). Left-anti join on the key set; broadcast when the
    tombstone set is small (the common case), else shuffle-anti-join."""
    ts = tombstones.groupBy(*key).agg(
        F.max(tombstone_writetime_col).alias("__del_wt")
    )
    joined = data.join(ts, on=list(key), how="left")
    return joined.filter(
        F.col("__del_wt").isNull() | (F.col(writetime_col) > F.col("__del_wt"))
    ).drop("__del_wt")


def apply_range_tombstones(
    data: DataFrame,
    range_tombstones: DataFrame,
    partition_key: Sequence[str],
    clustering_col: str,
    writetime_col: str = "writetime",
) -> DataFrame:
    """Range deletes (db/RangeTombstoneList.java): drop rows whose clustering
    value falls inside [ck_lo, ck_hi] of a same-partition tombstone that is
    newer than the row. Join on partition key + range predicate; Spark plans
    this as a broadcast range join when the tombstone side is small."""
    rt = range_tombstones.select(
        *[F.col(c).alias(f"__rt_{c}") for c in partition_key],
        F.col("ck_lo"),
        F.col("ck_hi"),
        F.col(writetime_col).alias("__rt_wt"),
    )
    cond = (
        F.lit(True)
        & F.col(clustering_col).between(F.col("ck_lo"), F.col("ck_hi"))
        & (F.col(writetime_col) <= F.col("__rt_wt"))
    )
    for c in partition_key:
        cond = cond & (F.col(c) == F.col(f"__rt_{c}"))
    hit = data.join(rt, on=cond, how="left_anti")
    return hit


def filter_expired(
    data: DataFrame, expiry_col: str = "expiry_ts", now=None
) -> DataFrame:
    """TTL expiry at read time (db/LivenessInfo.java): rows with
    expiry_ts <= now vanish. `now` injectable for deterministic tests.
    Max TTL is 20 years in the reference (CASSANDRA-14092.txt)."""
    now = F.current_timestamp() if now is None else F.lit(now)
    return data.filter(F.col(expiry_col).isNull() | (F.col(expiry_col) > now))
