"""Coverage queries for the remaining SURVEY §2 surfaces: static columns,
collection mutations, UDA, virtual tables, CSV COPY round-trip, and the
Spark-surplus UDTF (explode) / ROLLUP constructs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_pmem_spark.catalog import TABLES, load_table
from cassandra_pmem_spark.operators.collections import (
    list_append,
    list_prepend,
    map_put,
    normalize_set,
    sorted_entries,
)
from cassandra_pmem_spark.operators.uda import weighted_avg_cents_uda
from cassandra_pmem_spark.sources.csv_copy import copy_from, copy_to
from cassandra_pmem_spark.sources.virtual import system_tables, system_tables_oracle_sql

_SCRATCH = "/root/repo/.scratch"


def cql_static_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static column semantics (ColumnMetadata.Kind.STATIC,
    schema/ColumnMetadata.java:61-67): one value per partition, visible on
    every row — modeled as first_value over (partition by pk order by ck).
    Here: each user's first event_type in clustering order (ts, event_id)."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("static_type", F.first("event_type").over(w))
        .groupBy("user_id", "static_type")
        .agg(F.count("*").alias("n_events"))
    )


def cql_collection_mutations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection mutation emulation (cql3/Operation.java:155-497;
    Lists.Appender:408 / Prepender, Sets.Adder:322, Maps.SetterByKey:349):
    build list/set/map per user from the events log, then apply
    prepend/append, set-normalize, and map-put — all JVM-side built-ins."""
    ev = load_table(spark, "events", sf_dir)
    seq = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
        lambda x: x["event_type"],
    )
    base = ev.groupBy("user_id").agg(
        seq.alias("seq"), F.collect_set("event_type").alias("rawset")
    )
    # Driver-facing outputs are scalar: the driver's pandas canonicalizer
    # cannot sort array-typed cells, so the deterministically-ordered
    # collections are joined to strings at the query boundary.
    lists = base.select(
        "user_id",
        F.array_join(
            list_prepend(
                F.array(F.lit("start")),
                list_append(F.col("seq"), F.array(F.lit("end"))),
            ),
            ",",
        ).alias("list_col"),
        F.array_join(normalize_set("rawset"), ",").alias("set_col"),
    )
    cents = F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100).cast("long")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.max_by(cents, "event_id").alias("cents")
    )
    m = F.map_from_entries(F.collect_list(F.struct("event_type", "cents")))
    maps = per_type.groupBy("user_id").agg(m.alias("m"))
    m2 = map_put(F.col("m"), F.create_map(F.lit("bonus"), F.lit(100).cast("long")))
    maps = maps.select(
        "user_id",
        F.array_join(
            F.transform(
                sorted_entries(m2),
                lambda e: F.concat(e["key"], F.lit(":"), e["value"].cast("string")),
            ),
            ",",
        ).alias("map_col"),
    )
    return lists.join(maps, "user_id")


def cql_uda_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE AGGREGATE analog (UDAggregate.java:44): weighted average of
    order price (weight = order month) per customer, folded in exact
    integer cents via applyInPandas (operators/uda.py)."""
    orders = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_custkey") < 100)
        .select("o_custkey", "o_totalprice", F.month("o_orderdate").cast("long").alias("w"))
    )
    uda = weighted_avg_cents_uda(["o_custkey"], "o_totalprice", "w")
    return uda(orders)


def virtual_system_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Virtual table read (AbstractVirtualTable.select:76,89) — the
    system_schema.tables-style metadata view, built programmatically."""
    return system_tables(spark)


def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY TO + COPY FROM round-trip (pylib/cqlshlib/copyutil.py): export a
    slice of orders to CSV, re-import with the declared schema, aggregate.
    Values survive exactly (doubles via shortest-round-trip repr)."""
    path = os.path.join(_SCRATCH, "csv_roundtrip")
    orders = load_table(spark, "orders", sf_dir).filter(F.col("o_orderkey") < 500)
    copy_to(orders, path, num_files=4)
    back = copy_from(spark, path, TABLES["orders"].schema)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    )


def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL export + declared-schema re-import of the documents corpus
    (sources/jsonl.py) — text survives JSON escaping exactly; aggregate by
    (lang, source) proves the round trip."""
    from cassandra_pmem_spark.sources.jsonl import read_jsonl, write_jsonl

    path = os.path.join(_SCRATCH, "jsonl_roundtrip")
    docs = load_table(spark, "documents", sf_dir)
    write_jsonl(docs, path, num_files=4)
    back = read_jsonl(spark, path, TABLES["documents"].schema)
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("chars"),
        F.sum(F.length("text")).alias("text_chars"),
    )


def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write + read round trip — Spark's second first-class columnar
    format (zlib-compressed stripes, predicate pushdown, column pruning
    — the same scan properties the parquet tier gets). Export a
    lineitem slice to ORC, re-read it, and aggregate with a filter that
    exercises pushdown into the ORC reader. The oracle computes the
    identical aggregate straight from parquet — equality proves the
    format round trip value-exact."""
    path = os.path.join(_SCRATCH, "orc_roundtrip")
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_orderkey") < 2000
    )
    li.write.mode("overwrite").option("compression", "zlib").orc(path)
    back = spark.read.orc(path).filter(F.col("l_quantity") > 10)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
            "cents"
        ),
    )


def source_arrow_ipc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC (Feather v2) round trip — the columnar interchange
    format Spark's own Pandas UDFs speak on the wire: each Arrow batch
    of documents serializes to an IPC stream buffer (pyarrow), reads
    back, and every value is verified. Emits per-doc md5 of the text
    AFTER the round trip, so the oracle (md5 straight off parquet)
    proves byte-exactness through the IPC encoder/decoder. mapInPandas,
    zero shuffles — at 100 TB this is the executor-local interchange
    shape (e.g. handing batches to a GPU tokenizer process)."""
    import hashlib

    import pandas as pd

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")

    def run(batches):
        import pyarrow as pa
        import pyarrow.ipc as ipc

        for pdf in batches:
            table = pa.Table.from_pandas(pdf, preserve_index=False)
            sink = pa.BufferOutputStream()
            with ipc.new_stream(sink, table.schema) as w:
                w.write_table(table)
            back = ipc.open_stream(sink.getvalue()).read_all()
            if not back.equals(table):
                raise ValueError("Arrow IPC round trip mismatch")
            out = back.to_pandas()
            yield pd.DataFrame(
                {
                    "doc_id": out["doc_id"].astype("int64"),
                    "text_md5": [
                        hashlib.md5(t.encode("utf-8")).hexdigest()
                        for t in out["text"]
                    ],
                }
            )

    return docs.mapInPandas(run, "doc_id BIGINT, text_md5 STRING")


def source_sstable_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Cassandra 4.0 "big"-format SSTable source/sink
    (sources/sstable.py — byte layout per UnfilteredSerializer.java:
    99-262, Cell.java:170-215, VIntCoding.java, ColumnIndex.java:
    116-128, MetadataSerializer.java:60-111; write path =
    CqlBulkRecordWriter analog, read path = CqlInputFormat.getSplits
    analog). Exercises, oracle-pinned:

    - 'data': the full events table (10k rows at sf0.01) bulk-written
      as EIGHT token-range-disjoint sstables (range partition by
      Murmur3 token, one sstable per task), then read back through
      Index.db-planned byte-ranged splits and Arrow batches — every
      value of every type (bigint/timestamp/string/double) must
      round-trip the wire format bit-exactly against parquet.
    - 'vis': single-sstable merge semantics from a hand-built sstable:
      a TTL'd row read before vs after expiry, a row deletion
      shadowing older cells, a partition-level tombstone, and a cell
      tombstone leaving its row's other cells live (PurgeFunction /
      shadowing direction).
    - 'meta': sstable count and total row/partition bookkeeping from
      the write manifests.
    """
    import shutil

    from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta
    from cassandra_pmem_spark.sources.sstable import (
        DELETION_TIME_EPOCH,
        TIMESTAMP_EPOCH,
        CellValue,
        PartitionData,
        RowData,
        SSTableSchema,
        _MARSHAL,
        bulk_write_sstables,
        read_sstables,
        write_sstable,
    )

    out_dir = os.path.join(_SCRATCH, "sstable_roundtrip")
    shutil.rmtree(out_dir, ignore_errors=True)

    # CQL's timestamp type stores MILLIS (TimestampType.java) — the
    # sstable column is declared at that precision, so the micros in
    # the raw events feed truncate on the way in (both engines below)
    events = load_table(spark, "events", sf_dir).select(
        "user_id",
        F.date_trunc("millisecond", F.col("ts")).alias("ts"),
        "event_id", "event_type", "value", "props",
    )
    meta = TableMeta(
        "events_sst",
        events.schema,
        partition_key=("user_id",),
        clustering=(ClusteringColumn("ts"), ClusteringColumn("event_id")),
    )
    ts0 = TIMESTAMP_EPOCH + 1_000_000
    # chunked-LZ4 compressed Data.db + CompressionInfo.db — the
    # reference's default on-disk shape; split positions stay in
    # uncompressed coordinates and map through the chunk offsets
    manifests = bulk_write_sstables(
        events, meta, out_dir, sstables=8, timestamp_micros=ts0,
        compression=True,
    )
    back = read_sstables(spark, out_dir, split_bytes=96 * 1024)
    data = back.select(
        F.lit("data").alias("src"),
        F.col("key0").alias("user_id"),
        F.col("ck1").alias("event_id"),
        F.date_format(F.col("ck0"), "yyyy-MM-dd HH:mm:ss.SSS").alias("ts_s"),
        F.col("event_type"),
        F.col("value"),
        F.col("props"),
    )

    # -- 'vis': hand-built sstable with deletions and TTL ----------------
    vs = SSTableSchema(
        ["k"], [_MARSHAL + "Int32Type"], ["c"], [_MARSHAL + "Int32Type"],
        [("v", _MARSHAL + "UTF8Type"), ("w", _MARSHAL + "UTF8Type")],
    )
    e0 = DELETION_TIME_EPOCH
    live = RowData(clustering=[1], liveness_timestamp=ts0,
                   cells={"v": CellValue("live", ts0),
                          "w": CellValue("keep", ts0)})
    ttl_row = RowData(clustering=[2], liveness_timestamp=ts0,
                      liveness_ttl=60, liveness_expiration=e0 + 60,
                      cells={"v": CellValue("fades", ts0, ttl=60,
                                            local_deletion_time=e0 + 60)})
    shadowed = RowData(clustering=[3], liveness_timestamp=ts0,
                       deletion=(ts0 + 5, e0 + 5),
                       cells={"v": CellValue("old", ts0)})
    celltomb = RowData(clustering=[4], liveness_timestamp=ts0,
                       cells={"v": CellValue(None, ts0 + 1,
                                             local_deletion_time=e0 + 1,
                                             is_tombstone=True),
                              "w": CellValue("alive", ts0)})
    # partitions must land in token order: int32 tokens for 1 and 2
    from cassandra_pmem_spark.functions.murmur3 import (
        murmur3_token_bytes_py,
    )

    parts = sorted(
        [
            PartitionData(key_values=[1], rows=[live, ttl_row, shadowed,
                                                celltomb]),
            PartitionData(key_values=[2], deletion=(ts0 + 9, e0 + 9),
                          rows=[RowData(clustering=[1],
                                        liveness_timestamp=ts0,
                                        cells={"v": CellValue("gone", ts0)})]),
        ],
        key=lambda p: murmur3_token_bytes_py(vs.key_bytes(p.key_values)),
    )
    vis_dir = os.path.join(out_dir, "vis")
    write_sstable(vis_dir, 1, vs, parts)

    def vis_rows(now_s: int, tag: str):
        df = read_sstables(spark, vis_dir, now_seconds=now_s)
        return df.select(
            F.lit(tag).alias("src"),
            F.col("key0").cast("long").alias("user_id"),
            F.col("ck0").cast("long").alias("event_id"),
            F.lit(None).cast("string").alias("ts_s"),
            F.col("v").alias("event_type"),
            F.lit(None).cast("double").alias("value"),
            F.col("w").alias("props"),
        )

    before = vis_rows(e0 + 59, "vis_before")   # TTL row still live
    after = vis_rows(e0 + 60, "vis_after")     # TTL row expired

    # sstableloader / nodetool-import analog: the same sstable loaded
    # into a DDL table becomes base history a normal CQL SELECT reads
    # (load-time read resolves TTL/tombstones at "far future", so the
    # loaded set equals the vis_after view)
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    ldb = CqlDatabase(spark)
    ldb.execute("CREATE KEYSPACE lks WITH REPLICATION = {'class': 'SimpleStrategy'}")
    ldb.execute("USE lks")
    ldb.execute("CREATE TABLE vt (k int, c int, v text, w text, PRIMARY KEY (k, c))")
    ldb.load_sstables("vt", vis_dir)
    loaded = ldb.execute("SELECT k, c, v, w FROM vt").select(
        F.lit("loaded").alias("src"),
        F.col("k").cast("long").alias("user_id"),
        F.col("c").cast("long").alias("event_id"),
        F.lit(None).cast("string").alias("ts_s"),
        F.col("v").alias("event_type"),
        F.lit(None).cast("double").alias("value"),
        F.col("w").alias("props"),
    )

    meta_rows = spark.createDataFrame(
        [(
            "meta",
            len(manifests),
            sum(m["rows"] for m in manifests),
            None, None, None, None,
        )],
        data.schema,
    )
    return (
        data.unionByName(before)
        .unionByName(after)
        .unionByName(loaded)
        .unionByName(meta_rows)
    )


def _sstable_roundtrip_oracle() -> str:
    from cassandra_pmem_spark.functions.murmur3 import (
        murmur3_token_subquery,
    )

    # the meta row's sstable count = NON-EMPTY fixed token buckets:
    # the writer buckets by floor((token/2^64 + 0.5) * 8), and the
    # oracle recomputes bucket occupancy with the DuckDB murmur3 twin
    # (same IEEE-754 double ops in the same order) — at tiny SFs some
    # of the 8 even ranges hold no users and get no sstable
    buckets = (
        "SELECT COUNT(DISTINCT LEAST(7, GREATEST(0, CAST(FLOOR("
        "(CAST(token AS DOUBLE) / 18446744073709551616.0 + 0.5) * 8"
        ") AS INT)))) FROM "
        + murmur3_token_subquery("events", "user_id", ["user_id"])
    )
    return f"""
SELECT src, user_id, event_id, ts_s, event_type, value, props FROM (
  SELECT 'data' AS src, user_id, event_id,
         strftime(date_trunc('milliseconds', ts),
                  '%Y-%m-%d %H:%M:%S.%g') AS ts_s,
         event_type, value, props
  FROM events
  UNION ALL
  -- before expiry: TTL row live; row-deletion shadows c=3's cells but
  -- partition 2 is wiped by its partition tombstone; c=4 keeps w
  SELECT * FROM (VALUES
    ('vis_before', 1, 1, NULL, 'live',  CAST(NULL AS DOUBLE), 'keep'),
    ('vis_before', 1, 2, NULL, 'fades', NULL, NULL),
    ('vis_before', 1, 4, NULL, NULL,    NULL, 'alive'),
    ('vis_after',  1, 1, NULL, 'live',  NULL, 'keep'),
    ('vis_after',  1, 4, NULL, NULL,    NULL, 'alive'),
    ('loaded',     1, 1, NULL, 'live',  NULL, 'keep'),
    ('loaded',     1, 4, NULL, NULL,    NULL, 'alive')
  ) t(src, user_id, event_id, ts_s, event_type, value, props)
  UNION ALL
  SELECT 'meta', ({buckets}), count(*), NULL, NULL, NULL, NULL FROM events
)
"""


_SSTABLE_ORACLE = _sstable_roundtrip_oracle()


def source_sstable_version_interop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-version SSTable read (BigFormat.java:153-163 BigVersion
    feature matrix; earliest_supported_version = ma at :121): the same
    event slice is bulk-written FOUR times — as public 4.0 GA `nb`
    (adds the trailing nullable originatingHostId in StatsMetadata),
    as the checkout's current `na`, as 3.x-era `md` (no metadata
    checksums, old bloom word layout, no pendingRepair/isTransient/
    maxCompressedLength), and as `ma` (additionally no commit-log
    lower bound / intervals) — and each directory reads back through
    the same version-dispatched readers. Compression on, so the
    CompressionInfo gate is exercised too. All four reads must agree
    bit-exactly with parquet."""
    import shutil

    from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta
    from cassandra_pmem_spark.sources.sstable import (
        TIMESTAMP_EPOCH,
        bulk_write_sstables,
        read_sstables,
    )

    events = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("user_id") < 300)
        .select(
            "user_id",
            F.date_trunc("millisecond", F.col("ts")).alias("ts"),
            "event_id", "event_type", "value",
        )
    )
    meta = TableMeta(
        "events_ver",
        events.schema,
        partition_key=("user_id",),
        clustering=(ClusteringColumn("ts"), ClusteringColumn("event_id")),
    )
    ts0 = TIMESTAMP_EPOCH + 1_000_000
    # the four version writes are EAGER, INDEPENDENT Spark jobs over
    # the same slice: persist it (one scan, not four) and submit the
    # jobs from driver threads so they overlap — wall time becomes
    # ~max(write) + the union read, not the sum of four writes (the
    # standard in-application job-parallelism pattern; each job is 4
    # bucket tasks, so four jobs fill the local[32] executor)
    events = events.persist()
    versions = ("nb", "na", "md", "ma")
    dirs = {}
    for ver in versions:
        out_dir = os.path.join(_SCRATCH, f"sstable_ver_{ver}")
        shutil.rmtree(out_dir, ignore_errors=True)
        dirs[ver] = out_dir

    def _write(ver: str) -> None:
        bulk_write_sstables(
            events, meta, dirs[ver], sstables=4, timestamp_micros=ts0,
            compression=True, version=ver,
        )

    from concurrent.futures import ThreadPoolExecutor

    try:
        with ThreadPoolExecutor(len(versions)) as pool:
            for fut in [pool.submit(_write, v) for v in versions]:
                fut.result()
    finally:
        # the reads run off the sstables, not the slice — and a failed
        # write must not leave the cache pinned for the session
        events.unpersist()
    outs = [
        read_sstables(spark, dirs[ver], split_bytes=96 * 1024).select(
            F.lit(ver).alias("ver"),
            F.col("key0").alias("user_id"),
            F.col("ck1").alias("event_id"),
            F.date_format(F.col("ck0"), "yyyy-MM-dd HH:mm:ss.SSS").alias("ts_s"),
            F.col("event_type"),
            F.col("value"),
        )
        for ver in versions
    ]
    df = outs[0]
    for o in outs[1:]:
        df = df.unionByName(o)
    return df


_SSTABLE_VERSION_INTEROP_ORACLE = """
SELECT v.ver, e.user_id, e.event_id,
       strftime(date_trunc('milliseconds', e.ts),
                '%Y-%m-%d %H:%M:%S.%g') AS ts_s,
       e.event_type, e.value
FROM events e
CROSS JOIN (VALUES ('nb'), ('na'), ('md'), ('ma')) v(ver)
WHERE e.user_id < 300
"""


def source_sstable_counter_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter columns through the sstable wire format: per-user event
    counts bulk-written as COUNTER cells — each value a single-global-
    shard CounterContext blob (CounterContext.createGlobal:142-147;
    header + (CounterId, clock, count) shard, :36-82) — and read back
    as the shard-count sum (CounterContext.total:570-576). The oracle
    recomputes the counts from parquet, so the context encode/decode
    must be value-exact."""
    import shutil

    from cassandra_pmem_spark.catalog import TableMeta
    from cassandra_pmem_spark.sources.sstable import (
        bulk_write_sstables,
        read_sstables,
    )

    out_dir = os.path.join(_SCRATCH, "sstable_counters")
    shutil.rmtree(out_dir, ignore_errors=True)
    agg = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("user_id") < 500)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )
    meta = TableMeta(
        "hits", agg.schema, partition_key=("user_id",),
        cql_types=(("n", "counter"),),
    )
    bulk_write_sstables(agg, meta, out_dir, sstables=2, compression=True)
    return (
        read_sstables(spark, out_dir)
        .select(F.col("key0").alias("user_id"), F.col("n"))
        .orderBy("user_id")
    )


def source_sstable_wide_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-sliced reads through the WIDE-partition promoted
    column index (ColumnIndex.java:105-266 block building;
    RowIndexEntry.IndexedEntry:525-540; seek =
    AbstractSSTableIterator.IndexState / ClusteringIndexSliceFilter
    direction): events bucket into 8 partitions of ~12.5k rows each
    (well past the 64 KB column_index_size, so every Index.db entry
    carries a real promoted index), then each bucket is point-read
    with ck_bounds=(user 100, user 119) — the trace must prove BLOCK
    seeking (fewer blocks read than exist), and every returned value
    must match the parquet recomputation."""
    from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta
    from cassandra_pmem_spark.sources.sstable import (
        bulk_write_sstables,
        sstable_point_read,
    )

    out_dir = os.path.join(_SCRATCH, "sstable_wide")
    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    ev = (
        load_table(spark, "events", sf_dir)
        .select(
            (F.col("user_id") % 8).alias("bucket"),
            "user_id", "event_id", "value",
        )
    )
    meta = TableMeta(
        "events_wide", ev.schema, partition_key=("bucket",),
        clustering=(ClusteringColumn("user_id"), ClusteringColumn("event_id")),
    )
    # 1 KB blocks so the partitions are wide-indexed at EVERY test SF
    # (at 100 TB the 64 KB default gives the same shape for free)
    bulk_write_sstables(
        ev, meta, out_dir, sstables=2,
        timestamp_micros=1442880000000001, compression=True,
        column_index_size=1024,
    )
    rows: list[tuple] = []
    trace: dict = {}
    for bucket in range(8):
        for r in sstable_point_read(
            out_dir, [bucket], ck_bounds=((100,), (119,)), _trace=trace
        ):
            rows.append((bucket, r["ck0"], r["ck1"], r["value"]))
    # seek proof: fewer blocks read than exist (a slice fully outside
    # the data legitimately reads ZERO blocks — e.g. the tiny sf where
    # no user falls in [100, 119])
    seek_ok = (
        trace["index_blocks_total"] > 1
        and trace["index_blocks_read"] < trace["index_blocks_total"]
    )
    rows.append((-1, int(seek_ok), True, None))
    from pyspark.sql import types as _T

    schema = _T.StructType([
        _T.StructField("bucket", _T.LongType()),
        _T.StructField("user_id", _T.LongType()),
        _T.StructField("event_id", _T.LongType()),
        _T.StructField("value", _T.DoubleType()),
    ])
    return spark.createDataFrame(
        [(int(b), int(u), int(e) if e is not None else None,
          float(v) if v is not None else None)
         for b, u, e, v in
         [(r[0], r[1], r[2], r[3]) if r[0] >= 0
          else (r[0], r[1], 1 if r[2] else 0, None) for r in rows]],
        schema,
    )


_SSTABLE_WIDE_SLICE_ORACLE = """
SELECT user_id % 8 AS bucket, user_id, event_id, value
FROM events WHERE user_id BETWEEN 100 AND 119
UNION ALL
SELECT -1, 1, 1, NULL
"""


# inclusive Murmur3 token range covering ~a quarter of the ring
# ([-2^62, 0] of the uniform [-2^63, 2^63) token space) — deterministic,
# so the oracle's DuckDB murmur3 twin selects the exact same users
_PRUNED_SCAN_LO = -(1 << 62)
_PRUNED_SCAN_HI = 0


def source_sstable_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-range-pruned DISTRIBUTED sstable scan — the
    CqlInputFormat.getSplits range-intersection analog
    (CqlInputFormat.java:129-175; sources/sstable.py
    plan_splits_pruned): events bulk-write as FOUR token-range-disjoint
    sstables, then read back with token_range=[-2^62, 0], which covers
    ~25% of the ring. Index.db entries are (token, key)-ordered, so the
    planner bisects to the covered slice (O(log n) Murmur3 probes) and
    plans splits ONLY over those bytes — sstables whose range misses
    the filter plan zero splits and are never opened. The driver-side
    trace below re-runs the same planner and asserts that whole
    sstables were pruned and fewer partitions were selected than
    exist; the oracle recomputes the selected-user set with the DuckDB
    murmur3 twin, so the returned VALUES prove the pruning selected
    exactly the covered rows."""
    import shutil

    from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta
    from cassandra_pmem_spark.sources.sstable import (
        TIMESTAMP_EPOCH,
        bulk_write_sstables,
        data_files,
        open_sstable,
        plan_splits,
        plan_splits_pruned,
        read_sstables,
    )

    out_dir = os.path.join(_SCRATCH, "sstable_pruned")
    shutil.rmtree(out_dir, ignore_errors=True)
    events = load_table(spark, "events", sf_dir).select(
        "user_id",
        F.date_trunc("millisecond", F.col("ts")).alias("ts"),
        "event_id", "event_type", "value",
    )
    meta = TableMeta(
        "events_pruned",
        events.schema,
        partition_key=("user_id",),
        clustering=(ClusteringColumn("ts"), ClusteringColumn("event_id")),
    )
    bulk_write_sstables(
        events, meta, out_dir, sstables=4,
        timestamp_micros=TIMESTAMP_EPOCH + 1_000_000, compression=True,
    )
    rng = (_PRUNED_SCAN_LO, _PRUNED_SCAN_HI)
    # trace: the same planner the read tasks run, driver-side — prove
    # whole sstables plan zero splits and the entry slice shrank
    split_bytes = 96 * 1024
    all_splits = sel_splits = tot_entries = sel_entries = 0
    empty_sstables = 0
    for path in data_files(out_dir):
        sst = open_sstable(path)
        idx, dlen = sst.read("Index.db"), sst.data_length
        all_splits += len(plan_splits(idx, dlen, split_bytes))
        pruned, n, nsel = plan_splits_pruned(idx, dlen, split_bytes, rng)
        sel_splits += len(pruned)
        tot_entries += n
        sel_entries += nsel
        if not pruned:
            empty_sstables += 1
    # the 4 sstables are token-range-disjoint and [-2^62, 0] spans the
    # 2nd quartile: at least one sstable must prune away ENTIRELY, and
    # both the split and partition counts must shrink
    assert empty_sstables >= 1, "no sstable was fully pruned"
    assert 0 < sel_splits < all_splits, (sel_splits, all_splits)
    assert 0 < sel_entries < tot_entries, (sel_entries, tot_entries)

    back = read_sstables(
        spark, out_dir, split_bytes=split_bytes, token_range=rng
    )
    return (
        back.groupBy(F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.countDistinct(F.col("key0")).alias("users"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .orderBy("event_type")
    )


def _pruned_scan_oracle() -> str:
    from cassandra_pmem_spark.functions.murmur3 import (
        murmur3_token_subquery,
    )

    return (
        "SELECT event_type, COUNT(*) AS n, "
        "COUNT(DISTINCT user_id) AS users, "
        "CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents FROM "
        + murmur3_token_subquery(
            "events", "user_id", ["user_id", "event_type", "value"]
        )
        + f" WHERE token >= {_PRUNED_SCAN_LO} AND token <= {_PRUNED_SCAN_HI}"
        " GROUP BY event_type ORDER BY event_type"
    )


def source_sstable_pointread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BigTableReader single-partition path (sources/sstable.py
    sstable_point_read): bloom filter consult -> index summary seek ->
    at most one minIndexInterval of Index.db entries -> one ranged
    Data.db read. The nation table (25 partitions) is flushed to
    compressed sstables; present keys return their rows, absent keys
    return nothing, and the trace proves the bloom short-circuits at
    least one absent probe without touching the index (the engine's
    bloom is murmur3-128-exact, so skip behavior is deterministic)."""
    from cassandra_pmem_spark.catalog import TableMeta
    from cassandra_pmem_spark.sources.sstable import (
        bulk_write_sstables,
        sstable_point_read,
    )

    out_dir = os.path.join(_SCRATCH, "sstable_pointread")
    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    nation = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    meta = TableMeta(
        "nation_sst", nation.schema, partition_key=("n_nationkey",)
    )
    bulk_write_sstables(
        nation, meta, out_dir, sstables=2,
        timestamp_micros=1442880000000001, compression=True,
    )
    rows: list[tuple] = []
    for k in (0, 7, 13, 24):          # present partitions
        for r in sstable_point_read(out_dir, [k]):
            rows.append(("hit", k, r["n_name"], int(r["n_regionkey"])))
    trace: dict = {}
    for k in (100, 999, 12345):       # absent partitions
        got = sstable_point_read(out_dir, [k], _trace=trace)
        rows.append(("miss", k, None, len(got)))
    # the bloom short-circuited at least one absent probe entirely
    rows.append(("bloom", trace["bloom_skips"] > 0, None, 0))
    from pyspark.sql import types as _T

    schema = _T.StructType(
        [
            _T.StructField("src", _T.StringType()),
            _T.StructField("k", _T.StringType()),
            _T.StructField("n_name", _T.StringType()),
            _T.StructField("x", _T.IntegerType()),
        ]
    )
    return spark.createDataFrame(
        [(s, str(k), n, x) for s, k, n, x in rows], schema
    )


_SSTABLE_POINTREAD_ORACLE = """
SELECT 'hit' AS src, CAST(n_nationkey AS VARCHAR) AS k, n_name,
       CAST(n_regionkey AS INT) AS x
FROM nation WHERE n_nationkey IN (0, 7, 13, 24)
UNION ALL
SELECT 'miss', CAST(k AS VARCHAR), NULL, 0
FROM (VALUES (100), (999), (12345)) t(k)
UNION ALL
SELECT 'bloom', 'True', NULL, 0
"""


def source_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout demonstration (sources/zorder.py — the
    Delta/Iceberg OPTIMIZE ZORDER BY analog for multi-dim file
    skipping): interleave (user_id, hour) bits into a 32-bit Morton
    code with pure codegen bit arithmetic and report, per 256th of the
    Z-range, the count plus the min/max rectangle each Z-bucket covers
    in BOTH dimensions — the footer-stats locality that lets parquet
    prune files for filters on EITHER column. The oracle replays the
    identical mask-shift spread steps (sources/zorder.morton_sql), so
    equality proves the interleave bit-exact."""
    from cassandra_pmem_spark.sources.zorder import morton_code

    ev = load_table(spark, "events", sf_dir)
    # 8-bit dims so the fixture's value ranges fill the code space:
    # each Z-bucket (top 8 of the 16 interleaved bits) then covers a
    # 16×16 rectangle — narrow in BOTH dimensions at once.
    a = F.col("user_id").cast("long").bitwiseAND(F.lit(0xFF))
    b = (
        F.floor(F.unix_timestamp("ts") / 3600)
        .cast("long")
        .bitwiseAND(F.lit(0xFF))
    )
    coded = ev.select(
        a.alias("a8"),
        b.alias("b8"),
        F.shiftright(morton_code(a, b), 8).alias("zbucket"),
    )
    return coded.groupBy("zbucket").agg(
        F.count("*").alias("n"),
        F.min("a8").alias("a_min"),
        F.max("a8").alias("a_max"),
        F.min("b8").alias("b_min"),
        F.max("b8").alias("b_max"),
    )


def _zorder_oracle() -> str:
    from cassandra_pmem_spark.sources.zorder import morton_sql

    z = morton_sql(
        "CAST(user_id AS BIGINT) & 255",
        "CAST(floor(epoch(ts) / 3600) AS BIGINT) & 255",
    )
    return f"""
    WITH coded AS (
      SELECT (CAST(user_id AS BIGINT) & 255) AS a8,
             (CAST(floor(epoch(ts) / 3600) AS BIGINT) & 255) AS b8,
             ({z} >> 8) AS zbucket
      FROM events
    )
    SELECT zbucket, count(*) AS n,
           min(a8) AS a_min, max(a8) AS a_max,
           min(b8) AS b_min, max(b8) AS b_max
    FROM coded GROUP BY 1
    """


def analytics_explode_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF surplus (SURVEY §2.11 — CQL has no table functions): explode =
    UNNEST; top-20 words across documents with total tie-break order."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(20)
    )


def analytics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP surplus (SURVEY §2.4 — absent in CQL): order counts and exact
    cent sums with year/priority subtotals and grand total."""
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.rollup(F.year("o_orderdate").alias("o_year"), F.col("o_orderpriority"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        )
    )


def source_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round trip (sources/compaction.py — the
    SSTable-compaction analog, db/compaction/CompactionManager.java:
    fold many small segments into few sized ones, rows untouched):
    fragment the events table into 64 tiny files, compact them back to
    size-targeted user_id-clustered files through the
    write-audit-publish path, and aggregate the compacted copy. The
    oracle aggregates the ORIGINAL parquet — equality proves
    compaction changed layout only. The query itself asserts the file
    count actually dropped."""
    from cassandra_pmem_spark.sources.compaction import (
        _n_data_files,
        compact_parquet_dir,
    )

    path = os.path.join(_SCRATCH, "compaction_events")
    ev = load_table(spark, "events", sf_dir)
    ev.repartition(64).write.mode("overwrite").parquet(path)
    stats = compact_parquet_dir(
        spark, path, target_bytes=8 * 1024 * 1024, sort_cols=["user_id"]
    )
    if stats["files_after"] >= stats["files_before"]:
        raise ValueError(f"compaction did not reduce files: {stats}")
    assert _n_data_files(path) == stats["files_after"]
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


_COMPACTION_ORACLE = """
SELECT event_type, count(*) AS n,
  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1
"""


def streaming_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exactly-once from a replayable stream into versioned
    storage (streaming/snapshot_sink.py over sources/snapshots.py): the
    events stream runs TWICE through foreachBatch into one snapshot
    table — the second run on a FRESH checkpoint, which forces
    Structured Streaming to redeliver the whole source as batch 0. The
    applied-batch ledger rides inside each atomic manifest commit, so
    the replay must be a no-op: the oracle aggregates the source
    directly, and any duplicated delivery would double every count."""
    import shutil
    import tempfile

    from cassandra_pmem_spark.catalog import TABLES
    from cassandra_pmem_spark.queries.analytics import _events_stream
    from cassandra_pmem_spark.sources.snapshots import SnapshotTable
    from cassandra_pmem_spark.streaming.snapshot_sink import exactly_once_appender

    path = os.path.join(_SCRATCH, "eo_sink_events")
    shutil.rmtree(path, ignore_errors=True)
    t = SnapshotTable(path)
    t.create(spark.createDataFrame([], TABLES["events"].schema))
    apply = exactly_once_appender(t)
    for _attempt in range(2):  # second run = full redelivery, must no-op
        ck = tempfile.mkdtemp(prefix="cps_eo_ck_")
        try:
            q = (
                _events_stream(spark, sf_dir)
                .writeStream.foreachBatch(apply)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
        finally:
            shutil.rmtree(ck, ignore_errors=True)
    return (
        t.read(spark)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("user_id").alias("sum_users"),
            F.sum(F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100).cast("long")).alias("cents"),
        )
    )


def source_snapshot_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-table time travel (sources/snapshots.py — SSTable
    immutability + `nodetool snapshot` re-expressed as a manifest
    layer over immutable parquet): create v1 (clicks+views), append v2
    (the rest), overwrite v3 (errors only), rollback to v2 as v4 —
    then read ALL FOUR versions back and aggregate each. Every prior
    version stays readable after overwrite AND after rollback; the
    oracle recomputes each version's expected membership straight from
    the source predicates."""
    import shutil

    from cassandra_pmem_spark.sources.snapshots import SnapshotTable

    path = os.path.join(_SCRATCH, "snapshot_events")
    shutil.rmtree(path, ignore_errors=True)
    ev = load_table(spark, "events", sf_dir)

    t = SnapshotTable(path)
    t.create(ev.filter(F.col("event_type").isin("click", "view")))
    t.append(ev.filter(~F.col("event_type").isin("click", "view")))
    t.overwrite(ev.filter(F.col("event_type") == "error"))
    t.rollback(2)

    frames = []
    for v in (1, 2, 3, 4):
        frames.append(
            t.read(spark, v).agg(
                F.lit(v).cast("long").alias("version"),
                F.count("*").alias("n"),
                F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                    "cents"
                ),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


_SNAPSHOT_ORACLE = """
SELECT CAST(1 AS BIGINT) AS version, count(*) AS n,
  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events WHERE event_type IN ('click', 'view')
UNION ALL
SELECT 2, count(*),
  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
FROM events
UNION ALL
SELECT 3, count(*),
  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
FROM events WHERE event_type = 'error'
UNION ALL
SELECT 4, count(*),
  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
FROM events
"""


def source_snapshot_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation over snapshot deltas: after an append,
    refresh a per-type aggregate by reading ONLY the files the new
    version added (manifest set difference) and merging the partials
    with the previous result — count/sum decomposability, the same
    contract as the rollup cascade, applied at the FILE level. The
    oracle aggregates the full final state directly; equality proves
    partials-over-delta-files ≡ recompute-from-scratch. At 100 TB this
    is the difference between reprocessing a table and reprocessing a
    day."""
    import shutil

    from cassandra_pmem_spark.sources.snapshots import SnapshotTable

    path = os.path.join(_SCRATCH, "snapshot_incr")
    shutil.rmtree(path, ignore_errors=True)
    ev = load_table(spark, "events", sf_dir)

    t = SnapshotTable(path)
    t.create(ev.filter(F.col("user_id") % 3 != 0))
    t.append(ev.filter(F.col("user_id") % 3 == 0))

    def agg(df):
        return df.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        )

    base = agg(t.read(spark, 1))
    delta_files = sorted(
        set(t.manifest(2)["files"]) - set(t.manifest(1)["files"])
    )
    delta = agg(
        spark.read.parquet(*[os.path.join(path, f) for f in delta_files])
    )
    return (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("cents").alias("cents"),
        )
    )


_SNAPSHOT_INCR_ORACLE = """
SELECT event_type, count(*) AS n,
  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY 1
"""


def source_snapshot_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletes + tombstone materialization
    (sources/snapshots.delete_keys / materialize_deletes — the
    DeletionInfo tombstone and its major compaction, lake-native):
    delete every event of users ≡ 0 (mod 7) by writing ONLY key files,
    read the anti-joined view, then materialize (rewrite live rows,
    drop delete files) and read again — both reads must agree with
    each other and with the oracle's NOT-IN recompute, proving
    merge-on-read ≡ compacted."""
    import shutil

    from cassandra_pmem_spark.sources.snapshots import SnapshotTable

    path = os.path.join(_SCRATCH, "snapshot_del")
    shutil.rmtree(path, ignore_errors=True)
    ev = load_table(spark, "events", sf_dir)

    t = SnapshotTable(path)
    t.create(ev)
    doomed = ev.filter(F.col("user_id") % 7 == 0).select("event_id")
    v_mor = t.delete_keys(doomed, ["event_id"])
    v_mat = t.materialize_deletes(spark)

    def agg(df, tag):
        return df.agg(
            F.lit(tag).alias("read_path"),
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        )

    return agg(t.read(spark, v_mor), "merge_on_read").unionByName(
        agg(t.read(spark, v_mat), "materialized")
    )


_SNAPSHOT_DELETES_ORACLE = """
SELECT 'merge_on_read' AS read_path, count(*) AS n,
  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events WHERE user_id % 7 <> 0
UNION ALL
SELECT 'materialized', count(*),
  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
FROM events WHERE user_id % 7 <> 0
"""


def source_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO versioned storage (sources/snapshots.merge — the CDC
    apply path): the events table (writetime = event_id, unique and
    monotone) takes an upsert batch containing BOTH newer mutations
    (event_id ≡ 0 mod 10: value bumped by 1000, higher writetime —
    must WIN) and stale replays (event_id ≡ 1 mod 10: altered value
    but writetime 0 — must LOSE, the at-least-once redelivery case).
    One LWW hash aggregate decides; survivors commit as an overwrite,
    so v1 remains readable. The oracle computes the expected post-merge
    state per row with a CASE."""
    import shutil

    from cassandra_pmem_spark.sources.snapshots import SnapshotTable

    path = os.path.join(_SCRATCH, "snapshot_merge")
    shutil.rmtree(path, ignore_errors=True)
    ev = load_table(spark, "events", sf_dir).withColumn(
        "writetime", F.col("event_id")
    )

    t = SnapshotTable(path)
    t.create(ev)
    fresh = ev.filter(F.col("event_id") % 10 == 0).withColumn(
        "value", F.col("value") + 1000.0
    ).withColumn("writetime", F.col("event_id") + F.lit(10**9))
    stale = ev.filter(F.col("event_id") % 10 == 1).withColumn(
        "value", F.col("value") + 5555.0
    ).withColumn("writetime", F.lit(0).cast("long"))
    v2 = t.merge(
        spark, fresh.unionByName(stale), ["event_id"], "writetime"
    )

    merged = t.read(spark, v2)
    return merged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
    )


_SNAPSHOT_MERGE_ORACLE = """
SELECT event_type, count(*) AS n,
  CAST(SUM(CAST(floor(
    CASE WHEN event_id % 10 = 0 THEN value + 1000.0 ELSE value END * 100
  ) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY 1
"""


def source_snapshot_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-column schema evolution without rewriting history
    (sources/snapshots.read mergeSchema — the reference's ALTER TABLE
    ADD semantics, schema/AlterTableStatement.java: existing data is
    untouched, old rows read the new column as NULL): v1 files lack
    `cents`, the v2 append carries it; a single read unions the footer
    schemas. The oracle splits on the same membership predicate and
    NULL-fills the old half."""
    import shutil

    from cassandra_pmem_spark.sources.snapshots import SnapshotTable

    path = os.path.join(_SCRATCH, "snapshot_schema")
    shutil.rmtree(path, ignore_errors=True)
    ev = load_table(spark, "events", sf_dir)

    t = SnapshotTable(path)
    old = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "event_type", "value"
    )
    new = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    t.create(old)
    t.append(new)
    merged = t.read(spark)
    return merged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count("cents").alias("n_with_cents"),
        F.sum(F.coalesce(F.col("cents"), F.lit(0))).alias("cents"),
    )


_SNAPSHOT_SCHEMA_ORACLE = """
SELECT event_type, count(*) AS n,
  count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS n_with_cents,
  CAST(SUM(CASE WHEN event_id % 2 = 1
                THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
       AS BIGINT) AS cents
FROM events GROUP BY 1
"""


def source_snapshot_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest min/max file pruning (sources/snapshots.prune_files /
    read_range — the Iceberg-manifest read path; lake analog of the
    reference's per-SSTable min/max clustering bounds,
    io/sstable/metadata/StatsMetadata.java): the table is written
    range-clustered on user_id into 8 files, each manifest entry
    carries footer min/max, and a [3, 7] range read plans its file
    list from the MANIFEST alone — the query raises if pruning failed
    to skip files. The oracle is the plain BETWEEN recompute; equality
    proves skipped files could not have matched."""
    import shutil

    from cassandra_pmem_spark.sources.snapshots import SnapshotTable

    path = os.path.join(_SCRATCH, "snapshot_prune")
    shutil.rmtree(path, ignore_errors=True)
    ev = load_table(spark, "events", sf_dir)

    t = SnapshotTable(path)
    t.create(ev, cluster_by=["user_id"])
    kept, total = t.prune_files("user_id", 3, 7)
    if not (0 < len(kept) < total):
        raise ValueError(
            f"manifest pruning ineffective: kept {len(kept)} of {total}"
        )
    return t.read_range(spark, "user_id", 3, 7).groupBy(
        "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        F.min("user_id").alias("u_min"),
        F.max("user_id").alias("u_max"),
    )


_SNAPSHOT_PRUNE_ORACLE = """
SELECT event_type, count(*) AS n,
  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents,
  min(user_id) AS u_min, max(user_id) AS u_max
FROM events WHERE user_id BETWEEN 3 AND 7
GROUP BY 1
"""


def analytics_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE surplus (SURVEY §2.4): all four grouping-set combinations
    of (year, priority) with grouping_id disambiguating subtotal rows
    from data nulls — Spark's grouping_id() and DuckDB's
    GROUPING(a, b) emit the same bitmask in the same argument order."""
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.cube(
            F.year("o_orderdate").alias("o_year"),
            F.col("o_orderpriority"),
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
        )
    )


_CUBE_ORACLE = """
SELECT year(o_orderdate) AS o_year, o_orderpriority,
  CAST(GROUPING(year(o_orderdate), o_orderpriority) AS BIGINT) AS gid,
  count(*) AS n,
  CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
GROUP BY CUBE (year(o_orderdate), o_orderpriority)
"""


def cql_is_not_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NOT NULL restriction (SingleColumnRestriction.java:592 — the MV
    definition predicate) over the parsed props field."""
    ev = load_table(spark, "events", sf_dir)
    k = F.from_json(F.col("props"), "struct<k:int>").getField("k")
    return (
        ev.withColumn("k", k)
        .filter(F.col("k").isNotNull() & (F.col("k") < 5))
        .select("event_id", "k")
    )


def cql_duration_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration arithmetic (cql3/Duration.java; OperationFcts.java:218):
    timestamp + '1mo2d3h' calendar-aware, month-end clamping included."""
    from cassandra_pmem_spark.functions.duration import ts_plus_duration

    orders = load_table(spark, "orders", sf_dir).filter(F.col("o_orderkey") < 200)
    return orders.select(
        "o_orderkey",
        ts_plus_duration("o_orderdate", "1mo2d3h").alias("due_ts"),
        ts_plus_duration("o_orderdate", "1y").alias("anniversary"),
    )


def cql_group_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + LIMIT counts groups, not rows (DataLimits.groupByLimits:105,
    CQLGroupByLimits:632): first 10 customers in key order with their
    aggregates."""
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        )
        .orderBy("o_custkey")
        .limit(10)
    )


def streaming_sliding_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h window, 30m slide) — each event lands in 2
    windows; same code path under readStream (streaming/windows.sliding_agg)."""
    from cassandra_pmem_spark.streaming.windows import sliding_agg

    ev = load_table(spark, "events", sf_dir)
    out = sliding_agg(ev, ts_col="ts", duration="1 hour", slide="30 minutes")
    return out.select(
        "bucket",
        "n_events",
        "sum_value",
        (F.col("sum_value") / F.col("n_events")).alias("avg_value"),
    )


def analytics_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (operators/skew.py): identical result
    to the plain groupBy — the oracle proves the salting is transparent."""
    from cassandra_pmem_spark.operators.skew import salted_aggregate

    li = load_table(spark, "lineitem", sf_dir)
    return salted_aggregate(
        li,
        key=["l_returnflag", "l_linestatus"],
        partial_aggs=[
            F.count("*").alias("c"),
            F.sum(F.col("l_quantity").cast("decimal(30,6)")).alias("s"),
        ],
        merge_aggs=[
            F.sum("c").alias("n"),
            F.sum("s").cast("double").alias("sum_qty"),
        ],
    )


def cql_ddl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full DDL text path (Parser.g:209 createTableStatement;
    CreateTableStatement.java; UseStatement.java; BatchStatement.java;
    schema/KeyspaceMetadata.java keyspace-scoped tables): CREATE two
    keyspaces holding a SAME-NAMED table (the decoy stays empty — proving
    scoped resolution routes DML/SELECT to the USE'd keyspace's table),
    USE one, create TWO tables, load both — 25 nation + 5 region rows —
    through ONE multi-table BATCH of bound INSERTs (one shared `?`
    cursor, one coordinator timestamp across both table sessions), read
    back through the parsed SELECT surface and join. Collects are bounded
    by the fixed nation/region cardinalities (neither scales with sf)."""
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    db = CqlDatabase(spark)
    db.execute(
        "CREATE KEYSPACE ddl_ks WITH REPLICATION = "
        "{'class': 'SimpleStrategy', 'replication_factor': 1}"
    )
    db.execute(
        "CREATE KEYSPACE ddl_decoy WITH REPLICATION = "
        "{'class': 'SimpleStrategy', 'replication_factor': 1}"
    )
    # same-named table in the OTHER keyspace: if scoped resolution were
    # broken, the unqualified DML below would hit this empty decoy and
    # the result would be empty (caught by the row-count compare)
    db.execute(
        "CREATE TABLE ddl_decoy.nation_ddl (n_regionkey int, n_nationkey int, "
        "n_name text, PRIMARY KEY (n_regionkey, n_nationkey))"
    )
    db.execute("USE ddl_ks;")
    db.execute(
        "CREATE TABLE nation_ddl (n_regionkey int, n_nationkey int, "
        "n_name text, PRIMARY KEY (n_regionkey, n_nationkey)) "
        "WITH CLUSTERING ORDER BY (n_nationkey ASC)"
    )
    db.execute("CREATE TABLE region_ddl (r_regionkey int PRIMARY KEY, r_name text)")
    assert ("ddl_ks", "nation_ddl") in db.registry.tables  # USE scoped it
    assert ("ddl_decoy", "nation_ddl") in db.registry.tables  # coexists
    nrows = load_table(spark, "nation", sf_dir).collect()  # 25 rows, fixed
    rrows = load_table(spark, "region", sf_dir).collect()  # 5 rows, fixed
    stmts = "; ".join(
        ["INSERT INTO nation_ddl (n_regionkey, n_nationkey, n_name) VALUES (?, ?, ?)"] * len(nrows)
        + ["INSERT INTO region_ddl (r_regionkey, r_name) VALUES (?, ?)"] * len(rrows)
    )
    params: list = []
    for r in nrows:
        params += [r.n_regionkey, r.n_nationkey, r.n_name]
    for r in rrows:
        params += [r.r_regionkey, r.r_name]
    db.execute(f"BEGIN BATCH {stmts}; APPLY BATCH", params)
    assert db.execute("SELECT n_nationkey FROM ddl_decoy.nation_ddl").count() == 0
    n = db.execute(
        "SELECT n_regionkey, n_nationkey, n_name FROM nation_ddl WHERE n_regionkey = 2"
    )
    r = db.execute("SELECT r_regionkey, r_name FROM region_ddl WHERE r_regionkey = 2")
    return n.join(r, n.n_regionkey == r.r_regionkey).select(
        "n_regionkey", "n_nationkey", "n_name", "r_name"
    )


def cql_describe_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE — pasteable DDL reconstruction from the live registry
    (bin/cqlsh.py:1350-1474 describe_* over the driver metadata's
    export_as_string; cql/describe.py). A full keyspace — type, UDF,
    UDA, table with frozen-UDT/set/static columns and reversed
    clustering, index, materialized view — is created through statement
    text, then DESCRIBE KEYSPACE emits the recreate script; the oracle
    pins every statement byte-for-byte, so any drift in the DDL
    rendering (type text, PK shape, clustering order, quoting) fails the
    hash. The PASTEABILITY of this exact output is separately pinned by
    tests/test_cql_describe.py's fresh-database round trip."""
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    db = CqlDatabase(spark)
    db.execute(
        "CREATE KEYSPACE dsc WITH REPLICATION = "
        "{'class': 'SimpleStrategy', 'replication_factor': '1'}"
    )
    db.execute("USE dsc")
    db.execute("CREATE TYPE addr (street text, zip int)")
    db.execute(
        "CREATE TABLE users (org int, id int, name text, a frozen<addr>, "
        "tags set<text>, note text STATIC, PRIMARY KEY (org, id)) "
        "WITH CLUSTERING ORDER BY (id DESC)"
    )
    db.execute("CREATE INDEX users_name_idx ON users (name)")
    db.execute(
        "CREATE MATERIALIZED VIEW by_name AS SELECT org, id, name FROM users "
        "WHERE org IS NOT NULL AND id IS NOT NULL AND name IS NOT NULL "
        "PRIMARY KEY (name, org, id)"
    )
    db.execute(
        "CREATE FUNCTION plus1 (x int) RETURNS NULL ON NULL INPUT "
        "RETURNS int LANGUAGE sql AS 'x + 1'"
    )
    db.execute(
        "CREATE FUNCTION acc2 (s int, v int) CALLED ON NULL INPUT "
        "RETURNS int LANGUAGE sql AS 'coalesce(s, 0) + coalesce(v, 0)'"
    )
    db.execute("CREATE AGGREGATE mysum (int) SFUNC acc2 STYPE int INITCOND 0")
    return db.execute("DESCRIBE KEYSPACE dsc")


_DESCRIBE_ORACLE = r"""
SELECT * FROM (VALUES
  ('dsc', 'keyspace', 'dsc',
   'CREATE KEYSPACE dsc WITH replication = {''class'': ''SimpleStrategy'', ''replication_factor'': ''1''} AND durable_writes = true;'),
  ('dsc', 'type', 'addr',
   'CREATE TYPE dsc.addr (' || chr(10) || '    street text,' || chr(10) || '    zip int' || chr(10) || ');'),
  ('dsc', 'function', 'acc2',
   'CREATE FUNCTION dsc.acc2 (s int, v int) CALLED ON NULL INPUT RETURNS int LANGUAGE sql AS ''coalesce(s, 0) + coalesce(v, 0)'';'),
  ('dsc', 'function', 'plus1',
   'CREATE FUNCTION dsc.plus1 (x int) RETURNS NULL ON NULL INPUT RETURNS int LANGUAGE sql AS ''x + 1'';'),
  ('dsc', 'aggregate', 'mysum',
   'CREATE AGGREGATE dsc.mysum (int) SFUNC acc2 STYPE int INITCOND 0;'),
  ('dsc', 'table', 'users',
   'CREATE TABLE dsc.users (' || chr(10) ||
   '    org int,' || chr(10) ||
   '    id int,' || chr(10) ||
   '    name text,' || chr(10) ||
   '    a frozen<addr>,' || chr(10) ||
   '    tags set<text>,' || chr(10) ||
   '    note text STATIC,' || chr(10) ||
   '    PRIMARY KEY (org, id)' || chr(10) ||
   ') WITH CLUSTERING ORDER BY (id DESC);'),
  ('dsc', 'index', 'users_name_idx',
   'CREATE INDEX users_name_idx ON dsc.users (name);'),
  ('dsc', 'materialized_view', 'by_name',
   'CREATE MATERIALIZED VIEW dsc.by_name AS' || chr(10) ||
   '    SELECT org, id, name FROM dsc.users' || chr(10) ||
   '    WHERE id IS NOT NULL AND name IS NOT NULL AND org IS NOT NULL' || chr(10) ||
   '    PRIMARY KEY (name, org, id) WITH CLUSTERING ORDER BY (org ASC, id ASC);')
) t(keyspace_name, type, name, create_statement)
"""


def cql_udt_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined types end-to-end from text (db/marshal/UserType.java;
    CreateTypeStatement.java; Selectable.WithFieldSelection): CREATE TYPE +
    a table with a frozen<udt> column, rows loaded via one BATCH of
    INSERT JSON statements (Json.parseJson analog — nested objects become
    struct values), read back with UDT field access in the SELECT
    projection. 25-row collect bounded by fixed nation cardinality."""
    import json as _json

    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    db = CqlDatabase(spark)
    db.execute("CREATE TYPE geo (region int, name text)")
    db.execute(
        "CREATE TABLE udt_nation (n_nationkey int PRIMARY KEY, info frozen<geo>)"
    )
    rows = load_table(spark, "nation", sf_dir).collect()  # 25 rows, fixed
    stmts = "; ".join("INSERT INTO udt_nation JSON ?" for _ in rows)
    params = [
        _json.dumps(
            {
                "n_nationkey": r.n_nationkey,
                "info": {"region": r.n_regionkey, "name": r.n_name},
            }
        )
        for r in rows
    ]
    db.execute(f"BEGIN BATCH {stmts}; APPLY BATCH", params)
    return db.execute(
        "SELECT n_nationkey, info.region AS region, info.name AS name FROM udt_nation"
    )


QUERIES = {
    "cql_static_column": (
        cql_static_column,
        """
        SELECT user_id, static_type, count(*) AS n_events FROM (
          SELECT user_id,
                 first_value(event_type) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id) AS static_type
          FROM events
        ) GROUP BY user_id, static_type
        """,
    ),
    "cql_collection_mutations": (
        cql_collection_mutations,
        """
        WITH lst AS (
          SELECT user_id,
            array_to_string(
              ['start'] || list(event_type ORDER BY ts, event_id) || ['end'],
              ',') AS list_col,
            array_to_string(
              list_sort(list_distinct(list(event_type))), ',') AS set_col
          FROM events GROUP BY user_id
        ), mp AS (
          SELECT user_id,
            array_to_string(
              list_sort(list(event_type || ':' || CAST(cents AS VARCHAR))
                        || ['bonus:100']), ',') AS map_col
          FROM (SELECT user_id, event_type,
                       arg_max(CAST(floor(coalesce(value, 0)*100) AS BIGINT), event_id) AS cents
                FROM events GROUP BY user_id, event_type)
          GROUP BY user_id
        )
        SELECT lst.user_id AS user_id, list_col, set_col, map_col
        FROM lst JOIN mp ON lst.user_id = mp.user_id
        """,
    ),
    "cql_uda_weighted_avg": (
        cql_uda_weighted_avg,
        """
        SELECT o_custkey,
          SUM(CAST(floor(o_totalprice*100) AS BIGINT) * month(o_orderdate))
            / (100.0 * SUM(month(o_orderdate))) AS weighted_avg
        FROM orders WHERE o_custkey < 100 GROUP BY o_custkey
        """,
    ),
    "virtual_system_tables": (virtual_system_tables, system_tables_oracle_sql()),
    "csv_roundtrip": (
        csv_roundtrip,
        """
        SELECT o_orderstatus, count(*) AS n,
          CAST(SUM(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey < 500 GROUP BY o_orderstatus
        """,
    ),
    "source_orc_roundtrip": (
        source_orc_roundtrip,
        """
        SELECT l_returnflag, count(*) AS n,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
          CAST(SUM(CAST(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT)
            AS cents
        FROM lineitem WHERE l_orderkey < 2000 AND l_quantity > 10
        GROUP BY l_returnflag
        """,
    ),
    "source_arrow_ipc": (
        source_arrow_ipc,
        "SELECT doc_id, md5(text) AS text_md5 FROM documents",
    ),
    "source_sstable_roundtrip": (source_sstable_roundtrip, _SSTABLE_ORACLE),
    "source_sstable_version_interop": (
        source_sstable_version_interop,
        _SSTABLE_VERSION_INTEROP_ORACLE,
    ),
    "source_sstable_wide_slice": (
        source_sstable_wide_slice,
        _SSTABLE_WIDE_SLICE_ORACLE,
    ),
    "source_sstable_counter_cells": (
        source_sstable_counter_cells,
        "SELECT user_id, count(*) AS n FROM events WHERE user_id < 500 "
        "GROUP BY user_id ORDER BY user_id",
    ),
    "source_sstable_pointread": (
        source_sstable_pointread,
        _SSTABLE_POINTREAD_ORACLE,
    ),
    "source_sstable_pruned_scan": (
        source_sstable_pruned_scan,
        _pruned_scan_oracle(),
    ),
    "source_zorder_layout": (source_zorder_layout, _zorder_oracle()),
    "analytics_cube": (analytics_cube, _CUBE_ORACLE),
    "source_compaction_roundtrip": (
        source_compaction_roundtrip,
        _COMPACTION_ORACLE,
    ),
    "streaming_exactly_once_sink": (
        streaming_exactly_once_sink,
        """
        SELECT event_type, count(*) AS n,
               CAST(SUM(user_id) AS BIGINT) AS sum_users,
               CAST(SUM(CAST(floor(coalesce(value, 0) * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY event_type
        """,
    ),
    "source_snapshot_timetravel": (
        source_snapshot_timetravel,
        _SNAPSHOT_ORACLE,
    ),
    "source_snapshot_incremental": (
        source_snapshot_incremental,
        _SNAPSHOT_INCR_ORACLE,
    ),
    "source_snapshot_deletes": (
        source_snapshot_deletes,
        _SNAPSHOT_DELETES_ORACLE,
    ),
    "source_snapshot_merge": (
        source_snapshot_merge,
        _SNAPSHOT_MERGE_ORACLE,
    ),
    "source_snapshot_schema_evolution": (
        source_snapshot_schema_evolution,
        _SNAPSHOT_SCHEMA_ORACLE,
    ),
    "source_snapshot_pruned_scan": (
        source_snapshot_pruned_scan,
        _SNAPSHOT_PRUNE_ORACLE,
    ),
    "cql_is_not_null": (
        cql_is_not_null,
        "SELECT event_id, CAST(props->>'k' AS INT) AS k FROM events "
        "WHERE props->>'k' IS NOT NULL AND CAST(props->>'k' AS INT) < 5",
    ),
    "cql_duration_arithmetic": (
        cql_duration_arithmetic,
        "SELECT o_orderkey, "
        "o_orderdate + INTERVAL 1 MONTH + INTERVAL 2 DAY + INTERVAL 3 HOUR AS due_ts, "
        "o_orderdate + INTERVAL 1 YEAR AS anniversary "
        "FROM orders WHERE o_orderkey < 200",
    ),
    "cql_group_limit": (
        cql_group_limit,
        "SELECT o_custkey, count(*) AS n_orders, "
        "CAST(SUM(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents "
        "FROM orders GROUP BY o_custkey ORDER BY o_custkey LIMIT 10",
    ),
    "streaming_sliding_batch": (
        streaming_sliding_batch,
        """
        WITH starts AS (
          SELECT time_bucket(INTERVAL '30 minutes', ts) AS s1, value FROM events
        ), exploded AS (
          SELECT s1 AS bucket, value FROM starts
          UNION ALL
          SELECT s1 - INTERVAL '30 minutes' AS bucket, value FROM starts
        )
        SELECT bucket, count(*) AS n_events,
          CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS sum_value,
          CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_value
        FROM exploded GROUP BY bucket
        """,
    ),
    "jsonl_roundtrip": (
        jsonl_roundtrip,
        "SELECT lang, source, count(*) AS n, "
        "CAST(SUM(n_chars) AS BIGINT) AS chars, "
        "CAST(SUM(length(text)) AS BIGINT) AS text_chars "
        "FROM documents GROUP BY lang, source",
    ),
    "analytics_explode_wordcount": (
        analytics_explode_wordcount,
        """
        SELECT word, count(*) AS n FROM (
          SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> '' GROUP BY word ORDER BY n DESC, word LIMIT 20
        """,
    ),
    "analytics_salted_agg": (
        analytics_salted_agg,
        "SELECT l_returnflag, l_linestatus, count(*) AS n, "
        "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS sum_qty "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus",
    ),
    "analytics_rollup": (
        analytics_rollup,
        """
        SELECT year(o_orderdate) AS o_year, o_orderpriority, count(*) AS n,
          CAST(SUM(CAST(floor(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY ROLLUP(year(o_orderdate), o_orderpriority)
        """,
    ),
    "cql_describe_schema": (cql_describe_schema, _DESCRIBE_ORACLE),
    "cql_ddl_roundtrip": (
        cql_ddl_roundtrip,
        "SELECT n_regionkey, n_nationkey, n_name, r_name "
        "FROM nation JOIN region ON n_regionkey = r_regionkey "
        "WHERE n_regionkey = 2",
    ),
    "cql_udt_access": (
        cql_udt_access,
        "SELECT n_nationkey, n_regionkey AS region, n_name AS name FROM nation",
    ),
}
