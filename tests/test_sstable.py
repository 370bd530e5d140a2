"""Cassandra 4.0 big-format SSTable codec (sources/sstable.py).

Pinned vectors follow the cited reference serializers (VIntCoding.java,
UnfilteredSerializer.java, Cell.java, DeletionTime.java,
ClusteringPrefix.java, Columns.java, MetadataSerializer.java); round
trips pin writer/reader consistency over the full supported surface."""

from __future__ import annotations

import struct

import pytest

from cassandra_pmem_spark.sources.sstable import (
    DELETION_TIME_EPOCH,
    NO_DELETION_TIME,
    TIMESTAMP_EPOCH,
    ByteReader,
    CellValue,
    EncodingStats,
    PartitionData,
    RowData,
    SSTableSchema,
    _MARSHAL,
    bulk_write_sstables,
    compute_stats,
    encode_unsigned_vint,
    encode_vint,
    parse_statistics,
    plan_splits,
    read_data_range,
    read_index_entries,
    read_partition,
    read_sstables,
    serialize_partition,
    serialize_statistics,
    unsigned_vint_size,
    visible_rows,
    write_sstable,
)


class TestVints:
    """VIntCoding.java:66-84,186-238 — the first byte's leading ones
    count the extra bytes; the remainder rides big-endian."""

    @pytest.mark.parametrize(
        "value,expected",
        [
            (0, b"\x00"),
            (1, b"\x01"),
            (127, b"\x7f"),              # max 1-byte
            (128, b"\x80\x80"),          # 2 bytes: 10|000000 10000000
            (255, b"\x80\xff"),
            (256, b"\x81\x00"),
            (16383, b"\xbf\xff"),        # max 2-byte: 14 value bits
        ],
    )
    def test_small_vectors(self, value, expected):
        assert encode_unsigned_vint(value) == expected

    def test_two_byte_capacity(self):
        # s bytes carry 7*s value bits (VIntCoding.computeUnsignedVIntSize)
        assert unsigned_vint_size((1 << 14) - 1) == 2
        assert unsigned_vint_size(1 << 14) == 3
        assert encode_unsigned_vint((1 << 14) - 1) == b"\xbf\xff"

    def test_nine_byte_full_64(self):
        v = (1 << 64) - 1
        b = encode_unsigned_vint(v)
        assert len(b) == 9 and b[0] == 0xFF
        assert ByteReader(b).unsigned_vint() == v

    @pytest.mark.parametrize(
        "value", [0, 1, 127, 128, 255, 256, 16384, 2 ** 31, 2 ** 45, 2 ** 63 - 1]
    )
    def test_round_trip(self, value):
        assert ByteReader(encode_unsigned_vint(value)).unsigned_vint() == value

    def test_zigzag(self):
        assert encode_vint(0) == b"\x00"
        assert encode_vint(-1) == b"\x01"
        assert encode_vint(1) == b"\x02"
        assert ByteReader(encode_vint(-12345)).vint() == -12345


def _schema(ck_desc: bool = False) -> SSTableSchema:
    return SSTableSchema(
        key_names=["k"],
        key_types=[_MARSHAL + "Int32Type"],
        clustering_names=["c"],
        clustering_types=[
            f"{_MARSHAL}ReversedType({_MARSHAL}Int32Type)"
            if ck_desc
            else _MARSHAL + "Int32Type"
        ],
        regular=[("v", _MARSHAL + "UTF8Type"), ("n", _MARSHAL + "LongType")],
    )


def _part(k, rows) -> PartitionData:
    return PartitionData(key_values=[k], rows=rows)


def _row(c, ts, **cells) -> RowData:
    r = RowData(clustering=[c], liveness_timestamp=ts)
    for name, v in cells.items():
        r.cells[name] = CellValue(value=v, timestamp=ts)
    return r


TS = TIMESTAMP_EPOCH + 1000


class TestPinnedBytes:
    """Byte-level pins for one tiny partition, from the cited wire
    rules — any drift in flags, vints, or layout breaks these."""

    def test_partition_bytes(self):
        schema = _schema()
        stats = EncodingStats(TS, DELETION_TIME_EPOCH, 0)
        part = _part(7, [_row(3, TS, v="hi", n=5)])
        blob = serialize_partition(part, schema, stats)
        expect = bytearray()
        expect += b"\x00\x04" + struct.pack(">i", 7)          # key
        expect += struct.pack(">iq", NO_DELETION_TIME, -(1 << 63))  # live
        # row: flags = HAS_TIMESTAMP | HAS_ALL_COLUMNS = 0x24
        expect += b"\x24"
        expect += b"\x00" + struct.pack(">i", 3)              # clustering hdr + value
        # body: liveness ts delta vint(0); cells sorted (n, v)
        body = bytearray(b"\x00")
        # n: flags USE_ROW_TIMESTAMP 0x08, fixed 8-byte value
        body += b"\x08" + struct.pack(">q", 5)
        # v: flags 0x08, vint len + bytes
        body += b"\x08" + b"\x02hi"
        expect += bytes([len(body) + 1])                       # size vint
        expect += b"\x00"                                      # prev size
        expect += body
        expect += b"\x01"                                      # END_OF_PARTITION
        assert blob == bytes(expect)

    def test_deletion_time_live_pin(self):
        # DeletionTime.java:177 LIVE = (MAX_INT ldt, MIN_LONG mfda)
        schema = _schema()
        stats = EncodingStats(TS, DELETION_TIME_EPOCH, 0)
        blob = serialize_partition(_part(1, []), schema, stats)
        assert blob[2 + 4:2 + 4 + 12] == b"\x7f\xff\xff\xff\x80" + b"\x00" * 7

    def test_column_subset_bitmap(self):
        # row with only 'v' (superset n,v): missing bitmap = bit0 (n)
        schema = _schema()
        stats = EncodingStats(TS, DELETION_TIME_EPOCH, 0)
        row = _row(1, TS, v="x")
        blob = serialize_partition(_part(1, [row]), schema, stats)
        # flags byte after the 12-byte deletion: HAS_TIMESTAMP only
        flags = blob[2 + 4 + 12]
        assert flags == 0x04
        # body begins after clustering (hdr+4) and two size vints
        body_at = 2 + 4 + 12 + 1 + 1 + 4
        size = blob[body_at]
        prev = blob[body_at + 1]
        # the size vint covers the body PLUS the prev-size vint
        # (UnfilteredSerializer.java:195-199)
        assert prev == 0 and size == len(blob) - body_at - 1 - 1
        body = blob[body_at + 2:-1]
        assert body[0] == 0x00          # ts delta
        assert body[1] == 0x01          # missing-columns bitmap: n absent


class TestRoundTrip:
    def test_rows_cells_clustering(self):
        schema = _schema()
        parts = [
            _part(1, [_row(1, TS, v="a", n=1), _row(2, TS + 5, v="b")]),
            _part(2, [_row(9, TS + 1, n=42)]),
        ]
        stats = compute_stats(parts)
        blob = b"".join(serialize_partition(p, schema, stats) for p in parts)
        r = ByteReader(blob)
        got = [read_partition(r, schema, stats), read_partition(r, schema, stats)]
        assert r.remaining() == 0
        assert got[0].key_values == [1] and got[1].key_values == [2]
        assert got[0].rows[0].cells["v"].value == "a"
        assert got[0].rows[0].cells["n"].value == 1
        assert got[0].rows[1].cells["v"].timestamp == TS + 5
        assert "n" not in got[0].rows[1].cells
        assert got[1].rows[0].clustering == [9]

    def test_row_deletion_and_cell_tombstone(self):
        schema = _schema()
        dead = RowData(clustering=[5], deletion=(TS + 10, DELETION_TIME_EPOCH + 10))
        tomb = RowData(clustering=[6], liveness_timestamp=TS)
        tomb.cells["v"] = CellValue(
            value=None, timestamp=TS + 2,
            local_deletion_time=DELETION_TIME_EPOCH + 2, is_tombstone=True,
        )
        parts = [_part(3, [dead, tomb])]
        stats = compute_stats(parts)
        blob = serialize_partition(parts[0], schema, stats)
        got = read_partition(ByteReader(blob), schema, stats)
        assert got.rows[0].deletion == (TS + 10, DELETION_TIME_EPOCH + 10)
        assert got.rows[1].cells["v"].is_tombstone
        assert got.rows[1].cells["v"].timestamp == TS + 2

    def test_expiring_cells_and_row_ttl(self):
        schema = _schema()
        row = RowData(
            clustering=[1], liveness_timestamp=TS,
            liveness_ttl=600, liveness_expiration=DELETION_TIME_EPOCH + 600,
        )
        row.cells["v"] = CellValue(
            value="x", timestamp=TS, ttl=600,
            local_deletion_time=DELETION_TIME_EPOCH + 600,
        )
        row.cells["n"] = CellValue(
            value=7, timestamp=TS + 1, ttl=60,
            local_deletion_time=DELETION_TIME_EPOCH + 61,
        )
        parts = [_part(4, [row])]
        stats = compute_stats(parts)
        got = read_partition(
            ByteReader(serialize_partition(parts[0], schema, stats)),
            schema, stats,
        )
        v = got.rows[0].cells["v"]
        assert (v.ttl, v.local_deletion_time) == (600, DELETION_TIME_EPOCH + 600)
        n = got.rows[0].cells["n"]
        assert (n.ttl, n.local_deletion_time) == (60, DELETION_TIME_EPOCH + 61)

    def test_partition_deletion_and_visibility(self):
        schema = _schema()
        part = _part(5, [_row(1, TS, v="old")])
        part.deletion = (TS + 100, DELETION_TIME_EPOCH + 1)
        stats = compute_stats([part])
        got = read_partition(
            ByteReader(serialize_partition(part, schema, stats)), schema, stats
        )
        assert got.deletion == (TS + 100, DELETION_TIME_EPOCH + 1)
        # shadowed by the partition tombstone
        assert visible_rows(got, schema, DELETION_TIME_EPOCH) == []

    def test_ttl_expiry_visibility(self):
        schema = _schema()
        row = RowData(
            clustering=[1], liveness_timestamp=TS,
            liveness_ttl=60, liveness_expiration=DELETION_TIME_EPOCH + 60,
        )
        row.cells["v"] = CellValue(
            value="x", timestamp=TS, ttl=60,
            local_deletion_time=DELETION_TIME_EPOCH + 60,
        )
        part = _part(6, [row])
        stats = compute_stats([part])
        got = read_partition(
            ByteReader(serialize_partition(part, schema, stats)), schema, stats
        )
        alive = visible_rows(got, schema, DELETION_TIME_EPOCH + 59)
        gone = visible_rows(got, schema, DELETION_TIME_EPOCH + 60)
        assert len(alive) == 1 and alive[0]["v"] == "x"
        assert gone == []

    def test_composite_key_and_reversed_clustering(self):
        schema = SSTableSchema(
            key_names=["a", "b"],
            key_types=[_MARSHAL + "Int32Type", _MARSHAL + "UTF8Type"],
            clustering_names=["c"],
            clustering_types=[f"{_MARSHAL}ReversedType({_MARSHAL}Int32Type)"],
            regular=[("v", _MARSHAL + "DoubleType")],
        )
        part = PartitionData(key_values=[3, "xy"])
        part.rows = [
            RowData(clustering=[9], liveness_timestamp=TS,
                    cells={"v": CellValue(1.5, TS)}),
        ]
        stats = compute_stats([part])
        got = read_partition(
            ByteReader(serialize_partition(part, schema, stats)), schema, stats
        )
        assert got.key_values == [3, "xy"]
        assert got.rows[0].cells["v"].value == 1.5


class TestStatisticsAndIndex:
    def test_statistics_round_trip(self):
        schema = _schema()
        stats = EncodingStats(TS, DELETION_TIME_EPOCH + 3, 60)
        blob = serialize_statistics(schema, stats)
        got_stats, hdr = parse_statistics(blob)
        assert (got_stats.min_timestamp, got_stats.min_local_deletion_time,
                got_stats.min_ttl) == (TS, DELETION_TIME_EPOCH + 3, 60)
        assert hdr["key_types"] == [_MARSHAL + "Int32Type"]
        assert hdr["clustering_types"] == [_MARSHAL + "Int32Type"]
        assert hdr["regular"] == [
            ("n", _MARSHAL + "LongType"), ("v", _MARSHAL + "UTF8Type"),
        ]

    def test_statistics_checksum_detects_corruption(self):
        blob = bytearray(
            serialize_statistics(_schema(), EncodingStats(TS, DELETION_TIME_EPOCH, 0))
        )
        blob[-3] ^= 0xFF
        with pytest.raises(ValueError, match="checksum"):
            parse_statistics(bytes(blob))

    def test_write_sstable_files_and_index(self, tmp_path):
        from cassandra_pmem_spark.cql.parser import _scalar_token
        from cassandra_pmem_spark.catalog import (
            ClusteringColumn, TableMeta,
        )
        from pyspark.sql import types as T

        schema = _schema()
        meta = TableMeta(
            "t",
            T.StructType([
                T.StructField("k", T.IntegerType()),
                T.StructField("c", T.IntegerType()),
                T.StructField("v", T.StringType()),
                T.StructField("n", T.LongType()),
            ]),
            partition_key=("k",),
            clustering=(ClusteringColumn("c"),),
        )
        ks = sorted(range(8), key=lambda k: _scalar_token(meta, (k,)))
        parts = [_part(k, [_row(0, TS, v=str(k), n=k)]) for k in ks]
        stats = compute_stats(parts)
        man = write_sstable(str(tmp_path), 1, schema, parts)
        assert man["partitions"] == 8 and man["rows"] == 8
        names = sorted(p.name for p in tmp_path.iterdir())
        assert names == [
            "na-1-big-Data.db", "na-1-big-Digest.crc32", "na-1-big-Filter.db",
            "na-1-big-Index.db", "na-1-big-Statistics.db",
            "na-1-big-Summary.db", "na-1-big-TOC.txt",
        ]
        idx = (tmp_path / "na-1-big-Index.db").read_bytes()
        entries = read_index_entries(idx)
        assert len(entries) == 8
        data = (tmp_path / "na-1-big-Data.db").read_bytes()
        # every index position starts a partition whose key matches
        for key, pos in entries:
            klen = struct.unpack(">H", data[pos:pos + 2])[0]
            assert data[pos + 2:pos + 2 + klen] == key
        # digest = crc32 of Data.db as decimal text
        import zlib as _z

        assert (tmp_path / "na-1-big-Digest.crc32").read_text() == str(
            _z.crc32(data)
        )
        # out-of-token-order rejects (beforeAppend analog)
        with pytest.raises(ValueError, match="token order"):
            write_sstable(str(tmp_path), 2, schema, list(reversed(parts)))
        # splits at partition boundaries cover the file exactly
        splits = plan_splits(idx, len(data), target_bytes=40)
        assert splits[0][0] == 0 and splits[-1][1] == len(data)
        assert all(a < b for a, b in splits)
        assert [s for s, _e in splits[1:]] == [e for _s, e in splits[:-1]]
        got = []
        for s, e in splits:
            got.extend(read_data_range(data, s, e, schema, stats))
        assert [p.key_values[0] for p in got] == ks


class TestPrunedSplits:
    """Token-range split pruning (plan_splits_pruned — the
    CqlInputFormat.getSplits range-intersection analog,
    CqlInputFormat.java:129-175): Index.db entries are (token, key)
    ordered, so bisecting tokens yields the exact covered byte range."""

    def _write(self, tmp_path, n=64):
        schema = _schema()
        parts = TestVersionInterop()._parts(n)
        write_sstable(str(tmp_path), 1, schema, parts)
        idx = (tmp_path / "na-1-big-Index.db").read_bytes()
        data = (tmp_path / "na-1-big-Data.db").read_bytes()
        return schema, parts, idx, data

    def test_none_range_equals_plain_planner(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import plan_splits_pruned

        _s, _p, idx, data = self._write(tmp_path)
        splits, n, sel = plan_splits_pruned(idx, len(data), 64, None)
        assert splits == plan_splits(idx, len(data), 64)
        assert n == sel == 64

    def test_interior_range_prunes_and_decodes_exactly(self, tmp_path):
        from cassandra_pmem_spark.functions.murmur3 import (
            murmur3_token_bytes_py,
        )
        from cassandra_pmem_spark.sources.sstable import plan_splits_pruned

        schema, parts, idx, data = self._write(tmp_path)
        stats = compute_stats(parts)
        toks = sorted(
            murmur3_token_bytes_py(schema.key_bytes(p.key_values))
            for p in parts
        )
        lo, hi = toks[16], toks[47]  # inclusive middle half
        splits, n, sel = plan_splits_pruned(idx, len(data), 64, (lo, hi))
        assert n == 64 and sel == 32
        assert len(splits) < len(plan_splits(idx, len(data), 64))
        got = []
        for s, e in splits:
            got.extend(read_data_range(data, s, e, schema, stats))
        want = [
            p.key_values[0] for p in parts
            if lo <= murmur3_token_bytes_py(
                schema.key_bytes(p.key_values)) <= hi
        ]
        # parts arrive pre-sorted by token from _parts
        assert [p.key_values[0] for p in got] == want
        assert len(got) == 32

    def test_open_sides_and_empty_intersection(self, tmp_path):
        from cassandra_pmem_spark.functions.murmur3 import (
            murmur3_token_bytes_py,
        )
        from cassandra_pmem_spark.sources.sstable import plan_splits_pruned

        schema, parts, idx, data = self._write(tmp_path)
        toks = sorted(
            murmur3_token_bytes_py(schema.key_bytes(p.key_values))
            for p in parts
        )
        # open low side: everything up to toks[9]
        splits, _n, sel = plan_splits_pruned(
            idx, len(data), 64, (None, toks[9])
        )
        assert sel == 10 and splits and splits[0][0] == 0
        # open high side: from toks[60] on — tail must reach EOF
        splits, _n, sel = plan_splits_pruned(
            idx, len(data), 64, (toks[60], None)
        )
        assert sel == 4 and splits[-1][1] == len(data)
        # empty intersection between two adjacent tokens
        splits, _n, sel = plan_splits_pruned(
            idx, len(data), 64, (toks[9] + 1, toks[10] - 1)
        )
        assert splits == [] and sel == 0

    def test_read_sstables_token_range(self, spark, tmp_path):
        from cassandra_pmem_spark.functions.murmur3 import (
            murmur3_token_bytes_py,
        )
        from cassandra_pmem_spark.sources.sstable import read_sstables

        schema, parts, _idx, _data = self._write(tmp_path)
        toks = sorted(
            (murmur3_token_bytes_py(schema.key_bytes(p.key_values)),
             p.key_values[0])
            for p in parts
        )
        lo, hi = toks[8][0], toks[23][0]
        got = sorted(
            r["key0"] for r in read_sstables(
                spark, str(tmp_path), split_bytes=64, token_range=(lo, hi)
            ).collect()
        )
        assert got == sorted(k for t, k in toks[8:24])


class TestDistributedCkBounds:
    """ck_bounds on the DISTRIBUTED scan (read_sstables): splits carry
    their Index.db ranges and each task decodes, per wide partition,
    only the promoted-index blocks overlapping the slice — the point
    read's seek discipline applied task-side."""

    def _write_wide(self, tmp_path, n_parts=3, n_rows=300, pad=100):
        schema = _schema()
        parts = []
        for k in range(n_parts):
            rows = [
                _row(c, TestPromotedIndex.TS, v="p" * pad, n=k * 1000 + c)
                for c in range(n_rows)
            ]
            parts.append(PartitionData(key_values=[k], rows=rows))
        from cassandra_pmem_spark.functions.murmur3 import (
            murmur3_token_bytes_py,
        )

        parts.sort(key=lambda p: murmur3_token_bytes_py(
            schema.key_bytes(p.key_values)))
        write_sstable(str(tmp_path), 1, schema, parts,
                      column_index_size=2048, compression=True)
        return schema

    def test_sliced_scan_equals_filtered_full_scan(self, spark, tmp_path):
        from cassandra_pmem_spark.sources.sstable import read_sstables

        self._write_wide(tmp_path)
        trace_path = str(tmp_path / "trace.txt")
        got = sorted(
            (r["key0"], r["ck0"], r["n"])
            for r in read_sstables(
                spark, str(tmp_path), split_bytes=16 * 1024,
                ck_bounds=((40,), (79,)), _trace_path=trace_path,
            ).collect()
        )
        want = sorted(
            (k, c, k * 1000 + c) for k in range(3) for c in range(40, 80)
        )
        assert got == want
        # the task-side trace proves block seeking: fewer index blocks
        # read than exist across the fleet
        lines = [
            tuple(map(int, ln.split()))
            for ln in open(trace_path).read().splitlines()
        ]
        blocks_read = sum(a for a, _b in lines)
        blocks_total = sum(b for _a, b in lines)
        assert 0 < blocks_read < blocks_total, (blocks_read, blocks_total)

    def test_sliced_scan_with_token_range(self, spark, tmp_path):
        from cassandra_pmem_spark.functions.murmur3 import (
            murmur3_token_bytes_py,
        )
        from cassandra_pmem_spark.sources.sstable import read_sstables

        schema = self._write_wide(tmp_path)
        toks = sorted(
            (murmur3_token_bytes_py(schema.key_bytes([k])), k)
            for k in range(3)
        )
        # token range covering only the middle partition
        mid_tok, mid_key = toks[1]
        got = sorted(
            (r["key0"], r["ck0"])
            for r in read_sstables(
                spark, str(tmp_path), split_bytes=16 * 1024,
                token_range=(mid_tok, mid_tok),
                ck_bounds=((10,), (19,)),
            ).collect()
        )
        assert got == [(mid_key, c) for c in range(10, 20)]

    def test_unbounded_sides(self, spark, tmp_path):
        from cassandra_pmem_spark.sources.sstable import read_sstables

        self._write_wide(tmp_path, n_parts=1, n_rows=120)
        got = sorted(
            r["ck0"] for r in read_sstables(
                spark, str(tmp_path), split_bytes=16 * 1024,
                ck_bounds=((100,), None),
            ).collect()
        )
        assert got == list(range(100, 120))

    def test_task_side_planner_matches_driver_side(self, spark, tmp_path,
                                                   monkeypatch):
        """Forcing the big-directory branch (task-side split planning +
        shuffle) must return exactly what the driver-side job-client
        planner returns — same splits, same rows, with and without the
        pruning/slicing parameters."""
        from cassandra_pmem_spark.sources import sstable as mod

        self._write_wide(tmp_path, n_parts=2, n_rows=150)
        kw = dict(split_bytes=16 * 1024, ck_bounds=((30,), (59,)))
        want = sorted(
            (r["key0"], r["ck0"]) for r in
            mod.read_sstables(spark, str(tmp_path), **kw).collect()
        )
        monkeypatch.setattr(mod, "DRIVER_PLAN_INDEX_BYTES", 0)
        got = sorted(
            (r["key0"], r["ck0"]) for r in
            mod.read_sstables(spark, str(tmp_path), **kw).collect()
        )
        assert got == want
        assert want == sorted(
            (k, c) for k in range(2) for c in range(30, 60)
        )
        # plain path too (no ck_bounds)
        got_plain = sorted(
            r["ck0"] for r in mod.read_sstables(
                spark, str(tmp_path), split_bytes=16 * 1024
            ).collect()
        )
        assert len(got_plain) == 300


class TestPartitionTags:
    """The driver-side Spark-hash twin that maps write buckets 1:1 to
    shuffle partitions (no repartitionByRange sampling pass)."""

    def test_hash_twin_matches_spark(self, spark):
        from pyspark.sql import functions as F

        from cassandra_pmem_spark.sources.sstable import _spark_hash_int32

        vals = [0, 1, 2, 7, 41, 123456, -5, 2 ** 31 - 1, -(2 ** 31)]
        row = spark.range(1).select(
            *[F.hash(F.lit(v)).alias(f"h{i}") for i, v in enumerate(vals)]
        ).collect()[0]
        for i, v in enumerate(vals):
            assert row[f"h{i}"] == _spark_hash_int32(v), v

    def test_tags_land_buckets_in_own_partitions(self, spark):
        from pyspark.sql import functions as F

        from cassandra_pmem_spark.sources.sstable import _partition_tags

        for n in (2, 3, 4, 8, 13):
            tags = _partition_tags(n)
            df = spark.createDataFrame(
                [(i,) for i in range(n)], "pid int"
            ).withColumn(
                "tag",
                F.element_at(F.array(*[F.lit(t) for t in tags]),
                             F.col("pid") + 1),
            ).repartition(n, F.col("tag"))
            got = {
                (r["pid"], r["p"]) for r in
                df.withColumn("p", F.spark_partition_id()).collect()
            }
            assert got == {(i, i) for i in range(n)}, (n, sorted(got))


class TestSparkIntegration:
    def test_bulk_write_then_distributed_read(self, spark, tmp_path):
        from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("k", T.IntegerType()),
            T.StructField("c", T.IntegerType()),
            T.StructField("v", T.StringType()),
            T.StructField("n", T.LongType()),
        ])
        meta = TableMeta(
            "t", schema, partition_key=("k",),
            clustering=(ClusteringColumn("c"),),
        )
        rows = [
            (k, c, f"{k}:{c}" if (k + c) % 5 else None, k * 100 + c)
            for k in range(20)
            for c in range(3)
        ]
        df = spark.createDataFrame(rows, schema)
        out = str(tmp_path / "sst")
        manifests = bulk_write_sstables(
            df, meta, out, sstables=3, timestamp_micros=TS
        )
        assert sum(m["rows"] for m in manifests) == 60
        assert len(manifests) == 3
        back = read_sstables(spark, out, split_bytes=200)
        got = {
            (r["key0"], r["ck0"]): (r["v"], r["n"])
            for r in (x.asDict() for x in back.collect())
        }
        assert len(got) == 60
        for k, c, v, n in rows:
            assert got[(k, c)] == (v, n)

    def test_driver_planned_read_has_no_exchange(self, spark, tmp_path,
                                                  monkeypatch):
        """A small directory plans its splits on the driver and parses
        them straight from the local split table: one stage, no
        Exchange. The task-planned branch keeps its shuffle, and both
        return the same rows."""
        from cassandra_pmem_spark.sources import sstable as mod

        rows = [(k, c, f"{k}.{c}") for k in range(10) for c in range(3)]
        _events_dir(spark, str(tmp_path), rows)
        df = mod.read_sstables(spark, str(tmp_path))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "LocalTableScan" in plan
        got = sorted((r["key0"], r["ck0"], r["v"]) for r in df.collect())
        assert got == sorted(rows)

        monkeypatch.setattr(mod, "DRIVER_PLAN_INDEX_BYTES", 0)
        df = mod.read_sstables(spark, str(tmp_path))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan
        assert sorted(
            (r["key0"], r["ck0"], r["v"]) for r in df.collect()
        ) == got

    def test_out_of_ns_range_timestamps_read_back(self, spark, tmp_path):
        """Timestamps outside pandas' datetime64[ns] span (years
        1677..2262) must survive the distributed read: the columnar
        decoder's epoch-millis lane falls back to object-dtype
        datetimes instead of raising OutOfBoundsDatetime (Cassandra
        timestamps cover years 1..9999)."""
        import datetime as dt

        schema = SSTableSchema(
            key_names=["k"], key_types=[_MARSHAL + "Int32Type"],
            clustering_names=["c"],
            clustering_types=[_MARSHAL + "Int32Type"],
            regular=[("t", _MARSHAL + "TimestampType")],
        )
        want = {
            0: dt.datetime(2500, 1, 1, 12, 0, 0),       # past ns max
            1: dt.datetime(1600, 6, 15, 3, 30, 0),      # before ns min
            2: dt.datetime(2024, 1, 1, 0, 0, 0),        # in range
        }
        parts = [_part(7, [_row(c, TS, t=v) for c, v in want.items()])]
        write_sstable(str(tmp_path), 1, schema, parts)
        got = {
            r["ck0"]: r["t"].replace(tzinfo=None)
            for r in read_sstables(spark, str(tmp_path)).collect()
        }
        assert got == want

    def test_ms_series_fallback_is_exact(self):
        """_ms_series_to_datetime: vectorized lane in range, exact
        object-dtype fallback (including None cells) out of range."""
        import datetime as dt

        import pandas as pd

        from cassandra_pmem_spark.sources.sstable import (
            _ms_series_to_datetime,
        )

        fast = _ms_series_to_datetime([0, 86_400_000, None])
        assert str(fast.dtype).startswith("datetime64")
        assert fast[1] == pd.Timestamp(1970, 1, 2)
        big = 16_725_225_600_000  # 2500-01-01 in epoch ms
        slow = _ms_series_to_datetime([big, None, -11_676_096_000_000])
        assert slow.dtype == object
        assert slow[0] == dt.datetime(2500, 1, 1)
        assert slow[1] is None
        assert slow[2] == dt.datetime(1600, 1, 1)

    def test_bulk_manifest_order_is_numeric(self, spark, tmp_path):
        """bulk_write_sstables manifests come back in NUMERIC
        generation order (bucket i == token interval i), not the
        lexicographic path order that puts gen 10 before gen 2."""
        from cassandra_pmem_spark.catalog import TableMeta
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("k", T.IntegerType()),
            T.StructField("v", T.StringType()),
        ])
        meta = TableMeta("t", schema, partition_key=("k",))
        df = spark.createDataFrame(
            [(k, str(k)) for k in range(200)], schema
        )
        out = str(tmp_path / "sst")
        manifests = bulk_write_sstables(
            df, meta, out, sstables=12, timestamp_micros=TS
        )
        gens = [
            int(m["data_path"].rsplit("/", 1)[1].split("-")[1])
            for m in manifests
        ]
        assert len(gens) > 10  # enough sstables to cross the 9->10 edge
        assert gens == sorted(gens)

    def test_exclusive_write_failure_leaves_no_residue(self, tmp_path):
        """A claimed (exclusive=True) write that fails mid-
        serialization must remove its placeholder: a 0-byte Data.db
        with no companions would crash later directory reads and make
        rerun tasks silently skip the generation."""
        schema = _schema()
        bad = [_part(1, [_row(0, TS, nope="x")])]  # undeclared column
        with pytest.raises(ValueError, match="undeclared"):
            write_sstable(str(tmp_path), 1, schema, bad, exclusive=True)
        assert list(tmp_path.iterdir()) == []
        # the generation is re-claimable after the failure
        ok = write_sstable(
            str(tmp_path), 1, schema,
            [_part(1, [_row(0, TS, v="a", n=1)])], exclusive=True,
        )
        assert ok["rows"] == 1
        assert (tmp_path / "na-1-big-Data.db").stat().st_size > 0

    def test_disjoint_token_ranges_per_sstable(self, spark, tmp_path):
        from cassandra_pmem_spark.catalog import TableMeta
        from cassandra_pmem_spark.cql.parser import _scalar_token
        from cassandra_pmem_spark.sources.sstable import read_index_entries
        from pyspark.sql import types as T
        import os as _os

        schema = T.StructType([
            T.StructField("k", T.IntegerType()),
            T.StructField("x", T.IntegerType()),
        ])
        meta = TableMeta("t", schema, partition_key=("k",))
        df = spark.createDataFrame([(i, i) for i in range(64)], schema)
        out = str(tmp_path / "sst")
        bulk_write_sstables(df, meta, out, sstables=4, timestamp_micros=TS)
        ranges = []
        for f in sorted(_os.listdir(out)):
            if f.endswith("-Index.db"):
                entries = read_index_entries(
                    open(_os.path.join(out, f), "rb").read()
                )
                toks = [
                    _scalar_token(
                        meta,
                        (struct.unpack(">i", key)[0],),
                    )
                    for key, _pos in entries
                ]
                assert toks == sorted(toks)
                ranges.append((toks[0], toks[-1]))
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 < lo2  # disjoint token ranges, the bulk-load contract


class TestEdges:
    def test_empty_string_value_round_trips(self):
        # HAS_EMPTY_VALUE carries a LIVE empty value (Cell.java:181,187)
        schema = _schema()
        row = _row(1, TS, v="")
        parts = [_part(1, [row])]
        stats = compute_stats(parts)
        got = read_partition(
            ByteReader(serialize_partition(parts[0], schema, stats)),
            schema, stats,
        )
        cell = got.rows[0].cells["v"]
        assert cell.value == "" and not cell.is_tombstone
        vis = visible_rows(got, schema, DELETION_TIME_EPOCH)
        assert vis[0]["v"] == ""

    def test_many_clustering_columns_batch_header(self):
        # >32 clustering values exercise the second 32-value header
        # batch (Java shifts wrap mod 64 — ClusteringPrefix.java:415)
        n = 40
        schema = SSTableSchema(
            ["k"], [_MARSHAL + "Int32Type"],
            [f"c{i}" for i in range(n)],
            [_MARSHAL + "Int32Type"] * n,
            [("v", _MARSHAL + "UTF8Type")],
        )
        vals = [i if i % 3 else None for i in range(n)]
        row = RowData(clustering=list(vals), liveness_timestamp=TS,
                      cells={"v": CellValue("x", TS)})
        parts = [PartitionData(key_values=[1], rows=[row])]
        stats = compute_stats(parts)
        got = read_partition(
            ByteReader(serialize_partition(parts[0], schema, stats)),
            schema, stats,
        )
        assert got.rows[0].clustering == [
            None if i % 3 == 0 else i for i in range(n)
        ]


class TestBloomAndPointRead:
    def test_bloom_serialization_pin(self):
        from cassandra_pmem_spark.sources.sstable import BloomFilter

        bf = BloomFilter(3, bytearray(16))
        bf.add(b"abc")
        blob = bf.serialize()
        # BloomFilterSerializer.java:34-38 + OffHeapBitSet.serialize:
        # int hashCount, int wordCount (bytes/8), raw bytes
        assert blob[:8] == struct.pack(">ii", 3, 2)
        assert len(blob) == 8 + 16
        back = BloomFilter.deserialize(blob)
        assert back.hash_count == 3 and back.is_present(b"abc")

    def test_bloom_bit_positions_match_hash_contract(self):
        from cassandra_pmem_spark.functions.murmur3 import murmur3_x64_128_py
        from cassandra_pmem_spark.sources.sstable import bloom_indexes

        key = b"\x00\x00\x00\x07"
        h1, h2 = murmur3_x64_128_py(key)
        bits = 1024
        idx = bloom_indexes(key, 4, bits)
        # setIndexes: base=h2, inc=h1; abs(base % max) with Java's
        # truncated % — which for any signed a equals abs(a) % max
        base = h2
        for i in range(4):
            assert idx[i] == abs(base) % bits
            base += h1
            base = (base + (1 << 63)) % (1 << 64) - (1 << 63)
        assert all(0 <= i < bits for i in idx)

    def test_membership_and_false_positive_rate(self):
        from cassandra_pmem_spark.sources.sstable import BloomFilter

        keys = [struct.pack(">q", i) for i in range(500)]
        bf = BloomFilter.sized_for(len(keys), fp_chance=0.01)
        for k in keys:
            bf.add(k)
        assert all(bf.is_present(k) for k in keys)  # no false negatives
        misses = sum(
            bf.is_present(struct.pack(">q", i)) for i in range(10_000, 20_000)
        )
        assert misses < 300  # ~1% target, generous bound

    def test_point_read_uses_bloom_and_index(self, tmp_path):
        from cassandra_pmem_spark.cql.parser import _scalar_token
        from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta
        from cassandra_pmem_spark.sources.sstable import sstable_point_read
        from pyspark.sql import types as T

        schema = _schema()
        meta = TableMeta(
            "t",
            T.StructType([
                T.StructField("k", T.IntegerType()),
                T.StructField("c", T.IntegerType()),
                T.StructField("v", T.StringType()),
                T.StructField("n", T.LongType()),
            ]),
            partition_key=("k",),
            clustering=(ClusteringColumn("c"),),
        )
        ks = sorted(range(16), key=lambda k: _scalar_token(meta, (k,)))
        parts = [
            _part(k, [_row(c, TS, v=f"{k}:{c}", n=k * 10 + c) for c in (0, 1)])
            for k in ks
        ]
        write_sstable(str(tmp_path), 1, schema, parts)
        got = sstable_point_read(str(tmp_path), [7])
        # key/clustering names are positional (the header stores types
        # only); regular column names come from the header itself
        assert [(r["ck0"], r["v"], r["n"]) for r in got] == [
            (0, "7:0", 70), (1, "7:1", 71),
        ]
        assert sstable_point_read(str(tmp_path), [999]) == []

    def test_point_read_skips_via_bloom(self, tmp_path, monkeypatch):
        from cassandra_pmem_spark.cql.parser import _scalar_token
        from cassandra_pmem_spark.catalog import TableMeta
        from cassandra_pmem_spark.sources import sstable as mod
        from pyspark.sql import types as T

        schema = SSTableSchema(
            ["k"], [_MARSHAL + "Int32Type"], [], [],
            [("v", _MARSHAL + "UTF8Type")],
        )
        meta = TableMeta(
            "t",
            T.StructType([
                T.StructField("k", T.IntegerType()),
                T.StructField("v", T.StringType()),
            ]),
            partition_key=("k",),
        )
        ks = sorted(range(8), key=lambda k: _scalar_token(meta, (k,)))
        parts = [
            PartitionData(
                key_values=[k],
                rows=[RowData(clustering=[], liveness_timestamp=TS,
                              cells={"v": CellValue(str(k), TS)})],
            )
            for k in ks
        ]
        write_sstable(str(tmp_path), 1, schema, parts)
        # a definite miss must never parse Index.db
        calls = []
        orig = mod.read_index_entries
        monkeypatch.setattr(
            mod, "read_index_entries",
            lambda blob: calls.append(1) or orig(blob),
        )
        # find a key the bloom rejects (a few tries in case of an fp)
        for probe in range(100, 200):
            with open(str(tmp_path / "na-1-big-Filter.db"), "rb") as f:
                bf = mod.BloomFilter.deserialize(f.read())
            if not bf.is_present(schema.key_bytes([probe])):
                assert mod.sstable_point_read(str(tmp_path), [probe]) == []
                assert calls == []
                break
        else:
            pytest.skip("no bloom-negative probe found (improbable)")


class TestCompression:
    def test_compression_info_layout_pin(self):
        from cassandra_pmem_spark.sources.sstable import (
            CompressionInfo, compress_data,
        )

        data = bytes(range(256)) * 40  # > one 16 KiB chunk? no: 10240
        comp, info = compress_data(data, chunk_length=4096)
        ci = CompressionInfo.parse(info)
        # header: modified-UTF name, 0 options, chunk len, maxComp,
        # dataLength, count, offsets (CompressionMetadata.java:106-135)
        assert info[:2] == struct.pack(">H", len("LZ4Compressor"))
        assert info[2:2 + 13] == b"LZ4Compressor"
        assert (ci.compressor, ci.options) == ("LZ4Compressor", {})
        assert ci.chunk_length == 4096 and ci.data_length == len(data)
        assert len(ci.offsets) == 3  # ceil(10240 / 4096)
        assert ci.offsets[0] == 0
        # each chunk: 4-byte LE uncompressed length prefix + LZ4 block,
        # then 4-byte CRC32 of those bytes
        body = comp[ci.offsets[0]:ci.offsets[1] - 4]
        assert struct.unpack("<i", body[:4])[0] == 4096
        assert struct.unpack(">I", comp[ci.offsets[1] - 4:ci.offsets[1]])[0] \
            == __import__("zlib").crc32(body)

    def test_decompress_range_and_corruption(self):
        from cassandra_pmem_spark.sources.sstable import (
            CompressionInfo, compress_data, decompress_range,
        )

        data = bytes((i * 31) & 0xFF for i in range(50_000))
        comp, info = compress_data(data, chunk_length=4096)
        ci = CompressionInfo.parse(info)
        buf, base = decompress_range(comp, ci, 9000, 13000)
        assert base == 8192  # chunk-aligned
        assert buf[9000 - base:13000 - base] == data[9000:13000]
        # whole-range
        buf, base = decompress_range(comp, ci, 0, len(data))
        assert base == 0 and buf == data
        # chunk corruption is detected by the per-chunk CRC32
        bad = bytearray(comp)
        bad[ci.offsets[1] + 10] ^= 0xFF
        with pytest.raises(ValueError, match="checksum"):
            decompress_range(bytes(bad), ci, 4096, 8192)

    def test_compressed_roundtrip_and_point_read(self, tmp_path):
        from cassandra_pmem_spark.cql.parser import _scalar_token
        from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta
        from cassandra_pmem_spark.sources.sstable import (
            sstable_point_read, write_sstable,
        )
        from pyspark.sql import types as T

        schema = _schema()
        meta = TableMeta(
            "t",
            T.StructType([
                T.StructField("k", T.IntegerType()),
                T.StructField("c", T.IntegerType()),
                T.StructField("v", T.StringType()),
                T.StructField("n", T.LongType()),
            ]),
            partition_key=("k",),
            clustering=(ClusteringColumn("c",),),
        )
        ks = sorted(range(40), key=lambda k: _scalar_token(meta, (k,)))
        parts = [
            _part(k, [
                _row(c, TS, v=f"{k}:{c}" * 20, n=k * 100 + c)
                for c in range(10)
            ])
            for k in ks
        ]
        man = write_sstable(
            str(tmp_path), 1, schema, parts, compression=True,
            chunk_length=4096,
        )
        names = sorted(p.name for p in tmp_path.iterdir())
        assert "na-1-big-CompressionInfo.db" in names
        # compressed file smaller than the uncompressed stream
        import os as _os

        assert (
            _os.path.getsize(tmp_path / "na-1-big-Data.db")
            < man["data_bytes"]
        )
        got = sstable_point_read(str(tmp_path), [17])
        assert [(r["ck0"], r["n"]) for r in got] == [
            (c, 1700 + c) for c in range(10)
        ]

    def test_compressed_distributed_read(self, spark, tmp_path):
        from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("k", T.IntegerType()),
            T.StructField("c", T.IntegerType()),
            T.StructField("v", T.StringType()),
            T.StructField("n", T.LongType()),
        ])
        meta = TableMeta(
            "t", schema, partition_key=("k",),
            clustering=(ClusteringColumn("c"),),
        )
        rows = [
            (k, c, f"{k}/{c}" * 15, k * 1000 + c)
            for k in range(30)
            for c in range(5)
        ]
        df = spark.createDataFrame(rows, schema)
        out = str(tmp_path / "sst")
        bulk_write_sstables(
            df, meta, out, sstables=2, timestamp_micros=TS, compression=True
        )
        back = read_sstables(spark, out, split_bytes=2048)
        got = {
            (r["key0"], r["ck0"]): (r["v"], r["n"])
            for r in (x.asDict() for x in back.collect())
        }
        assert len(got) == 150
        for k, c, v, n in rows:
            assert got[(k, c)] == (v, n)


class TestSstableDump:
    def test_dump_shape(self, tmp_path):
        from cassandra_pmem_spark.cql.parser import _scalar_token
        from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta
        from cassandra_pmem_spark.sources.sstable import dump_sstable
        from pyspark.sql import types as T

        schema = _schema()
        meta = TableMeta(
            "t",
            T.StructType([
                T.StructField("k", T.IntegerType()),
                T.StructField("c", T.IntegerType()),
                T.StructField("v", T.StringType()),
                T.StructField("n", T.LongType()),
            ]),
            partition_key=("k",), clustering=(ClusteringColumn("c"),),
        )
        ks = sorted(range(3), key=lambda k: _scalar_token(meta, (k,)))
        dead = RowData(clustering=[9],
                       deletion=(TS + 10, DELETION_TIME_EPOCH + 10))
        parts = [
            _part(ks[0], [_row(1, TS, v="x", n=5), dead]),
            _part(ks[1], [_row(2, TS + 7, v="y")]),
            _part(ks[2], []),
        ]
        parts[2].deletion = (TS + 3, DELETION_TIME_EPOCH + 3)
        write_sstable(str(tmp_path), 1, schema, parts, compression=True)
        dump = dump_sstable(
            str(tmp_path / "na-1-big-Data.db"),
            now_seconds=DELETION_TIME_EPOCH,
        )
        assert [p["partition"]["key"] for p in dump] == [[str(k)] for k in ks]
        p0 = dump[0]
        assert p0["rows"][0]["type"] == "row"
        assert p0["rows"][0]["clustering"] == ["1"]
        assert p0["rows"][0]["liveness_info"]["tstamp"].endswith("Z")
        cells = {c["name"]: c for c in p0["rows"][0]["cells"]}
        assert cells["v"]["value"] == "x" and cells["n"]["value"] == 5
        # cell tstamp omitted when it equals the row liveness tstamp
        assert "tstamp" not in cells["v"]
        assert "deletion_info" in p0["rows"][1]
        assert "deletion_info" in dump[2]["partition"]
        assert "rows" not in dump[2]

    def test_cli_sstabledump(self, tmp_path, capsys):
        import json as _json

        from cassandra_pmem_spark.__main__ import main
        from cassandra_pmem_spark.cql.parser import _scalar_token
        from cassandra_pmem_spark.catalog import TableMeta
        from pyspark.sql import types as T

        schema = SSTableSchema(
            ["k"], [_MARSHAL + "Int32Type"], [], [],
            [("v", _MARSHAL + "UTF8Type")],
        )
        meta = TableMeta(
            "t",
            T.StructType([
                T.StructField("k", T.IntegerType()),
                T.StructField("v", T.StringType()),
            ]),
            partition_key=("k",),
        )
        ks = sorted(range(4), key=lambda k: _scalar_token(meta, (k,)))
        parts = [
            PartitionData(
                key_values=[k],
                rows=[RowData(clustering=[], liveness_timestamp=TS,
                              cells={"v": CellValue(f"v{k}", TS)})],
            )
            for k in ks
        ]
        write_sstable(str(tmp_path), 1, schema, parts)
        rc = main(["--sstabledump", str(tmp_path)])
        assert rc == 0
        dump = _json.loads(capsys.readouterr().out)
        assert [p["partition"]["key"] for p in dump] == [[str(k)] for k in ks]
        assert dump[0]["rows"][0]["cells"][0]["value"] == f"v{ks[0]}"


class TestSstableLoader:
    def test_load_into_cql_table(self, spark, tmp_path):
        from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta
        from cassandra_pmem_spark.cql.ddl import CqlDatabase
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("k", T.IntegerType()),
            T.StructField("c", T.IntegerType()),
            T.StructField("v", T.StringType()),
            T.StructField("n", T.LongType()),
        ])
        meta = TableMeta(
            "src", schema, partition_key=("k",),
            clustering=(ClusteringColumn("c"),),
        )
        rows = [(k, c, f"{k}.{c}", k * 10 + c) for k in range(8) for c in range(2)]
        out = str(tmp_path / "sst")
        bulk_write_sstables(
            spark.createDataFrame(rows, schema), meta, out, sstables=2,
            timestamp_micros=TS, compression=True,
        )

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE lks WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("USE lks")
        db.execute("CREATE TABLE t (k int, c int, v text, n bigint, "
                   "PRIMARY KEY (k, c))")
        db.load_sstables("t", out)
        got = {
            (r.k, r.c): (r.v, r.n)
            for r in db.execute("SELECT k, c, v, n FROM t").collect()
        }
        assert len(got) == 16
        for k, c, v, n in rows:
            assert got[(k, c)] == (v, n)
        # statement writes LWW-beat imported base history
        db.execute("UPDATE t SET v = 'patched' WHERE k = 3 AND c = 1")
        assert db.execute(
            "SELECT v FROM t WHERE k = 3 AND c = 1"
        ).collect()[0].v == "patched"
        # and CQL point semantics work over the imported data
        assert db.execute(
            "SELECT n FROM t WHERE k = 5 AND c = 0"
        ).collect()[0].n == 50

    def test_load_rejects_key_shape_mismatch(self, spark, tmp_path):
        from cassandra_pmem_spark.catalog import TableMeta
        from cassandra_pmem_spark.cql.ddl import CqlDatabase
        from cassandra_pmem_spark.cql.validator import InvalidRequest
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("k", T.IntegerType()),
            T.StructField("v", T.StringType()),
        ])
        meta = TableMeta("flat", schema, partition_key=("k",))
        out = str(tmp_path / "sst")
        bulk_write_sstables(
            spark.createDataFrame([(1, "a")], schema), meta, out,
            timestamp_micros=TS,
        )
        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE mks WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("USE mks")
        db.execute("CREATE TABLE two (a int, b int, v text, PRIMARY KEY (a, b))")
        with pytest.raises(InvalidRequest, match="does not match table"):
            db.load_sstables("two", out)


def _events_dir(spark, out, rows, sstables=2):
    """bulk-write (k int, c int, v text) rows as a two-sstable directory."""
    from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.IntegerType()),
        T.StructField("c", T.IntegerType()),
        T.StructField("v", T.StringType()),
    ])
    meta = TableMeta(
        "src", schema, partition_key=("k",),
        clustering=(ClusteringColumn("c"),),
    )
    bulk_write_sstables(
        spark.createDataFrame(rows, schema), meta, out, sstables=sstables,
        timestamp_micros=TS,
    )


def _kcv_db(spark, ks, tables=("t",)):
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    db = CqlDatabase(spark)
    db.execute(f"CREATE KEYSPACE {ks} WITH REPLICATION = {{'class': 'SimpleStrategy'}}")
    db.execute(f"USE {ks}")
    for t in tables:
        db.execute(f"CREATE TABLE {t} (k int, c int, v text, PRIMARY KEY (k, c))")
    return db


class TestImportSnapshot:
    """load_sstables decodes the directory once and pins the rows as the
    table's base, like `nodetool import` taking the files in: the source
    may be deleted afterwards, and the table owns (and releases) the pin."""

    def test_source_may_be_deleted_after_import(self, spark, tmp_path):
        import shutil

        rows = [(k, c, f"{k}.{c}") for k in range(6) for c in range(3)]
        src = str(tmp_path / "src")
        _events_dir(spark, src, rows)
        db = _kcv_db(spark, "snapks")
        db.load_sstables("t", src)
        shutil.rmtree(src)

        got = {(r.k, r.c): r.v for r in db.execute("SELECT * FROM t").collect()}
        assert got == {(k, c): v for k, c, v in rows}
        db.execute("UPDATE t SET v = 'patched' WHERE k = 2 AND c = 1")
        assert db.execute(
            "SELECT v FROM t WHERE k = 2 AND c = 1"
        ).collect()[0].v == "patched"
        out = str(tmp_path / "flushed")
        manifests = db.flush_sstables("t", out)
        assert sum(m["rows"] for m in manifests) == len(rows)
        db.execute("CREATE TABLE t2 (k int, c int, v text, PRIMARY KEY (k, c))")
        db.load_sstables("t2", out)
        got2 = {(r.k, r.c): r.v for r in db.execute("SELECT * FROM t2").collect()}
        assert got2 == {**got, (2, 1): "patched"}

    def test_load_pins_once_and_truncate_unpins(self, spark, tmp_path):
        from tests.conftest import persisted_rdds

        src = str(tmp_path / "src")
        _events_dir(spark, src, [(k, 0, str(k)) for k in range(5)])
        db = _kcv_db(spark, "pinks1")
        before = persisted_rdds(spark)
        db.load_sstables("t", src)
        assert persisted_rdds(spark) == before + 1
        # reads scan the pinned rows: no new pin, no re-decode
        assert db.execute("SELECT count(*) FROM t").collect()[0][0] == 5
        assert persisted_rdds(spark) == before + 1
        db.execute("TRUNCATE t")
        assert persisted_rdds(spark) == before
        assert db.execute("SELECT count(*) FROM t").collect()[0][0] == 0

    def test_two_loads_keep_the_union(self, spark, tmp_path):
        from tests.conftest import persisted_rdds

        a, b = str(tmp_path / "a"), str(tmp_path / "b")
        _events_dir(spark, a, [(k, 0, "a") for k in range(4)])
        _events_dir(spark, b, [(k, 1, "b") for k in range(2, 6)])
        db = _kcv_db(spark, "pinks2")
        before = persisted_rdds(spark)
        db.load_sstables("t", a)
        db.load_sstables("t", b)
        assert persisted_rdds(spark) == before + 2
        got = sorted(
            (r.k, r.c, r.v) for r in db.execute("SELECT * FROM t").collect()
        )
        assert got == sorted(
            [(k, 0, "a") for k in range(4)] + [(k, 1, "b") for k in range(2, 6)]
        )

    def test_truncate_then_import_reads_the_new_rows(self, spark, tmp_path):
        # TRUNCATE frees the old base and the next import makes a new
        # one; the memoized read must follow, round after round
        a, b = str(tmp_path / "a"), str(tmp_path / "b")
        rows_a = [(k, 0, "a") for k in range(4)]
        rows_b = [(k, 1, "b") for k in range(2, 6)]
        _events_dir(spark, a, rows_a)
        _events_dir(spark, b, rows_b)
        db = _kcv_db(spark, "trimp")

        def read():
            return sorted(tuple(r) for r in db.execute("SELECT * FROM t").collect())

        for _ in range(4):
            for src, rows in ((a, rows_a), (b, rows_b)):
                db.execute("TRUNCATE t")
                assert read() == []
                db.load_sstables("t", src)
                assert read() == rows

    def test_drop_table_releases_its_pins(self, spark, tmp_path):
        from tests.conftest import persisted_rdds

        src = str(tmp_path / "src")
        _events_dir(spark, src, [(k, 0, str(k)) for k in range(5)])
        db = _kcv_db(spark, "pinks3", tables=("t", "keep"))
        db.load_sstables("keep", src)
        before = persisted_rdds(spark)
        db.load_sstables("t", src)
        db.load_sstables("t", src)
        db.execute("INSERT INTO t (k, c, v) VALUES (9, 9, 'w')")
        assert db.execute("SELECT count(*) FROM t").collect()[0][0] == 6
        db.execute("DROP TABLE t")
        assert persisted_rdds(spark) == before
        # the other table's pin is untouched
        assert db.execute("SELECT count(*) FROM keep").collect()[0][0] == 5

    def test_collected_database_leaves_no_pins(self, spark, tmp_path):
        from tests.conftest import persisted_rdds

        src = str(tmp_path / "src")
        _events_dir(spark, src, [(k, 0, str(k)) for k in range(5)])
        before = persisted_rdds(spark)
        db = _kcv_db(spark, "pinks4")
        db.load_sstables("t", src)
        db.execute("INSERT INTO t (k, c, v) VALUES (9, 9, 'w')")
        assert db.execute("SELECT count(*) FROM t").collect()[0][0] == 6
        assert persisted_rdds(spark) > before
        del db
        assert persisted_rdds(spark) == before


class TestFlush:
    def test_flush_then_load_round_trip(self, spark, tmp_path):
        # nodetool flush -> sstables -> nodetool import: the full
        # dump/restore loop inside the engine
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE fks WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("USE fks")
        db.execute("CREATE TABLE t (k int, c int, v text, PRIMARY KEY (k, c))")
        for k in range(5):
            for c in range(3):
                db.execute("INSERT INTO t (k, c, v) VALUES (?, ?, ?)",
                           [k, c, f"{k}-{c}"])
        # a delete and an overwrite: flush writes the VISIBLE state
        db.execute("DELETE FROM t WHERE k = 2 AND c = 1")
        db.execute("UPDATE t SET v = 'new' WHERE k = 0 AND c = 0")
        out = str(tmp_path / "flush")
        manifests = db.flush_sstables("t", out, sstables=2)
        assert sum(m["rows"] for m in manifests) == 14
        db.execute("CREATE TABLE t2 (k int, c int, v text, PRIMARY KEY (k, c))")
        db.load_sstables("t2", out)
        got = {
            (r.k, r.c): r.v for r in db.execute("SELECT * FROM t2").collect()
        }
        assert len(got) == 14
        assert got[(0, 0)] == "new" and (2, 1) not in got

    def test_flush_timeuuid_keys_keep_wire_form(self, spark, tmp_path):
        # a timeuuid partition key must hash through its 16-byte wire
        # form in the sstable writer, not its text form
        from cassandra_pmem_spark.cql.ddl import CqlDatabase
        from cassandra_pmem_spark.sources.sstable import dump_sstable
        import os as _os

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE fks2 WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("USE fks2")
        db.execute("CREATE TABLE ev (id timeuuid PRIMARY KEY, v int)")
        db.execute("INSERT INTO ev (id, v) VALUES (now(), 1)")
        db.execute("INSERT INTO ev (id, v) VALUES (now(), 2)")
        out = str(tmp_path / "flush2")
        manifests = db.flush_sstables("ev", out)
        assert sum(m["rows"] for m in manifests) == 2
        data = [f for f in _os.listdir(out) if f.endswith("-Data.db")]
        dump = []
        for f in data:
            dump.extend(dump_sstable(_os.path.join(out, f)))
        vals = sorted(
            r["cells"][0]["value"] for p in dump for r in p["rows"]
        )
        assert vals == [1, 2]


class TestSummary:
    def _write_many(self, tmp_path, n=300):
        from cassandra_pmem_spark.cql.parser import _scalar_token
        from cassandra_pmem_spark.catalog import TableMeta
        from pyspark.sql import types as T

        schema = SSTableSchema(
            ["k"], [_MARSHAL + "Int32Type"], [], [],
            [("v", _MARSHAL + "UTF8Type")],
        )
        meta = TableMeta(
            "t",
            T.StructType([
                T.StructField("k", T.IntegerType()),
                T.StructField("v", T.StringType()),
            ]),
            partition_key=("k",),
        )
        ks = sorted(range(n), key=lambda k: _scalar_token(meta, (k,)))
        parts = [
            PartitionData(
                key_values=[k],
                rows=[RowData(clustering=[], liveness_timestamp=TS,
                              cells={"v": CellValue(f"v{k}", TS)})],
            )
            for k in ks
        ]
        write_sstable(str(tmp_path), 1, schema, parts)
        return ks

    def test_summary_layout_round_trip(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import (
            read_index_entries, read_summary,
        )

        ks = self._write_many(tmp_path, 300)
        blob = (tmp_path / "na-1-big-Summary.db").read_bytes()
        summ = read_summary(blob)
        # IndexSummary.serialize pins: minIndexInterval, BASE sampling,
        # ceil(300/128) = 3 sampled entries at full sampling
        assert summ["min_index_interval"] == 128
        assert summ["sampling_level"] == 128
        assert summ["size_at_full_sampling"] == 3
        assert len(summ["entries"]) == 3
        # each sampled entry's offset points at ITS Index.db record
        idx = (tmp_path / "na-1-big-Index.db").read_bytes()
        entries = read_index_entries(idx)
        assert [e[0] for e in summ["entries"]] == [
            entries[0][0], entries[128][0], entries[256][0],
        ]
        assert summ["first"] == entries[0][0]
        assert summ["last"] == entries[-1][0]
        # native-order header pins (offsets little-endian, rebased)
        assert blob[:4] == struct.pack(">i", 128)
        assert struct.unpack("<i", blob[24:28])[0] == 3 * 4  # first offset

    def test_point_read_seeks_via_summary(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import sstable_point_read

        ks = self._write_many(tmp_path, 300)
        # probe a key in the LAST sampled interval: the scan must start
        # at the third sampled entry, touching <= 128 + 1 index entries
        probe = ks[290]
        trace: dict = {}
        got = sstable_point_read(str(tmp_path), [probe], _trace=trace)
        assert [r["v"] for r in got] == [f"v{probe}"]
        assert trace["summary_seeks"] == 1
        assert trace["index_entries_scanned"] <= 129
        # an out-of-range probe short-circuits on first/last keys
        # without scanning the index at all (if bloom passes it)
        trace2: dict = {}
        sstable_point_read(str(tmp_path), [999_999], _trace=trace2)
        assert trace2["index_entries_scanned"] <= 1


class TestStaticRows:
    def _schema_static(self):
        return SSTableSchema(
            ["k"], [_MARSHAL + "Int32Type"], ["c"], [_MARSHAL + "Int32Type"],
            [("v", _MARSHAL + "UTF8Type")],
            [("s", _MARSHAL + "UTF8Type")],
        )

    def test_static_row_round_trip(self):
        schema = self._schema_static()
        part = _part(1, [_row(1, TS, v="a"), _row(2, TS, v="b")])
        part.static_cells["s"] = CellValue("shared", TS + 5)
        stats = compute_stats([part])
        blob = serialize_partition(part, schema, stats)
        # first unfiltered after the partition header is the static row:
        # EXTENSION_FLAG set, extended byte IS_STATIC
        at = 2 + 4 + 12
        assert blob[at] & 0x80 and blob[at + 1] == 0x01
        got = read_partition(ByteReader(blob), schema, stats)
        assert got.static_cells["s"].value == "shared"
        assert got.static_cells["s"].timestamp == TS + 5
        assert [r.cells["v"].value for r in got.rows] == ["a", "b"]

    def test_empty_static_row_still_written(self):
        # header hasStatic => every partition carries a static row,
        # possibly empty (ColumnIndex.writePartitionHeader)
        schema = self._schema_static()
        part = _part(2, [_row(1, TS, v="x")])
        stats = compute_stats([part])
        got = read_partition(
            ByteReader(serialize_partition(part, schema, stats)),
            schema, stats,
        )
        assert got.static_cells == {}
        assert got.rows[0].cells["v"].value == "x"

    def test_visible_rows_spread_statics(self):
        schema = self._schema_static()
        part = _part(3, [_row(1, TS, v="a"), _row(2, TS)])
        part.static_cells["s"] = CellValue("sv", TS)
        stats = compute_stats([part])
        got = read_partition(
            ByteReader(serialize_partition(part, schema, stats)),
            schema, stats,
        )
        vis = visible_rows(got, schema, DELETION_TIME_EPOCH)
        assert [(r["c"], r["v"], r["s"]) for r in vis] == [
            (1, "a", "sv"), (2, None, "sv"),
        ]

    def test_static_only_partition_yields_one_null_row(self):
        schema = self._schema_static()
        part = _part(4, [])
        part.static_cells["s"] = CellValue("only", TS)
        stats = compute_stats([part])
        got = read_partition(
            ByteReader(serialize_partition(part, schema, stats)),
            schema, stats,
        )
        vis = visible_rows(got, schema, DELETION_TIME_EPOCH)
        assert vis == [{"k": 4, "c": None, "v": None, "s": "only"}]

    def test_partition_deletion_shadows_statics(self):
        schema = self._schema_static()
        part = _part(5, [])
        part.static_cells["s"] = CellValue("old", TS)
        part.deletion = (TS + 1, DELETION_TIME_EPOCH)
        stats = compute_stats([part])
        got = read_partition(
            ByteReader(serialize_partition(part, schema, stats)),
            schema, stats,
        )
        assert visible_rows(got, schema, DELETION_TIME_EPOCH) == []

    def test_bulk_write_static_table_end_to_end(self, spark, tmp_path):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE sks WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("USE sks")
        db.execute("CREATE TABLE t (k int, c int, s text static, v text, "
                   "PRIMARY KEY (k, c))")
        for k in range(4):
            # the statement layer writes statics alongside a full-pk row
            db.execute("INSERT INTO t (k, c, s, v) VALUES (?, ?, ?, ?)",
                       [k, 0, f"s{k}", f"{k}.0"])
            db.execute("INSERT INTO t (k, c, v) VALUES (?, ?, ?)",
                       [k, 1, f"{k}.1"])
        out = str(tmp_path / "sst")
        db.flush_sstables("t", out)
        # header-declared statics survive the distributed read
        back = read_sstables(spark, out)
        got = {(r["key0"], r["ck0"]): (r["v"], r["s"]) for r in
               (x.asDict() for x in back.collect())}
        assert len(got) == 8
        for k in range(4):
            for c in range(2):
                assert got[(k, c)] == (f"{k}.{c}", f"s{k}")
        # and load back into a fresh static table
        db.execute("CREATE TABLE t2 (k int, c int, s text static, v text, "
                   "PRIMARY KEY (k, c))")
        db.load_sstables("t2", out)
        r = db.execute("SELECT s FROM t2 WHERE k = 2 AND c = 1").collect()
        assert r[0].s == "s2"


    def test_static_timestamp_column_reads_back(self, spark, tmp_path):
        """A TIMESTAMP-typed static column through the distributed
        read: the statics-declared path takes the reference decoder
        with the epoch-millis fast lane (ts_cols includes statics), so
        the value must survive to the exact millisecond."""
        import datetime as dt

        from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("k", T.IntegerType()),
            T.StructField("c", T.IntegerType()),
            T.StructField("since", T.TimestampType()),
            T.StructField("v", T.StringType()),
        ])
        meta = TableMeta(
            "st", schema, partition_key=("k",),
            clustering=(ClusteringColumn("c"),),
            static_columns=("since",),
        )
        want = dt.datetime(2024, 5, 1, 7, 30, 15, 123000)
        rows = [(k, c, want, f"{k}.{c}") for k in range(3) for c in range(2)]
        df = spark.createDataFrame(rows, schema)
        out = str(tmp_path / "sst")
        bulk_write_sstables(df, meta, out, sstables=2, timestamp_micros=TS)
        got = {
            (r["key0"], r["ck0"]): r["since"]
            for r in read_sstables(spark, out).collect()
        }
        assert len(got) == 6
        for v in got.values():
            naive = v.replace(tzinfo=None)
            assert naive == want, (naive, want)


class TestStatsMetadata:
    def test_stats_component_round_trip(self, tmp_path):
        from cassandra_pmem_spark.cql.parser import _scalar_token
        from cassandra_pmem_spark.catalog import ClusteringColumn, TableMeta
        from pyspark.sql import types as T

        schema = _schema()
        meta = TableMeta(
            "t",
            T.StructType([
                T.StructField("k", T.IntegerType()),
                T.StructField("c", T.IntegerType()),
                T.StructField("v", T.StringType()),
                T.StructField("n", T.LongType()),
            ]),
            partition_key=("k",), clustering=(ClusteringColumn("c"),),
        )
        ks = sorted(range(10), key=lambda k: _scalar_token(meta, (k,)))
        tomb = RowData(clustering=[99],
                       deletion=(TS + 50, DELETION_TIME_EPOCH + 50))
        parts = [
            _part(k, [_row(c, TS + c, v=f"{k}", n=k) for c in range(3)])
            for k in ks
        ]
        parts[0].rows.append(tomb)
        write_sstable(str(tmp_path), 1, schema, parts, compression=True)
        _stats, hdr = parse_statistics(
            (tmp_path / "na-1-big-Statistics.db").read_bytes()
        )
        sm = hdr["stats_metadata"]
        assert sm["total_rows"] == 31
        assert sm["total_columns_set"] == 60  # 2 live cells x 30 rows
        assert sm["min_timestamp"] == TS and sm["max_timestamp"] == TS + 50
        # clustering bounds cover every row incl. the tombstone row
        assert sm["min_clustering_values"] == [0]
        assert sm["max_clustering_values"] == [99]
        assert sm["tombstone_drop_times"] == [
            (float(DELETION_TIME_EPOCH + 50), 1)
        ]
        assert 0 < sm["compression_ratio"] < 1.5
        assert sm["repaired_at"] == 0 and sm["sstable_level"] == 0
        # histogram bucket counts sum to the partition count
        assert sum(c for _o, c in sm["partition_size_histogram"]) == 10
        assert sum(c for _o, c in sm["cells_histogram"]) == 10
        # the offsets ladder is the reference's 1.2-growth sequence
        offs = [o for o, _c in sm["partition_size_histogram"]]
        assert offs[0] == offs[1] == 1 and offs[2] == 2  # shifted pairing


class TestRangeTombstoneMarkers:
    def test_marker_round_trip_and_shadowing(self):
        from cassandra_pmem_spark.sources.sstable import (
            EXCL_START_BOUND, INCL_END_BOUND, INCL_START_BOUND, MarkerData,
        )

        schema = _schema()
        # rows c = 1..5; range delete (2, 4] at ts+10 opens EXCLUSIVE
        # after c=2 and closes INCLUSIVE at c=4
        rows = [_row(c, TS, v=str(c)) for c in (1, 2)]
        rows.append(MarkerData(
            kind=EXCL_START_BOUND, values=[2],
            deletion=(TS + 10, DELETION_TIME_EPOCH + 10),
        ))
        rows += [_row(c, TS, v=str(c)) for c in (3, 4)]
        rows.append(MarkerData(
            kind=INCL_END_BOUND, values=[4],
            deletion=(TS + 10, DELETION_TIME_EPOCH + 10),
        ))
        rows.append(_row(5, TS, v="5"))
        part = _part(1, rows)
        stats = compute_stats([part])
        blob = serialize_partition(part, schema, stats)
        got = read_partition(ByteReader(blob), schema, stats)
        markers = [r for r in got.rows
                   if isinstance(r, MarkerData)]
        assert [(m.kind, m.values, m.deletion) for m in markers] == [
            (EXCL_START_BOUND, [2], (TS + 10, DELETION_TIME_EPOCH + 10)),
            (INCL_END_BOUND, [4], (TS + 10, DELETION_TIME_EPOCH + 10)),
        ]
        vis = visible_rows(got, schema, DELETION_TIME_EPOCH)
        # rows 3 and 4 fall inside the open range and are shadowed
        assert [r["c"] for r in vis] == [1, 2, 5]
        # a NEWER row inside the range survives the ts+10 shadow
        part2 = _part(1, [
            rows[2],  # open marker at [2]
            RowData(clustering=[3], liveness_timestamp=TS + 20,
                    cells={"v": CellValue("survivor", TS + 20)}),
            rows[5],  # close marker at [4]
        ])
        stats2 = compute_stats([part2])
        got2 = read_partition(
            ByteReader(serialize_partition(part2, schema, stats2)),
            schema, stats2,
        )
        vis2 = visible_rows(got2, schema, DELETION_TIME_EPOCH)
        assert [r["v"] for r in vis2] == ["survivor"]

    def test_boundary_marker(self):
        from cassandra_pmem_spark.sources.sstable import (
            EXCL_END_INCL_START_BOUNDARY, INCL_END_BOUND, INCL_START_BOUND,
            MarkerData,
        )

        schema = _schema()
        part = _part(2, [
            MarkerData(kind=INCL_START_BOUND, values=[0],
                       deletion=(TS + 5, DELETION_TIME_EPOCH + 5)),
            _row(1, TS, v="dead-old"),
            # boundary: close the ts+5 range, open a ts+30 one
            MarkerData(kind=EXCL_END_INCL_START_BOUNDARY, values=[2],
                       deletion=(TS + 5, DELETION_TIME_EPOCH + 5),
                       start_deletion=(TS + 30, DELETION_TIME_EPOCH + 30)),
            _row(3, TS + 20, v="dead-newer"),
            MarkerData(kind=INCL_END_BOUND, values=[9],
                       deletion=(TS + 30, DELETION_TIME_EPOCH + 30)),
        ])
        stats = compute_stats([part])
        got = read_partition(
            ByteReader(serialize_partition(part, schema, stats)),
            schema, stats,
        )
        b = [r for r in got.rows if isinstance(r, MarkerData)][1]
        assert b.deletion == (TS + 5, DELETION_TIME_EPOCH + 5)
        assert b.start_deletion == (TS + 30, DELETION_TIME_EPOCH + 30)
        # both rows shadowed: first by ts+5 range, second by ts+30 range
        assert visible_rows(got, schema, DELETION_TIME_EPOCH) == []

    def test_marker_prefix_on_multi_clustering(self):
        from cassandra_pmem_spark.sources.sstable import (
            EXCL_END_BOUND, INCL_START_BOUND, MarkerData,
        )

        schema = SSTableSchema(
            ["k"], [_MARSHAL + "Int32Type"],
            ["c1", "c2"], [_MARSHAL + "Int32Type"] * 2,
            [("v", _MARSHAL + "UTF8Type")],
        )
        # a ONE-component prefix bound over two clustering columns
        part = PartitionData(key_values=[1], rows=[
            MarkerData(kind=INCL_START_BOUND, values=[5],
                       deletion=(TS + 1, DELETION_TIME_EPOCH)),
            RowData(clustering=[5, 7], liveness_timestamp=TS,
                    cells={"v": CellValue("x", TS)}),
            MarkerData(kind=EXCL_END_BOUND, values=[6],
                       deletion=(TS + 1, DELETION_TIME_EPOCH)),
        ])
        stats = compute_stats([part])
        got = read_partition(
            ByteReader(serialize_partition(part, schema, stats)),
            schema, stats,
        )
        m = got.rows[0]
        assert isinstance(m, MarkerData) and m.values == [5]
        assert visible_rows(got, schema, DELETION_TIME_EPOCH) == []

    def test_dump_renders_markers(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import (
            EXCL_START_BOUND, INCL_END_BOUND, MarkerData, dump_sstable,
        )

        schema = _schema()
        part = _part(1, [
            MarkerData(kind=EXCL_START_BOUND, values=[1],
                       deletion=(TS, DELETION_TIME_EPOCH)),
            MarkerData(kind=INCL_END_BOUND, values=[4],
                       deletion=(TS, DELETION_TIME_EPOCH)),
        ])
        write_sstable(str(tmp_path), 1, schema, [part])
        dump = dump_sstable(str(tmp_path / "na-1-big-Data.db"))
        kinds = [r["type"] for r in dump[0]["rows"]]
        assert kinds == ["range_tombstone_bound", "range_tombstone_bound"]
        assert dump[0]["rows"][0]["clustering"] == ["1"]


class TestComplexColumns:
    def _schema_coll(self):
        return SSTableSchema(
            ["k"], [_MARSHAL + "Int32Type"], [], [],
            [
                ("tags", f"{_MARSHAL}SetType({_MARSHAL}UTF8Type)"),
                ("seq", f"{_MARSHAL}ListType({_MARSHAL}Int32Type)"),
                ("attrs",
                 f"{_MARSHAL}MapType({_MARSHAL}UTF8Type,{_MARSHAL}Int32Type)"),
            ],
        )

    def test_collection_round_trip(self):
        schema = self._schema_coll()
        row = RowData(clustering=[], liveness_timestamp=TS)
        row.cells["seq"] = CellValue([7, 3, 7], TS)
        row.cells["tags"] = CellValue(["b", "a"], TS)
        row.cells["attrs"] = CellValue({"y": 2, "x": 1}, TS)
        part = PartitionData(key_values=[1], rows=[row])
        stats = compute_stats([part])
        got = read_partition(
            ByteReader(serialize_partition(part, schema, stats)),
            schema, stats,
        )
        cells = got.rows[0].cells
        assert cells["seq"].value == [7, 3, 7]          # list keeps order+dups
        assert cells["tags"].value == ["a", "b"]        # set: sorted, unique
        assert cells["attrs"].value == {"x": 1, "y": 2}
        # complex deletion at ts-1 present (HAS_COMPLEX_DELETION row)
        blob = serialize_partition(part, schema, stats)
        flags = blob[2 + 4 + 12]
        assert flags & 0x40  # HAS_COMPLEX_DELETION

    def test_list_paths_are_ascending_timeuuids(self):
        from cassandra_pmem_spark.sources.sstable import _list_path

        paths = [_list_path(TS, i) for i in range(5)]
        assert paths == sorted(paths) and len(set(paths)) == 5
        assert all(len(p) == 16 and p[6] >> 4 == 1 for p in paths)  # v1

    def test_empty_collections_round_trip(self):
        schema = self._schema_coll()
        row = RowData(clustering=[], liveness_timestamp=TS)
        row.cells["seq"] = CellValue([], TS)
        part = PartitionData(key_values=[2], rows=[row])
        stats = compute_stats([part])
        got = read_partition(
            ByteReader(serialize_partition(part, schema, stats)),
            schema, stats,
        )
        assert got.rows[0].cells["seq"].value == []

    def test_flush_and_read_collection_table(self, spark, tmp_path):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE cks WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("USE cks")
        db.execute("CREATE TABLE t (k int PRIMARY KEY, tags set<text>, "
                   "seq list<int>, attrs map<text, int>)")
        db.execute("INSERT INTO t (k, tags, seq, attrs) VALUES "
                   "(1, {'b', 'a'}, [3, 1, 3], {'x': 1})")
        db.execute("INSERT INTO t (k, seq) VALUES (2, [9])")
        out = str(tmp_path / "sst")
        db.flush_sstables("t", out)
        back = read_sstables(spark, out)
        got = {r["key0"]: (r["tags"], r["seq"], r["attrs"])
               for r in (x.asDict() for x in back.collect())}
        assert got[1] == (["a", "b"], [3, 1, 3], {"x": 1})
        assert got[2] == (None, [9], None) or got[2] == ([], [9], {})
        # load back into a fresh table and query through CQL
        db.execute("CREATE TABLE t2 (k int PRIMARY KEY, tags set<text>, "
                   "seq list<int>, attrs map<text, int>)")
        db.load_sstables("t2", out)
        r = {x.k: x for x in db.execute("SELECT * FROM t2").collect()}
        assert list(r[1].seq) == [3, 1, 3]
        assert sorted(r[1].tags) == ["a", "b"]
        assert dict(r[1].attrs) == {"x": 1}


class TestComplexTtl:
    def test_ttl_collection_expires_as_a_unit(self):
        schema = SSTableSchema(
            ["k"], [_MARSHAL + "Int32Type"], [], [],
            [("seq", f"{_MARSHAL}ListType({_MARSHAL}Int32Type)")],
        )
        row = RowData(clustering=[], liveness_timestamp=TS,
                      liveness_ttl=60, liveness_expiration=DELETION_TIME_EPOCH + 60)
        row.cells["seq"] = CellValue(
            [1, 2], TS, ttl=60, local_deletion_time=DELETION_TIME_EPOCH + 60,
        )
        part = PartitionData(key_values=[1], rows=[row])
        stats = compute_stats([part])
        got = read_partition(
            ByteReader(serialize_partition(part, schema, stats)),
            schema, stats,
        )
        cell = got.rows[0].cells["seq"]
        assert cell.value == [1, 2]
        assert (cell.ttl, cell.local_deletion_time) == (
            60, DELETION_TIME_EPOCH + 60,
        )
        assert visible_rows(got, schema, DELETION_TIME_EPOCH + 59)[0]["seq"] == [1, 2]
        assert visible_rows(got, schema, DELETION_TIME_EPOCH + 60) == []


class TestDirectoryEdges:
    def test_empty_sstable_reads_empty(self, spark, tmp_path):
        schema = SSTableSchema(
            ["k"], [_MARSHAL + "Int32Type"], [], [],
            [("v", _MARSHAL + "UTF8Type")],
        )
        write_sstable(str(tmp_path), 1, schema, [])
        back = read_sstables(spark, str(tmp_path))
        assert back.count() == 0
        assert back.columns == ["key0", "v"]

    def test_mixed_schema_directory_rejected(self, spark, tmp_path):
        a = SSTableSchema(["k"], [_MARSHAL + "Int32Type"], [], [],
                          [("v", _MARSHAL + "UTF8Type")])
        b = SSTableSchema(["k"], [_MARSHAL + "Int32Type"], [], [],
                          [("n", _MARSHAL + "LongType")])
        pa = PartitionData(key_values=[1], rows=[
            RowData(clustering=[], liveness_timestamp=TS,
                    cells={"v": CellValue("x", TS)})])
        pb = PartitionData(key_values=[1], rows=[
            RowData(clustering=[], liveness_timestamp=TS,
                    cells={"n": CellValue(5, TS)})])
        write_sstable(str(tmp_path), 1, a, [pa])
        write_sstable(str(tmp_path), 2, b, [pb])
        with pytest.raises(Exception, match="mixed sstable schemas"):
            read_sstables(spark, str(tmp_path)).collect()


class TestReviewRegressions:
    """Pins for the full-session review findings."""

    def test_select_star_pages(self, spark):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE rr1 WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("USE rr1")
        db.execute("CREATE TABLE t (k int, c int, v text, PRIMARY KEY (k, c))")
        for k in range(3):
            for c in range(3):
                db.execute("INSERT INTO t (k, c, v) VALUES (?, ?, ?)",
                           [k, c, f"{k}{c}"])
        p = db.pager("SELECT * FROM t", page_size=4)
        pages = []
        while not p.is_exhausted():
            got = p.fetch_page()
            if got:
                pages.append(got)
        rows = [(r["k"], r["c"], r["v"]) for pg in pages for r in pg]
        assert len(rows) == 9 and len(set(rows)) == 9
        assert [len(pg) for pg in pages] == [4, 4, 1]

    def test_static_collection_round_trips(self):
        # complex deletion at ts-1 for a STATIC collection must not wrap
        # through the unsigned vint when ts == the sstable min timestamp
        schema = SSTableSchema(
            ["k"], [_MARSHAL + "Int32Type"], ["c"], [_MARSHAL + "Int32Type"],
            [("v", _MARSHAL + "UTF8Type")],
            [("sl", f"{_MARSHAL}ListType({_MARSHAL}Int32Type)")],
        )
        part = _part(1, [_row(1, TS, v="x")])
        part.static_cells["sl"] = CellValue([1, 2, 3], TS)
        stats = compute_stats([part])
        assert stats.min_timestamp <= TS - 1
        got = read_partition(
            ByteReader(serialize_partition(part, schema, stats)),
            schema, stats,
        )
        assert got.static_cells["sl"].value == [1, 2, 3]
        vis = visible_rows(got, schema, DELETION_TIME_EPOCH)
        assert vis[0]["sl"] == [1, 2, 3]

    def test_empty_string_collection_elements(self):
        schema = SSTableSchema(
            ["k"], [_MARSHAL + "Int32Type"], [], [],
            [
                ("seq", f"{_MARSHAL}ListType({_MARSHAL}UTF8Type)"),
                ("m",
                 f"{_MARSHAL}MapType({_MARSHAL}Int32Type,{_MARSHAL}UTF8Type)"),
            ],
        )
        row = RowData(clustering=[], liveness_timestamp=TS)
        row.cells["seq"] = CellValue(["", "a"], TS)
        row.cells["m"] = CellValue({1: "", 2: "b"}, TS)
        part = PartitionData(key_values=[1], rows=[row])
        stats = compute_stats([part])
        got = read_partition(
            ByteReader(serialize_partition(part, schema, stats)),
            schema, stats,
        )
        assert got.rows[0].cells["seq"].value == ["", "a"]
        assert got.rows[0].cells["m"].value == {1: "", 2: "b"}

    def test_loader_tolerates_key_prefixed_column_names(self, spark, tmp_path):
        from cassandra_pmem_spark.catalog import TableMeta
        from cassandra_pmem_spark.cql.ddl import CqlDatabase
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("k", T.IntegerType()),
            T.StructField("keyword", T.StringType()),
            T.StructField("ckx", T.IntegerType()),
        ])
        meta = TableMeta("t", schema, partition_key=("k",))
        df = spark.createDataFrame([(1, "w", 9)], schema)
        out = str(tmp_path / "sst")
        bulk_write_sstables(df, meta, out, timestamp_micros=TS)
        db = CqlDatabase(spark)
        db.execute("CREATE KEYSPACE rr2 WITH REPLICATION = {'class': 'SimpleStrategy'}")
        db.execute("USE rr2")
        db.execute("CREATE TABLE t (k int PRIMARY KEY, keyword text, ckx int)")
        db.load_sstables("t", out)
        r = db.execute("SELECT k, keyword, ckx FROM t").collect()
        assert [(x.k, x.keyword, x.ckx) for x in r] == [(1, "w", 9)]


class TestPreEpochTimestamps:
    def test_small_timestamps_round_trip_and_shadow(self):
        # timestamps below the 2015 EncodingStats epoch encode as
        # negative deltas; the reader must wrap them back like Java long
        # arithmetic or every decoded timestamp shifts by 2^64
        schema = _schema()
        live = RowData(clustering=[1], liveness_timestamp=100,
                       cells={"v": CellValue("old", 100)})
        part = _part(1, [live])
        part.deletion = (200, DELETION_TIME_EPOCH)  # tombstone at ts=200
        stats = compute_stats([part])
        assert stats.min_timestamp == 100
        blob = serialize_partition(part, schema, stats)
        # Statistics round trip preserves the tiny minimum
        st2, _hdr = parse_statistics(serialize_statistics(schema, stats))
        assert st2.min_timestamp == 100
        got = read_partition(ByteReader(blob), schema, stats)
        assert got.rows[0].liveness_timestamp == 100
        assert got.rows[0].cells["v"].timestamp == 100
        # the partition tombstone at 200 shadows the row written at 100
        assert visible_rows(got, schema, DELETION_TIME_EPOCH) == []


class TestDownsampledSummary:
    """Summary.db downsampling (io/sstable/Downsampling.java;
    IndexSummaryBuilder.downsample:325-380; IndexSummary samplingLevel)."""

    def test_sampling_pattern_pins(self):
        from cassandra_pmem_spark.sources.sstable import (
            get_original_indexes,
            get_sampling_pattern,
        )

        # Downsampling.getSamplingPattern(4): odds ordered by pattern(2),
        # then evens — pattern(2) = [1, 0] so [3, 1] + [2, 0]
        assert get_sampling_pattern(2) == [1, 0]
        assert get_sampling_pattern(4) == [3, 1, 2, 0]
        assert get_sampling_pattern(8) == [7, 3, 5, 1, 6, 2, 4, 0]
        full = get_sampling_pattern(128)
        assert sorted(full) == list(range(128))  # a permutation
        # level 64 removes the first 64 pattern positions: all odds
        # (the first half of the pattern is the odd positions)
        assert get_original_indexes(64) == list(range(0, 128, 2))
        assert get_original_indexes(128) == list(range(128))
        assert len(get_original_indexes(32)) == 32

    def test_downsampled_summary_round_trip_and_point_read(self, tmp_path):
        from cassandra_pmem_spark.catalog import TableMeta
        from cassandra_pmem_spark.cql.parser import _scalar_token
        from cassandra_pmem_spark.sources.sstable import (
            read_summary,
            sstable_point_read,
            write_sstable,
        )
        from pyspark.sql import types as T

        schema = SSTableSchema(
            ["k"], [_MARSHAL + "Int32Type"], [], [],
            [("v", _MARSHAL + "UTF8Type")],
        )
        meta = TableMeta(
            "t",
            T.StructType([
                T.StructField("k", T.IntegerType()),
                T.StructField("v", T.StringType()),
            ]),
            partition_key=("k",),
        )
        n = 2000
        ks = sorted(range(n), key=lambda k: _scalar_token(meta, (k,)))
        parts = [
            PartitionData(
                key_values=[k],
                rows=[RowData(clustering=[], liveness_timestamp=TS,
                              cells={"v": CellValue(f"v{k}", TS)})],
            )
            for k in ks
        ]
        # min_index_interval 8 -> 250 full-sampling entries; level 64
        # keeps the even positions of each 128-block: 64 from block 0
        # plus 61 evens of block 1's 122 entries -> 125
        write_sstable(str(tmp_path), 1, schema, parts,
                      min_index_interval=8, sampling_level=64)
        summ = read_summary((tmp_path / "na-1-big-Summary.db").read_bytes())
        assert summ["min_index_interval"] == 8
        assert summ["sampling_level"] == 64
        assert summ["size_at_full_sampling"] == 250
        assert len(summ["entries"]) == 125
        # the surviving entries are the even full-sampling positions
        # (getOriginalIndexes(64)), i.e. every 16th partition
        assert summ["entries"][0][0] is not None
        # point reads still correct through the sparser summary
        trace: dict = {}
        for probe in (ks[0], ks[777], ks[1999]):
            got = sstable_point_read(str(tmp_path), [probe], _trace=trace)
            assert [r["v"] for r in got] == [f"v{probe}"]
        assert trace["summary_seeks"] == 3

    def test_full_sampling_bytes_unchanged(self, tmp_path):
        # the default path must keep writing byte-identical summaries
        from cassandra_pmem_spark.sources.sstable import (
            BASE_SAMPLING_LEVEL,
            build_summary,
        )

        sampled = [(b"k%d" % i, i * 10) for i in range(5)]
        a = build_summary(sampled, b"k0", b"k4")
        b = build_summary(sampled, b"k0", b"k4",
                          sampling_level=BASE_SAMPLING_LEVEL)
        assert a == b


class TestCompactionComponent:
    """The COMPACTION metadata component (CompactionMetadata.java:74-92 —
    int-length-prefixed stream-lib HyperLogLogPlus(13, 25) blob fed
    hash2_64(serialized key) per partition, MetadataCollector.java:117,
    139-144). Closes the last MetadataType census omission."""

    def test_hllp_blob_layout_pins(self):
        import struct as _s

        from cassandra_pmem_spark.sources.hllp import (
            HyperLogLogPlus,
            _register_words,
        )

        h = HyperLogLogPlus(13, 25)
        blob = h.serialize()
        # int32 -VERSION(-2), varint p=13, varint sp=25, varint NORMAL(0),
        # varint byte-length (1366 words * 4 = 5464 -> 0xD8 0x2A), words
        assert blob[:4] == _s.pack(">i", -2)
        assert blob[4] == 13 and blob[5] == 25 and blob[6] == 0
        assert blob[7] == (5464 & 0x7F) | 0x80 and blob[8] == 5464 >> 7
        assert len(blob) == 9 + 5464
        assert _register_words(8192) == 1366

    def test_register_packing_low_bits_first(self):
        from cassandra_pmem_spark.sources.hllp import HyperLogLogPlus

        h = HyperLogLogPlus(13, 25)
        h.registers[0] = 3   # word 0, shift 0
        h.registers[1] = 7   # word 0, shift 5
        h.registers[6] = 31  # word 1, shift 0
        blob = h.serialize()
        w0 = int.from_bytes(blob[9:13], "big")
        w1 = int.from_bytes(blob[13:17], "big")
        assert w0 == 3 | (7 << 5)
        assert w1 == 31
        got = HyperLogLogPlus.deserialize(blob)
        assert got.registers == h.registers

    def test_murmur2_64_reference_semantics(self):
        from cassandra_pmem_spark.sources.hllp import murmur2_64

        # deterministic; empty input hashes to 0 (seed 0, length 0);
        # tail bytes sign-extend (MurmurHash.java:126-138 casts without
        # & 0xff) — so a high-bit tail byte must differ from the
        # unsigned interpretation
        assert murmur2_64(b"") == 0
        a = murmur2_64(bytes([0x80]))
        # unsigned-tail twin computed inline: h = m64 ^ ... with 0x80
        M64 = 0xC6A4A7935BD1E995
        MASK = (1 << 64) - 1
        h = (M64 * 1) & MASK
        h ^= 0x80  # unsigned byte (WRONG per reference)
        h = (h * M64) & MASK
        h ^= h >> 47
        h = (h * M64) & MASK
        h ^= h >> 47
        b = h - (1 << 64) if h >= (1 << 63) else h
        assert a != b

    def test_estimate_accuracy(self):
        from cassandra_pmem_spark.sources.hllp import HyperLogLogPlus

        h = HyperLogLogPlus(13, 25)
        for i in range(20000):
            h.offer_key(i.to_bytes(8, "big"))
        est = HyperLogLogPlus.deserialize(h.serialize()).cardinality()
        assert abs(est - 20000) / 20000 < 0.05

    def test_statistics_carries_compaction_component(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import (
            parse_statistics,
            write_sstable,
        )

        schema = SSTableSchema(
            ["k"], [_MARSHAL + "LongType"], [], [],
            [("v", _MARSHAL + "UTF8Type")],
        )
        from cassandra_pmem_spark.functions.murmur3 import murmur3_token_py

        ks = sorted(range(500), key=murmur3_token_py)
        parts = [
            PartitionData(
                key_values=[k],
                rows=[RowData(clustering=[], liveness_timestamp=TS,
                              cells={"v": CellValue("x", TS)})],
            )
            for k in ks
        ]
        write_sstable(str(tmp_path), 1, schema, parts)
        blob = (tmp_path / "na-1-big-Statistics.db").read_bytes()
        _stats, hdr = parse_statistics(blob)
        # 500 distinct partitions -> linear-counting range, near-exact
        assert abs(hdr["compaction_cardinality"] - 500) <= 15

    def test_sparse_format_decodes(self):
        from cassandra_pmem_spark.sources.hllp import (
            HyperLogLogPlus,
            _write_uvarint,
        )
        import struct as _s

        # hand-build a SPARSE blob with one flagged entry
        # (idx<<7 | rho<<1 | 1: sp-index 5<<(sp-p) with p..sp bits zero,
        # rho_sp 4 -> normal rho 4 + (25-13) = 16) and one unflagged
        # (idx<<1: sp-index with nonzero p..sp bits)
        p, sp = 13, 25
        out = bytearray(_s.pack(">i", -2))
        _write_uvarint(out, p)
        _write_uvarint(out, sp)
        _write_uvarint(out, 1)  # SPARSE
        k1 = ((5 << (sp - p)) << 7) | (4 << 1) | 1
        sp_idx2 = (9 << (sp - p)) | 0b000000000100  # between-bits = 4
        k2 = sp_idx2 << 1
        ks = sorted((k1, k2))
        _write_uvarint(out, len(ks))
        prev = 0
        for k in ks:
            _write_uvarint(out, k - prev)
            prev = k
        h = HyperLogLogPlus.deserialize(bytes(out))
        assert h.registers[5] == 16
        # rho for unflagged = (sp-p) - bit_length(between) + 1 = 12-3+1
        assert h.registers[9] == 10


class TestSstableMetadataCli:
    """tools/bin/sstablemetadata analog (SSTableMetadataViewer.java:
    334-430 field() lines), incl. the COMPACTION cardinality estimate
    (:409) decoded from the stream-lib blob."""

    def test_cli_sstablemetadata(self, tmp_path, capsys):
        from cassandra_pmem_spark.__main__ import main
        from cassandra_pmem_spark.functions.murmur3 import murmur3_token_py

        schema = SSTableSchema(
            ["k"], [_MARSHAL + "LongType"], ["c"], [_MARSHAL + "Int32Type"],
            [("v", _MARSHAL + "UTF8Type")],
        )
        ks = sorted(range(300), key=murmur3_token_py)
        parts = [
            PartitionData(
                key_values=[k],
                rows=[RowData(clustering=[k % 5], liveness_timestamp=TS,
                              cells={"v": CellValue("x", TS)})],
            )
            for k in ks
        ]
        write_sstable(str(tmp_path), 1, schema, parts, compression=True)
        rc = main(["--sstablemetadata", str(tmp_path)])
        assert rc == 0
        out = capsys.readouterr().out
        fields = dict(
            ln.split(": ", 1) for ln in out.strip().splitlines() if ": " in ln
        )
        assert fields["Partitioner"] == (
            "org.apache.cassandra.dht.Murmur3Partitioner"
        )
        assert fields["Minimum timestamp"] == str(TS)
        assert fields["Compressor"] == "LZ4Compressor"
        assert fields["totalRows"] == "300"
        assert fields["minClusteringValues"] == "[0]"
        assert fields["maxClusteringValues"] == "[4]"
        # HLL estimate of 300 distinct keys lands in linear-counting
        # range: near-exact
        assert abs(int(fields["Estimated cardinality"]) - 300) <= 10
        assert "EncodingStats minTimestamp" in fields


class TestVersionInterop:
    """The ma..nb feature-flag matrix (BigFormat.java:153-163): this
    engine WRITES the checkout's current_version na (BigFormat.java:120)
    and READS the whole range — md fixtures (3.x era: no metadata
    checksums, old bloom word layout, no na stats fields) and nb
    (public 4.0.x: trailing nullable originatingHostId) both round-trip
    through the same readers."""

    TS = TIMESTAMP_EPOCH + 777

    def _parts(self, n=8):
        from cassandra_pmem_spark.functions.murmur3 import murmur3_token_py

        ks = sorted(range(n), key=murmur3_token_py)
        # int32 keys hash through the general kernel; order by the
        # 4-byte key's token instead
        from cassandra_pmem_spark.functions.murmur3 import (
            murmur3_token_bytes_py,
        )

        ks = sorted(range(n), key=lambda k: murmur3_token_bytes_py(
            struct.pack(">i", k)))
        return [
            _part(k, [_row(0, self.TS, v=f"s{k}", n=k * 10)]) for k in ks
        ]

    def test_version_matrix_flags(self):
        from cassandra_pmem_spark.sources.sstable import SSTableVersion

        grid = {
            "ma": (False, False, False, False, False, False, False, True),
            "mb": (True, False, False, False, False, False, False, True),
            "mc": (True, True, False, False, False, False, False, True),
            "md": (True, True, True, False, False, False, False, True),
            "na": (True, True, True, True, True, True, True, False),
            "nb": (True, True, True, True, True, True, True, False),
        }
        for name, (clb, cli, amm, mcl, pr, tr, mck, obf) in grid.items():
            v = SSTableVersion(name)
            assert v.has_commit_log_lower_bound is clb, name
            assert v.has_commit_log_intervals is cli, name
            assert v.has_accurate_min_max is amm, name
            assert v.has_max_compressed_length is mcl, name
            assert v.has_pending_repair is pr, name
            assert v.has_is_transient is tr, name
            assert v.has_metadata_checksum is mck, name
            assert v.has_old_bf_format is obf, name
        from cassandra_pmem_spark.sources.sstable import version_from_path

        assert version_from_path("/x/md-3-big-Data.db").name == "md"
        for bad in ("la", "nz", "zz", "q", ""):
            with pytest.raises(ValueError):
                SSTableVersion(bad)

    @pytest.mark.parametrize("version", ["ma", "mc", "md", "na", "nb"])
    def test_cross_version_point_read_roundtrip(self, tmp_path, version):
        from cassandra_pmem_spark.sources.sstable import sstable_point_read

        schema = _schema()
        parts = self._parts()
        man = write_sstable(
            str(tmp_path), 1, schema, parts, compression=True,
            version=version,
        )
        assert f"{version}-1-big-Data.db" in man["data_path"]
        for k in range(8):
            rows = sstable_point_read(str(tmp_path), [k])
            assert [(r["v"], r["n"]) for r in rows] == [(f"s{k}", k * 10)]

    def test_md_statistics_has_no_checksums_or_na_fields(self, tmp_path):
        schema = _schema()
        parts = self._parts(4)
        stats = compute_stats(parts)
        na_blob = serialize_statistics(schema, stats, parts, version="na")
        md_blob = serialize_statistics(schema, stats, parts, version="md")
        # count(4) + toc(8*n) shrinks by the two container CRCs plus one
        # CRC per component, plus the na-only stats fields:
        # commitLogLowerBound stays (>=mb, 12B), intervals stay (>=mc,
        # 4B), pendingRepair/isTransient drop (2B)
        n_comps = struct.unpack(">i", md_blob[:4])[0]
        assert n_comps == struct.unpack(">i", na_blob[:4])[0] == 4
        assert len(na_blob) - len(md_blob) == (2 + n_comps) * 4 + 2
        _stats_md, hdr_md = parse_statistics(md_blob, version="md")
        assert hdr_md["sstable_version"] == "md"
        sm = hdr_md["stats_metadata"]
        assert "pending_repair" not in sm and "is_transient" not in sm
        assert sm["commit_log_lower_bound"] == (-1, 0)
        assert sm["commit_log_intervals"] == []
        # >=md keeps clustering bounds; the values survive
        assert sm["min_clustering_values"] == [0]
        # ma: same byte stream minus lower bound + intervals
        ma_blob = serialize_statistics(schema, stats, parts, version="ma")
        assert len(md_blob) - len(ma_blob) == 12 + 4
        sm_ma = parse_statistics(ma_blob, version="ma")[1]["stats_metadata"]
        # pre-md min/max clustering are consumed but dropped
        # (CASSANDRA-14861 read gate)
        assert sm_ma["min_clustering_values"] == []
        assert "commit_log_lower_bound" not in sm_ma

    def test_nb_statistics_roundtrip_with_originating_host_id(self):
        schema = _schema()
        parts = self._parts(4)
        stats = compute_stats(parts)
        nb_blob = serialize_statistics(schema, stats, parts, version="nb")
        na_blob = serialize_statistics(schema, stats, parts, version="na")
        # nb appends exactly the one-byte null originatingHostId flag
        assert len(nb_blob) - len(na_blob) == 1
        sm = parse_statistics(nb_blob, version="nb")[1]["stats_metadata"]
        assert "originating_host_id" not in sm  # null on write
        # a non-null host id (what real 4.0.x nodes write) parses too
        import uuid as _uuid

        hid = _uuid.uuid4()
        body = bytearray(nb_blob)
        # STATS is the last toc component here; flip the trailing flag
        # and append the uuid before the component CRC
        # simpler: hand-extend a STATS body via the component parser
        from cassandra_pmem_spark.sources.sstable import (
            parse_stats_component, stats_component,
        )

        sc = stats_component(schema, stats, parts, version="nb")
        sc = sc[:-1] + b"\x01" + hid.bytes
        out = parse_stats_component(sc, schema, version="nb")
        assert out["originating_host_id"] == str(hid)

    def test_old_bloom_filter_word_layout(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import BloomFilter

        bf = BloomFilter.sized_for(64)
        for k in range(16):
            bf.add(struct.pack(">i", k))
        new = bf.serialize()
        old = bf.serialize(old_format=True)
        assert new[:8] == old[:8]  # hashCount + wordCount identical
        # every 8-byte word is byte-reversed on disk (OffHeapBitSet.
        # serializeOldBfFormat:125-140)
        for w in range(8, len(new), 8):
            assert old[w:w + 8] == new[w:w + 8][::-1]
        back = BloomFilter.deserialize(old, old_format=True)
        assert bytes(back.bits) == bytes(bf.bits)
        assert all(
            back.is_present(struct.pack(">i", k)) for k in range(16)
        )

    def test_md_compression_info_lacks_max_compressed_length(self):
        from cassandra_pmem_spark.sources.sstable import (
            CompressionInfo, compress_data,
        )

        data = bytes(range(256)) * 64
        _comp_na, info_na = compress_data(data, 4096, version="na")
        _comp_md, info_md = compress_data(data, 4096, version="md")
        assert len(info_na) - len(info_md) == 4
        ci = CompressionInfo.parse(info_md, version="md")
        assert ci.max_compressed_length == 0x7FFFFFFF
        assert ci.data_length == len(data)
        assert ci.chunk_length == 4096

    def test_distributed_read_of_md_fixture(self, spark, tmp_path):
        # read_sstables derives the version from the descriptor name:
        # an md-written directory reads identically to na
        schema = _schema()
        parts = self._parts()
        write_sstable(str(tmp_path), 1, schema, parts, version="md")
        df = read_sstables(spark, str(tmp_path))
        got = sorted((r["key0"], r["v"], r["n"]) for r in df.collect())
        assert got == [(k, f"s{k}", k * 10) for k in range(8)]

    def test_unsupported_version_rejected(self, tmp_path):
        schema = _schema()
        with pytest.raises(ValueError, match="unsupported sstable version"):
            write_sstable(str(tmp_path), 1, schema, [], version="la")
        with pytest.raises(ValueError, match="unsupported sstable version"):
            write_sstable(str(tmp_path), 1, schema, [], version="nc")


class TestVerify:
    """Offline verification (Verifier.java:108-299 / sstableverify)."""

    def _write(self, tmp_path, version="na", compression=False, n=8):
        schema = _schema()
        from cassandra_pmem_spark.sources.sstable import write_sstable
        parts = TestVersionInterop()._parts(n)
        write_sstable(
            str(tmp_path), 1, schema, parts, version=version,
            compression=compression,
        )
        return str(tmp_path / f"{version}-1-big-Data.db")

    @pytest.mark.parametrize("version", ["ma", "md", "na"])
    @pytest.mark.parametrize("compression", [False, True])
    def test_clean_sstable_verifies(self, tmp_path, version, compression):
        from cassandra_pmem_spark.sources.sstable import verify_sstable

        dp = self._write(tmp_path, version, compression)
        lines = verify_sstable(dp, extended=True)
        assert any("Verified 8 partitions" in ln for ln in lines)
        assert any("Checking computed hash" in ln for ln in lines)

    def test_digest_mismatch_detected(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import (
            CorruptSSTableError, verify_sstable,
        )

        dp = self._write(tmp_path)
        blob = bytearray(open(dp, "rb").read())
        blob[-1] ^= 0xFF
        open(dp, "wb").write(bytes(blob))
        with pytest.raises(CorruptSSTableError, match="Digest mismatch"):
            verify_sstable(dp)

    def test_missing_digest_escalates_to_extended(self, tmp_path):
        import os as _os

        from cassandra_pmem_spark.sources.sstable import verify_sstable

        dp = self._write(tmp_path)
        _os.remove(str(tmp_path / "na-1-big-Digest.crc32"))
        lines = verify_sstable(dp)  # extended NOT requested
        assert any("assuming extended verification" in ln for ln in lines)
        assert any("Verified 8 partitions" in ln for ln in lines)

    def test_index_data_disagreement_detected(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import (
            CorruptSSTableError, verify_sstable,
        )

        dp = self._write(tmp_path)
        ip = str(tmp_path / "na-1-big-Index.db")
        idx = bytearray(open(ip, "rb").read())
        # flip a key byte in the FIRST index entry (after the 2-byte len)
        idx[2] ^= 0xFF
        open(ip, "wb").write(bytes(idx))
        with pytest.raises(CorruptSSTableError, match="index key != data key"):
            verify_sstable(dp, extended=True)

    def test_corrupt_compressed_chunk_detected(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import (
            CorruptSSTableError, verify_sstable,
        )

        dp = self._write(tmp_path, compression=True)
        blob = bytearray(open(dp, "rb").read())
        blob[10] ^= 0xFF
        open(dp, "wb").write(bytes(blob))
        # the digest catches it first; remove it to drive the chunk CRC
        import os as _os

        _os.remove(str(tmp_path / "na-1-big-Digest.crc32"))
        with pytest.raises(CorruptSSTableError):
            verify_sstable(dp, extended=True)

    def test_stale_version_gate(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import (
            CorruptSSTableError, verify_sstable,
        )

        dp = self._write(tmp_path, version="md")
        with pytest.raises(CorruptSSTableError, match="upgradesstables"):
            verify_sstable(dp, check_version=True)
        assert verify_sstable(dp, extended=True)  # fine without the gate

    def test_cli_sstableverify(self, tmp_path, capsys):
        from cassandra_pmem_spark.__main__ import main

        self._write(tmp_path)
        rc = main(["--sstableverify", str(tmp_path), "--extended"])
        assert rc == 0
        assert "Verified 8 partitions" in capsys.readouterr().out
        # corrupt -> exit 1
        dp = str(tmp_path / "na-1-big-Data.db")
        blob = bytearray(open(dp, "rb").read())
        blob[-1] ^= 0xFF
        open(dp, "wb").write(bytes(blob))
        rc = main(["--sstableverify", str(tmp_path)])
        assert rc == 1
        assert "Verification failed" in capsys.readouterr().err


class TestUpgrade:
    """sstableupgrade analog (StandaloneUpgrader.java / Upgrader.java)."""

    @pytest.mark.parametrize("version", ["ma", "md"])
    @pytest.mark.parametrize("compression", [False, True])
    def test_upgrade_preserves_content(self, tmp_path, version, compression):
        from cassandra_pmem_spark.sources.sstable import (
            dump_sstable, upgrade_sstables, verify_sstable,
        )

        old = tmp_path / "old"
        schema = _schema()
        parts = TestVersionInterop()._parts(8)
        write_sstable(str(old), 3, schema, parts, version=version,
                      compression=compression)
        new = tmp_path / "new"
        manifests = upgrade_sstables(str(old), str(new))
        assert len(manifests) == 1 and manifests[0]["partitions"] == 8
        ndp = str(new / "na-3-big-Data.db")  # generation preserved
        # the upgraded sstable is latest-version AND fully verifiable
        lines = verify_sstable(ndp, extended=True, check_version=True)
        assert any("Verified 8 partitions" in ln for ln in lines)
        # content identical through the dump view
        odp = str(old / f"{version}-3-big-Data.db")
        assert dump_sstable(ndp) == dump_sstable(odp)

    def test_current_version_skipped(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import upgrade_sstables

        schema = _schema()
        parts = TestVersionInterop()._parts(4)
        write_sstable(str(tmp_path), 1, schema, parts)  # already na
        assert upgrade_sstables(str(tmp_path), str(tmp_path / "out")) == []

    def test_upgrade_keeps_tombstones_ttl_and_statics(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import (
            dump_sstable, upgrade_sstable,
        )

        vs = SSTableSchema(
            ["k"], [_MARSHAL + "Int32Type"], ["c"], [_MARSHAL + "Int32Type"],
            [("v", _MARSHAL + "UTF8Type")],
            statics=[("s", _MARSHAL + "UTF8Type")],
        )
        e0 = DELETION_TIME_EPOCH
        ts0 = TIMESTAMP_EPOCH + 50
        p = PartitionData(
            key_values=[1],
            static_cells={"s": CellValue("stat", ts0)},
            rows=[
                RowData(clustering=[1], liveness_timestamp=ts0,
                        liveness_ttl=60, liveness_expiration=e0 + 60,
                        cells={"v": CellValue("ttl'd", ts0, ttl=60,
                                              local_deletion_time=e0 + 60)}),
                RowData(clustering=[2], liveness_timestamp=ts0,
                        deletion=(ts0 + 5, e0 + 5),
                        cells={"v": CellValue("old", ts0)}),
            ],
        )
        old = tmp_path / "old"
        write_sstable(str(old), 1, vs, [p], version="md")
        man = upgrade_sstable(str(old / "md-1-big-Data.db"), str(tmp_path / "new"))
        assert dump_sstable(man["data_path"]) == dump_sstable(
            str(old / "md-1-big-Data.db")
        )


class TestCounterCells:
    """Counter-cell values are serialized CounterContexts
    (db/context/CounterContext.java:36-60 layout; total:570-576)."""

    def test_global_shard_roundtrip_layout(self):
        from cassandra_pmem_spark.sources.sstable import (
            counter_context_global, counter_context_total,
        )

        ctx = counter_context_global(42)
        # header: 1 elt, index 0 encoded global (+Short.MIN_VALUE)
        assert struct.unpack_from(">hh", ctx, 0) == (1, -(1 << 15))
        assert len(ctx) == 4 + 16 + 8 + 8
        assert counter_context_total(ctx) == 42
        assert counter_context_total(counter_context_global(-7)) == -7

    def test_total_sums_multi_shard_and_legacy_headers(self):
        from cassandra_pmem_spark.sources.sstable import (
            COUNTER_ID_LENGTH, counter_context_total,
        )

        # two shards, one global one remote (plain index)
        body = (
            bytes(range(16)) + struct.pack(">qq", 3, 100)
            + bytes(range(16, 32)) + struct.pack(">qq", 5, -30)
        )
        ctx = struct.pack(">hhh", 2, -(1 << 15), 1) + body
        assert counter_context_total(ctx) == 70
        # legacy pre-2.1 contexts carry a NEGATIVE header count —
        # headerLength takes Math.abs (CounterContext.java:173)
        legacy = struct.pack(">hh", -1, 0) + body[: COUNTER_ID_LENGTH + 16]
        assert counter_context_total(legacy) == 100

    def test_counter_table_flush_and_read(self, spark, tmp_path):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase
        from cassandra_pmem_spark.sources.sstable import (
            read_sstables, sstable_point_read,
        )

        db = CqlDatabase(spark)
        db.execute(
            "CREATE KEYSPACE ckk WITH REPLICATION = {'class': 'SimpleStrategy'}"
        )
        db.execute("USE ckk")
        db.execute(
            "CREATE TABLE hits (page text PRIMARY KEY, n counter)"
        )
        for _ in range(3):
            db.execute("UPDATE hits SET n = n + 2 WHERE page = 'a'")
        db.execute("UPDATE hits SET n = n - 1 WHERE page = 'a'")
        db.execute("UPDATE hits SET n = n + 10 WHERE page = 'b'")
        out = str(tmp_path / "flush")
        db.flush_sstables("hits", out)
        got = {
            r["key0"]: r["n"]
            for r in read_sstables(spark, out).collect()
        }
        assert got == {"a": 5, "b": 10}
        rows = sstable_point_read(out, ["b"])
        assert [r["n"] for r in rows] == [10]
        # the on-disk cell really is a CounterContext (global shard)
        from cassandra_pmem_spark.sources.sstable import dump_sstable
        import os as _os

        dp = [f for f in _os.listdir(out) if f.endswith("-Data.db")][0]
        dump = dump_sstable(_os.path.join(out, dp))
        assert dump  # decodes through the counter codec


class TestScrub:
    """sstablescrub analog (Scrubber.java:44-308, skipCorrupted)."""

    def test_scrub_skips_corrupt_partitions_and_keeps_the_rest(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import (
            read_index_entries, scrub_sstable, sstable_point_read,
            verify_sstable,
        )

        old = tmp_path / "old"
        schema = _schema()
        parts = TestVersionInterop()._parts(8)
        write_sstable(str(old), 1, schema, parts)
        dp = str(old / "na-1-big-Data.db")
        idx = read_index_entries(open(str(old / "na-1-big-Index.db"), "rb").read())
        # corrupt the THIRD partition's body (cell area, past key+deletion)
        blob = bytearray(open(dp, "rb").read())
        victim = idx[2][1]
        for off in range(victim + 20, victim + 26):
            blob[off] ^= 0xFF
        open(dp, "wb").write(bytes(blob))
        man = scrub_sstable(dp, str(tmp_path / "new"))
        assert man["bad_partitions"] >= 1
        assert man["good_partitions"] + man["bad_partitions"] == 8
        assert man["good_partitions"] == man["partitions"]
        # the scrubbed sstable is clean and point-readable
        ndp = man["data_path"]
        lines = verify_sstable(ndp, extended=True, check_version=True)
        assert any("Verified" in ln for ln in lines)
        bad_keys = {idx[2][0]}
        survivors = 0
        for k in range(8):
            rows = sstable_point_read(str(tmp_path / "new"), [k])
            if rows:
                survivors += 1
                assert rows[0]["v"] == f"s{k}"
        assert survivors == man["good_partitions"]

    def test_clean_sstable_scrubs_to_identical_content(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import (
            dump_sstable, scrub_sstable,
        )

        old = tmp_path / "old"
        schema = _schema()
        write_sstable(str(old), 2, schema, TestVersionInterop()._parts(6),
                      version="md", compression=True)
        man = scrub_sstable(str(old / "md-2-big-Data.db"), str(tmp_path / "new"))
        assert man["bad_partitions"] == 0
        # scrub doubles as upgrade: output is current-version
        assert "na-2-big-Data.db" in man["data_path"]
        assert dump_sstable(man["data_path"]) == dump_sstable(
            str(old / "md-2-big-Data.db")
        )


class TestSplit:
    """sstablesplit analog (StandaloneSplitter.java:41-185)."""

    def test_split_respects_cap_and_preserves_content(self, tmp_path, spark):
        from cassandra_pmem_spark.sources.sstable import (
            read_sstables, split_sstable, verify_sstable,
        )

        old = tmp_path / "old"
        schema = _schema()
        parts = TestVersionInterop()._parts(64)
        # pad values so the sstable comfortably exceeds a 4KB cap
        for p in parts:
            p.rows[0].cells["v"] = type(p.rows[0].cells["v"])(
                value="x" * 400, timestamp=p.rows[0].cells["v"].timestamp
            )
        write_sstable(str(old), 5, schema, parts, version="md")
        # 4KB cap => several outputs (size_mb accepts fractions via the
        # MB unit only in the real tool; test drives the byte math by
        # monkey-sizing through a tiny cap)
        from cassandra_pmem_spark.sources import sstable as mod

        out = tmp_path / "new"
        manifests = mod.split_sstable(
            str(old / "md-5-big-Data.db"), str(out), size_mb=0.01
        )
        assert len(manifests) >= 2
        # generations count up from the source's
        assert [
            int(m["data_path"].split("-")[-3]) for m in manifests
        ] == list(range(5, 5 + len(manifests)))
        # every output verifies at the current version
        for m in manifests:
            verify_sstable(m["data_path"], extended=True, check_version=True)
        # union of outputs == the source rows
        got = sorted(
            (r["key0"], r["v"], r["n"])
            for r in read_sstables(spark, str(out)).collect()
        )
        want = sorted((k, "x" * 400 if True else None, k * 10) for k in range(64))
        assert [g[0] for g in got] == [w[0] for w in want]
        assert all(g[1] == "x" * 400 for g in got)

    def test_shared_out_dir_never_collides(self, tmp_path, spark):
        """Two sources with adjacent generations split into ONE out_dir:
        the naive gen0+i numbering would collide (source 1 emits gen 2,
        source 2 starts at gen 2) and silently overwrite; the exclusive
        claim must instead skip to free generations, preserving every
        row from both sources."""
        from cassandra_pmem_spark.sources.sstable import (
            read_sstables, split_sstable,
        )

        old = tmp_path / "old"
        schema = _schema()
        parts = TestVersionInterop()._parts(64)
        for p in parts:
            p.rows[0].cells["v"] = type(p.rows[0].cells["v"])(
                value="x" * 400, timestamp=p.rows[0].cells["v"].timestamp
            )
        write_sstable(str(old), 1, schema, parts[:32], version="md")
        write_sstable(str(old), 2, schema, parts[32:], version="md")
        out = tmp_path / "new"
        m1 = split_sstable(str(old / "md-1-big-Data.db"), str(out),
                           size_mb=0.003)
        m2 = split_sstable(str(old / "md-2-big-Data.db"), str(out),
                           size_mb=0.003)
        assert len(m1) >= 2 and len(m2) >= 2
        all_paths = [m["data_path"] for m in m1 + m2]
        assert len(set(all_paths)) == len(all_paths)
        got = sorted(r["key0"] for r in read_sstables(spark, str(out))
                     .collect())
        assert got == list(range(64))

    def test_small_sstable_skipped(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import split_sstable

        schema = _schema()
        write_sstable(str(tmp_path), 1, schema, TestVersionInterop()._parts(4))
        assert split_sstable(
            str(tmp_path / "na-1-big-Data.db"), str(tmp_path / "out"),
            size_mb=50,
        ) == []


class TestBoundedWalk:
    """dump, upgrade and split read Data.db through the one ranged
    partition walker: with the walker window shrunk to a few KB, no
    single Data.db read of a compressed multi-chunk sstable exceeds the
    chunks of one window plus one chunk at each edge — never the whole
    file — and every output is the one the default window gives."""

    CHUNK = 1024
    WINDOW = 4 * CHUNK

    def _sstable(self, tmp_path) -> str:
        import hashlib

        parts = TestVersionInterop()._parts(128)
        for p in parts:
            k = p.key_values[0]
            # distinct hex digests: LZ4 barely shrinks them, so the
            # file spans many windows
            p.rows[0].cells["v"] = CellValue(
                value="".join(
                    hashlib.sha256(f"{k}-{i}".encode()).hexdigest()
                    for i in range(4)
                ),
                timestamp=p.rows[0].cells["v"].timestamp,
            )
        write_sstable(str(tmp_path / "old"), 5, _schema(), parts,
                      version="md", compression=True,
                      chunk_length=self.CHUNK)
        return str(tmp_path / "old" / "md-5-big-Data.db")

    @staticmethod
    def _files(manifests) -> list:
        return [open(m["data_path"], "rb").read() for m in manifests]

    def test_tools_read_one_window_at_a_time(self, tmp_path, monkeypatch):
        import builtins
        import os as _os

        from cassandra_pmem_spark.sources import sstable as mod

        dp = self._sstable(tmp_path)
        info = mod.open_sstable(dp).compression
        size = _os.path.getsize(dp)
        ends = info.offsets[1:] + [size]
        max_chunk = max(e - o for o, e in zip(info.offsets, ends))
        bound = (self.WINDOW // self.CHUNK + 2) * max_chunk
        assert len(info.offsets) > 30 and size > 4 * bound

        def run(tag):
            out = tmp_path / tag
            return (
                mod.dump_sstable(dp, now_seconds=DELETION_TIME_EPOCH),
                self._files([mod.upgrade_sstable(dp, str(out / "up"))]),
                self._files(mod.split_sstable(dp, str(out / "split"),
                                              size_mb=0.01)),
            )

        want = run("default")
        reads: list[int] = []

        class Counting:
            def __init__(self, fh):
                self._fh = fh

            def read(self, n=-1):
                b = self._fh.read(n)
                reads.append(len(b))
                return b

            def __getattr__(self, name):
                return getattr(self._fh, name)

            def __enter__(self):
                return self

            def __exit__(self, *exc):
                return self._fh.__exit__(*exc)

        def counting_open(path, mode="r", *a, **kw):
            fh = builtins.open(path, mode, *a, **kw)
            return Counting(fh) if str(path) == dp else fh

        monkeypatch.setattr(mod, "_WALK_WINDOW_BYTES", self.WINDOW)
        monkeypatch.setattr(mod, "open", counting_open, raising=False)
        got = run("small")
        assert got == want
        assert len(got[2]) >= 2
        assert len(reads) > 3 * 3  # several windows per tool
        assert max(reads) <= bound


class TestDistributedMaintenance:
    """The reference's offline tools run one JVM on one node; the
    engine maps them one-Spark-task-per-sstable (each sstable is
    independent by construction)."""

    def test_fleet_upgrade_and_verify(self, spark, tmp_path):
        from cassandra_pmem_spark.sources.sstable import (
            distributed_sstable_maintenance, version_from_path,
        )

        old = tmp_path / "old"
        schema = _schema()
        all_parts = TestVersionInterop()._parts(12)
        # three md sstables with disjoint token ranges (already sorted)
        for g in range(3):
            write_sstable(str(old), g + 1, schema,
                          all_parts[g * 4:(g + 1) * 4], version="md")
        res = distributed_sstable_maintenance(
            spark, str(old), "verify", extended=True
        ).collect()
        assert len(res) == 3 and all(r.ok for r in res)
        out = tmp_path / "new"
        res = distributed_sstable_maintenance(
            spark, str(old), "upgrade", out_dir=str(out)
        ).collect()
        assert len(res) == 3 and all(r.ok for r in res)
        import os as _os

        upgraded = [f for f in _os.listdir(out) if f.endswith("-Data.db")]
        assert len(upgraded) == 3
        assert all(version_from_path(f).name == "na" for f in upgraded)

    def test_fleet_reports_corruption_per_sstable(self, spark, tmp_path):
        from cassandra_pmem_spark.sources.sstable import (
            distributed_sstable_maintenance,
        )

        schema = _schema()
        parts = TestVersionInterop()._parts(8)
        write_sstable(str(tmp_path), 1, schema, parts[:4])
        write_sstable(str(tmp_path), 2, schema, parts[4:])
        dp = str(tmp_path / "na-2-big-Data.db")
        blob = bytearray(open(dp, "rb").read())
        blob[-1] ^= 0xFF
        open(dp, "wb").write(bytes(blob))
        res = {r.path.rsplit("/", 1)[-1]: r for r in
               distributed_sstable_maintenance(spark, str(tmp_path),
                                               "verify").collect()}
        assert res["na-1-big-Data.db"].ok
        assert not res["na-2-big-Data.db"].ok
        assert "Digest mismatch" in res["na-2-big-Data.db"].detail


class TestPromotedIndex:
    """The WIDE-partition column index (db/ColumnIndex.java:105-266;
    RowIndexEntry.IndexedEntry.serialize:525-540; IndexInfo.Serializer:
    107-139): Index.db entries for partitions spanning more than one
    column_index_size block carry the promoted index, and clustering-
    sliced point reads seek through it."""

    TS = TIMESTAMP_EPOCH + 333

    def _wide(self, n_rows=200, pad=120):
        schema = _schema()
        rows = [
            _row(c, self.TS, v="p" * pad, n=c * 7) for c in range(n_rows)
        ]
        return schema, [PartitionData(key_values=[1], rows=rows)]

    def test_wide_partition_gets_indexed_entry(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import (
            parse_promoted_index,
        )

        schema, parts = self._wide()
        write_sstable(str(tmp_path), 1, schema, parts,
                      column_index_size=2048)
        idx = (tmp_path / "na-1-big-Index.db").read_bytes()
        r = ByteReader(idx)
        klen = r.u16(); r.take(klen)
        pos = r.unsigned_vint()
        promoted = r.unsigned_vint()
        assert pos == 0 and promoted > 0
        pidx = parse_promoted_index(r.take(promoted), schema)
        blocks = pidx["blocks"]
        assert len(blocks) > 1
        # blocks tile the unfiltered area contiguously from headerLength
        assert blocks[0]["offset"] == pidx["header_length"]
        for a, b in zip(blocks, blocks[1:]):
            assert a["offset"] + a["width"] == b["offset"]
        # each block's width crossed the cap (except possibly the tail)
        assert all(b["width"] >= 2048 for b in blocks[:-1])
        # first/last names are CLUSTERING prefixes in row order
        firsts = [b["first"][1][0] for b in blocks]
        lasts = [b["last"][1][0] for b in blocks]
        assert firsts == sorted(firsts) and lasts == sorted(lasts)
        assert firsts[0] == 0 and lasts[-1] == 199
        # the info_offsets match re-serialization order
        assert pidx["info_offsets"][0] == 0
        assert pidx["info_offsets"] == sorted(pidx["info_offsets"])

    def test_pinned_byte_vector(self):
        """Pins WIDTH_BASE = 64 * 1024 (IndexInfo.java:96): widths ride
        as signed vints of (width - 64KiB), so a ~64KiB+100 block is
        two bytes and a slightly-under-base block is a negative vint."""
        from cassandra_pmem_spark.sources.sstable import (
            CLUSTERING_KIND, parse_promoted_index, promoted_index_bytes,
        )

        schema = _schema()
        blocks = [{
            "first": (CLUSTERING_KIND, [5]),
            "last": (CLUSTERING_KIND, [9]),
            "offset": 30,
            "width": 64 * 1024 + 100,
            "open": None,
        }]
        got = promoted_index_bytes(blocks, None, 10, schema)
        want = (
            b"\x0a"                              # headerLength vint
            + b"\x7f\xff\xff\xff"                # LIVE ldt (MAX_INT)
            + b"\x80\x00\x00\x00\x00\x00\x00\x00"  # LIVE mfda (MIN_LONG)
            + b"\x01"                            # columnIndexCount
            + b"\x04\x00\x00\x00\x00\x05"        # first: CLUSTERING, int32 5
            + b"\x04\x00\x00\x00\x00\x09"        # last:  CLUSTERING, int32 9
            + b"\x1e"                            # offset vint 30
            + b"\x80\xc8"                        # vint zigzag(+100) = 200
            + b"\x00"                            # no endOpenMarker
            + b"\x00\x00\x00\x00"                # info offset[0] = 0
        )
        assert got == want
        assert parse_promoted_index(got, schema)["blocks"][0]["width"] \
            == 64 * 1024 + 100
        # width just under the base encodes negative: zigzag(-4) = 7
        blocks[0]["width"] = 64 * 1024 - 4
        got = promoted_index_bytes(blocks, None, 10, schema)
        assert got[27:28] == b"\x07"
        assert parse_promoted_index(got, schema)["blocks"][0]["width"] \
            == 64 * 1024 - 4

    def test_narrow_partition_entry_is_byte_identical_to_before(self, tmp_path):
        # below the cap nothing changes: position + vint 0
        schema, _ = self._wide()
        parts = TestVersionInterop()._parts(4)
        write_sstable(str(tmp_path), 1, schema if False else _schema(), parts)
        idx = (tmp_path / "na-1-big-Index.db").read_bytes()
        r = ByteReader(idx)
        for _ in range(4):
            klen = r.u16(); r.take(klen)
            r.unsigned_vint()
            assert r.unsigned_vint() == 0
        assert not r.remaining()

    def test_sliced_point_read_reads_only_overlapping_blocks(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import sstable_point_read

        schema, parts = self._wide()
        write_sstable(str(tmp_path), 1, schema, parts,
                      column_index_size=2048, compression=True)
        trace: dict = {}
        rows = sstable_point_read(
            str(tmp_path), [1], ck_bounds=((50,), (59,)), _trace=trace
        )
        assert [r["ck0"] for r in rows] == list(range(50, 60))
        assert all(r["n"] == r["ck0"] * 7 for r in rows)
        assert trace["index_blocks_total"] > 2
        assert 0 < trace["index_blocks_read"] < trace["index_blocks_total"]
        # unbounded sides work
        lo_rows = sstable_point_read(str(tmp_path), [1],
                                     ck_bounds=((195,), None))
        assert [r["ck0"] for r in lo_rows] == list(range(195, 200))
        # equality with the full read + exact filter
        full = sstable_point_read(str(tmp_path), [1])
        want = [r for r in full if 50 <= r["ck0"] <= 59]
        assert rows == want

    def test_sliced_read_sees_tombstone_opened_in_unread_block(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import (
            EXCL_END_BOUND, INCL_START_BOUND, MarkerData, sstable_point_read,
        )

        schema = _schema()
        e0 = DELETION_TIME_EPOCH
        rows = []
        # open a range tombstone very early, close it near the end;
        # rows INSIDE it are written at an OLDER timestamp so they
        # shadow away
        rows.append(MarkerData(kind=INCL_START_BOUND, values=[10],
                               deletion=(self.TS + 5, e0 + 5)))
        for c in range(200):
            rows_ts = self.TS if 10 <= c < 190 else self.TS + 10
            rows.append(_row(c, rows_ts, v="q" * 120, n=c))
        # file order: marker must sit before clustering 10
        rows.sort(key=lambda r: (
            r.values[0] if isinstance(r, MarkerData) else r.clustering[0],
            0 if isinstance(r, MarkerData) else 1,
        ))
        rows.append(MarkerData(kind=EXCL_END_BOUND, values=[190],
                               deletion=(self.TS + 5, e0 + 5)))
        # reorder: the end bound belongs before clustering 190
        rows.sort(key=lambda r: (
            r.values[0] if isinstance(r, MarkerData) else r.clustering[0],
            0 if isinstance(r, MarkerData) and r.kind == INCL_START_BOUND
            else (1 if not isinstance(r, MarkerData) else 0),
        ))
        parts = [PartitionData(key_values=[1], rows=rows)]
        write_sstable(str(tmp_path), 1, schema, parts,
                      column_index_size=2048)
        trace: dict = {}
        got = sstable_point_read(
            str(tmp_path), [1], ck_bounds=((100,), (105,)), _trace=trace
        )
        # sliced blocks exclude the block that contains the opening
        # marker, yet the rows must still be shadowed
        assert got == []
        assert trace["index_blocks_read"] < trace["index_blocks_total"]
        # outside the tombstone the slice reads normally
        got2 = sstable_point_read(str(tmp_path), [1],
                                  ck_bounds=((195,), (199,)))
        assert [r["ck0"] for r in got2] == list(range(195, 200))

    def test_roundtrip_and_tools_unaffected_by_indexed_entries(
        self, tmp_path, spark
    ):
        from cassandra_pmem_spark.sources.sstable import (
            read_sstables, verify_sstable,
        )

        schema, parts = self._wide(80)
        write_sstable(str(tmp_path), 1, schema, parts,
                      column_index_size=2048)
        got = sorted(
            (r["ck0"], r["n"])
            for r in read_sstables(spark, str(tmp_path)).collect()
        )
        assert got == [(c, c * 7) for c in range(80)]
        lines = verify_sstable(
            str(tmp_path / "na-1-big-Data.db"), extended=True
        )
        assert any("Verified 1 partitions" in ln for ln in lines)


class TestMetadataMutation:
    """The STATS-mutating offline tool family: sstablelevelreset /
    sstablerepairedset (MetadataSerializer.mutateLevel /
    mutateRepairMetadata, MetadataSerializer.java:222-245) plus the
    read-only sstableexpiredblockers and the releveling
    sstableofflinerelevel (tools/SSTable*.java)."""

    def _write(self, tmp_path, gen=1, version="na", keys=range(8)):
        from cassandra_pmem_spark.functions.murmur3 import (
            murmur3_token_bytes_py,
        )

        schema = _schema()
        import struct as _st

        ks = sorted(
            keys, key=lambda k: murmur3_token_bytes_py(_st.pack(">i", k))
        )
        parts = [_part(k, [_row(0, TS, v=str(k), n=k)]) for k in ks]
        return write_sstable(str(tmp_path), gen, schema, parts,
                             version=version)

    def _stats(self, data_path):
        from cassandra_pmem_spark.sources.sstable import (
            parse_statistics, version_from_path,
        )

        ver = version_from_path(data_path)
        with open(data_path[:-len("Data.db")] + "Statistics.db", "rb") as f:
            _s, hdr = parse_statistics(f.read(), version=ver.name)
        return hdr["stats_metadata"]

    @pytest.mark.parametrize("version", ["na", "md"])
    def test_mutate_level_and_repaired_roundtrip(self, tmp_path, version):
        """Patch both fields, keep everything else byte-stable: the
        checksummed (na) and checksum-free (md) containers both
        re-parse cleanly and verification still passes."""
        from cassandra_pmem_spark.sources.sstable import (
            mutate_sstable_metadata, verify_sstable,
        )

        m = self._write(tmp_path, version=version)
        before = self._stats(m["data_path"])
        assert before["sstable_level"] == 0
        assert before["repaired_at"] == 0
        out = mutate_sstable_metadata(
            m["data_path"], level=3, repaired_at=1234567890123
        )
        assert (out["old_level"], out["new_level"]) == (0, 3)
        after = self._stats(m["data_path"])
        assert after["sstable_level"] == 3
        assert after["repaired_at"] == 1234567890123
        # the rest of the STATS component is untouched
        for k in ("min_timestamp", "max_timestamp", "total_rows"):
            assert after[k] == before[k]
        if version == "na":  # verify re-walks the metadata checksums
            assert verify_sstable(m["data_path"])

    def test_level_reset_skips_level_zero(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import (
            mutate_sstable_metadata, reset_sstable_level,
        )

        m = self._write(tmp_path)
        assert reset_sstable_level(m["data_path"])["skipped"] is True
        mutate_sstable_metadata(m["data_path"], level=5)
        out = reset_sstable_level(m["data_path"])
        assert (out["old_level"], out["new_level"]) == (5, 0)
        assert self._stats(m["data_path"])["sstable_level"] == 0

    def test_repaired_set_stamps_mtime_and_zero(self, tmp_path):
        from cassandra_pmem_spark.sources.sstable import (
            set_sstable_repaired,
        )
        import os as _os

        m = self._write(tmp_path)
        want = int(_os.path.getmtime(m["data_path"]) * 1000)
        out = set_sstable_repaired(m["data_path"], repaired=True)
        assert out["new_repaired_at"] == want
        assert self._stats(m["data_path"])["repaired_at"] == want
        out = set_sstable_repaired(m["data_path"], repaired=False)
        assert out["new_repaired_at"] == 0

    def test_expired_blockers(self, tmp_path):
        """One fully-TTL-expired sstable, one live sstable overlapping
        it in time -> the live one blocks the drop
        (SSTableExpiredBlockers.checkForExpiredSSTableBlockers:
        minTimestamp <= expired.maxTimestamp and own maxLDT still past
        the grace cutoff)."""
        from cassandra_pmem_spark.functions.murmur3 import (
            murmur3_token_bytes_py,
        )
        from cassandra_pmem_spark.sources.sstable import (
            sstable_expired_blockers,
        )
        import struct as _st

        schema = _schema()
        ks = sorted(
            range(4), key=lambda k: murmur3_token_bytes_py(_st.pack(">i", k))
        )
        # gen 1: every cell and row liveness expires at LDT 1000
        expired_parts = []
        for k in ks:
            r = RowData(
                clustering=[0], liveness_timestamp=TS,
                liveness_ttl=60, liveness_expiration=1000,
            )
            r.cells["v"] = CellValue(
                value="x", timestamp=TS, ttl=60, local_deletion_time=1000
            )
            expired_parts.append(PartitionData(key_values=[k], rows=[r]))
        write_sstable(str(tmp_path), 1, schema, expired_parts)
        # gen 2: live data (maxLDT = NO_DELETION_TIME), min_ts == TS
        write_sstable(
            str(tmp_path), 2, schema,
            [_part(k, [_row(0, TS, v="y", n=k)]) for k in ks],
        )
        rows = sstable_expired_blockers(
            str(tmp_path), gc_grace_seconds=0, now_seconds=10_000
        )
        assert len(rows) == 1
        assert rows[0]["blocker"].endswith("na-2-big-Data.db")
        assert rows[0]["blocked"] == [str(tmp_path / "na-1-big-Data.db")]
        # within the grace window nothing is expired yet
        assert sstable_expired_blockers(
            str(tmp_path), gc_grace_seconds=900_000, now_seconds=10_000
        ) == []

    def test_offline_relevel(self, tmp_path):
        """Six sstables: three token-disjoint slices + three copies of
        the full range. The non-overlapping slices sweep off into one
        run (the highest level); with ceil(log10(6)) = 1 level kept,
        the full-range sstables land in L0."""
        from cassandra_pmem_spark.functions.murmur3 import (
            murmur3_token_bytes_py,
        )
        from cassandra_pmem_spark.sources.sstable import offline_relevel
        import struct as _st

        ks = sorted(
            range(12), key=lambda k: murmur3_token_bytes_py(_st.pack(">i", k))
        )
        schema = _schema()
        gen = 0
        for lo in (0, 4, 8):  # token-disjoint contiguous slices
            gen += 1
            write_sstable(
                str(tmp_path), gen, schema,
                [_part(k, [_row(0, TS, v="a", n=k)]) for k in ks[lo:lo + 4]],
            )
        for _ in range(3):  # full-range sstables overlap everything
            gen += 1
            write_sstable(
                str(tmp_path), gen, schema,
                [_part(k, [_row(0, TS, v="b", n=k)]) for k in ks],
            )
        res = offline_relevel(str(tmp_path), dry_run=True)
        assert res["dry_run"] is True and res["mutated"] == 0
        assert all(
            self._stats(p)["sstable_level"] == 0 for p in res["levels"]
        )
        res = offline_relevel(str(tmp_path))
        # the three disjoint slices form the kept run -> level 1
        for g in (1, 2, 3):
            p = str(tmp_path / f"na-{g}-big-Data.db")
            assert res["levels"][p] == 1
            assert self._stats(p)["sstable_level"] == 1
        for g in (4, 5, 6):
            p = str(tmp_path / f"na-{g}-big-Data.db")
            assert res["levels"][p] == 0
        assert res["level_counts"] == {0: 3, 1: 3}

    def test_offline_relevel_single_sstable_goes_l0(self, tmp_path):
        """ceil(log10(1)) = 0 expected levels, so the lone run
        overflows to L0 — the reference's exact arithmetic."""
        from cassandra_pmem_spark.sources.sstable import offline_relevel

        self._write(tmp_path)
        res = offline_relevel(str(tmp_path), dry_run=True)
        assert res["level_counts"] == {0: 1}

    def test_distributed_levelreset_and_repairedset(self, spark, tmp_path):
        from cassandra_pmem_spark.sources.sstable import (
            distributed_sstable_maintenance, mutate_sstable_metadata,
        )

        m1 = self._write(tmp_path, gen=1, keys=range(4))
        m2 = self._write(tmp_path, gen=2, keys=range(4, 8))
        mutate_sstable_metadata(m1["data_path"], level=4)
        rows = distributed_sstable_maintenance(
            spark, str(tmp_path), "levelreset"
        ).collect()
        assert sorted((r.ok, r.detail) for r in rows) == [
            (True, "already level 0"), (True, "level 4 -> 0"),
        ]
        assert self._stats(m1["data_path"])["sstable_level"] == 0
        rows = distributed_sstable_maintenance(
            spark, str(tmp_path), "repairedset", repaired=True
        ).collect()
        assert all(r.ok for r in rows) and len(rows) == 2
        for m in (m1, m2):
            assert self._stats(m["data_path"])["repaired_at"] > 0

    def test_cli_levelreset_and_blockers(self, tmp_path, capsys):
        from cassandra_pmem_spark.__main__ import main
        from cassandra_pmem_spark.sources.sstable import (
            mutate_sstable_metadata,
        )

        m = self._write(tmp_path)
        mutate_sstable_metadata(m["data_path"], level=2)
        assert main(["--sstablelevelreset", str(tmp_path)]) == 0
        out = capsys.readouterr().out
        assert "Changing level from 2 to 0" in out
        assert main(["--sstableexpiredblockers", str(tmp_path)]) == 0
        assert "No expired sstables are blocked" in capsys.readouterr().out
        assert main(
            ["--sstablerepairedset", str(tmp_path), "--is-unrepaired"]
        ) == 0
        assert "repairedAt" in capsys.readouterr().out
        assert main(
            ["--sstableofflinerelevel", str(tmp_path), "--dry-run"]
        ) == 0
        assert "Potential leveling" in capsys.readouterr().out
