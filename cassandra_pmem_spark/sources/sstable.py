"""Cassandra 4.0 "big"-format SSTable source/sink.

Writes the checkout's current version `na` (BigFormat.java:120) and
reads the whole `ma`..`nb` range through the BigVersion feature-flag
matrix (BigFormat.java:153-163; see SSTableVersion below).

This closes SURVEY §2.1's two remaining storage rows: the SSTable data
format itself and the Hadoop-style split planning over it. The byte
layout is implemented from the reference serializers (file:line into
/root/reference — behavior studied, code not copied):

- ``utils/vint/VIntCoding.java:66-174,186-238`` — unsigned vints: the
  first byte's leading set bits count the extra bytes; value bits ride
  big-endian in the remainder (9 bytes max = full 64-bit). Signed
  vints zigzag first.
- ``db/ColumnIndex.java:116-128`` — partition layout in Data.db:
  key (unsigned-short length + bytes), partition-level DeletionTime,
  [static row], unfiltereds, END_OF_PARTITION flag byte.
- ``db/DeletionTime.java:167-180`` — int localDeletionTime (seconds)
  then long markedForDeleteAt (micros); LIVE = (MAX_INT, MIN_LONG).
- ``db/rows/UnfilteredSerializer.java:99-118,160-262`` — row flags
  (END_OF_PARTITION 0x01, IS_MARKER 0x02, HAS_TIMESTAMP 0x04, HAS_TTL
  0x08, HAS_DELETION 0x10, HAS_ALL_COLUMNS 0x20, HAS_COMPLEX_DELETION
  0x40, EXTENSION_FLAG 0x80), clustering, then for sstables
  ``<row body size vint><prev row size vint><body>`` where the body is
  [timestamp][ttl + localExpiration][deletion][column subset] cells.
- ``db/ClusteringPrefix.java:319-340,409-421`` — clustering values in
  32-value batches: a vint header with 2 bits per value (bit 2i =
  empty, bit 2i+1 = null), then each non-empty value via writeValue.
- ``db/marshal/AbstractType.java:407-414`` — writeValue: fixed-length
  types write raw bytes, variable-length write vint length + bytes.
- ``db/Columns.java:469-497`` — column subsets: vint 0 when the row
  has every header column, else (for <64 columns) a vint bitmap of
  the MISSING columns.
- ``db/rows/Cell.java:170-215`` — cell flags (IS_DELETED 0x01,
  IS_EXPIRING 0x02, HAS_EMPTY_VALUE 0x04, USE_ROW_TIMESTAMP 0x08,
  USE_ROW_TTL 0x10), then delta-encoded timestamp / localDeletionTime
  / ttl, then the value.
- ``db/SerializationHeader.java:164-183,445-531`` — all deltas are
  against the EncodingStats minima; the HEADER metadata component is
  EncodingStats + key type + clustering types + static/regular
  (name, type) lists, types as their toString() text.
- ``db/rows/EncodingStats.java:43-68,256-261`` — stats serialize as
  deltas against the fixed 2015-09-22 epochs (micros / seconds / 0).
- ``db/RowIndexEntry.java:374-379``; ``BigTableWriter.java:455-463``
  — Index.db: per partition, key (short length) + position vint +
  promoted-size vint (0 when the partition has no index samples).
- ``io/sstable/metadata/MetadataSerializer.java:60-111`` — the
  Statistics.db container: component count (+CRC32), a toc of (type
  ordinal, position) pairs (+running CRC32), then each component
  followed by its own CRC32. Versions ≥ na ⇒ checksums present
  (BigFormat.java:162).
- ``io/util/ChecksumWriter.java:91-99`` — Digest.crc32 holds the full
  Data.db CRC32 as decimal text.

Scope (documented subset, validated by round-trip + pinned vectors in
tests/test_sstable.py): keys and values of every native type but
duration, each packed by its codec in cassandra_pmem_spark/marshal.py
(frozen list/set/map keys too; no tuple or user-type values),
COUNTER cells (values are CounterContext blobs — written as the
single-global-shard compacted form, read as the shard-count sum,
db/context/CounterContext.java — see the counter section below),
composite partition keys, clustering columns incl. ReversedType (DESC),
row liveness with optional TTL, row-level deletions, cell tombstones
and expiring cells on the read path, partition-level deletions.
Filter.db is written and used: the bloom filter hashes the key's full
128-bit Murmur3 into hashCount bit positions (BloomFilter.java:69-102,
OffHeapBitSet bit/byte layout, BloomFilterSerializer.java:34-38), and
``sstable_point_read`` consults it before touching Index/Data — the
BigTableReader single-partition path. Summary.db is written and used
too (IndexSummary.java:271-294 layout, native-order offsets/longs,
first/last keys appended int-length-prefixed): point reads seek the
Index.db from the greatest sampled key <= probe and scan at most one
minIndexInterval. STATIC rows are real: when the header declares
static columns every partition carries one static row (EXTENSION_FLAG
+ IS_STATIC, no clustering — UnfilteredSerializer.java:162-163,187;
ColumnIndex.writePartitionHeader:120-127), reads spread the live
static values onto each row (and a static-only partition yields one
null-clustered row, the CQL shape). RANGE TOMBSTONE MARKERS are real:
bounds and boundaries serialize as IS_MARKER + kind byte + short size
+ clustering prefix + one (bound) or two (boundary: end then open)
delta-encoded DeletionTimes (UnfilteredSerializer.java:277-299,
ClusteringBoundOrBoundary.java:144-149), and reads shadow the rows
between a start and its end via the interleaved file order. COMPLEX
(collection) columns are real: complex deletion + vint cell count +
per-element cells with CellPaths (UnfilteredSerializer.
writeComplexColumn:266-275; list paths = ascending timeuuids, set
paths = the elements, map paths = the keys). The COMPACTION metadata component is written
and read too (r11 — completing the MetadataType census): the
cardinality blob is the PUBLIC stream-lib HyperLogLogPlus(13, 25)
format fed hash2_64(serialized key) per partition
(CompactionMetadata.java:74-92, MetadataCollector.java:117,139-144;
codec in sources/hllp.py — always serialized in the NORMAL register
representation, which any stream-lib reader accepts; both formats
decode). Summary.db additionally reads DOWNSAMPLED summaries
(IndexSummary.java samplingLevel < BASE_SAMPLING_LEVEL) and the
writer can produce them (min/max_index_interval table params).

Scale posture: the write sink range-partitions rows by Murmur3 token so
every task writes one SSTable covering a disjoint token range (the
CqlBulkRecordWriter-per-task analog); the read source plans byte-ranged
splits from Index.db partition boundaries inside tasks (the
CqlInputFormat.getSplits analog) and streams rows out of Data.db via
Arrow batches — no driver-side row loop in either direction.
"""

from __future__ import annotations

import os
import struct
import zlib
from dataclasses import dataclass, field

from cassandra_pmem_spark.marshal import (  # noqa: F401 — re-exported
    _MARSHAL,
    COUNTER_ID_LENGTH,
    REVERSED_PREFIX,
    Codec,
    CollectionCodec,
    codec_of,
    collection_codec_of,
    counter_context_global,
    counter_context_total,
    marshal_of,
    pack_key,
    timestamp_millis,
    unpack_key,
)

# -- constants (UnfilteredSerializer / Cell.Serializer / EncodingStats) ----

END_OF_PARTITION = 0x01
IS_MARKER = 0x02
HAS_TIMESTAMP = 0x04
HAS_TTL = 0x08
HAS_DELETION = 0x10
HAS_ALL_COLUMNS = 0x20
HAS_COMPLEX_DELETION = 0x40
EXTENSION_FLAG = 0x80

CELL_IS_DELETED = 0x01
CELL_IS_EXPIRING = 0x02
CELL_HAS_EMPTY_VALUE = 0x04
CELL_USE_ROW_TIMESTAMP = 0x08
CELL_USE_ROW_TTL = 0x10

NO_DELETION_TIME = 0x7FFFFFFF  # Cell.NO_DELETION_TIME / live int
NO_TTL = 0
LIVE_MFDA = -(1 << 63)  # DeletionTime.LIVE markedForDeleteAt

# EncodingStats epochs (EncodingStats.java:47-64): 2015-09-22 00:00 GMT
TIMESTAMP_EPOCH = 1442880000000000  # micros
DELETION_TIME_EPOCH = 1442880000  # seconds
TTL_EPOCH = 0

# The checkout's current big-format version (BigFormat.java:120
# current_version = "na"; earliest_supported_version = "ma" at :121).
# We WRITE na for checkout fidelity and READ the whole ma..nb range via
# the per-version feature-flag matrix below (BigFormat.java:153-163).
# nb is the public Apache Cassandra 4.0.x release version; its only
# layout delta over na is the trailing nullable originatingHostId in
# StatsMetadata (public 4.0 BigFormat "nb (4.0.0): originating host
# id"), which the read path consumes when present.
VERSION = "na"
EARLIEST_SUPPORTED_VERSION = "ma"
LATEST_SUPPORTED_VERSION = "nb"


class SSTableVersion:
    """BigFormat.BigVersion's feature-flag matrix (BigFormat.java:153-163):
    each capability is a simple version-string comparison, so minor
    versions stay forward-compatible (fields only ever appended)."""

    __slots__ = (
        "name",
        "has_commit_log_lower_bound",
        "has_commit_log_intervals",
        "has_accurate_min_max",
        "has_max_compressed_length",
        "has_pending_repair",
        "has_is_transient",
        "has_metadata_checksum",
        "has_old_bf_format",
        "has_originating_host_id",
    )

    def __init__(self, name: str):
        import re as _re

        if not _re.fullmatch(r"[a-z]{2}", name or ""):
            raise ValueError(f"malformed sstable version {name!r}")
        if not (EARLIEST_SUPPORTED_VERSION <= name <= LATEST_SUPPORTED_VERSION):
            raise ValueError(
                f"unsupported sstable version {name!r} (supported: "
                f"{EARLIEST_SUPPORTED_VERSION}..{LATEST_SUPPORTED_VERSION})"
            )
        self.name = name
        self.has_commit_log_lower_bound = name >= "mb"
        self.has_commit_log_intervals = name >= "mc"
        self.has_accurate_min_max = name >= "md"
        self.has_max_compressed_length = name >= "na"
        self.has_pending_repair = name >= "na"
        self.has_is_transient = name >= "na"
        self.has_metadata_checksum = name >= "na"
        self.has_old_bf_format = name < "na"
        # public 4.0.x addition; absent from this checkout's na
        self.has_originating_host_id = name >= "nb"

    def __repr__(self) -> str:  # pragma: no cover
        return f"SSTableVersion({self.name!r})"


def version_from_path(path: str) -> SSTableVersion:
    """Descriptor version from any component path's basename
    (``<version>-<generation>-big-<Component>`` — Descriptor.fromFilename
    direction). Raises on versions outside ma..nb, like the reference's
    earliest_supported_version gate."""
    return SSTableVersion(os.path.basename(path).split("-", 1)[0])

# -- vints (VIntCoding.java) ------------------------------------------------

def unsigned_vint_size(value: int) -> int:
    if 0 <= value < 128:
        return 1  # fast path: the overwhelmingly common small vint
    value &= (1 << 64) - 1
    bits = max(1, value.bit_length())
    # size s <= 8 carries 7*s value bits (the first byte spends one
    # flag bit per extra byte PLUS the terminating 0); s = 9 carries
    # the full 64 (VIntCoding.computeUnsignedVIntSize)
    for s in range(1, 9):
        if bits <= 7 * s:
            return s
    return 9


_VINT_1B = [bytes([i]) for i in range(128)]


def encode_unsigned_vint(value: int) -> bytes:
    if 0 <= value < 128:
        return _VINT_1B[value]  # fast path, ~90% of wire vints
    value &= (1 << 64) - 1
    size = unsigned_vint_size(value)
    if size == 1:
        return bytes([value])
    extra = size - 1
    buf = bytearray(size)
    v = value
    for i in range(extra, -1, -1):
        buf[i] = v & 0xFF
        v >>= 8
    # encodeExtraBytesToRead: invert the first-byte value mask
    buf[0] |= (~(0xFF >> extra)) & 0xFF
    return bytes(buf)


def zigzag64(n: int) -> int:
    return ((n << 1) ^ (n >> 63)) & ((1 << 64) - 1)


def unzigzag64(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


def encode_vint(value: int) -> bytes:
    return encode_unsigned_vint(zigzag64(value))


class ByteReader:
    """Sequential reader over bytes with the vint / fixed decoders."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def remaining(self) -> int:
        return len(self.buf) - self.pos

    def take(self, n: int) -> bytes:
        b = self.buf[self.pos:self.pos + n]
        if len(b) != n:
            raise ValueError("truncated sstable stream")
        self.pos += n
        return b

    def u8(self) -> int:
        # direct index (an IndexError = truncated stream) — take(1)'s
        # slice+len was the single hottest line of the parse profile
        try:
            b = self.buf[self.pos]
        except IndexError:
            raise ValueError("truncated sstable stream") from None
        self.pos += 1
        return b

    def u16(self) -> int:
        return struct.unpack(">H", self.take(2))[0]

    def i32(self) -> int:
        return struct.unpack(">i", self.take(4))[0]

    def i64(self) -> int:
        return struct.unpack(">q", self.take(8))[0]

    def unsigned_vint(self) -> int:
        first = self.u8()
        if first < 0x80:
            return first
        # count of leading ones = extra bytes
        extra = 8 - (255 - first).bit_length() if first != 0xFF else 8
        return (
            (first & (0xFF >> extra)) << (8 * extra)
        ) | int.from_bytes(self.take(extra), "big")

    def vint(self) -> int:
        return unzigzag64(self.unsigned_vint())


# extra-byte count per first vint byte (leading ones), for inlined
# decoders that avoid ByteReader call overhead in hot loops
_VINT_EXTRA = tuple(
    8 if b == 0xFF else 8 - (255 - b).bit_length() for b in range(256)
)


# -- schema ------------------------------------------------------------------

@dataclass
class SSTableSchema:
    """The SerializationHeader facts a Data.db stream needs: key /
    clustering / regular column types (marshal text). Partition key
    components > 1 serialize through CompositeType like the reference
    (`TableMetadata.partitionKeyType`)."""

    key_names: list[str]
    key_types: list[str]                  # marshal text per pk component
    clustering_names: list[str]
    clustering_types: list[str]           # marshal text (ReversedType(...) for DESC)
    regular: list[tuple[str, str]]        # (name, marshal text), SORTED by name
    statics: list[tuple[str, str]] = field(default_factory=list)

    def __post_init__(self):
        self.regular = sorted(self.regular)
        self.statics = sorted(self.statics)
        if len(self.regular) >= 64 or len(self.statics) >= 64:
            raise ValueError(
                "sstable subset supports fewer than 64 regular/static "
                "columns (Columns.serializeSubset large-subset encoding "
                "not implemented)"
            )
        # derived column structures, computed once: the row
        # serializers touch these PER ROW (hot path — rebuilding the
        # name list + type dict per row was ~10% of serialize/parse)
        self._reg_superset = [n for n, _ in self.regular]
        self._reg_types = dict(self.regular)
        self._static_superset = [n for n, _ in self.statics]
        self._static_types = dict(self.statics)

    def columns_for(self, static: bool) -> tuple[list, dict]:
        """(superset name list, name->marshal dict) for the regular or
        static tier — precomputed in __post_init__."""
        if static:
            return self._static_superset, self._static_types
        return self._reg_superset, self._reg_types

    def serializer_info(self, static: bool):
        """(superset, {name: (plain Codec | None, CollectionCodec |
        None)}) with the codec lookups resolved ONCE per schema — the
        row serializers previously resolved them per cell (hot path).
        Built lazily: codec resolution needs the full codec registry,
        which isn't loaded when __post_init__ runs at import time."""
        cache = getattr(self, "_ser_info", None)
        if cache is None:
            cache = self._ser_info = {}
        got = cache.get(static)
        if got is None:
            superset, types = self.columns_for(static)
            codecs = {}
            for n in superset:
                cc = collection_codec_of(types[n])
                codecs[n] = (
                    (None, cc) if cc is not None
                    else (codec_of(types[n]), None)
                )
            got = cache[static] = (superset, codecs)
        return got

    @classmethod
    def from_table_meta(cls, meta):
        """Derive from a catalog TableMeta: each column's marshal comes
        from its declared CQL type (meta.cql_types) through marshal_of;
        partition-key and clustering components are one cell each, so
        they pack as frozen values. Duration, tuple and user-type values
        have no marshal in this subset: such a column is refused here,
        before any file is written."""
        from cassandra_pmem_spark.cql.validator import InvalidRequest

        pk = list(meta.partition_key)
        ck_names = [c.name for c in meta.clustering]
        by_name = {}
        for f in meta.schema.fields:
            declared = meta.cql_type(f.name)
            m = marshal_of(declared, f.dataType, frozen=f.name in pk or f.name in ck_names)
            if "DurationType" in m or "TupleType(" in m:
                raise InvalidRequest(
                    f"Cannot flush column {f.name!r} of type "
                    f"{declared or f.dataType.simpleString()}: duration, "
                    "tuple and user type values have no sstable marshal "
                    "in this engine"
                )
            by_name[f.name] = m
        ck_types = [
            by_name[c.name]
            if c.ascending
            else f"{_MARSHAL}ReversedType({by_name[c.name]})"
            for c in meta.clustering
        ]
        statics = set(getattr(meta, "static_columns", ()) or ())
        reg = [
            (n, t) for n, t in by_name.items()
            if n not in pk and n not in ck_names and n not in statics
        ]
        stat = [(n, by_name[n]) for n in statics]
        return cls(
            pk, [by_name[c] for c in pk], ck_names, ck_types, reg, stat
        )

    def key_bytes(self, values: list) -> bytes:
        """Serialized partition key — the same bytes Murmur3 tokens
        hash (marshal.pack_key)."""
        return pack_key([codec_of(t) for t in self.key_types], values)

    def key_values(self, key: bytes) -> list:
        return unpack_key([codec_of(t) for t in self.key_types], key)


def write_value(out: bytearray, codec: Codec, v) -> None:
    """AbstractType.writeValue: raw for fixed-length, vint length +
    bytes for variable (AbstractType.java:407-414)."""
    b = codec.pack(v)
    if codec.fixed_len >= 0:
        assert len(b) == codec.fixed_len, (codec.marshal, len(b))
        out += b
    else:
        out += encode_unsigned_vint(len(b))
        out += b


def read_value(r: ByteReader, codec: Codec):
    if codec.fixed_len >= 0:
        return codec.unpack(r.take(codec.fixed_len))
    return codec.unpack(r.take(r.unsigned_vint()))


# -- encoding stats ----------------------------------------------------------

@dataclass
class EncodingStats:
    min_timestamp: int = TIMESTAMP_EPOCH
    min_local_deletion_time: int = DELETION_TIME_EPOCH
    min_ttl: int = TTL_EPOCH

    def serialize(self) -> bytes:
        return (
            encode_unsigned_vint(self.min_timestamp - TIMESTAMP_EPOCH)
            + encode_unsigned_vint(
                self.min_local_deletion_time - DELETION_TIME_EPOCH
            )
            + encode_unsigned_vint(self.min_ttl - TTL_EPOCH)
        )

    @classmethod
    def deserialize(cls, r: ByteReader) -> "EncodingStats":
        def signed64(v: int) -> int:
            # Java long addition wraps: a pre-epoch minimum encodes as a
            # negative delta masked into the unsigned vint, and the read
            # side must wrap it back (readUnsignedVInt + long add)
            v &= (1 << 64) - 1
            return v - (1 << 64) if v >= (1 << 63) else v

        return cls(
            signed64(r.unsigned_vint() + TIMESTAMP_EPOCH),
            signed64(r.unsigned_vint() + DELETION_TIME_EPOCH),
            signed64(r.unsigned_vint() + TTL_EPOCH),
        )


# -- row model ---------------------------------------------------------------

@dataclass
class CellValue:
    """One simple-column cell on the wire."""

    value: object = None              # None for tombstones
    timestamp: int = 0                # micros
    ttl: int = 0                      # seconds, 0 = none
    local_deletion_time: int = NO_DELETION_TIME
    is_tombstone: bool = False


@dataclass
class RowData:
    clustering: list = field(default_factory=list)
    # liveness (LivenessInfo): 0 timestamp = no pk liveness (UPDATE-built)
    liveness_timestamp: int | None = None
    liveness_ttl: int = 0
    liveness_expiration: int = NO_DELETION_TIME
    # row deletion (mfda micros, ldt seconds) or None
    deletion: tuple[int, int] | None = None
    cells: dict = field(default_factory=dict)  # col name -> CellValue
    is_static: bool = False


@dataclass
class PartitionData:
    key_values: list = field(default_factory=list)
    deletion: tuple[int, int] | None = None  # partition-level
    rows: list = field(default_factory=list)
    # static row cells (one per partition; Row.STATIC_CLUSTERING): the
    # values of `static` columns, each with its own liveness
    static_cells: dict = field(default_factory=dict)


# -- row / partition serialization (UnfilteredSerializer) --------------------

def _columns_subset_vint(present: list[str], superset: list[str]) -> bytes:
    """Columns.serializeSubset (<64 superset): 0 when all present, else
    a bitmap of MISSING columns (Columns.java:469-497)."""
    if len(present) == len(superset):
        return encode_unsigned_vint(0)
    present_set = set(present)
    bitmap = 0
    for i, c in enumerate(superset):
        if c not in present_set:
            bitmap |= 1 << i
    return encode_unsigned_vint(bitmap)


def _read_columns_subset(r: ByteReader, superset: list[str]) -> list[str]:
    encoded = r.unsigned_vint()
    if encoded == 0:
        return list(superset)
    return [c for i, c in enumerate(superset) if not (encoded >> i) & 1]


def _clustering_bytes(schema: SSTableSchema, values: list) -> bytes:
    """Clustering.Serializer: 32-value vint headers (bit 2i = empty,
    bit 2i+1 = null) then each non-null value (ClusteringPrefix.java:
    319-340,409-421). The engine never writes empty clustering bytes;
    nulls round-trip for completeness."""
    out = bytearray()
    n = len(values)
    off = 0
    while off < n:
        limit = min(n, off + 32)
        header = 0
        for i in range(off, limit):
            # Java's << shifts mod 64, so batch 2's bits land at the
            # same positions as batch 1's (ClusteringPrefix.java:415)
            if values[i] is None:
                header |= 1 << ((i * 2 + 1) % 64)
        out += encode_unsigned_vint(header)
        off = limit
    for i, v in enumerate(values):
        if v is not None:
            write_value(out, codec_of(schema.clustering_types[i]), v)
    return bytes(out)


def _read_clustering(r: ByteReader, schema: SSTableSchema,
                     n: int | None = None) -> list:
    """Read `n` clustering components (default: all of them — bound
    prefixes read fewer, ClusteringBoundOrBoundary.deserialize)."""
    if n is None:
        n = len(schema.clustering_types)
    flags = []
    off = 0
    while off < n:
        limit = min(n, off + 32)
        header = r.unsigned_vint()
        for i in range(off, limit):
            flags.append((header >> ((i * 2) % 64)) & 0x3)
        off = limit
    out = []
    for i in range(n):
        if flags[i] == 0:
            out.append(read_value(r, codec_of(schema.clustering_types[i])))
        else:
            out.append(None)  # null (2) or empty (1)
    return out


def _cell_bytes(cell: CellValue, codec: Codec, row_ts: int | None,
                row_ttl: int, row_exp: int, stats: EncodingStats) -> bytes:
    """Cell.Serializer.serialize (Cell.java:178-215)."""
    out = bytearray()
    # hasRemaining semantics: a zero-length value (empty text/blob) is
    # a LIVE cell carried by HAS_EMPTY_VALUE alone (Cell.java:181,187)
    packed = (
        codec.pack(cell.value)
        if not cell.is_tombstone and cell.value is not None
        else b""
    )
    has_value = len(packed) > 0
    is_expiring = not cell.is_tombstone and cell.ttl > 0
    use_row_ts = row_ts is not None and cell.timestamp == row_ts
    use_row_ttl = (
        is_expiring
        and row_ttl > 0
        and cell.ttl == row_ttl
        and cell.local_deletion_time == row_exp
    )
    flags = 0
    if not has_value:
        flags |= CELL_HAS_EMPTY_VALUE
    if cell.is_tombstone:
        flags |= CELL_IS_DELETED
    elif is_expiring:
        flags |= CELL_IS_EXPIRING
    if use_row_ts:
        flags |= CELL_USE_ROW_TIMESTAMP
    if use_row_ttl:
        flags |= CELL_USE_ROW_TTL
    out.append(flags)
    if not use_row_ts:
        out += encode_unsigned_vint(cell.timestamp - stats.min_timestamp)
    if (cell.is_tombstone or is_expiring) and not use_row_ttl:
        out += encode_unsigned_vint(
            cell.local_deletion_time - stats.min_local_deletion_time
        )
    if is_expiring and not use_row_ttl:
        out += encode_unsigned_vint(cell.ttl - stats.min_ttl)
    if has_value:
        if codec.fixed_len >= 0:
            assert len(packed) == codec.fixed_len, (codec.marshal, len(packed))
            out += packed
        else:
            out += encode_unsigned_vint(len(packed))
            out += packed
    return bytes(out)


def _read_cell(r: ByteReader, codec: Codec, row_ts: int | None,
               row_ttl: int, row_exp: int, stats: EncodingStats) -> CellValue:
    flags = r.u8()
    has_value = not (flags & CELL_HAS_EMPTY_VALUE)
    is_deleted = bool(flags & CELL_IS_DELETED)
    is_expiring = bool(flags & CELL_IS_EXPIRING)
    use_row_ts = bool(flags & CELL_USE_ROW_TIMESTAMP)
    use_row_ttl = bool(flags & CELL_USE_ROW_TTL)
    ts = row_ts if use_row_ts else r.unsigned_vint() + stats.min_timestamp
    if use_row_ttl:
        ldt, ttl = row_exp, row_ttl
    else:
        ldt = (
            r.unsigned_vint() + stats.min_local_deletion_time
            if (is_deleted or is_expiring)
            else NO_DELETION_TIME
        )
        ttl = r.unsigned_vint() + stats.min_ttl if is_expiring else NO_TTL
    if has_value:
        value = read_value(r, codec)
    elif not is_deleted and codec.fixed_len < 0:
        # live cell with an EMPTY value (empty text/blob) — decode the
        # empty buffer, don't conflate it with an absent cell
        value = codec.unpack(b"")
    else:
        value = None
    return CellValue(value, ts, ttl, ldt, is_deleted)


def _row_bytes(row: RowData, schema: SSTableSchema, stats: EncodingStats,
               prev_size: int, static: bool = False) -> bytes:
    """UnfilteredSerializer.serialize for one row
    (UnfilteredSerializer.java:160-262): flags, clustering,
    <body+prevsize vint><prev size vint><body>. A STATIC row sets
    EXTENSION_FLAG + the IS_STATIC extended flag, has no clustering,
    and draws its column superset from the header's static columns
    (UnfilteredSerializer.java:162-163,187-188)."""
    flags = 0
    has_ts = row.liveness_timestamp is not None
    has_ttl = has_ts and row.liveness_ttl > 0
    has_del = row.deletion is not None
    present = sorted(row.cells)
    superset, codecs = schema.serializer_info(static)
    unknown = [c for c in present if c not in codecs]
    if unknown:
        raise ValueError(f"cells for undeclared columns {sorted(unknown)}")
    complex_cols = [c for c in present if codecs[c][1] is not None]
    if static:
        flags |= EXTENSION_FLAG
    if has_ts:
        flags |= HAS_TIMESTAMP
    if has_ttl:
        flags |= HAS_TTL
    if has_del:
        flags |= HAS_DELETION
    if complex_cols:
        # full-value collection writes carry their complex deletion
        flags |= HAS_COMPLEX_DELETION
    if len(present) == len(superset):
        flags |= HAS_ALL_COLUMNS

    body = bytearray()
    if has_ts:
        body += encode_unsigned_vint(
            row.liveness_timestamp - stats.min_timestamp
        )
    if has_ttl:
        body += encode_unsigned_vint(row.liveness_ttl - stats.min_ttl)
        body += encode_unsigned_vint(
            row.liveness_expiration - stats.min_local_deletion_time
        )
    if has_del:
        mfda, ldt = row.deletion
        body += encode_unsigned_vint(mfda - stats.min_timestamp)
        body += encode_unsigned_vint(ldt - stats.min_local_deletion_time)
    if not (flags & HAS_ALL_COLUMNS):
        body += _columns_subset_vint(present, superset)
    row_ts = row.liveness_timestamp if has_ts else None
    cells = row.cells
    for c in present:
        codec, cc = codecs[c]
        cell = cells[c]
        if cc is not None:
            body += _complex_column_bytes(
                cell.value, cc, cell.timestamp, stats,
                use_row_ts=(row_ts is not None and cell.timestamp == row_ts),
                ttl=cell.ttl,
                expiration=cell.local_deletion_time,
            )
            continue
        # inline of _cell_bytes for the common LIVE no-TTL cell with
        # the row's timestamp (byte-identical; everything else falls
        # through to the reference serializer)
        if (
            not cell.is_tombstone and cell.ttl == 0
            and cell.timestamp == row_ts and cell.value is not None
        ):
            packed = codec.pack(cell.value)
            if packed:
                fl = codec.fixed_len
                if fl >= 0:
                    assert len(packed) == fl, (codec.marshal, len(packed))
                    body.append(CELL_USE_ROW_TIMESTAMP)
                    body += packed
                else:
                    body.append(CELL_USE_ROW_TIMESTAMP)
                    body += encode_unsigned_vint(len(packed))
                    body += packed
            else:
                body.append(CELL_USE_ROW_TIMESTAMP | CELL_HAS_EMPTY_VALUE)
            continue
        body += _cell_bytes(
            cell, codec, row_ts,
            row.liveness_ttl if has_ttl else 0,
            row.liveness_expiration if has_ttl else NO_DELETION_TIME,
            stats,
        )

    out = bytearray([flags])
    if static:
        out.append(0x01)  # extended flags: IS_STATIC
    else:
        out += _clustering_bytes(schema, row.clustering)
    # <row body size + sizeof(prev size vint)> <prev size> <body>
    out += encode_unsigned_vint(len(body) + unsigned_vint_size(prev_size))
    out += encode_unsigned_vint(prev_size)
    out += body
    return bytes(out)


def _read_row(r: ByteReader, flags: int, schema: SSTableSchema,
              stats: EncodingStats) -> RowData:
    static = False
    if flags & EXTENSION_FLAG:
        ext = r.u8()
        if ext & 0x02:
            raise ValueError(
                "shadowable deletions are outside the implemented "
                "sstable subset"
            )
        static = bool(ext & 0x01)
    if flags & IS_MARKER:
        raise ValueError(
            "range tombstone markers are outside the implemented "
            "sstable subset"
        )
    clustering = [] if static else _read_clustering(r, schema)
    r.unsigned_vint()  # row size (skip-support; sequential read ignores)
    r.unsigned_vint()  # previous row size
    row = RowData(clustering=clustering)
    row.is_static = static
    if flags & HAS_TIMESTAMP:
        row.liveness_timestamp = r.unsigned_vint() + stats.min_timestamp
    if flags & HAS_TTL:
        row.liveness_ttl = r.unsigned_vint() + stats.min_ttl
        row.liveness_expiration = (
            r.unsigned_vint() + stats.min_local_deletion_time
        )
    if flags & HAS_DELETION:
        row.deletion = (
            r.unsigned_vint() + stats.min_timestamp,
            r.unsigned_vint() + stats.min_local_deletion_time,
        )
    superset, codecs = schema.serializer_info(static)
    present = (
        superset
        if flags & HAS_ALL_COLUMNS
        else _read_columns_subset(r, superset)
    )
    row_ts = row.liveness_timestamp
    for c in present:
        codec, cc = codecs[c]
        if cc is not None:
            row.cells[c] = _read_complex_column(
                r, cc, row_ts, bool(flags & HAS_COMPLEX_DELETION), stats
            )
        else:
            row.cells[c] = _read_cell(
                r, codec, row_ts,
                row.liveness_ttl, row.liveness_expiration, stats,
            )
    return row


def _deletion_time_bytes(deletion: tuple[int, int] | None) -> bytes:
    """DeletionTime.serializer: int ldt + long mfda; LIVE =
    (MAX_INT, MIN_LONG) (DeletionTime.java:167-171)."""
    if deletion is None:
        return struct.pack(">iq", NO_DELETION_TIME, LIVE_MFDA)
    mfda, ldt = deletion
    return struct.pack(">iq", ldt, mfda)


def _read_deletion_time(r: ByteReader) -> tuple[int, int] | None:
    ldt = r.i32()
    mfda = r.i64()
    if ldt == NO_DELETION_TIME and mfda == LIVE_MFDA:
        return None
    return (mfda, ldt)


def serialize_partition(part: PartitionData, schema: SSTableSchema,
                        stats: EncodingStats) -> bytes:
    """One Data.db partition (ColumnIndex.writePartitionHeader +
    unfiltereds + END_OF_PARTITION)."""
    blob, _hdr_len, _blocks = serialize_partition_indexed(part, schema, stats)
    return blob


def serialize_partition_indexed(
    part: PartitionData, schema: SSTableSchema, stats: EncodingStats,
    column_index_size: int | None = None,
) -> "tuple[bytes, int, list]":
    """serialize_partition + the ColumnIndex block bookkeeping
    (db/ColumnIndex.java:105-266): returns (bytes, headerLength,
    blocks). headerLength = partition key + DeletionTime + static row
    (writePartitionHeader:116-128 then :108). A block opens at the
    first unfiltered after a flush (add:238-244 firstClustering/
    startPosition) and flushes once the accumulated width reaches
    column_index_size (add:262-264 — checked AFTER serializing the
    unfiltered, so a block can overshoot by one), with a final flush
    in finish (:276-277). Block offsets/widths are relative to the
    PARTITION START. Open range-tombstone deletions carry into
    endOpenMarker (add:256-260). With column_index_size=None no
    blocks are tracked (the plain serializer path)."""
    out = bytearray()
    key = schema.key_bytes(part.key_values)
    if len(key) > 0xFFFF:
        raise ValueError("partition key exceeds unsigned-short length")
    out += struct.pack(">H", len(key)) + key
    out += _deletion_time_bytes(part.deletion)
    if schema.statics:
        # header hasStatic => EVERY partition carries a static row,
        # possibly empty (ColumnIndex.writePartitionHeader:120-127)
        srow = RowData()
        srow.cells = dict(part.static_cells)
        out += _row_bytes(srow, schema, stats, 0, static=True)
    header_length = len(out)
    blocks: list = []
    first = None           # (kind, values) of the open block's first name
    start_pos = 0
    open_marker = None     # active open range-tombstone deletion
    prev = 0
    for row in part.rows:
        pos = len(out)
        if isinstance(row, MarkerData):
            rb = _marker_bytes(row, schema, stats, prev)
            name = (row.kind, list(row.values))
        else:
            rb = _row_bytes(row, schema, stats, prev)
            name = (CLUSTERING_KIND, list(row.clustering))
        if column_index_size is not None and first is None:
            first = name
            start_pos = pos
        out += rb
        # previousUnfilteredSize excludes flags+clustering+size vints?
        # The reference records the serialized size of the previous
        # unfiltered's BODY as written (serializeRowBody length +
        # sizeof prev vint); sequential readers ignore it, and the
        # round-trip pins our reader against our writer. Keep the whole
        # unfiltered size, which is self-consistent both directions.
        prev = len(rb)
        if isinstance(row, MarkerData):
            if row.kind in _BOUNDARY_KINDS:
                open_marker = row.start_deletion
            elif row.kind in _START_KINDS:
                open_marker = row.deletion
            else:
                open_marker = None
        if (
            column_index_size is not None
            and len(out) - start_pos >= column_index_size
        ):
            blocks.append({
                "first": first, "last": name, "offset": start_pos,
                "width": len(out) - start_pos, "open": open_marker,
            })
            first = None
    if column_index_size is not None and first is not None:
        # finish(): the tail block (ColumnIndex.java:276-277)
        blocks.append({
            "first": first,
            "last": name if part.rows else first,
            "offset": start_pos,
            "width": len(out) - start_pos,
            "open": open_marker,
        })
    out.append(END_OF_PARTITION)
    return bytes(out), header_length, blocks


def read_partition_header(r: ByteReader, schema: SSTableSchema,
                          stats: EncodingStats) -> PartitionData:
    """Key + partition DeletionTime + (when declared) the static row —
    exactly ColumnIndex.writePartitionHeader's output; rows not read."""
    klen = r.u16()
    key = r.take(klen)
    part = PartitionData(key_values=schema.key_values(key))
    part.deletion = _read_deletion_time(r)
    if schema.statics:
        srow = _read_row(r, r.u8(), schema, stats)
        if not getattr(srow, "is_static", False):
            raise ValueError("expected a static row after the partition header")
        part.static_cells = srow.cells
    return part


def read_partition(r: ByteReader, schema: SSTableSchema,
                   stats: EncodingStats) -> PartitionData:
    part = read_partition_header(r, schema, stats)
    while True:
        flags = r.u8()
        if flags & END_OF_PARTITION:
            break
        if flags & IS_MARKER:
            part.rows.append(_read_marker(r, schema, stats))
        else:
            part.rows.append(_read_row(r, flags, schema, stats))
    return part


# -- Statistics.db (MetadataSerializer container, HEADER + VALIDATION) ------

_TYPE_VALIDATION = 0  # MetadataType.java ordinals
_TYPE_COMPACTION = 1
_TYPE_HEADER = 3


def _update_crc_int(crc: int, v: int) -> int:
    return zlib.crc32(struct.pack(">i", v), crc)


def _header_component(schema: SSTableSchema, stats: EncodingStats) -> bytes:
    """SerializationHeader.Component (SerializationHeader.java:445-531):
    EncodingStats, key type, clustering types, static cols (none),
    regular cols — types as vint-length toString() text."""
    out = bytearray()
    out += stats.serialize()

    def wtype(t: str) -> None:
        b = t.encode()
        out.extend(encode_unsigned_vint(len(b)))
        out.extend(b)

    if len(schema.key_types) == 1:
        wtype(schema.key_types[0])
    else:
        wtype(
            _MARSHAL + "CompositeType(" + ",".join(schema.key_types) + ")"
        )
    out += encode_unsigned_vint(len(schema.clustering_types))
    for t in schema.clustering_types:
        wtype(t)
    for cols in (schema.statics, schema.regular):
        out += encode_unsigned_vint(len(cols))
        for name, t in cols:
            nb = name.encode()
            out.extend(encode_unsigned_vint(len(nb)))
            out.extend(nb)
            wtype(t)
    return bytes(out)


def _parse_header_component(r: ByteReader) -> tuple[EncodingStats, dict]:
    stats = EncodingStats.deserialize(r)

    def rtext() -> str:
        return bytes(r.take(r.unsigned_vint())).decode()

    key_type = rtext()
    n_ck = r.unsigned_vint()
    ck_types = [rtext() for _ in range(n_ck)]
    n_static = r.unsigned_vint()
    statics = [(rtext(), rtext()) for _ in range(n_static)]
    n_reg = r.unsigned_vint()
    regular = [(rtext(), rtext()) for _ in range(n_reg)]
    comp_pref = _MARSHAL + "CompositeType("
    if key_type.startswith(comp_pref) and key_type.endswith(")"):
        key_types = key_type[len(comp_pref):-1].split(",")
    else:
        key_types = [key_type]
    return stats, {
        "key_types": key_types,
        "clustering_types": ck_types,
        "regular": regular,
        "statics": statics,
    }


def _validation_component(bloom_fp: float = 0.01) -> bytes:
    """ValidationMetadata (ValidationMetadata.java:79-84): modified-UTF8
    partitioner name + double fp chance."""
    name = b"org.apache.cassandra.dht.Murmur3Partitioner"
    return struct.pack(">H", len(name)) + name + struct.pack(">d", bloom_fp)


def _compaction_component(schema: SSTableSchema, partitions: list) -> bytes:
    """CompactionMetadata (CompactionMetadata.java:74-92): the partition
    cardinality estimator's getBytes(), int-length-prefixed
    (ByteBufferUtil.writeWithLength). The estimator is HyperLogLogPlus
    (13, 25) offered MurmurHash.hash2_64(serialized key, 0) per
    partition (MetadataCollector.java:117,139-144)."""
    from cassandra_pmem_spark.sources.hllp import HyperLogLogPlus

    hll = HyperLogLogPlus(13, 25)
    for p in partitions:
        hll.offer_key(schema.key_bytes(p.key_values))
    blob = hll.serialize()
    return struct.pack(">i", len(blob)) + blob


def serialize_statistics(schema: SSTableSchema, stats: EncodingStats,
                         partitions: list | None = None,
                         compression_ratio: float = -1.0,
                         part_sizes: list[int] | None = None,
                         version: str = VERSION) -> bytes:
    """The Statistics.db container (MetadataSerializer.java:60-111).
    hasMetadataChecksum (≥ na, BigFormat.java:162) gates every CRC:
    count+crc, toc+crc (running), then each
    component + its own crc, components ordered by type ordinal.
    ma..md write the same container with NO checksums anywhere.
    VALIDATION, HEADER, and — when the writer passes its partitions —
    STATS and COMPACTION are all written, completing the MetadataType
    census. COMPACTION (CompactionMetadata.java:74-92) is the
    int-length-prefixed stream-lib HyperLogLogPlus blob fed one
    hash2_64(serialized pk) per partition (MetadataCollector.java:
    117,139-144; codec in sources/hllp.py)."""
    ver = SSTableVersion(version)
    checksum = ver.has_metadata_checksum
    comps = [
        (_TYPE_VALIDATION, _validation_component()),
        (_TYPE_HEADER, _header_component(schema, stats)),
    ]
    if partitions is not None:
        comps.append((
            _TYPE_STATS,
            stats_component(
                schema, stats, partitions, compression_ratio, part_sizes,
                version=version,
            ),
        ))
        comps.append((
            _TYPE_COMPACTION,
            _compaction_component(schema, partitions),
        ))
        comps.sort()
    out = bytearray()
    crc = 0
    out += struct.pack(">i", len(comps))
    crc = _update_crc_int(crc, len(comps))
    if checksum:
        out += struct.pack(">I", crc)
    last = 4 + 8 * len(comps) + (2 * 4 if checksum else 0)
    toc = bytearray()
    for t, body in comps:
        toc += struct.pack(">i", t)
        crc = _update_crc_int(crc, t)
        toc += struct.pack(">i", last)
        crc = _update_crc_int(crc, last)
        last += len(body) + (4 if checksum else 0)
    out += toc
    if checksum:
        out += struct.pack(">I", crc)
    for _t, body in comps:
        out += body
        if checksum:
            out += struct.pack(">I", zlib.crc32(body))
    return bytes(out)


def _component_spans(blob: bytes, checksum: bool,
                     validate: bool = True) -> "dict[int, tuple[int, int]]":
    """Walk the Statistics.db container header and return each
    component's slot as {type: (start, end)} — with checksums the
    slot's last 4 bytes are its CRC32. The ONE place the container
    layout lives; parse_statistics and the metadata-mutation tools
    both consume it (a second hand-maintained walk would let the two
    drift)."""
    r = ByteReader(blob)
    count = r.i32()
    crc = _update_crc_int(0, count)
    if checksum:
        stored = struct.unpack(">I", r.take(4))[0]
        if validate and stored != crc:
            raise ValueError("Statistics.db count checksum mismatch")
    toc = []
    for _ in range(count):
        t = r.i32()
        pos = r.i32()
        crc = _update_crc_int(crc, t)
        crc = _update_crc_int(crc, pos)
        toc.append((t, pos))
    if checksum:
        stored = struct.unpack(">I", r.take(4))[0]
        if validate and stored != crc:
            raise ValueError("Statistics.db toc checksum mismatch")
    ends = sorted(p for _t, p in toc) + [len(blob)]
    return {
        t: (p, min(e for e in ends if e > p)) for t, p in toc
    }


def parse_statistics(blob: bytes,
                     version: str = VERSION) -> tuple[EncodingStats, dict]:
    """Read back the HEADER component (with checksum verification when
    the version carries checksums — hasMetadataChecksum ≥ na) — enough
    to decode Data.db; other components are skipped by their toc
    positions. ma..md containers have no CRCs at all
    (MetadataSerializer.maybeWriteChecksum / maybeValidateChecksum)."""
    ver = SSTableVersion(version)
    checksum = ver.has_metadata_checksum
    positions = _component_spans(blob, checksum)
    if _TYPE_HEADER not in positions:
        raise ValueError("Statistics.db missing HEADER component")

    def component_body(type_id: int) -> bytes:
        start, end = positions[type_id]
        if not checksum:
            return blob[start:end]
        body = blob[start:end - 4]
        stored = struct.unpack(">I", blob[end - 4:end])[0]
        if zlib.crc32(body) != stored:
            raise ValueError(
                f"Statistics.db component {type_id} checksum mismatch"
            )
        return body

    stats, hdr = _parse_header_component(
        ByteReader(component_body(_TYPE_HEADER))
    )
    hdr["sstable_version"] = ver.name
    if _TYPE_STATS in positions:
        tmp_schema = schema_from_header(hdr)
        hdr["stats_metadata"] = parse_stats_component(
            component_body(_TYPE_STATS), tmp_schema, version=version
        )
    if _TYPE_COMPACTION in positions:
        from cassandra_pmem_spark.sources.hllp import HyperLogLogPlus

        body = component_body(_TYPE_COMPACTION)
        (blen,) = struct.unpack(">i", body[:4])
        hll = HyperLogLogPlus.deserialize(body[4:4 + blen])
        hdr["compaction_cardinality"] = hll.cardinality()
    if _TYPE_VALIDATION in positions:
        body = component_body(_TYPE_VALIDATION)
        (nlen,) = struct.unpack(">H", body[:2])
        hdr["partitioner"] = body[2:2 + nlen].decode()
        (hdr["bloom_filter_fp_chance"],) = struct.unpack(
            ">d", body[2 + nlen:10 + nlen]
        )
    return stats, hdr


# -- whole-sstable write / read ----------------------------------------------

def sstable_filenames(generation: int, version: str = VERSION) -> dict:
    """Descriptor naming: <version>-<generation>-big-<Component>."""
    base = f"{version}-{generation}-big"
    return {
        "data": f"{base}-Data.db",
        "index": f"{base}-Index.db",
        "stats": f"{base}-Statistics.db",
        "digest": f"{base}-Digest.crc32",
        "toc": f"{base}-TOC.txt",
    }


def compute_stats(partitions: list[PartitionData]) -> EncodingStats:
    """EncodingStats collection: minima over every timestamp / local
    deletion time / ttl written (EncodingStats.Collector semantics —
    absent classes fall back to the epoch constants, which only affects
    encoding size, never correctness)."""
    # running minima (building per-cell lists here was a measurable
    # slice of bulk-write task time at 100k rows)
    BIG = 1 << 72
    ts = ldts = ttls = BIG
    _isc = isinstance
    for p in partitions:
        if p.deletion:
            if p.deletion[0] < ts:
                ts = p.deletion[0]
            if p.deletion[1] < ldts:
                ldts = p.deletion[1]
        for cell in p.static_cells.values():
            t = cell.timestamp
            if _isc(cell.value, (list, dict, set, tuple)):
                # full-value collection: complex deletion at ts-1
                t -= 1
                if DELETION_TIME_EPOCH < ldts:
                    ldts = DELETION_TIME_EPOCH
            if t < ts:
                ts = t
            if cell.ttl and cell.ttl < ttls:
                ttls = cell.ttl
            if (cell.local_deletion_time != NO_DELETION_TIME
                    and cell.local_deletion_time < ldts):
                ldts = cell.local_deletion_time
        for row in p.rows:
            if _isc(row, MarkerData):
                for d in (row.deletion, row.start_deletion):
                    if d:
                        if d[0] < ts:
                            ts = d[0]
                        if d[1] < ldts:
                            ldts = d[1]
                continue
            if row.liveness_timestamp is not None \
                    and row.liveness_timestamp < ts:
                ts = row.liveness_timestamp
            if row.liveness_ttl:
                if row.liveness_ttl < ttls:
                    ttls = row.liveness_ttl
                if row.liveness_expiration < ldts:
                    ldts = row.liveness_expiration
            if row.deletion:
                if row.deletion[0] < ts:
                    ts = row.deletion[0]
                if row.deletion[1] < ldts:
                    ldts = row.deletion[1]
            for cell in row.cells.values():
                t = cell.timestamp
                if _isc(cell.value, (list, dict, set, tuple)):
                    # full-value collection: complex deletion at ts-1
                    t -= 1
                    if DELETION_TIME_EPOCH < ldts:
                        ldts = DELETION_TIME_EPOCH
                if t < ts:
                    ts = t
                if cell.ttl and cell.ttl < ttls:
                    ttls = cell.ttl
                if (cell.local_deletion_time != NO_DELETION_TIME
                        and cell.local_deletion_time < ldts):
                    ldts = cell.local_deletion_time
    return EncodingStats(
        ts if ts != BIG else TIMESTAMP_EPOCH,
        ldts if ldts != BIG else DELETION_TIME_EPOCH,
        ttls if ttls != BIG else TTL_EPOCH,
    )


# Summary sampling constants (io/sstable/Downsampling.java:34,
# TableParams min_index_interval default) — defined before write_sstable
# whose signature defaults reference them.
BASE_SAMPLING_LEVEL = 128
DEFAULT_MIN_INDEX_INTERVAL = 128


def write_sstable(out_dir: str, generation: int, schema: SSTableSchema,
                  partitions: list[PartitionData],
                  compression: bool = False,
                  chunk_length: int | None = None,
                  min_index_interval: int = DEFAULT_MIN_INDEX_INTERVAL,
                  sampling_level: int | None = None,
                  version: str = VERSION,
                  column_index_size: int = 64 * 1024,
                  exclusive: bool = False) -> dict:
    """Write one complete sstable. Partitions MUST arrive in token
    order (beforeAppend's monotonicity check — BigTableWriter.java:
    120-126); ties/regressions raise. Returns a manifest dict.

    ``exclusive=True`` atomically claims the generation by O_EXCL-
    creating Data.db up front and raises FileExistsError if it already
    exists — the analog of the reference's globally-unique descriptor
    generations, so parallel tool tasks sharing an out_dir never
    silently overwrite each other's outputs.

    With ``compression=True`` Data.db is the chunked-LZ4 compressed
    stream plus CompressionInfo.db (index positions stay in
    UNCOMPRESSED coordinates, like the reference — readers map them
    through the chunk offsets); Digest.crc32 then checksums the
    on-disk (compressed) file.

    ``min_index_interval`` is the table's summary sampling interval
    (TableParams min_index_interval; IndexSummaryBuilder.maybeAddEntry);
    ``sampling_level`` < BASE_SAMPLING_LEVEL writes a DOWNSAMPLED
    Summary.db (the IndexSummaryManager memory-pressure path —
    Downsampling.getOriginalIndexes survivors; point reads still work,
    they just scan more Index.db per seek)."""
    if not exclusive:
        return _write_sstable_impl(
            out_dir, generation, schema, partitions, compression,
            chunk_length, min_index_interval, sampling_level, version,
            column_index_size,
        )
    # claim BEFORE the serialization work so a losing task fails
    # cheaply; the empty placeholder is overwritten by the impl
    names = sstable_filenames(generation, version)
    os.makedirs(out_dir, exist_ok=True)
    os.close(os.open(
        os.path.join(out_dir, names["data"]),
        os.O_CREAT | os.O_EXCL | os.O_WRONLY,
    ))
    try:
        return _write_sstable_impl(
            out_dir, generation, schema, partitions, compression,
            chunk_length, min_index_interval, sampling_level, version,
            column_index_size,
        )
    except BaseException:
        # a failed claimed write must not squat the generation: a 0-byte
        # Data.db with no companions would crash later directory reads
        # and make rerun split/upgrade tasks silently skip this slot
        for fname in os.listdir(out_dir):
            if fname.startswith(f"{version}-{generation}-big-"):
                try:
                    os.unlink(os.path.join(out_dir, fname))
                except OSError:
                    pass
        raise


def _write_sstable_impl(out_dir: str, generation: int,
                        schema: SSTableSchema, partitions, compression: bool,
                        chunk_length: int | None, min_index_interval: int,
                        sampling_level: int | None, version: str,
                        column_index_size: int) -> dict:
    from cassandra_pmem_spark.functions.murmur3 import (
        murmur3_token_bytes_py,
    )

    ver = SSTableVersion(version)
    names = sstable_filenames(generation, version)
    stats = compute_stats(partitions)
    data = bytearray()
    index = bytearray()
    bf = BloomFilter.sized_for(len(partitions))
    part_sizes: list[int] = []
    sampled: list[tuple[bytes, int]] = []
    first_key = last_key = None
    last_token_key = None
    for n_written, part in enumerate(partitions):
        key = schema.key_bytes(part.key_values)
        tk = (murmur3_token_bytes_py(key), key)
        if last_token_key is not None and tk <= last_token_key:
            raise ValueError(
                f"partitions out of token order: {tk} after {last_token_key}"
            )
        last_token_key = tk
        bf.add(key)  # IndexWriter.append's bf.add (BigTableWriter.java:457)
        if first_key is None:
            first_key = key
        last_key = key
        # summary sampling: every minIndexInterval-th key at full
        # sampling (IndexSummaryBuilder.maybeAddEntry)
        if n_written % min_index_interval == 0:
            sampled.append((key, len(index)))
        pos = len(data)
        pbytes, hdr_len, blocks = serialize_partition_indexed(
            part, schema, stats, column_index_size
        )
        data += pbytes
        part_sizes.append(len(data) - pos)
        # Index.db entry (BigTableWriter.IndexWriter.append +
        # RowIndexEntry.serialize). A WIDE partition — more than one
        # column-index block (RowIndexEntry.create:193-216's
        # indexSamples.size() > 1 rule) — writes the IndexedEntry
        # promoted index; everything else is position + vint 0.
        index += struct.pack(">H", len(key)) + key
        index += encode_unsigned_vint(pos)
        if len(blocks) > 1:
            promoted = promoted_index_bytes(
                blocks, part.deletion, hdr_len, schema
            )
            index += encode_unsigned_vint(len(promoted))
            index += promoted
        else:
            index += encode_unsigned_vint(0)
    os.makedirs(out_dir, exist_ok=True)
    paths = {k: os.path.join(out_dir, v) for k, v in names.items()}
    with open(os.path.join(out_dir, f"{version}-{generation}-big-Filter.db"),
              "wb") as f:
        f.write(bf.serialize(old_format=ver.has_old_bf_format))
    wrote_summary = bool(partitions)
    if partitions:
        with open(
            os.path.join(out_dir, f"{version}-{generation}-big-Summary.db"),
            "wb",
        ) as f:
            f.write(build_summary(
                sampled, first_key, last_key,
                min_index_interval=min_index_interval,
                sampling_level=sampling_level or BASE_SAMPLING_LEVEL,
            ))
    on_disk = bytes(data)
    components = ["Data.db", "Index.db", "Filter.db"]
    if wrote_summary:
        components.append("Summary.db")
    components.append("Statistics.db")
    if compression:
        on_disk, info = compress_data(
            bytes(data), chunk_length or DEFAULT_CHUNK_LENGTH, version=version
        )
        with open(
            os.path.join(
                out_dir, f"{version}-{generation}-big-CompressionInfo.db"
            ),
            "wb",
        ) as f:
            f.write(info)
        components.append("CompressionInfo.db")
    with open(paths["data"], "wb") as f:
        f.write(on_disk)
    with open(paths["index"], "wb") as f:
        f.write(index)
    with open(paths["stats"], "wb") as f:
        ratio = (
            len(on_disk) / len(data)
            if compression and len(data)
            else NO_COMPRESSION_RATIO
        )
        f.write(
            serialize_statistics(
                schema, stats, partitions, ratio, part_sizes, version=version
            )
        )
    with open(paths["digest"], "w") as f:
        # ChecksumWriter.writeFullChecksum: decimal text of the full
        # on-disk Data.db CRC32
        f.write(str(zlib.crc32(on_disk)))
    with open(paths["toc"], "w") as f:
        f.write("\n".join(components + ["Digest.crc32", "TOC.txt"]) + "\n")
    return {
        "data_path": paths["data"],
        "partitions": len(partitions),
        "rows": sum(len(p.rows) for p in partitions),
        "data_bytes": len(data),
    }


# IndexInfo.WIDTH_BASE (IndexInfo.java:96) is 64 * 1024: block widths are
# stored as signed vints of (width - 64KiB) so typical ~64KiB blocks encode
# in one or two bytes. A plain 64 here would round-trip self-consistently
# but misread genuine Cassandra Index.db promoted entries (and vice versa).
WIDTH_BASE = 64 * 1024


def _prefix_schema(schema: SSTableSchema, n: int) -> SSTableSchema:
    return SSTableSchema(
        schema.key_names, schema.key_types,
        schema.clustering_names[:n], schema.clustering_types[:n],
        list(schema.regular), list(schema.statics),
    )


def _clustering_prefix_bytes(name: "tuple[int, list]",
                             schema: SSTableSchema) -> bytes:
    """ClusteringPrefix.serializer.serialize (ClusteringPrefix.java:
    272-285): CLUSTERING = kind byte + the full clustering values (no
    size — arity is the comparator's); bounds/boundaries = kind byte +
    u16 size + prefix values (ClusteringBoundOrBoundary layout)."""
    kind, values = name
    if kind == CLUSTERING_KIND:
        return bytes([kind]) + _clustering_bytes(schema, values)
    return (
        bytes([kind])
        + struct.pack(">H", len(values))
        + _clustering_bytes(_prefix_schema(schema, len(values)), values)
    )


def _read_clustering_prefix(r: ByteReader,
                            schema: SSTableSchema) -> "tuple[int, list]":
    kind = r.u8()
    if kind == CLUSTERING_KIND:
        return kind, _read_clustering(r, schema)
    n = r.u16()
    return kind, _read_clustering(r, schema, n)


def promoted_index_bytes(blocks: list, part_deletion,
                         header_length: int,
                         schema: SSTableSchema) -> bytes:
    """The IndexedEntry bytes AFTER the promoted-size vint
    (RowIndexEntry.IndexedEntry.serialize:525-540): headerLength vint,
    partition-level DeletionTime, columnIndexCount vint, the IndexInfo
    entries (IndexInfo.Serializer.serialize:107-117 — firstName /
    lastName clustering prefixes, offset vint, signed vint of
    width - WIDTH_BASE, endOpenMarker flag + DeletionTime), then each
    IndexInfo's byte offset as an int32 (Serializer.serializeOffsets)."""
    infos = bytearray()
    offsets: list[int] = []
    for b in blocks:
        offsets.append(len(infos))
        infos += _clustering_prefix_bytes(b["first"], schema)
        infos += _clustering_prefix_bytes(b["last"], schema)
        infos += encode_unsigned_vint(b["offset"])
        infos += encode_vint(b["width"] - WIDTH_BASE)
        if b.get("open"):
            infos.append(1)
            infos += _deletion_time_bytes(b["open"])
        else:
            infos.append(0)
    out = bytearray()
    out += encode_unsigned_vint(header_length)
    out += _deletion_time_bytes(part_deletion)
    out += encode_unsigned_vint(len(blocks))
    out += infos
    for o in offsets:
        out += struct.pack(">i", o)
    return bytes(out)


def parse_promoted_index(blob: bytes, schema: SSTableSchema) -> dict:
    """Inverse of promoted_index_bytes (RowIndexEntry.IndexedEntry
    deserialize direction, RowIndexEntry.java:296-330): returns
    {header_length, deletion, blocks:[{first,last,offset,width,open}]}."""
    r = ByteReader(blob)
    header_length = r.unsigned_vint()
    deletion = _read_deletion_time(r)
    n = r.unsigned_vint()
    blocks = []
    for _ in range(n):
        first = _read_clustering_prefix(r, schema)
        last = _read_clustering_prefix(r, schema)
        offset = r.unsigned_vint()
        width = r.vint() + WIDTH_BASE
        open_marker = None
        if r.u8():
            open_marker = _read_deletion_time(r)
        blocks.append({
            "first": first, "last": last, "offset": offset,
            "width": width, "open": open_marker,
        })
    # trailing int32 offsets (read + sanity only)
    offs = [r.i32() for _ in range(n)]
    return {
        "header_length": header_length,
        "deletion": deletion,
        "blocks": blocks,
        "info_offsets": offs,
    }


def read_index_entries(index_blob: bytes) -> list[tuple[bytes, int]]:
    """Index.db -> [(key bytes, Data.db position)]."""
    r = ByteReader(index_blob)
    out = []
    while r.remaining():
        klen = r.u16()
        key = r.take(klen)
        pos = r.unsigned_vint()
        promoted = r.unsigned_vint()
        if promoted:
            # promoted-index (IndexedEntry) bytes follow for wide
            # partitions; skipped here because this walker only needs
            # (key, position) pairs — parse_promoted_index reads them
            r.take(promoted)
        out.append((key, pos))
    return out


def plan_splits(index_blob: bytes, data_len: int,
                target_bytes: int) -> list[tuple[int, int]]:
    """CqlInputFormat.getSplits analog: byte-ranged splits at PARTITION
    boundaries, each covering >= target_bytes of Data.db (except the
    last). Returns [(start, end)) offsets into Data.db."""
    splits, _n, _sel = plan_splits_pruned(index_blob, data_len, target_bytes)
    return splits


def plan_splits_pruned(
    index_blob: bytes, data_len: int, target_bytes: int,
    token_range: "tuple[int | None, int | None] | None" = None,
) -> "tuple[list[tuple[int, int]], int, int]":
    """plan_splits + token-range INTERSECTION — the CqlInputFormat
    getSplits discipline (CqlInputFormat.java:129-175 intersects each
    sstable's range with the job's token ranges before emitting
    splits): Index.db entries are in (token, key) order, so the
    covered slice is found by bisecting entry TOKENS (O(log n) Murmur3
    computations, not one per entry) and whole splits outside
    [lo, hi] are never planned — the scan reads none of their bytes.

    token_range = (lo, hi), INCLUSIVE Murmur3 token bounds, either
    side None for open. Returns (splits, entries_total,
    entries_selected) so callers can prove pruning happened.

    Thin wrapper over _plan_splits_with_index so ALL split planning
    shares one boundary-cut loop — the plain, pruned, and ck_bounds
    scans can never plan different splits for the same sstable."""
    spans, n, sel = _plan_splits_with_index(
        index_blob, data_len, target_bytes, token_range
    )
    return [(s, e) for s, e, _ix0, _ix1 in spans], n, sel


def read_index_entry_spans(index_blob: bytes) -> list:
    """Index.db -> [(key, data_pos, promoted_blob, span_start,
    span_end)] — like read_index_entries but keeping each entry's OWN
    byte span in Index.db and its promoted-index bytes, so a scan task
    can be handed just the index slice covering its split."""
    r = ByteReader(index_blob)
    out = []
    while r.remaining():
        off0 = r.pos
        klen = r.u16()
        key = r.take(klen)
        pos = r.unsigned_vint()
        promoted = r.unsigned_vint()
        pb = r.take(promoted) if promoted else b""
        out.append((key, pos, pb, off0, r.pos))
    return out


def _plan_splits_with_index(
    index_blob: bytes, data_len: int, target_bytes: int,
    token_range: "tuple[int | None, int | None] | None" = None,
) -> "tuple[list[tuple[int, int, int, int]], int, int]":
    """The one split-boundary planner: each split carries the Index.db
    byte range covering exactly its partitions — (data_start, data_end,
    ix_start, ix_end) — plus (entries_total, entries_selected) pruning
    evidence. plan_splits / plan_splits_pruned are projections of this;
    the ck_bounds scan consumes the ix columns directly."""
    entries = read_index_entry_spans(index_blob)
    n = len(entries)
    if not entries:
        return [], 0, 0
    if token_range is None:
        i0, i1 = 0, n
    else:
        import bisect

        from cassandra_pmem_spark.functions.murmur3 import (
            murmur3_token_bytes_py,
        )

        lo, hi = token_range
        i0 = (
            bisect.bisect_left(
                entries, lo, key=lambda e: murmur3_token_bytes_py(e[0])
            )
            if lo is not None else 0
        )
        i1 = (
            bisect.bisect_right(
                entries, hi, key=lambda e: murmur3_token_bytes_py(e[0])
            )
            if hi is not None else n
        )
        if i0 >= i1:
            return [], n, 0
    sel = entries[i0:i1]
    data_end = entries[i1][1] if i1 < n else data_len
    splits = []
    cur = 0
    for k in range(1, len(sel)):
        if sel[k][1] - sel[cur][1] >= target_bytes:
            splits.append(
                (sel[cur][1], sel[k][1], sel[cur][3], sel[k][3])
            )
            cur = k
    splits.append((sel[cur][1], data_end, sel[cur][3], sel[-1][4]))
    return [s for s in splits if s[1] > s[0]], n, len(sel)


def read_data_range(data_blob: bytes, start: int, end: int,
                    schema: SSTableSchema, stats: EncodingStats) -> list:
    """Parse the partitions in [start, end) of Data.db (split-aligned:
    start/end are partition boundaries from plan_splits)."""
    r = ByteReader(data_blob, start)
    out = []
    while r.pos < end:
        out.append(read_partition(r, schema, stats))
    return out


def visible_rows(part: PartitionData, schema: SSTableSchema,
                 now_seconds: int) -> list[dict]:
    """The live view of one partition at read time `now_seconds` —
    single-sstable merge semantics: partition deletion shadows rows
    and cells at <= its timestamp, row deletion shadows that row's
    cells and liveness, TTL'd liveness/cells past localDeletionTime
    vanish (PurgeFunction / Rows.removeShadowedCells direction)."""
    out = []
    pdel = part.deletion[0] if part.deletion else None

    def live_cells(cell_map: dict, shadow: int) -> dict:
        cells = {}
        for c, cell in cell_map.items():
            if cell.is_tombstone:
                continue
            if cell.timestamp <= shadow:
                continue
            if cell.ttl and cell.local_deletion_time <= now_seconds:
                continue
            cells[c] = cell.value
        return cells

    pshadow = pdel if pdel is not None else -(1 << 63)
    statics = live_cells(part.static_cells, pshadow)
    # range tombstones: markers interleave with rows in clustering
    # order, so the open/close state machine shadows the rows BETWEEN a
    # start and its end exactly (the inclusivity of a bound is encoded
    # by its position relative to equal-clustering rows — the file
    # order the writer produced)
    open_range: int | None = None
    for row in part.rows:
        if isinstance(row, MarkerData):
            if row.kind in _BOUNDARY_KINDS:
                open_range = row.start_deletion[0]
            elif row.kind in _START_KINDS:
                open_range = row.deletion[0]
            else:
                open_range = None
            continue
        rdel = row.deletion[0] if row.deletion else None
        shadow = max(
            x for x in (pdel, rdel, open_range, -(1 << 63)) if x is not None
        )
        live_ts = row.liveness_timestamp
        row_alive = (
            live_ts is not None
            and live_ts > shadow
            and not (
                row.liveness_ttl
                and row.liveness_expiration <= now_seconds
            )
        )
        cells = live_cells(row.cells, shadow)
        if not row_alive and not cells:
            continue
        d = dict(zip(schema.key_names, part.key_values))
        d.update(zip(schema.clustering_names, row.clustering))
        for name, _t in schema.regular:
            d[name] = cells.get(name)
        # static values spread onto every row of the partition (the
        # CQL read shape for static columns)
        for name, _t in schema.statics:
            d[name] = statics.get(name)
        out.append(d)
    if not out and statics:
        # a partition with ONLY live static data: CQL returns one row
        # with null clustering/regular values (SelectStatement's
        # static-row handling for unrestricted queries)
        d = dict(zip(schema.key_names, part.key_values))
        for name in schema.clustering_names:
            d[name] = None
        for name, _t in schema.regular:
            d[name] = None
        for name, _t in schema.statics:
            d[name] = statics.get(name)
        out.append(d)
    return out


def _dt_to_ms(v):
    """datetime → epoch millis (naive values are UTC), None kept."""
    return None if v is None else timestamp_millis(v)


def read_visible_columns(data_blob: bytes, start: int, end: int,
                         schema: SSTableSchema, stats: EncodingStats,
                         now_seconds: int) -> tuple[dict, list]:
    """COLUMNAR fast-path decode of the partitions in [start, end):
    the distributed reader's hot loop, equivalent to
    ``visible_rows(read_data_range(...))`` but emitting per-column
    lists with the vint/flag/cell decode inlined (no ByteReader or
    per-cell function calls, no RowData/CellValue/dict-per-row churn
    — the bulk of sstable read wall-time at 100k+ rows).

    The fast loop only handles the common bulk-load shape: live
    partition, simple rows (HAS_TIMESTAMP, no deletions/TTL/markers/
    complex columns/statics). ANY partition that deviates rolls back
    its partial output and re-decodes through the reference path
    (read_partition + visible_rows), so semantics are identical by
    construction — pinned by the fast≡reference property sweep in
    tests/test_sstable_props.py.

    Timestamp-typed clustering/regular columns are returned as raw
    epoch-millis ints (second tuple element lists their names) so the
    caller can convert the whole column vectorized
    (pd.to_datetime(unit='ms')) instead of building one datetime
    object per cell."""
    names = (
        list(schema.key_names) + list(schema.clustering_names)
        + [n for n, _ in schema.regular] + [n for n, _ in schema.statics]
    )
    cols: dict = {n: [] for n in names}
    ck_codecs = [codec_of(t) for t in schema.clustering_types]
    reg_info = [
        (n, None, True) if collection_codec_of(t) is not None
        else (n, codec_of(t), False)
        for n, t in schema.regular
    ]
    ts_marshal = _MARSHAL + "TimestampType"
    ts_cols = [
        n for n, t in
        list(zip(schema.clustering_names, schema.clustering_types))
        + list(schema.regular) + list(schema.statics)
        if t == ts_marshal
    ]
    ts_names = set(ts_cols)

    def slow_append(part) -> None:
        for d in visible_rows(part, schema, now_seconds):
            for n in names:
                v = d.get(n)
                cols[n].append(_dt_to_ms(v) if n in ts_names else v)

    if schema.statics or len(ck_codecs) > 32:
        for part in read_data_range(data_blob, start, end, schema, stats):
            slow_append(part)
        return cols, ts_cols

    buf = data_blob
    i = start
    n_reg = len(reg_info)
    n_ck = len(ck_codecs)
    key_cols = [cols[n] for n in schema.key_names]
    ck_cols = [cols[n] for n in schema.clustering_names]
    reg_cols = [cols[n] for n in (n for n, _, _ in reg_info)]
    ck_is_ts = [c.marshal == ts_marshal for c in ck_codecs]
    reg_is_ts = [
        c is not None and c.marshal == ts_marshal for _, c, _ in reg_info
    ]
    vx = _VINT_EXTRA
    BAIL_FLAGS = (IS_MARKER | EXTENSION_FLAG | HAS_DELETION | HAS_TTL
                  | HAS_COMPLEX_DELETION)

    while i < end:
        pstart = i
        klen = (buf[i] << 8) | buf[i + 1]
        i += 2
        key = buf[i:i + klen]
        i += klen
        ldt32 = int.from_bytes(buf[i:i + 4], "big")
        mfda = int.from_bytes(buf[i + 4:i + 12], "big")
        i += 12
        ok = ldt32 == NO_DELETION_TIME and mfda == (1 << 63)  # LIVE
        kv = schema.key_values(key) if ok else None
        prows = 0
        while ok:
            flags = buf[i]
            i += 1
            if flags & END_OF_PARTITION:
                break
            if flags & BAIL_FLAGS or not (flags & HAS_TIMESTAMP):
                ok = False
                break
            # clustering: zero header vint = all values present non-null
            if n_ck:
                if buf[i] != 0:
                    ok = False
                    break
                i += 1
                ckv = []
                for ci in range(n_ck):
                    c = ck_codecs[ci]
                    fl = c.fixed_len
                    if fl < 0:
                        first = buf[i]
                        i += 1
                        if first < 0x80:
                            fl = first
                        else:
                            ex = vx[first]
                            fl = ((first & (0xFF >> ex)) << (8 * ex)) \
                                | int.from_bytes(buf[i:i + ex], "big")
                            i += ex
                        ckv.append(c.unpack(buf[i:i + fl]))
                    elif ck_is_ts[ci]:
                        ckv.append(int.from_bytes(
                            buf[i:i + 8], "big", signed=True))
                        fl = 8
                    else:
                        ckv.append(c.unpack(buf[i:i + fl]))
                    i += fl
            else:
                ckv = ()
            # row size + prev row size vints (skip)
            first = buf[i]
            i += 1 + (vx[first] if first >= 0x80 else 0)
            first = buf[i]
            i += 1 + (vx[first] if first >= 0x80 else 0)
            # liveness timestamp delta (value unused: no shadowing here)
            first = buf[i]
            i += 1 + (vx[first] if first >= 0x80 else 0)
            if flags & HAS_ALL_COLUMNS:
                missing = 0
            else:
                first = buf[i]
                i += 1
                if first < 0x80:
                    missing = first
                else:
                    ex = vx[first]
                    missing = ((first & (0xFF >> ex)) << (8 * ex)) \
                        | int.from_bytes(buf[i:i + ex], "big")
                    i += ex
            vals = []
            for ci in range(n_reg):
                if (missing >> ci) & 1:
                    vals.append(None)
                    continue
                if reg_info[ci][2]:
                    ok = False
                    break
                cflags = buf[i]
                i += 1
                if cflags & (CELL_IS_DELETED | CELL_IS_EXPIRING):
                    ok = False
                    break
                if not (cflags & CELL_USE_ROW_TIMESTAMP):
                    first = buf[i]
                    i += 1 + (vx[first] if first >= 0x80 else 0)
                c = reg_info[ci][1]
                fl = c.fixed_len
                if cflags & CELL_HAS_EMPTY_VALUE:
                    vals.append(c.unpack(b"") if fl < 0 else None)
                    continue
                if fl < 0:
                    first = buf[i]
                    i += 1
                    if first < 0x80:
                        fl = first
                    else:
                        ex = vx[first]
                        fl = ((first & (0xFF >> ex)) << (8 * ex)) \
                            | int.from_bytes(buf[i:i + ex], "big")
                        i += ex
                    vals.append(c.unpack(buf[i:i + fl]))
                elif reg_is_ts[ci]:
                    vals.append(int.from_bytes(
                        buf[i:i + 8], "big", signed=True))
                    fl = 8
                else:
                    vals.append(c.unpack(buf[i:i + fl]))
                i += fl
            if not ok:
                break
            for col, v in zip(key_cols, kv):
                col.append(v)
            for col, v in zip(ck_cols, ckv):
                col.append(v)
            for col, v in zip(reg_cols, vals):
                col.append(v)
            prows += 1
        if ok:
            continue
        # deviation: roll back this partition's rows, reference-decode
        if prows:
            for n in names:
                del cols[n][-prows:]
        r = ByteReader(buf, pstart)
        slow_append(read_partition(r, schema, stats))
        i = r.pos
    return cols, ts_cols


def _sliced_split_columns(base: str, buf: bytes, base_off: int,
                          start: int, end: int, ix0: int, ix1: int,
                          schema: SSTableSchema, stats: EncodingStats,
                          now_seconds: int, ck_bounds: tuple,
                          trace_path: str | None) -> tuple[dict, list]:
    """One split of the ck_bounds scan path: the split's Index.db slice
    [ix0, ix1) names each partition's position and promoted index, so
    wide partitions decode only the blocks overlapping the slice
    (_read_partition_sliced) and narrow ones decode whole + filter.
    Same columnar (cols, ts_cols) contract as read_visible_columns."""
    with open(base + "Index.db", "rb") as f:
        f.seek(ix0)
        ix_blob = f.read(ix1 - ix0)
    entries = read_index_entry_spans(ix_blob)
    names = (
        list(schema.key_names) + list(schema.clustering_names)
        + [n for n, _ in schema.regular] + [n for n, _ in schema.statics]
    )
    ts_marshal = _MARSHAL + "TimestampType"
    ts_cols = [
        n for n, t in
        list(zip(schema.clustering_names, schema.clustering_types))
        + list(schema.regular) + list(schema.statics)
        if t == ts_marshal
    ]
    ts_names = set(ts_cols)
    cols: dict = {n: [] for n in names}
    trace = {"index_blocks_read": 0, "index_blocks_total": 0}

    def read_range(s, e):
        # the split buffer already covers [start, end)
        return buf, base_off

    for k, (_key, pos, pb, _o0, _o1) in enumerate(entries):
        pend = entries[k + 1][1] if k + 1 < len(entries) else end
        part = _read_partition_sliced(
            read_range, pos, pend, pb, schema, stats, ck_bounds, trace
        )
        rows = _filter_ck_bounds(
            visible_rows(part, schema, now_seconds), schema, ck_bounds
        )
        for d in rows:
            for n in names:
                v = d.get(n)
                cols[n].append(_dt_to_ms(v) if n in ts_names else v)
    if trace_path:
        with open(trace_path, "a") as f:
            f.write(
                f"{trace['index_blocks_read']} "
                f"{trace['index_blocks_total']}\n"
            )
    return cols, ts_cols


# -- Spark integration --------------------------------------------------------

def _spark_schema(schema: SSTableSchema):
    from pyspark.sql import types as T

    def field_type(t: str):
        return (collection_codec_of(t) or codec_of(t)).spark

    cols = (
        list(zip(schema.key_names, schema.key_types))
        + list(zip(schema.clustering_names, schema.clustering_types))
        + schema.regular + schema.statics
    )
    return T.StructType(
        [T.StructField(name, field_type(t), True) for name, t in cols]
    )


def _spark_hash_int32(v: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32 hashInt (what HashPartitioning applies to
    an int column) — lets the driver pick partition-id tags WITHOUT a
    Spark job. Pinned against F.hash in tests."""
    M = 0xFFFFFFFF
    k1 = (v & M) * 0xCC9E2D51 & M
    k1 = ((k1 << 15) | (k1 >> 17)) & M
    k1 = k1 * 0x1B873593 & M
    h1 = (seed & M) ^ k1
    h1 = ((h1 << 13) | (h1 >> 19)) & M
    h1 = (h1 * 5 + 0xE6546B64) & M
    h1 ^= 4
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & M
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & M
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _partition_tags(n: int) -> list[int]:
    """For each partition id i < n, the smallest non-negative int tag
    with pmod(spark_hash(tag), n) == i — repartition(n, tag_column)
    then maps bucket i to EXACTLY task i: no sampling pass (unlike
    repartitionByRange), no hash collisions serializing two buckets in
    one task, no empty over-partitioned tasks."""
    tags = []
    for i in range(n):
        t = 0
        while (_spark_hash_int32(t) % n + n) % n != i:
            t += 1
        tags.append(t)
    return tags


def bulk_write_sstables(df, meta, out_dir: str, sstables: int = 1,
                        timestamp_micros: int = TIMESTAMP_EPOCH + 1,
                        ttl_seconds: int = 0,
                        compression: bool = False,
                        version: str = VERSION,
                        column_index_size: int = 64 * 1024) -> list[dict]:
    """The CqlBulkRecordWriter / SSTable bulk-load analog: bucket the
    frame by FIXED even Murmur3 token ranges (tokens are uniform by
    construction, so even ranges balance without the sampling pass
    repartitionByRange would spend — one fewer full evaluation of the
    token column), shuffle by bucket, sort within partitions by
    (bucket, token, key, clustering in file order), and stream each
    bucket into one complete sstable (generation = bucket + 1, so
    sstables own DISJOINT contiguous token ranges). A task that lands
    several buckets writes several sstables, cutting at bucket
    boundaries. Returns the manifest rows."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from cassandra_pmem_spark.functions.token import token_column

    schema = SSTableSchema.from_table_meta(meta)
    pk = list(meta.partition_key)
    tok = token_column(pk, df.schema, {c: meta.cql_type(c) for c in pk})
    work = df.withColumn("__sst_tok", tok)
    # bucket = floor((token - MIN_LONG) / (2^64 / sstables)), computed
    # as floor((token/2^64 + 0.5) * sstables) in double space (no
    # overflow in any ANSI mode; monotonic in token, so each bucket is
    # a contiguous token interval — boundary rounding only nudges which
    # side a boundary-adjacent row lands on, still deterministic)
    pid = F.least(
        F.lit(sstables - 1),
        F.greatest(
            F.lit(0),
            F.floor(
                ((F.col("__sst_tok").cast("double")
                  / F.lit(float(1 << 64))) + F.lit(0.5))
                * F.lit(sstables)
            ).cast("int"),
        ),
    )
    work = work.withColumn("__sst_pid", pid)
    sort_cols = [F.col("__sst_pid").asc(), F.col("__sst_tok").asc()] + [
        F.col(c).asc() for c in meta.partition_key
    ]
    for c in meta.clustering:
        sort_cols.append(F.col(c.name).asc() if c.ascending else F.col(c.name).desc())
    if sstables > 1:
        # exact bucket -> task mapping: shuffle on a driver-chosen tag
        # whose Spark hash lands bucket i in partition i (see
        # _partition_tags) — bucket-per-task parallelism without
        # repartitionByRange's sampling pass
        tags = _partition_tags(sstables)
        tag_col = F.element_at(
            F.array(*[F.lit(t) for t in tags]), F.col("__sst_pid") + 1
        )
        work = work.repartition(sstables, tag_col)
    else:
        work = work.coalesce(1)
    work = work.sortWithinPartitions(*sort_cols)

    key_names = list(schema.key_names)
    ck_names = list(schema.clustering_names)
    # frozen list/set key and clustering values arrive as numpy arrays:
    # compared as lists
    array_cols = {
        n for n, t in zip(
            key_names + ck_names,
            list(schema.key_types) + list(schema.clustering_types),
        )
        if isinstance(codec_of(t).spark, T.ArrayType)
    }
    reg_names = [n for n, _ in schema.regular]
    stat_names = [n for n, _ in schema.statics]
    exp = (
        (timestamp_micros // 1_000_000) + ttl_seconds
        if ttl_seconds
        else NO_DELETION_TIME
    )

    def values(pdf, c: str) -> list:
        if c in array_cols:
            return [v.tolist() for v in pdf[c]]
        return pdf[c].tolist()

    def write_partition_iter(pdf_iter):
        import pandas as pd

        parts: list[PartitionData] = []
        cur_key = None
        cur_pid: int | None = None
        manifests: list[dict] = []

        def flush() -> None:
            if parts:
                manifests.append(write_sstable(
                    out_dir, cur_pid + 1, schema, parts,
                    compression=compression, version=version,
                    column_index_size=column_index_size,
                ))

        for pdf in pdf_iter:
            # columnar extraction: to_dict('records') built one dict
            # per row and dominated the write task's Python time
            key_series = [values(pdf, c) for c in key_names]
            ck_series = [values(pdf, c) for c in ck_names]
            reg_series = [(c, pdf[c].tolist()) for c in reg_names]
            stat_series = [(c, pdf[c].tolist()) for c in stat_names]
            pid_series = pdf["__sst_pid"].tolist()
            for ri in range(len(pdf)):
                rpid = pid_series[ri]
                if rpid != cur_pid:
                    # bucket boundary: one complete sstable per bucket
                    flush()
                    parts, cur_key, cur_pid = [], None, rpid
                kv = [s[ri] for s in key_series]
                if cur_key != kv:
                    parts.append(PartitionData(key_values=kv))
                    cur_key = list(kv)
                # static values ride once per partition: take the first
                # non-null value any of the partition's rows carries
                # (a fully-spread frame repeats it; a sparse frame has
                # it on whichever row wrote it)
                for c, s in stat_series:
                    if c in parts[-1].static_cells:
                        continue
                    v = s[ri]
                    if v is not None and not (
                        isinstance(v, float) and v != v
                    ):
                        parts[-1].static_cells[c] = CellValue(
                            value=v,
                            timestamp=timestamp_micros,
                            ttl=ttl_seconds,
                            local_deletion_time=exp,
                        )
                row = RowData(
                    clustering=[s[ri] for s in ck_series],
                    liveness_timestamp=timestamp_micros,
                    liveness_ttl=ttl_seconds,
                    liveness_expiration=exp,
                )
                cells = row.cells
                for c, s in reg_series:
                    v = s[ri]
                    if v is None or (isinstance(v, float) and v != v):
                        continue
                    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
                        v = v.tolist()  # numpy array -> python list
                    cells[c] = CellValue(
                        value=v,
                        timestamp=timestamp_micros,
                        ttl=ttl_seconds,
                        local_deletion_time=exp,
                    )
                parts[-1].rows.append(row)
        flush()
        if manifests:
            yield pd.DataFrame(manifests)

    mschema = T.StructType(
        [
            T.StructField("data_path", T.StringType()),
            T.StructField("partitions", T.LongType()),
            T.StructField("rows", T.LongType()),
            T.StructField("data_bytes", T.LongType()),
        ]
    )
    sel = key_names + ck_names + reg_names + stat_names
    rows = (
        work.select(*sel, "__sst_tok", "__sst_pid")
        .mapInPandas(lambda it: write_partition_iter(it), schema=mschema)
        .collect()
    )
    # numeric generation order ("na-10-big" after "na-2-big"): bucket i
    # writes generation i+1, so manifests[i] IS token interval i — a
    # lexicographic path sort would break that pairing past 9 sstables
    def _gen(m: dict) -> int:
        return int(os.path.basename(m["data_path"]).split("-")[1])

    return sorted((r.asDict() for r in rows), key=_gen)


def schema_from_header(hdr: dict) -> SSTableSchema:
    """Reconstruct the read-side schema from a parsed HEADER component:
    key/clustering names are positional (the header stores types only),
    regular/static names come from the header itself."""
    return SSTableSchema(
        [f"key{i}" for i in range(len(hdr["key_types"]))],
        hdr["key_types"],
        [f"ck{i}" for i in range(len(hdr["clustering_types"]))],
        hdr["clustering_types"],
        hdr["regular"],
        hdr.get("statics", []),
    )


def _ms_series_to_datetime(vals: list):
    """Epoch-millis column -> timestamp Series for the Arrow boundary.

    The vectorized datetime64[ns] lane only represents years 1677..2262;
    Cassandra/Spark timestamps span years 1..9999, so a cell outside the
    ns range (a far-future sentinel, a year-1 floor) must fall back to an
    object-dtype Series of datetime.datetime, which Arrow converts to
    timestamp[us] losslessly.  The fallback triggers per Arrow batch only
    when pandas actually overflows, so in-range data keeps the single
    vectorized conversion.
    """
    import pandas as pd

    s = pd.Series(vals, dtype="object")
    try:
        return pd.to_datetime(s, unit="ms")
    except (pd.errors.OutOfBoundsDatetime, OverflowError):
        from datetime import datetime, timedelta

        epoch = datetime(1970, 1, 1)
        return s.map(
            lambda v: None if v is None
            else epoch + timedelta(milliseconds=int(v))
        )


# below this total Index.db size the driver plans splits itself (the
# Hadoop job-client getSplits shape); above it, planning fans out as
# tasks so no single process reads every Index.db of a huge directory
DRIVER_PLAN_INDEX_BYTES = 32 * 1024 * 1024


def data_files(in_dir: str) -> list[str]:
    """A directory's sorted ``*-Data.db`` paths; raises when it has none."""
    datas = sorted(
        os.path.join(in_dir, f)
        for f in os.listdir(in_dir)
        if f.endswith("-Data.db")
    )
    if not datas:
        raise ValueError(f"no *-Data.db under {in_dir!r}")
    return datas


@dataclass(frozen=True)
class OpenSSTable:
    """One sstable opened for reading: everything a reader or offline
    tool needs before it touches Data.db. ``data_length`` is the
    LOGICAL (uncompressed) Data.db length — CompressionInfo's
    dataLength for compressed sstables, the file size otherwise."""

    data_path: str
    base: str  # component path prefix: base + "Index.db", ...
    version: SSTableVersion
    stats: EncodingStats
    header: dict
    schema: SSTableSchema
    compression: "CompressionInfo | None"
    data_length: int

    def component(self, name: str) -> str:
        return self.base + name

    def read(self, name: str) -> bytes:
        with open(self.base + name, "rb") as f:
            return f.read()

    def index_entries(self) -> list[tuple[bytes, int]]:
        return read_index_entries(self.read("Index.db"))


def open_sstable(data_path: str) -> OpenSSTable:
    """The one sstable opener: Statistics.db (serialization header,
    EncodingStats, STATS/VALIDATION/COMPACTION metadata) and, when
    present, CompressionInfo.db — each parsed once per sstable."""
    base = data_path[: -len("Data.db")]
    ver = version_from_path(data_path)
    with open(base + "Statistics.db", "rb") as f:
        stats, hdr = parse_statistics(f.read(), version=ver.name)
    info = None
    if os.path.exists(base + "CompressionInfo.db"):
        with open(base + "CompressionInfo.db", "rb") as f:
            info = CompressionInfo.parse(f.read(), version=ver.name)
    return OpenSSTable(
        data_path, base, ver, stats, hdr, schema_from_header(hdr), info,
        info.data_length if info else os.path.getsize(data_path),
    )


def read_sstables(spark, in_dir: str, split_bytes: int = 64 * 1024 * 1024,
                  now_seconds: int | None = None,
                  token_range: "tuple[int | None, int | None] | None" = None,
                  ck_bounds: "tuple | None" = None,
                  _trace_path: str | None = None):
    """Distributed sstable read: stage 1 plans byte-ranged splits from
    each sstable's Index.db INSIDE tasks (getSplits analog), stage 2
    parses each split's Data.db range and emits the live rows as Arrow
    batches. The output schema is self-described by the Statistics.db
    HEADER component — no user-supplied schema.

    ``token_range=(lo, hi)`` (inclusive Murmur3 bounds, either side
    None) prunes at PLAN time via plan_splits_pruned: splits outside
    the range are never emitted and their bytes never read — the
    CqlInputFormat range-intersection analog, and the scale path for
    selective sstable analytics (a token-restricted query on a 100 TB
    table plans only the covered slice of each sstable).

    ``ck_bounds=(lo, hi)`` (inclusive clustering-prefix tuples, either
    side None) is the ClusteringIndexSliceFilter pushdown for the SCAN
    path: splits then carry their Index.db byte ranges, and each task
    reads, per partition, only the promoted-index blocks overlapping
    the slice (wide partitions) or the whole partition + exact filter
    (narrow ones) — the same seek discipline sstable_point_read proves
    driver-side, applied task-side. ``_trace_path`` (tests) appends
    one "blocks_read blocks_total" line per task.

    Split planning is HYBRID, like the reference's Hadoop layer: when
    the directory's Index.db files total under a small threshold, the
    driver plans splits itself (CqlInputFormat.getSplits runs in the
    job client) — one Spark stage end to end, no Exchange, ~3x less
    fixed latency on small/medium directories. Past the threshold the
    planning fans out as tasks and the split stream shuffles to parse
    tasks — the path a 100 TB directory takes, where reading every
    Index.db through one driver would itself be the bottleneck."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # the first sstable's header is the schema of every sstable in the
    # directory; key/clustering NAMES are not part of the header (the
    # reference resolves them from the table schema) — use positional
    # names, overridable by the caller reading into a table
    datas = data_files(in_dir)
    schema = open_sstable(datas[0]).schema
    if now_seconds is None:
        now_seconds = 2 ** 31 - 2

    split_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("start", T.LongType()),
            T.StructField("end", T.LongType()),
            T.StructField("ix_start", T.LongType()),
            T.StructField("ix_end", T.LongType()),
        ]
    )

    def plan_file(path: str) -> list:
        """One sstable's splits — shared by the driver-side (job-client
        getSplits) and task-side planners. Split coordinates are
        UNCOMPRESSED positions, bounded by the logical data length."""
        sst = open_sstable(path)
        spans, _n, _sel = _plan_splits_with_index(
            sst.read("Index.db"), sst.data_length, split_bytes, token_range
        )
        if ck_bounds is not None:
            # the slice path needs each split's Index.db range
            return [(path, s, e, ix0, ix1) for s, e, ix0, ix1 in spans]
        return [(path, s, e, -1, -1) for s, e, _ix0, _ix1 in spans]

    index_total = sum(
        os.path.getsize(p[: -len("Data.db")] + "Index.db") for p in datas
    )
    if index_total <= DRIVER_PLAN_INDEX_BYTES:
        import pyarrow as pa

        rows = [r for p in datas for r in plan_file(p)]
        tbl = pa.table({
            "path": pa.array([r[0] for r in rows], type=pa.string()),
            "start": pa.array([r[1] for r in rows], type=pa.int64()),
            "end": pa.array([r[2] for r in rows], type=pa.int64()),
            "ix_start": pa.array([r[3] for r in rows], type=pa.int64()),
            "ix_end": pa.array([r[4] for r in rows], type=pa.int64()),
        })
        # a local table scan spreads the split rows over up to
        # defaultParallelism partitions itself: parse reads it directly
        splits_df = spark.createDataFrame(tbl)
    else:
        files_df = spark.createDataFrame(
            [(p,) for p in datas],
            T.StructType([T.StructField("path", T.StringType())]),
        ).repartition(len(datas))

        def plan(pdf_iter):
            import pandas as pd

            for pdf in pdf_iter:
                out = []
                for path in pdf["path"]:
                    out.extend(plan_file(path))
                if out:
                    yield pd.DataFrame(
                        out,
                        columns=["path", "start", "end",
                                 "ix_start", "ix_end"],
                    )

        # parse width: bounded by the byte estimate (counting the splits
        # frame would execute the planning stage twice) AND by ~2 waves
        # of the cluster's cores — a task happily walks several splits
        # sequentially, and 35 tiny tasks on 8 threads cost ~2x the wall
        # time of 16 packed ones (measured; same packing discipline as
        # spark.sql.files.maxPartitionBytes)
        total_bytes = sum(os.path.getsize(p) for p in datas)
        n_splits = max(1, min(
            4096,
            total_bytes // max(1, split_bytes) + 1,
            spark.sparkContext.defaultParallelism * 2,
        ))
        splits_df = files_df.mapInPandas(plan, schema=split_schema).repartition(
            n_splits, F.col("path"), F.col("start")
        )
    out_schema = _spark_schema(schema)
    cols = [f.name for f in out_schema.fields]

    # nullable pandas dtypes per output field, so a null int cell never
    # widens to float64 on the Arrow boundary
    pd_dtypes = {}
    for f in out_schema.fields:
        ss = f.dataType.simpleString()
        pd_dtypes[f.name] = {
            "int": "Int32", "bigint": "Int64", "float": "Float32",
            "double": "Float64", "boolean": "boolean",
        }.get(ss)

    def parse(pdf_iter):
        import pandas as pd

        opened: dict = {}  # each sstable is opened once per task
        for pdf in pdf_iter:
            acc: dict = {c: [] for c in cols}
            ts_set: set = set()
            for path, start, end, ix0, ix1 in zip(
                pdf["path"], pdf["start"], pdf["end"],
                pdf["ix_start"], pdf["ix_end"],
            ):
                sst = opened.get(path)
                if sst is None:
                    sst = opened[path] = open_sstable(path)
                    if sst.schema != schema:
                        raise ValueError(
                            f"mixed sstable schemas under one directory: "
                            f"{path} does not match the first sstable's "
                            f"header"
                        )
                start, end = int(start), int(end)
                # ranged I/O: a task reads only ITS split's bytes (and
                # for compressed sstables only the overlapping chunks)
                buf, base_off = read_uncompressed_file_range(sst, start, end)
                if ck_bounds is not None:
                    got, ts_cols = _sliced_split_columns(
                        sst.base, buf, base_off, start, end,
                        int(ix0), int(ix1), schema, sst.stats,
                        now_seconds, ck_bounds, _trace_path,
                    )
                else:
                    got, ts_cols = read_visible_columns(
                        buf, start - base_off, end - base_off, schema,
                        sst.stats, now_seconds,
                    )
                ts_set.update(ts_cols)
                for c in cols:
                    acc[c].extend(got[c])
            if acc and cols and acc[cols[0]]:
                data = {}
                for c in cols:
                    if c in ts_set:
                        # epoch-millis ints from the columnar decoder:
                        # one vectorized conversion per column
                        data[c] = _ms_series_to_datetime(acc[c])
                    else:
                        data[c] = pd.Series(acc[c], dtype="object")
                out = pd.DataFrame(data, columns=cols)
                for c, dt in pd_dtypes.items():
                    if dt:
                        out[c] = out[c].astype(dt)
                yield out

    return splits_df.mapInPandas(parse, schema=out_schema)


# -- Filter.db bloom filter (utils/BloomFilter.java, OffHeapBitSet.java) -----

import math as _math


def _java_mod_abs(a: int, m: int) -> int:
    """FBUtilities.abs(base % max) with Java's truncated % semantics
    (BloomFilter.setIndexes:95-102)."""
    a = ((a + (1 << 63)) & ((1 << 64) - 1)) - (1 << 63)  # wrap to signed 64
    r = a - (abs(a) // m) * m * (1 if a >= 0 else -1)
    return r if r >= 0 else -r


def bloom_indexes(key: bytes, hash_count: int, bits: int) -> list[int]:
    """getHashBuckets (BloomFilter.java:69-102): 128-bit Murmur3 of the
    key (seed 0) -> base = h2, inc = h1; index_i = abs((base + i*inc)
    mod bits), base wrapping in 64-bit."""
    from cassandra_pmem_spark.functions.murmur3 import murmur3_x64_128_py

    h1, h2 = murmur3_x64_128_py(key)
    out = []
    base, inc = h2, h1
    for _ in range(hash_count):
        out.append(_java_mod_abs(base, bits))
        base = ((base + inc) + (1 << 63)) % (1 << 64) - (1 << 63)
    return out


class BloomFilter:
    """hashCount + an OffHeapBitSet-layout byte array (bit i lives at
    byte i>>3, bit i&7 — OffHeapBitSet.java:82-96; file layout
    BloomFilterSerializer.java:34-38: int hashCount, int wordCount,
    raw bytes)."""

    def __init__(self, hash_count: int, bits: bytearray):
        self.hash_count = hash_count
        self.bits = bits

    @classmethod
    def sized_for(cls, n_keys: int, fp_chance: float = 0.01) -> "BloomFilter":
        # standard optimal sizing (the reference's BloomCalculations
        # table-lookup approximates the same curve); rounded up to
        # whole 8-byte words like OffHeapBitSet allocation
        n = max(1, n_keys)
        m = max(64, int(_math.ceil(-n * _math.log(fp_chance) / (_math.log(2) ** 2))))
        m = (m + 63) // 64 * 64
        k = max(1, round(m / n * _math.log(2)))
        return cls(k, bytearray(m // 8))

    def add(self, key: bytes) -> None:
        for i in bloom_indexes(key, self.hash_count, len(self.bits) * 8):
            self.bits[i >> 3] |= 1 << (i & 7)

    def is_present(self, key: bytes) -> bool:
        return all(
            self.bits[i >> 3] & (1 << (i & 7))
            for i in bloom_indexes(key, self.hash_count, len(self.bits) * 8)
        )

    @staticmethod
    def _swap_words(b: bytes) -> bytes:
        """Old (pre-na) Filter.db word layout: each 8-byte word is the
        big-endian writeLong of a value composed LITTLE-endian from the
        bitset bytes (OffHeapBitSet.serializeOldBfFormat:125-140 /
        deserialize:152-167) — i.e. every 8-byte group is byte-reversed
        on disk. The transform is its own inverse."""
        import numpy as _np

        return (
            _np.frombuffer(b, dtype=_np.uint8)
            .reshape(-1, 8)[:, ::-1]
            .tobytes()
        )

    def serialize(self, old_format: bool = False) -> bytes:
        assert len(self.bits) % 8 == 0
        body = bytes(self.bits)
        if old_format:
            body = self._swap_words(body)
        return (
            struct.pack(">i", self.hash_count)
            + struct.pack(">i", len(self.bits) // 8)
            + body
        )

    @classmethod
    def deserialize(cls, blob: bytes, old_format: bool = False) -> "BloomFilter":
        r = ByteReader(blob)
        hashes = r.i32()
        words = r.i32()
        body = r.take(words * 8)
        if old_format:
            body = cls._swap_words(body)
        return cls(hashes, bytearray(body))


def sstable_point_read(sst_dir: str, key_values: list,
                       now_seconds: int | None = None,
                       ck_bounds: "tuple | None" = None,
                       _trace: dict | None = None) -> list[dict]:
    """Single-partition read across a directory's sstables — the
    BigTableReader.getPosition path (bloom check -> index summary seek
    -> at most one minIndexInterval's worth of Index.db entries -> one
    Data.db seek; SinglePartitionReadCommand.queryMemtableAndDisk
    direction). Returns the partition's visible rows. Driver-side by
    design, like every point read.

    ck_bounds=(lo, hi) — inclusive clustering prefix bounds (tuples,
    either side None for unbounded) — is the ClusteringIndexSliceFilter
    direction: on a WIDE partition whose index entry carries a promoted
    column index (RowIndexEntry.IndexedEntry), only the index blocks
    OVERLAPPING the slice are read and decoded
    (AbstractSSTableIterator.IndexState.startOfBlock seek direction);
    non-indexed partitions and mixed-direction (DESC) clusterings fall
    back to the full-partition read + exact filter. The exact filter
    always applies, so the result is bound-correct either way.

    `_trace` (tests) collects {"index_entries_scanned", "summary_seeks",
    "bloom_skips", "index_blocks_read", "index_blocks_total"}."""
    from cassandra_pmem_spark.functions.murmur3 import (
        murmur3_token_bytes_py,
    )

    if now_seconds is None:
        now_seconds = 2 ** 31 - 2
    if _trace is not None:
        _trace.setdefault("index_entries_scanned", 0)
        _trace.setdefault("summary_seeks", 0)
        _trace.setdefault("bloom_skips", 0)
        _trace.setdefault("index_blocks_read", 0)
        _trace.setdefault("index_blocks_total", 0)
    out: list[dict] = []
    for path in data_files(sst_dir):
        sst = open_sstable(path)
        schema = sst.schema
        key = schema.key_bytes(key_values)
        if os.path.exists(sst.component("Filter.db")):
            bf = BloomFilter.deserialize(
                sst.read("Filter.db"),
                old_format=sst.version.has_old_bf_format,
            )
            if not bf.is_present(key):
                if _trace is not None:
                    _trace["bloom_skips"] += 1
                continue  # definite miss — Data.db never touched
        idx_blob = sst.read("Index.db")
        probe_tk = (murmur3_token_bytes_py(key), key)
        start_off = 0
        if os.path.exists(sst.component("Summary.db")):
            # index summary seek: start the Index.db scan at the
            # greatest sampled key <= probe (IndexSummary binary search
            # direction); first/last keys short-circuit out-of-range
            summ = read_summary(sst.read("Summary.db"))
            lo = (murmur3_token_bytes_py(summ["first"]), summ["first"])
            hi = (murmur3_token_bytes_py(summ["last"]), summ["last"])
            if probe_tk < lo or probe_tk > hi:
                continue
            for ekey, off in summ["entries"]:
                if (murmur3_token_bytes_py(ekey), ekey) <= probe_tk:
                    start_off = off
                else:
                    break
            if _trace is not None:
                _trace["summary_seeks"] += 1
        pos = bound = None
        promoted_blob = b""
        ir = ByteReader(idx_blob, start_off)
        while ir.remaining():
            klen = ir.u16()
            ekey = ir.take(klen)
            epos = ir.unsigned_vint()
            promoted = ir.unsigned_vint()
            pbytes = ir.take(promoted) if promoted else b""
            if pos is not None:
                # the NEXT entry's position bounds our partition's bytes
                bound = epos
                break
            if _trace is not None:
                _trace["index_entries_scanned"] += 1
            if ekey == key:
                pos = epos
                promoted_blob = pbytes
                continue  # one more iteration to learn the bound
            if (murmur3_token_bytes_py(ekey), bytes(ekey)) > probe_tk:
                break  # token order passed the probe — not in this sstable
        if pos is None:
            continue  # bloom false positive
        if bound is None:
            # last partition in the sstable: bound = logical data length
            bound = sst.data_length

        def read_range(s, e, _sst=sst):
            return read_uncompressed_file_range(_sst, s, e)

        part = _read_partition_sliced(
            read_range, pos, bound, promoted_blob, schema, sst.stats,
            ck_bounds, _trace,
        )
        rows = visible_rows(part, schema, now_seconds)
        if ck_bounds is not None:
            rows = _filter_ck_bounds(rows, schema, ck_bounds)
        out.extend(rows)
    return out


def _read_partition_sliced(read_range, pos: int, bound: int,
                           promoted_blob: bytes, schema: SSTableSchema,
                           stats: EncodingStats,
                           ck_bounds: "tuple | None",
                           _trace: dict | None = None) -> PartitionData:
    """Assemble ONE partition, reading only the promoted-index blocks
    overlapping ck_bounds when the Index.db entry carries a promoted
    index (AbstractSSTableIterator.IndexState seek direction) — shared
    by the driver point read and the distributed scan. ``read_range``
    is the byte source: (start, end) -> (buffer, buffer_base_offset),
    file-ranged for point reads, split-buffer-backed for scan tasks.
    Rows returned may exceed ck_bounds (block granularity); callers
    apply _filter_ck_bounds."""
    if ck_bounds is not None and promoted_blob and not any(
        t.startswith(REVERSED_PREFIX) for t in schema.clustering_types
    ):
        pidx = parse_promoted_index(promoted_blob, schema)
        blocks = pidx["blocks"]
        if _trace is not None:
            _trace["index_blocks_total"] += len(blocks)
        lo, hi = ck_bounds
        picked = [
            b for b in blocks
            if not (
                (hi is not None
                 and _prefix_cmp(b["first"][1], list(hi)) > 0)
                or (lo is not None
                    and _prefix_cmp(b["last"][1], list(lo)) < 0)
            )
        ]
        if _trace is not None:
            _trace["index_blocks_read"] += len(picked)
        hbuf, hoff = read_range(pos, pos + pidx["header_length"])
        part = read_partition_header(
            ByteReader(hbuf, pos - hoff), schema, stats
        )
        picked_idx = {id(b) for b in picked}
        for i, b in enumerate(blocks):
            if id(b) not in picked_idx:
                continue
            # a range tombstone OPENED in an unread earlier block
            # must still shadow this block's rows: the promoted
            # index records each block's end-open deletion
            # (IndexInfo.endOpenMarker) for exactly this resume —
            # synthesize the open bound when the predecessor block
            # wasn't read
            if (
                i > 0
                and blocks[i - 1].get("open")
                and id(blocks[i - 1]) not in picked_idx
            ):
                part.rows.append(MarkerData(
                    kind=INCL_START_BOUND, values=[],
                    deletion=blocks[i - 1]["open"],
                ))
            bstart = pos + b["offset"]
            bbuf, boff = read_range(bstart, bstart + b["width"])
            br = ByteReader(bbuf, bstart - boff)
            end = bstart - boff + b["width"]
            while br.pos < end:
                flags = br.u8()
                if flags & END_OF_PARTITION:
                    break
                if flags & IS_MARKER:
                    part.rows.append(_read_marker(br, schema, stats))
                else:
                    part.rows.append(
                        _read_row(br, flags, schema, stats)
                    )
        return part
    # ranged I/O: read exactly this partition's bytes (compressed:
    # only the overlapping chunks), never the whole Data.db
    buf, base_off = read_range(pos, bound)
    return read_partition(ByteReader(buf, pos - base_off), schema, stats)


def _filter_ck_bounds(rows: list, schema: SSTableSchema,
                      ck_bounds: tuple) -> list:
    """Exact inclusive clustering-prefix filter over visible rows —
    always applied above the block-granular seek."""
    lo, hi = ck_bounds
    ck_names = schema.clustering_names
    out = []
    for rd in rows:
        vals = [rd.get(c) for c in ck_names]
        if lo is not None and _prefix_cmp(vals, list(lo)) < 0:
            continue
        if hi is not None and _prefix_cmp(vals, list(hi)) > 0:
            continue
        out.append(rd)
    return out


def _prefix_cmp(a: list, b: list) -> int:
    """Tuple compare over the SHARED prefix (a slice-bound prefix binds
    only its named components — ClusteringComparator.compare over a
    bound's size); equal prefixes compare equal regardless of arity."""
    for x, y in zip(a, b):
        if x is None or y is None:
            continue
        if x < y:
            return -1
        if x > y:
            return 1
    return 0


# -- CompressionInfo.db + chunked Data.db compression ------------------------
#
# CompressionMetadata.java:106-135 (header: modified-UTF compressor
# simple name, int option count + options, int chunkLength, int
# maxCompressedLength [≥ na], long uncompressed dataLength, int
# chunk count, then one long offset per chunk into the compressed
# file); CompressedSequentialWriter.flushData:136-199 (each chunk =
# LZ4Compressor.compress output followed by a 4-byte CRC32 of exactly
# those bytes; next offset = previous + compressed length + 4);
# LZ4Compressor.java:108-124 (a 4-byte LITTLE-endian uncompressed
# length prefix, then the raw LZ4 block). The LZ4 block codec is the
# repo's spec implementation (pipeline/compression.py).

DEFAULT_CHUNK_LENGTH = 16 * 1024  # CompressionParams DEFAULT_CHUNK_LENGTH


def _modified_utf(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack(">H", len(b)) + b


def _read_modified_utf(r: ByteReader) -> str:
    return bytes(r.take(r.u16())).decode("utf-8")


def compress_data(data: bytes, chunk_length: int = DEFAULT_CHUNK_LENGTH,
                  version: str = VERSION) -> tuple[bytes, bytes]:
    """-> (compressed Data.db bytes, CompressionInfo.db bytes)."""
    from cassandra_pmem_spark.pipeline.compression import lz4_block_compress

    comp = bytearray()
    offsets = []
    for start in range(0, max(1, len(data)), chunk_length):
        chunk = data[start:start + chunk_length]
        body = struct.pack("<i", len(chunk)) + lz4_block_compress(chunk)
        offsets.append(len(comp))
        comp += body
        comp += struct.pack(">I", zlib.crc32(body))
    info = bytearray()
    info += _modified_utf("LZ4Compressor")
    info += struct.pack(">i", 0)                 # no other options
    info += struct.pack(">i", chunk_length)
    if SSTableVersion(version).has_max_compressed_length:
        info += struct.pack(">i", 0x7FFFFFFF)    # maxCompressedLength unset
    info += struct.pack(">q", len(data))         # uncompressed length
    info += struct.pack(">i", len(offsets))
    for o in offsets:
        info += struct.pack(">q", o)
    return bytes(comp), bytes(info)


@dataclass
class CompressionInfo:
    compressor: str
    options: dict
    chunk_length: int
    max_compressed_length: int
    data_length: int
    offsets: list[int]

    @classmethod
    def parse(cls, blob: bytes, version: str = VERSION) -> "CompressionInfo":
        """hasMaxCompressedLength ≥ na (BigFormat.java:157;
        CompressionMetadata.java:120-123: below na the field is absent
        and defaults to Integer.MAX_VALUE)."""
        r = ByteReader(blob)
        name = _read_modified_utf(r)
        n_opt = r.i32()
        options = {
            _read_modified_utf(r): _read_modified_utf(r) for _ in range(n_opt)
        }
        chunk_length = r.i32()
        max_comp = (
            r.i32()
            if SSTableVersion(version).has_max_compressed_length
            else 0x7FFFFFFF
        )
        data_length = r.i64()
        count = r.i32()
        offsets = [r.i64() for _ in range(count)]
        return cls(name, options, chunk_length, max_comp, data_length, offsets)


def decompress_range(comp: bytes, info: CompressionInfo,
                     start: int, end: int) -> tuple[bytes, int]:
    """Uncompressed bytes covering [start, end) plus the uncompressed
    offset the returned buffer begins at — only the chunks overlapping
    the range are touched (CompressionMetadata.chunkFor direction).
    Each chunk's CRC32 is verified (CorruptBlockException analog)."""
    from cassandra_pmem_spark.pipeline.compression import lz4_block_decompress

    if info.compressor != "LZ4Compressor":
        raise ValueError(f"unsupported sstable compressor {info.compressor!r}")
    end = min(end, info.data_length)
    if start >= end:
        return b"", start
    first = start // info.chunk_length
    last = (end - 1) // info.chunk_length
    out = bytearray()
    for ci in range(first, last + 1):
        off = info.offsets[ci]
        nxt = (
            info.offsets[ci + 1] if ci + 1 < len(info.offsets) else len(comp)
        )
        body = comp[off:nxt - 4]
        stored = struct.unpack(">I", comp[nxt - 4:nxt])[0]
        if zlib.crc32(body) != stored:
            raise ValueError(f"corrupt sstable chunk {ci}: checksum mismatch")
        ulen = struct.unpack("<i", body[:4])[0]
        out += lz4_block_decompress(bytes(body[4:]), ulen)
    return bytes(out), first * info.chunk_length


# -- sstabledump (tools/SSTableExport.java + JsonTransformer.java) ------------

def _iso_micros(micros: int) -> str:
    import datetime as _dt

    return (
        _dt.datetime.fromtimestamp(micros / 1_000_000, tz=_dt.timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3]
        + "Z"
    )


def _iso_seconds(seconds: int) -> str:
    import datetime as _dt

    return (
        _dt.datetime.fromtimestamp(seconds, tz=_dt.timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%SZ")
    )


def dump_sstable(data_path: str, now_seconds: int | None = None) -> list[dict]:
    """sstabledump analog (tools/SSTableExport.java:104-132,
    JsonTransformer.java:199-330): one JSON-able dict per partition —
    partition key + position (+ deletion_info when deleted), then rows
    with clustering, liveness_info (ISO-8601 tstamp, ttl/expires_at/
    expired), row deletion_info, and cells ({name, value, [tstamp],
    [ttl, expires_at], [deletion_info]} — a cell's tstamp is omitted
    when it equals the row liveness timestamp, like the tool).
    Decompresses transparently when CompressionInfo.db is present; reads
    Data.db in bounded windows (_iter_partition_ranges)."""
    if now_seconds is None:
        import time as _time

        now_seconds = int(_time.time())
    sst = open_sstable(data_path)
    schema = sst.schema
    out = []
    for _k, _ikey, position, _pend, buf, bbase in _iter_partition_ranges(
        sst, sst.index_entries()
    ):
        part = read_partition(
            ByteReader(buf, position - bbase), schema, sst.stats
        )
        pj: dict = {
            "partition": {
                "key": [str(v) for v in part.key_values],
                "position": position,
            }
        }
        if part.deletion is not None:
            mfda, ldt = part.deletion
            pj["partition"]["deletion_info"] = {
                "marked_deleted": _iso_micros(mfda),
                "local_delete_time": _iso_seconds(ldt),
            }
        rows_j = []
        if part.static_cells:
            sj: dict = {"type": "static_block", "cells": []}
            for name in sorted(part.static_cells):
                cell = part.static_cells[name]
                cj = {"name": name, "value": cell.value,
                      "tstamp": _iso_micros(cell.timestamp)}
                if cell.ttl:
                    cj["ttl"] = cell.ttl
                    cj["expires_at"] = _iso_seconds(cell.local_deletion_time)
                sj["cells"].append(cj)
            rows_j.append(sj)
        for row in part.rows:
            if isinstance(row, MarkerData):
                # JsonTransformer.serializeTombstone:309-330
                mj: dict = {
                    "type": (
                        "range_tombstone_boundary"
                        if row.kind in _BOUNDARY_KINDS
                        else "range_tombstone_bound"
                    ),
                    "kind": row.kind,
                    "clustering": [str(v) for v in row.values],
                    "deletion_info": {
                        "marked_deleted": _iso_micros(row.deletion[0]),
                        "local_delete_time": _iso_seconds(row.deletion[1]),
                    },
                }
                if row.start_deletion:
                    mj["open_deletion_info"] = {
                        "marked_deleted": _iso_micros(row.start_deletion[0]),
                        "local_delete_time": _iso_seconds(
                            row.start_deletion[1]
                        ),
                    }
                rows_j.append(mj)
                continue
            rj: dict = {"type": "row"}
            if schema.clustering_names:
                rj["clustering"] = [str(v) for v in row.clustering]
            if row.liveness_timestamp is not None:
                li = {"tstamp": _iso_micros(row.liveness_timestamp)}
                if row.liveness_ttl:
                    li["ttl"] = row.liveness_ttl
                    li["expires_at"] = _iso_seconds(row.liveness_expiration)
                    li["expired"] = row.liveness_expiration < now_seconds
                rj["liveness_info"] = li
            if row.deletion is not None:
                rj["deletion_info"] = {
                    "marked_deleted": _iso_micros(row.deletion[0]),
                    "local_delete_time": _iso_seconds(row.deletion[1]),
                }
            cells = []
            for name in sorted(row.cells):
                cell = row.cells[name]
                cj: dict = {"name": name}
                if cell.is_tombstone:
                    cj["deletion_info"] = {
                        "local_delete_time": _iso_seconds(
                            cell.local_deletion_time
                        )
                    }
                else:
                    cj["value"] = (
                        cell.value
                        if isinstance(cell.value, (int, float, bool, str))
                        or cell.value is None
                        else str(cell.value)
                    )
                if cell.timestamp != row.liveness_timestamp:
                    cj["tstamp"] = _iso_micros(cell.timestamp)
                if cell.ttl:
                    cj["ttl"] = cell.ttl
                    cj["expires_at"] = _iso_seconds(cell.local_deletion_time)
                cells.append(cj)
            rj["cells"] = cells
            rows_j.append(rj)
        if rows_j:
            pj["rows"] = rows_j
        out.append(pj)
    return out


# -- Summary.db (io/sstable/IndexSummary.java:271-294,
#    IndexSummaryBuilder.java:187-232, SSTableReader.saveSummary:947) --------
#
# Layout: int minIndexInterval, int offsetCount, long offHeapSize,
# int samplingLevel (BASE = 128), int sizeAtFullSampling, then the
# offsets+entries block EXACTLY as it sits in memory — offsets are
# NATIVE-order ints rebased by 4*offsetCount, each entry is the sampled
# partition key's bytes followed by a NATIVE-order long Index.db
# offset. After the summary, the sstable's first and last partition
# keys, each int-length-prefixed. Every minIndexInterval-th key is
# sampled (full sampling), so a point read seeks the Index.db from the
# greatest sampled key <= probe and scans at most one interval.

def get_sampling_pattern(sampling_level: int) -> list[int]:
    """Downsampling.getSamplingPattern (io/sstable/Downsampling.java:
    48-77): the order in which full-sampling positions are REMOVED as
    the level drops — odds first, each half ordered by the recursive
    pattern, so removals spread out."""
    if sampling_level <= 1:
        return [0]
    odds = list(range(1, sampling_level, 2))
    evens = list(range(0, sampling_level, 2))
    ordering = get_sampling_pattern(sampling_level // 2)
    return [odds[i] for i in ordering] + [evens[i] for i in ordering]


def get_original_indexes(sampling_level: int) -> list[int]:
    """Downsampling.getOriginalIndexes (:89-105): which positions of
    each BASE_SAMPLING_LEVEL-sized block of full-sampling entries
    SURVIVE at `sampling_level` (the first BASE-level removals are
    dropped)."""
    removed = set(
        get_sampling_pattern(BASE_SAMPLING_LEVEL)[
            : BASE_SAMPLING_LEVEL - sampling_level
        ]
    )
    return [j for j in range(BASE_SAMPLING_LEVEL) if j not in removed]


def build_summary(sampled: list[tuple[bytes, int]],
                  first_key: bytes, last_key: bytes,
                  min_index_interval: int = DEFAULT_MIN_INDEX_INTERVAL,
                  sampling_level: int = BASE_SAMPLING_LEVEL,
                  ) -> bytes:
    """sampled = [(partition key, Index.db offset)] at FULL sampling.
    sampling_level < BASE_SAMPLING_LEVEL writes a DOWNSAMPLED summary
    (IndexSummary.java samplingLevel): within each block of
    BASE_SAMPLING_LEVEL full-sampling entries only the
    Downsampling.getOriginalIndexes positions survive;
    sizeAtFullSampling records the pre-downsampling count."""
    full_count = len(sampled)
    if sampling_level < BASE_SAMPLING_LEVEL:
        keep = set(get_original_indexes(sampling_level))
        sampled = [
            e for i, e in enumerate(sampled)
            if i % BASE_SAMPLING_LEVEL in keep
        ]
    count = len(sampled)
    entries = bytearray()
    offsets = []
    for key, idx_off in sampled:
        offsets.append(len(entries))
        entries += key
        entries += struct.pack("<q", idx_off)   # native (LE) order
    base = 4 * count
    out = bytearray()
    out += struct.pack(">i", min_index_interval)
    out += struct.pack(">i", count)
    out += struct.pack(">q", base + len(entries))  # offheap size
    out += struct.pack(">i", sampling_level)
    out += struct.pack(">i", full_count)           # sizeAtFullSampling
    for o in offsets:
        out += struct.pack("<i", o + base)         # native order, rebased
    out += entries
    out += struct.pack(">i", len(first_key)) + first_key
    out += struct.pack(">i", len(last_key)) + last_key
    return bytes(out)


def read_summary(blob: bytes) -> dict:
    r = ByteReader(blob)
    min_interval = r.i32()
    count = r.i32()
    offheap = r.i64()
    sampling_level = r.i32()
    full_size = r.i32()
    offsets = [
        struct.unpack("<i", r.take(4))[0] for _ in range(count)
    ]
    block_start = r.pos - 4 * count
    entries = []
    for i, off in enumerate(offsets):
        end = (
            block_start + offsets[i + 1]
            if i + 1 < count
            else block_start + offheap
        )
        ekey = blob[block_start + off:end - 8]
        pos = struct.unpack("<q", blob[end - 8:end])[0]
        entries.append((bytes(ekey), pos))
    r.pos = block_start + offheap
    first = r.take(r.i32())
    last = r.take(r.i32())
    return {
        "min_index_interval": min_interval,
        "sampling_level": sampling_level,
        "size_at_full_sampling": full_size,
        "entries": entries,
        "first": bytes(first),
        "last": bytes(last),
    }


def read_uncompressed_file_range(sst: OpenSSTable, start: int, end: int
                                 ) -> tuple[bytes, int]:
    """[start, end) of the LOGICAL (uncompressed) Data.db stream read
    with ranged file I/O — a task reads only ITS split's bytes (plus,
    for compressed sstables, the chunk remainder at each edge), never
    the whole file. Returns (buffer, uncompressed offset of buffer[0]).
    """
    data_path = sst.data_path
    info = sst.compression
    if info is None:
        with open(data_path, "rb") as f:
            f.seek(start)
            return f.read(max(0, end - start)), start
    end = min(end, info.data_length)
    if start >= end:
        return b"", start
    first = start // info.chunk_length
    last = (end - 1) // info.chunk_length
    f0 = info.offsets[first]
    f1 = (
        info.offsets[last + 1]
        if last + 1 < len(info.offsets)
        else os.path.getsize(data_path)
    )
    with open(data_path, "rb") as f:
        f.seek(f0)
        seg = f.read(f1 - f0)
    # rebase the chunk offsets into the segment and reuse the verifying
    # chunk decoder
    seg_logical_end = (
        (last + 1) * info.chunk_length
        if last + 1 < len(info.offsets)
        else info.data_length
    ) - first * info.chunk_length
    sub = CompressionInfo(
        info.compressor, info.options, info.chunk_length,
        info.max_compressed_length,
        seg_logical_end,
        [o - f0 for o in info.offsets[first:last + 1]],
    )
    rel_start = start - first * info.chunk_length
    rel_end = end - first * info.chunk_length
    buf, rel_base = decompress_range(seg, sub, rel_start, rel_end)
    return buf, first * info.chunk_length + rel_base


# how much of Data.db one walker read spans (plus the partition that
# crosses the mark): offline tools hold one window, never the file
_WALK_WINDOW_BYTES = 8 << 20


def _iter_partition_ranges(sst: OpenSSTable,
                           index_entries: list[tuple[bytes, int]]):
    """The one partition walker: Data.db partition-by-partition with
    RANGED file I/O. Consecutive partitions are batched into
    ~_WALK_WINDOW_BYTES reads (read_uncompressed_file_range, which also
    CRC-verifies each overlapped chunk for compressed sstables), so
    readers and offline tools hold one window — never the whole file —
    in memory. Yields (i, index_key, start, end, buffer,
    buffer_base_offset) per partition, where [start, end) are
    uncompressed Data.db bounds from the Index.db entries (the
    Verifier/Scrubber seek discipline, Verifier.java:225-299,
    Scrubber.java:150-260)."""
    dlen = sst.data_length
    n = len(index_entries)
    i = 0
    while i < n:
        lo = index_entries[i][1]
        j = i
        end = dlen if j == n - 1 else index_entries[j + 1][1]
        while j + 1 < n and end - lo < _WALK_WINDOW_BYTES:
            j += 1
            end = dlen if j == n - 1 else index_entries[j + 1][1]
        buf, base = read_uncompressed_file_range(sst, lo, end)
        for k in range(i, j + 1):
            pstart = index_entries[k][1]
            pend = dlen if k == n - 1 else index_entries[k + 1][1]
            yield k, index_entries[k][0], pstart, pend, buf, base
        i = j + 1


# -- STATS metadata component (StatsMetadata.java:290-338) --------------------
#
# Sub-serializers: EstimatedHistogram.java:370-380 (int count, then per
# bucket (long offset, long count) with the offsets shifted by one —
# bucket 0 pairs with offset 0's value, the overflow bucket repeats the
# last offset), offsets from the 1.2-growth ladder
# (EstimatedHistogram.newOffsets:87-103; 150 buckets for partition
# sizes, 114 for cells per partition — MetadataCollector.java:54-63);
# TombstoneHistogram.java:74-85 (int maxBinSize, int size, then
# (double point, long count) pairs); CommitLogPosition.java:106-110
# (long segmentId, int position; NONE = (-1, 0)); IntervalSet
# (int count, then lower/upper pairs). The trailing fields are
# version-gated: commit-log lower bound ≥ mb, intervals ≥ mc,
# pendingRepair flag byte and isTransient boolean ≥ na,
# originatingHostId ≥ nb (public 4.0.x).

_TYPE_STATS = 2
NO_COMPRESSION_RATIO = -1.0


def _histogram_offsets(size: int) -> list[int]:
    out = [1]
    last = 1
    while len(out) < size:
        nxt = round(last * 1.2)
        if nxt == last:
            nxt += 1
        out.append(nxt)
        last = nxt
    return out


def _estimated_histogram(values: list[int], size: int) -> bytes:
    """Real counts bucketed on the reference's offset ladder."""
    import bisect

    offsets = _histogram_offsets(size)
    buckets = [0] * (size + 1)
    for v in values:
        i = bisect.bisect_left(offsets, v)
        buckets[i] += 1
    out = bytearray(struct.pack(">i", len(buckets)))
    for i, count in enumerate(buckets):
        out += struct.pack(">q", offsets[0] if i == 0 else offsets[i - 1])
        out += struct.pack(">q", count)
    return bytes(out)


def _read_estimated_histogram(r: ByteReader) -> list[tuple[int, int]]:
    n = r.i32()
    return [(r.i64(), r.i64()) for _ in range(n)]


def stats_component(schema: SSTableSchema, stats: EncodingStats,
                    partitions: list[PartitionData],
                    compression_ratio: float = NO_COMPRESSION_RATIO,
                    part_sizes: list[int] | None = None,
                    version: str = VERSION) -> bytes:
    # the writer passes the per-partition byte sizes it already
    # measured; direct callers fall back to re-serializing
    if part_sizes is None:
        part_sizes = [
            len(serialize_partition(p, schema, stats)) for p in partitions
        ]
    cell_counts = []
    # running min/max (the per-cell append-to-list collectors were a
    # measurable slice of bulk-write task time at 100k rows)
    min_ts = max_ts = None
    min_ldt = max_ldt = None
    min_ttl = max_ttl = None
    tombstone_drops: dict[int, int] = {}
    total_cells = 0
    total_rows = 0
    min_ck: list = [None] * len(schema.clustering_types)
    max_ck: list = [None] * len(schema.clustering_types)

    def see_ts(v: int) -> None:
        nonlocal min_ts, max_ts
        if min_ts is None or v < min_ts:
            min_ts = v
        if max_ts is None or v > max_ts:
            max_ts = v

    def see_ldt(v: int) -> None:
        nonlocal min_ldt, max_ldt
        if min_ldt is None or v < min_ldt:
            min_ldt = v
        if max_ldt is None or v > max_ldt:
            max_ldt = v

    def see_ttl(v: int) -> None:
        nonlocal min_ttl, max_ttl
        if min_ttl is None or v < min_ttl:
            min_ttl = v
        if max_ttl is None or v > max_ttl:
            max_ttl = v

    def see_cell(cell: CellValue) -> None:
        nonlocal total_cells, min_ts, max_ts, min_ldt, max_ldt, \
            min_ttl, max_ttl
        t = cell.timestamp
        tlow = t - 1 if isinstance(
            cell.value, (list, dict, set, tuple)) else t
        if min_ts is None or tlow < min_ts:
            min_ts = tlow
        if max_ts is None or t > max_ts:
            max_ts = t
        ldt = cell.local_deletion_time
        if min_ldt is None or ldt < min_ldt:
            min_ldt = ldt
        if max_ldt is None or ldt > max_ldt:
            max_ldt = ldt
        ttl = cell.ttl
        if min_ttl is None or ttl < min_ttl:
            min_ttl = ttl
        if max_ttl is None or ttl > max_ttl:
            max_ttl = ttl
        if cell.is_tombstone:
            tombstone_drops[ldt] = tombstone_drops.get(ldt, 0) + 1
        else:
            total_cells += 1

    for p in partitions:
        n_cells = len(p.static_cells)
        for cell in p.static_cells.values():
            see_cell(cell)
        if p.deletion:
            see_ts(p.deletion[0])
            see_ldt(p.deletion[1])
            tombstone_drops[p.deletion[1]] = (
                tombstone_drops.get(p.deletion[1], 0) + 1
            )
        for row in p.rows:
            if isinstance(row, MarkerData):
                for d in (row.deletion, row.start_deletion):
                    if d:
                        see_ts(d[0])
                        see_ldt(d[1])
                        tombstone_drops[d[1]] = (
                            tombstone_drops.get(d[1], 0) + 1
                        )
                continue
            total_rows += 1
            n_cells += len(row.cells)
            lt = row.liveness_timestamp
            if lt is not None:
                if min_ts is None or lt < min_ts:
                    min_ts = lt
                if max_ts is None or lt > max_ts:
                    max_ts = lt
                see_ldt(
                    row.liveness_expiration if row.liveness_ttl
                    else NO_DELETION_TIME
                )
                see_ttl(row.liveness_ttl)
            if row.deletion:
                see_ts(row.deletion[0])
                see_ldt(row.deletion[1])
                tombstone_drops[row.deletion[1]] = (
                    tombstone_drops.get(row.deletion[1], 0) + 1
                )
            for cell in row.cells.values():
                see_cell(cell)
            for i, v in enumerate(row.clustering):
                if v is None:
                    continue
                if min_ck[i] is None or (v, ) < (min_ck[i], ):
                    min_ck[i] = v
                if max_ck[i] is None or (v, ) > (max_ck[i], ):
                    max_ck[i] = v
        cell_counts.append(n_cells)

    out = bytearray()
    out += _estimated_histogram(part_sizes, 150)
    out += _estimated_histogram(cell_counts, 114)
    out += struct.pack(">qi", -1, 0)          # commit log upper = NONE
    out += struct.pack(">q", min_ts if min_ts is not None else TIMESTAMP_EPOCH)
    out += struct.pack(">q", max_ts if max_ts is not None else TIMESTAMP_EPOCH)
    out += struct.pack(">i", min_ldt if min_ldt is not None else NO_DELETION_TIME)
    out += struct.pack(">i", max_ldt if max_ldt is not None else NO_DELETION_TIME)
    out += struct.pack(">i", min_ttl if min_ttl is not None else 0)
    out += struct.pack(">i", max_ttl if max_ttl is not None else 0)
    out += struct.pack(">d", compression_ratio)
    # TombstoneHistogram: maxBinSize, size, (double point, long count)
    out += struct.pack(">ii", len(tombstone_drops), len(tombstone_drops))
    for point in sorted(tombstone_drops):
        out += struct.pack(">dq", float(point), tombstone_drops[point])
    out += struct.pack(">i", 0)               # sstableLevel
    out += struct.pack(">q", 0)               # repairedAt = UNREPAIRED
    for bound in (min_ck, max_ck):
        vals = [
            codec_of(t).pack(v)
            for t, v in zip(schema.clustering_types, bound)
            if v is not None
        ]
        out += struct.pack(">i", len(vals))
        for b in vals:
            out += struct.pack(">H", len(b)) + b
    out += b"\x00"                            # hasLegacyCounterShards
    out += struct.pack(">q", total_cells)
    out += struct.pack(">q", total_rows)
    # trailing fields per the version matrix (StatsMetadata.serialize
    # :316-338 gates; BigFormat.java:157-161)
    ver = SSTableVersion(version)
    if ver.has_commit_log_lower_bound:
        out += struct.pack(">qi", -1, 0)      # commit log lower = NONE
    if ver.has_commit_log_intervals:
        out += struct.pack(">i", 0)           # empty commit-log intervals
    if ver.has_pending_repair:
        out += b"\x00"                        # no pending repair
    if ver.has_is_transient:
        out += b"\x00"                        # isTransient = false
    if ver.has_originating_host_id:
        out += b"\x00"                        # null originatingHostId
    return bytes(out)


class CorruptSSTableError(ValueError):
    """Verification failure (CorruptSSTableException analog)."""


def verify_sstable(data_path: str, extended: bool = False,
                   check_version: bool = False) -> list[str]:
    """Offline sstable verification — the `nodetool verify` /
    tools/bin/sstableverify analog (db/compaction/Verifier.java:108-299):

    1. [check_version] not-latest versions are rejected with the
       upgradesstables message (Verifier.java:113-119);
    2. Statistics.db deserializes (checksums per the descriptor's
       version) and the VALIDATION partitioner matches (:122-135);
    3. Index.db deserializes fully (:139-147);
    4. Summary.db deserializes — corruption is reported but NOT fatal,
       like the reference's rebuilt-on-startup note (:149-159);
    5. Filter.db deserializes (version-aware word layout, :161-170);
    6. Digest: the on-disk Data.db CRC32 must equal Digest.crc32; a
       MISSING digest file escalates to extended verification
       (:197-213 "Data digest missing, assuming extended verification");
    7. extended: walk every partition via RANGED reads over Index.db
       bounds (never the whole Data.db in memory — the reference's
       Verifier seeks the same way) — index/data keys must agree
       pairwise, each partition must decode and consume exactly to the
       next index position, and partition keys must be in strict
       (token, key) order (:225-299). For compressed sstables the walk
       verifies every chunk CRC on the way (decompress_range's
       CorruptBlockException analog).

    Returns the output lines; raises CorruptSSTableError on corruption.
    """
    from cassandra_pmem_spark.functions.murmur3 import murmur3_token_bytes_py

    ver = version_from_path(data_path)
    out = [f"Verifying {os.path.basename(data_path)} "
           f"({os.path.getsize(data_path)} bytes)"]
    if check_version and ver.name != VERSION:
        raise CorruptSSTableError(
            f"{os.path.basename(data_path)} is not the latest version, "
            "run upgradesstables"
        )
    out.append("Deserializing sstable metadata")
    try:
        sst = open_sstable(data_path)
    except Exception as e:
        raise CorruptSSTableError(f"Statistics.db: {e}") from e
    part_cls = sst.header.get("partitioner",
                              "org.apache.cassandra.dht.Murmur3Partitioner")
    if part_cls != "org.apache.cassandra.dht.Murmur3Partitioner":
        raise CorruptSSTableError("Partitioner does not match validation metadata")
    schema = sst.schema
    out.append("Deserializing index")
    try:
        index_entries = sst.index_entries()
    except Exception as e:
        raise CorruptSSTableError(f"Index.db: {e}") from e
    if os.path.exists(sst.component("Summary.db")):
        try:
            read_summary(sst.read("Summary.db"))
            out.append("Deserializing index summary")
        except Exception:
            out.append(
                "Index summary is corrupt - if it is removed it will get "
                "rebuilt on startup"
            )
    if os.path.exists(sst.component("Filter.db")):
        out.append("Deserializing bloom filter")
        try:
            BloomFilter.deserialize(sst.read("Filter.db"),
                                    old_format=ver.has_old_bf_format)
        except Exception as e:
            raise CorruptSSTableError(f"Filter.db: {e}") from e
    digest_path = sst.component("Digest.crc32")
    if os.path.exists(digest_path):
        out.append("Checking computed hash")
        with open(digest_path) as fh:
            stored = fh.read().strip()
        crc = 0
        with open(data_path, "rb") as fh:
            # streamed CRC — never holds the data file in memory
            while chunk := fh.read(1 << 20):
                crc = zlib.crc32(chunk, crc)
        actual = str(crc)
        if stored != actual:
            raise CorruptSSTableError(
                f"Digest mismatch: stored {stored}, computed {actual}"
            )
    else:
        out.append("Data digest missing, assuming extended verification "
                   "of disk values")
        extended = True
    if not extended:
        return out
    out.append("Extended Verify requested, proceeding to inspect values")
    if index_entries and index_entries[0][1] != 0:
        raise CorruptSSTableError("first row position from index is not 0")
    if not index_entries and sst.data_length > 0:
        raise CorruptSSTableError(
            "data has more partitions than the index (0)"
        )
    # the walk below is ranged (never the whole file in memory); every
    # partition must decode and consume EXACTLY to the next index
    # position, which also proves the data stream has no partitions the
    # index doesn't know about. Chunk CRCs verify per ranged read.
    prev_tk = None
    n_parts = 0
    try:
        ranges = _iter_partition_ranges(sst, index_entries)
        for k, ikey, pstart, pend, buf, bbase in ranges:
            rr = ByteReader(buf, pstart - bbase)
            try:
                part = read_partition(rr, schema, sst.stats)
            except Exception as e:
                raise CorruptSSTableError(
                    f"partition at {pstart} fails to decode: {e}"
                ) from e
            if rr.pos != pend - bbase:
                raise CorruptSSTableError(
                    f"partition at {pstart} does not end at the next "
                    f"index position {pend}"
                )
            key = schema.key_bytes(part.key_values)
            if key != ikey:
                raise CorruptSSTableError(
                    f"index key != data key for partition {k}"
                )
            tk = (murmur3_token_bytes_py(key), key)
            if prev_tk is not None and tk <= prev_tk:
                raise CorruptSSTableError(
                    f"partition {k} out of (token, key) order"
                )
            prev_tk = tk
            n_parts += 1
    except CorruptSSTableError:
        raise
    except Exception as e:
        # ranged-read failures (chunk CRC mismatch, truncated file)
        raise CorruptSSTableError(str(e)) from e
    if n_parts != len(index_entries):
        raise CorruptSSTableError(
            f"index has {len(index_entries)} entries, data has {n_parts}"
        )
    out.append(f"Verified {n_parts} partitions")
    return out


def verify_sstables(sst_dir: str, extended: bool = False) -> list[str]:
    """Verify every sstable under a directory; lines from each."""
    out: list[str] = []
    for path in data_files(sst_dir):
        out += verify_sstable(path, extended=extended)
    return out


def upgrade_sstable(data_path: str, out_dir: str,
                    generation: int | None = None) -> dict:
    """Rewrite one sstable at the CURRENT version — the
    `nodetool upgradesstables` / tools/bin/sstableupgrade analog
    (tools/StandaloneUpgrader.java over db/compaction/Upgrader.java:41-
    110: stream the old reader's unfiltereds into a writer at
    descriptor.version = current). Content-preserving: partitions,
    rows, cells (timestamps/TTLs/tombstones), static rows and range
    tombstone markers all pass through the normal read/write codecs;
    compression presence is kept. Data.db is read in bounded windows
    (_iter_partition_ranges). Returns the writer manifest."""
    sst = open_sstable(data_path)
    info = sst.compression
    parts = [
        read_partition(ByteReader(buf, pstart - bbase), sst.schema, sst.stats)
        for _k, _key, pstart, _pend, buf, bbase in _iter_partition_ranges(
            sst, sst.index_entries()
        )
    ]
    if generation is None:
        # old filename: <version>-<generation>-big-Data.db
        generation = int(os.path.basename(data_path).split("-")[1])
    return write_sstable(
        out_dir, generation, sst.schema, parts,
        compression=info is not None,
        chunk_length=info.chunk_length if info else None,
        version=VERSION,
    )


def upgrade_sstables(in_dir: str, out_dir: str) -> list[dict]:
    """Upgrade every non-current sstable under a directory into
    out_dir (current-version sstables are skipped, like the tool's
    default; pass their paths to upgrade_sstable directly to force)."""
    return [
        upgrade_sstable(path, out_dir)
        for path in data_files(in_dir)
        if version_from_path(path).name != VERSION
    ]


def scrub_sstable(data_path: str, out_dir: str,
                  generation: int | None = None) -> dict:
    """Corruption-skipping rewrite — the `nodetool scrub` /
    tools/bin/sstablescrub analog (db/compaction/Scrubber.java:44-308,
    skipCorrupted direction): partitions are sliced by their Index.db
    positions, each slice decoded independently; an undecodable or
    key-mismatched partition is counted as a bad row and the scan
    SEEKS TO THE NEXT INDEX POSITION (Scrubber.seekToNextRow) instead
    of aborting. Survivors are re-written at the current version in
    token order. Returns the writer manifest plus
    ``good_partitions`` / ``bad_partitions`` counts."""
    sst = open_sstable(data_path)
    schema, info = sst.schema, sst.compression
    index_entries = sst.index_entries()
    good: list[PartitionData] = []
    bad = 0
    # ranged walk over index-entry bounds (never the whole Data.db in
    # memory); a chunk-CRC failure inside a window skips all of that
    # window's partitions — Scrubber's seek-to-next-index discipline
    i = 0
    n = len(index_entries)
    while i < n:
        try:
            consumed = i
            for k, ikey, pstart, _pend, buf, bbase in _iter_partition_ranges(
                sst, index_entries[i:]
            ):
                consumed = i + k + 1
                try:
                    part = read_partition(
                        ByteReader(buf, pstart - bbase), schema, sst.stats
                    )
                    if schema.key_bytes(part.key_values) != ikey:
                        raise ValueError("index/data key mismatch")
                    good.append(part)
                except Exception:
                    bad += 1  # Scrubber badRows++, next index position
            i = n
        except Exception:
            # the ranged READ itself failed (corrupt chunk): count the
            # first unprocessed partition bad and resume after it
            bad += 1
            i = consumed + 1
    if generation is None:
        generation = int(os.path.basename(data_path).split("-")[1])
    manifest = write_sstable(
        out_dir, generation, schema, good,
        compression=info is not None,
        chunk_length=info.chunk_length if info else None,
        version=VERSION,
    )
    manifest["good_partitions"] = len(good)
    manifest["bad_partitions"] = bad
    return manifest


def split_sstable(data_path: str, out_dir: str,
                  size_mb: int = 50) -> list[dict]:
    """Split one big sstable into size-capped ones — the
    tools/bin/sstablesplit analog (StandaloneSplitter.java:41-181,
    DEFAULT_SSTABLE_SIZE = 50 MB at :43, over SSTableSplitter.java's
    max-sstable-size compaction task). Partitions stream in token
    order into consecutive output sstables, cutting whenever the
    accumulated UNCOMPRESSED partition bytes would exceed the cap;
    generations count up from the source's, SKIPPING any generation
    whose Data.db already exists in out_dir (claimed atomically via
    write_sstable(exclusive=True)) — so several sources splitting into
    one shared out_dir, serially or in parallel tasks, never overwrite
    each other (the reference's descriptor generations are globally
    unique; a naive gen0+i here collided). An sstable already under
    the cap is left alone and reported as skipped (the
    isSSTableLargerEnough gate, :181-185). Returns writer manifests
    (or [] when skipped). Data.db is read in bounded windows
    (_iter_partition_ranges), so memory holds one window plus the
    output group being filled."""
    if os.path.getsize(data_path) < size_mb * 1024 * 1024:
        return []  # "skipping (under the size limit)"
    sst = open_sstable(data_path)
    schema, info = sst.schema, sst.compression
    gen0 = int(os.path.basename(data_path).split("-")[1])
    cap = size_mb * 1024 * 1024
    manifests: list[dict] = []
    next_gen = gen0

    def write_group(group: list[PartitionData]) -> dict:
        nonlocal next_gen
        while True:
            try:
                m = write_sstable(
                    out_dir, next_gen, schema, group,
                    compression=info is not None,
                    chunk_length=info.chunk_length if info else None,
                    version=VERSION, exclusive=True,
                )
                next_gen += 1
                return m
            except FileExistsError:
                next_gen += 1  # generation taken by another source/task

    group: list[PartitionData] = []
    group_bytes = 0
    for _k, _key, pstart, _pend, buf, bbase in _iter_partition_ranges(
        sst, sst.index_entries()
    ):
        r = ByteReader(buf, pstart - bbase)
        part = read_partition(r, schema, sst.stats)
        size = r.pos - (pstart - bbase)
        if group and group_bytes + size > cap:
            manifests.append(write_group(group))
            group, group_bytes = [], 0
        group.append(part)
        group_bytes += size
    if group:
        manifests.append(write_group(group))
    return manifests


def mutate_sstable_metadata(data_path: str, level: int | None = None,
                            repaired_at: int | None = None) -> dict:
    """MetadataSerializer.mutateLevel / mutateRepairMetadata analog
    (io/sstable/metadata/MetadataSerializer.java:222-245, which
    deserializes, mutates, and rewrites Statistics.db): sstableLevel
    (int32) and repairedAt (int64) are a fixed-width window inside the
    STATS component, so this patches the 12 bytes in place and
    refreshes the component CRC (hasMetadataChecksum >= na; ma..md
    carry no metadata checksums). Returns the old/new values."""
    base = data_path[: -len("Data.db")]
    ver = version_from_path(data_path)
    stats_path = base + "Statistics.db"
    with open(stats_path, "rb") as f:
        blob = bytearray(f.read())
    _stats, hdr = parse_statistics(bytes(blob), version=ver.name)
    sm = hdr.get("stats_metadata")
    if sm is None:
        raise ValueError(f"{stats_path} has no STATS component")
    new_level = sm["sstable_level"] if level is None else int(level)
    new_rep = sm["repaired_at"] if repaired_at is None else int(repaired_at)
    out = {
        "old_level": sm["sstable_level"], "new_level": new_level,
        "old_repaired_at": sm["repaired_at"], "new_repaired_at": new_rep,
    }
    if (new_level == sm["sstable_level"]
            and new_rep == sm["repaired_at"]):
        return out  # no-op: don't touch the file at all
    checksum = ver.has_metadata_checksum
    start, end = _component_spans(bytes(blob), checksum)[_TYPE_STATS]
    body_end = end - 4 if checksum else end
    off = start + sm["_level_offset"]
    blob[off:off + 4] = struct.pack(">i", new_level)
    blob[off + 4:off + 12] = struct.pack(">q", new_rep)
    if checksum:
        blob[body_end:end] = struct.pack(
            ">I", zlib.crc32(bytes(blob[start:body_end]))
        )
    # write-then-rename like the reference's rewriteSSTableMetadata: a
    # crash mid-write must never truncate the component that carries
    # the sstable's only schema record
    tmp = stats_path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(bytes(blob))
    os.replace(tmp, stats_path)
    return out


def reset_sstable_level(data_path: str) -> dict:
    """One sstable's leg of tools/bin/sstablelevelreset
    (SSTableLevelResetter.java:85-96): drop the leveled-compaction
    level back to 0. mutate_sstable_metadata's no-op detection gives
    the tool's already-level-0 skip (no file touch) from a single
    metadata parse."""
    out = mutate_sstable_metadata(data_path, level=0)
    return {
        "old_level": out["old_level"], "new_level": 0,
        "skipped": out["old_level"] == 0,
    }


def set_sstable_repaired(data_path: str, repaired: bool) -> dict:
    """One sstable's leg of tools/bin/sstablerepairedset
    (SSTableRepairedAtSetter.java:85-96): --is-repaired stamps
    repairedAt with the Data.db file's mtime millis, --is-unrepaired
    stamps 0 (ActiveRepairService.UNREPAIRED_SSTABLE)."""
    ms = int(os.path.getmtime(data_path) * 1000) if repaired else 0
    return mutate_sstable_metadata(data_path, repaired_at=ms)


def sstable_expired_blockers(sst_dir: str, gc_grace_seconds: int,
                             now_seconds: int | None = None) -> list[dict]:
    """tools/bin/sstableexpiredblockers analog
    (SSTableExpiredBlockers.checkForExpiredSSTableBlockers:104-120): an
    sstable whose maxLocalDeletionTime < gcBefore is fully expired and
    droppable — unless another sstable overlaps it in TIME
    (minTimestamp <= expired.maxTimestamp) while itself still live
    (maxLocalDeletionTime > gcBefore); such sstables block the drop.
    Returns one row per blocker with the expired sstables it blocks."""
    import time as _time

    gc_before = (
        int(_time.time()) if now_seconds is None else now_seconds
    ) - gc_grace_seconds
    infos = []
    for path in data_files(sst_dir):
        sm = open_sstable(path).header["stats_metadata"]
        infos.append({
            "path": path,
            "min_ts": sm["min_timestamp"],
            "max_ts": sm["max_timestamp"],
            "max_ldt": sm["max_local_deletion_time"],
        })
    blockers: dict[str, list[str]] = {}
    for s in infos:
        if s["max_ldt"] >= gc_before:
            continue  # not fully expired
        for p in infos:
            if (p["path"] != s["path"]
                    and p["min_ts"] <= s["max_ts"]
                    and p["max_ldt"] > gc_before):
                blockers.setdefault(p["path"], []).append(s["path"])
    return [
        {"blocker": k, "blocks": len(v), "blocked": sorted(v)}
        for k, v in sorted(blockers.items())
    ]


def offline_relevel(sst_dir: str, dry_run: bool = False) -> dict:
    """tools/bin/sstableofflinerelevel analog
    (SSTableOfflineRelevel.Relevel.relevel:165-228): sort sstables by
    LAST key in (token, key) order, repeatedly sweep off maximal
    non-overlapping runs (each run becomes one level), cap at
    ceil(log10(n)) levels with the overflow going to L0, then number
    the runs top-down (the first run built is the HIGHEST level) and
    mutate each sstable's level. Key ranges come from Summary.db's
    first/last keys decorated with the Murmur3 token — the same
    DecoratedKey comparison the reference sorts by."""
    import math as _m

    from cassandra_pmem_spark.functions.murmur3 import (
        murmur3_token_bytes_py,
    )

    ssts = []
    for path in data_files(sst_dir):
        sst = open_sstable(path)
        summ = read_summary(sst.read("Summary.db"))
        ssts.append({
            "path": path,
            "first": (murmur3_token_bytes_py(summ["first"]), summ["first"]),
            "last": (murmur3_token_bytes_py(summ["last"]), summ["last"]),
            "level": sst.header["stats_metadata"]["sstable_level"],
        })
    # Relevel's constructor: ceil(log10(n)) — 0 for a single sstable,
    # which then overflows it to L0 exactly like the reference
    approx_expected = int(_m.ceil(_m.log10(len(ssts))))
    pending = sorted(ssts, key=lambda s: s["last"])
    levels: list[list[dict]] = []
    while pending:
        run, rest, last_last = [], [], None
        for s in pending:
            if last_last is None or last_last < s["first"]:
                run.append(s)
                last_last = s["last"]
            else:
                rest.append(s)
        levels.append(run)
        pending = rest
    l0 = []
    if approx_expected < len(levels):
        for lv in levels[approx_expected:]:
            l0.extend(lv)
        levels = levels[:approx_expected]
    assignment = {s["path"]: 0 for s in l0}
    # levels[0] is the highest: level number = len(levels) - i
    for i, lv in enumerate(levels):
        for s in lv:
            assignment[s["path"]] = len(levels) - i
    changed = 0
    if not dry_run:
        for s in ssts:
            new = assignment[s["path"]]
            if new != s["level"]:
                mutate_sstable_metadata(s["path"], level=new)
                changed += 1
    counts: dict[int, int] = {}
    for lv in assignment.values():
        counts[lv] = counts.get(lv, 0) + 1
    return {
        "levels": assignment,
        "level_counts": dict(sorted(counts.items())),
        "mutated": changed,
        "dry_run": dry_run,
    }


def distributed_sstable_maintenance(spark, in_dir: str, tool: str,
                                    out_dir: str | None = None,
                                    **tool_kwargs):
    """Run an offline sstable tool over EVERY sstable in a directory,
    one Spark task per sstable — the 100 TB posture the reference's
    single-node tools (StandaloneUpgrader/Scrubber/Verifier/
    StandaloneSplitter run one JVM on one node) cannot take. Each
    sstable is independent by construction, so the fleet maps
    embarrassingly: a task reads only ITS files and writes only ITS
    outputs.

    tool: 'verify' | 'upgrade' | 'scrub' | 'split' | 'levelreset' |
    'repairedset' (the last two mutate STATS metadata in place — each
    task owns its sstable's Statistics.db, so the fleet is write-safe).
    Returns a DataFrame of per-sstable result rows (path, ok, detail)
    collected lazily — .collect() runs the fleet."""
    from pyspark.sql import types as T

    in_place = ("verify", "levelreset", "repairedset")
    if tool not in ("upgrade", "scrub", "split") + in_place:
        raise ValueError(f"unknown sstable tool {tool!r}")
    if tool not in in_place and not out_dir:
        raise ValueError(f"tool {tool!r} needs out_dir")
    datas = data_files(in_dir)
    files_df = spark.createDataFrame(
        [(p,) for p in datas],
        T.StructType([T.StructField("path", T.StringType())]),
    ).repartition(len(datas))
    out_schema = T.StructType([
        T.StructField("path", T.StringType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("detail", T.StringType()),
    ])

    def run(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            rows = []
            for path in pdf["path"]:
                try:
                    if tool == "verify":
                        lines = verify_sstable(path, **tool_kwargs)
                        rows.append((path, True, lines[-1]))
                    elif tool == "levelreset":
                        m = reset_sstable_level(path)
                        rows.append((
                            path, True,
                            "already level 0" if m["skipped"]
                            else f"level {m['old_level']} -> 0",
                        ))
                    elif tool == "repairedset":
                        m = set_sstable_repaired(path, **tool_kwargs)
                        rows.append((
                            path, True,
                            f"repairedAt {m['old_repaired_at']} -> "
                            f"{m['new_repaired_at']}",
                        ))
                    elif tool == "upgrade":
                        m = upgrade_sstable(path, out_dir, **tool_kwargs)
                        rows.append((path, True, m["data_path"]))
                    elif tool == "scrub":
                        m = scrub_sstable(path, out_dir, **tool_kwargs)
                        rows.append((
                            path, True,
                            f"good={m['good_partitions']} "
                            f"bad={m['bad_partitions']}",
                        ))
                    else:
                        ms = split_sstable(path, out_dir, **tool_kwargs)
                        rows.append((
                            path, True,
                            f"split into {len(ms)}" if ms else "skipped",
                        ))
                except Exception as e:
                    rows.append((path, False, str(e)))
            yield pd.DataFrame(rows, columns=["path", "ok", "detail"])

    return files_df.mapInPandas(run, schema=out_schema)


def sstable_metadata(data_path: str) -> list[str]:
    """``Name: value`` lines for one sstable — the
    tools/bin/sstablemetadata analog (SSTableMetadataViewer.java:
    334-430 field() output), covering the components this engine
    writes: VALIDATION (partitioner, bloom fp), STATS (timestamps,
    deletion times, TTLs, compression ratio, level, repairedAt,
    clustering bounds, totals), COMPACTION (the HLL cardinality
    estimate — :409), and the EncodingStats epoch deltas."""
    sst = open_sstable(data_path)
    stats, hdr = sst.stats, sst.header
    lines = [f"SSTable: {sst.base.rstrip('-')}"]
    lines.append(
        "Partitioner: "
        + hdr.get("partitioner", "org.apache.cassandra.dht.Murmur3Partitioner")
    )
    lines.append(
        f"Bloom Filter FP chance: {hdr.get('bloom_filter_fp_chance', 0.01)}"
    )
    sm = hdr.get("stats_metadata")
    if sm:
        lines.append(f"Minimum timestamp: {sm['min_timestamp']}")
        lines.append(f"Maximum timestamp: {sm['max_timestamp']}")
        lines.append(
            f"SSTable min local deletion time: {sm['min_local_deletion_time']}"
        )
        lines.append(
            f"SSTable max local deletion time: {sm['max_local_deletion_time']}"
        )
        if sst.compression is not None:
            lines.append(f"Compressor: {sst.compression.compressor}")
            lines.append(f"Compression ratio: {sm['compression_ratio']}")
        else:
            lines.append("Compressor: -")
        lines.append(f"TTL min: {sm['min_ttl']}")
        lines.append(f"TTL max: {sm['max_ttl']}")
        if sm["min_clustering_values"]:
            lines.append(
                f"minClusteringValues: {sm['min_clustering_values']}"
            )
            lines.append(
                f"maxClusteringValues: {sm['max_clustering_values']}"
            )
        lines.append(f"SSTable Level: {sm['sstable_level']}")
        lines.append(f"Repaired at: {sm['repaired_at']}")
        lines.append(f"totalColumnsSet: {sm['total_columns_set']}")
        lines.append(f"totalRows: {sm['total_rows']}")
    if "compaction_cardinality" in hdr:
        lines.append(f"Estimated cardinality: {hdr['compaction_cardinality']}")
    lines.append(f"EncodingStats minTTL: {stats.min_ttl}")
    lines.append(
        f"EncodingStats minLocalDeletionTime: {stats.min_local_deletion_time}"
    )
    lines.append(f"EncodingStats minTimestamp: {stats.min_timestamp}")
    return lines


def parse_stats_component(blob: bytes, schema: SSTableSchema,
                          version: str = VERSION) -> dict:
    """StatsMetadata.deserialize (:340-420) with the per-version gates:
    min/max clustering VALUES are byte-consumed but dropped below md
    (hasAccurateMinMax — CASSANDRA-14861 keeps legacy sstables from
    being wrongly excluded); commitLogLowerBound ≥ mb, intervals ≥ mc,
    pendingRepair/isTransient ≥ na, originatingHostId ≥ nb (public
    4.0.x's only layout delta over na)."""
    ver = SSTableVersion(version)
    r = ByteReader(blob)
    part_hist = _read_estimated_histogram(r)
    cell_hist = _read_estimated_histogram(r)
    r.i64(), r.i32()                          # commit log upper
    out = {
        "partition_size_histogram": part_hist,
        "cells_histogram": cell_hist,
        "min_timestamp": r.i64(),
        "max_timestamp": r.i64(),
        "min_local_deletion_time": r.i32(),
        "max_local_deletion_time": r.i32(),
        "min_ttl": r.i32(),
        "max_ttl": r.i32(),
        "compression_ratio": struct.unpack(">d", r.take(8))[0],
    }
    r.i32()
    n = r.i32()
    out["tombstone_drop_times"] = [
        (struct.unpack(">d", r.take(8))[0], r.i64()) for _ in range(n)
    ]
    # byte offset of the (sstableLevel int32, repairedAt int64) pair
    # inside THIS component body — the fixed-width window the metadata
    # mutation tools (sstablelevelreset / sstablerepairedset analogs)
    # patch in place (MetadataSerializer.mutateLevel/mutateRepairedAt)
    out["_level_offset"] = r.pos
    out["sstable_level"] = r.i32()
    out["repaired_at"] = r.i64()
    for name in ("min_clustering_values", "max_clustering_values"):
        k = r.i32()
        vals = [
            codec_of(schema.clustering_types[i]).unpack(r.take(r.u16()))
            for i in range(k)
        ]
        # below md the values are consumed but NOT kept (see docstring)
        out[name] = vals if ver.has_accurate_min_max else []
    r.u8()                                    # legacy counter shards
    out["total_columns_set"] = r.i64()
    out["total_rows"] = r.i64()
    if ver.has_commit_log_lower_bound and r.remaining():
        out["commit_log_lower_bound"] = (r.i64(), r.i32())
    if ver.has_commit_log_intervals and r.remaining():
        n_iv = r.i32()
        out["commit_log_intervals"] = [
            ((r.i64(), r.i32()), (r.i64(), r.i32())) for _ in range(n_iv)
        ]
    if ver.has_pending_repair and r.remaining():
        if r.u8():
            import uuid as _uuid

            out["pending_repair"] = str(_uuid.UUID(bytes=r.take(16)))
    if ver.has_is_transient and r.remaining():
        out["is_transient"] = bool(r.u8())
    if ver.has_originating_host_id and r.remaining():
        if r.u8():
            import uuid as _uuid

            out["originating_host_id"] = str(_uuid.UUID(bytes=r.take(16)))
    return out


# -- range tombstone markers (UnfilteredSerializer.java:277-299,
#    ClusteringBoundOrBoundary.java:144-149, ClusteringPrefix.Kind
#    ordinals 56-70) -----------------------------------------------------------

# ClusteringPrefix.Kind ordinals
EXCL_END_BOUND = 0
INCL_START_BOUND = 1
EXCL_END_INCL_START_BOUNDARY = 2
STATIC_CLUSTERING_KIND = 3
CLUSTERING_KIND = 4
INCL_END_EXCL_START_BOUNDARY = 5
INCL_END_BOUND = 6
EXCL_START_BOUND = 7

_START_KINDS = {INCL_START_BOUND, EXCL_START_BOUND}
_END_KINDS = {EXCL_END_BOUND, INCL_END_BOUND}
_BOUNDARY_KINDS = {EXCL_END_INCL_START_BOUNDARY, INCL_END_EXCL_START_BOUNDARY}


@dataclass
class MarkerData:
    """One RangeTombstoneMarker: a bound (one deletion) or a boundary
    (the closing deletion then the opening one)."""

    kind: int
    values: list = field(default_factory=list)   # clustering prefix
    deletion: tuple[int, int] | None = None       # bound / boundary END
    start_deletion: tuple[int, int] | None = None  # boundary OPEN side


def _marker_bytes(m: MarkerData, schema: SSTableSchema,
                  stats: EncodingStats, prev_size: int) -> bytes:
    """flags = IS_MARKER; kind byte + short size + value prefix; body
    sizes; then ONE DeletionTime for a bound, END then START for a
    boundary (UnfilteredSerializer.java:277-299)."""
    out = bytearray([IS_MARKER])
    out.append(m.kind)
    out += struct.pack(">H", len(m.values))
    prefix_schema = SSTableSchema(
        schema.key_names, schema.key_types,
        schema.clustering_names[: len(m.values)],
        schema.clustering_types[: len(m.values)],
        list(schema.regular), list(schema.statics),
    )
    out += _clustering_bytes(prefix_schema, m.values)
    body = bytearray()

    def wdel(d: tuple[int, int]) -> None:
        body.extend(encode_unsigned_vint(d[0] - stats.min_timestamp))
        body.extend(
            encode_unsigned_vint(d[1] - stats.min_local_deletion_time)
        )

    if m.kind in _BOUNDARY_KINDS:
        wdel(m.deletion)
        wdel(m.start_deletion)
    else:
        wdel(m.deletion)
    out += encode_unsigned_vint(len(body) + unsigned_vint_size(prev_size))
    out += encode_unsigned_vint(prev_size)
    out += body
    return bytes(out)


def _read_marker(r: ByteReader, schema: SSTableSchema,
                 stats: EncodingStats) -> MarkerData:
    kind = r.u8()
    size = r.u16()
    values = _read_clustering(r, schema, size)
    r.unsigned_vint()  # body size
    r.unsigned_vint()  # previous size

    def rdel() -> tuple[int, int]:
        return (
            r.unsigned_vint() + stats.min_timestamp,
            r.unsigned_vint() + stats.min_local_deletion_time,
        )

    m = MarkerData(kind=kind, values=values)
    if kind in _BOUNDARY_KINDS:
        m.deletion = rdel()
        m.start_deletion = rdel()
    else:
        m.deletion = rdel()
    return m


# -- complex (collection) columns ---------------------------------------------
#
# UnfilteredSerializer.writeComplexColumn:266-275 — a complex column's
# data is [its complex DeletionTime, delta-encoded, when the row's
# HAS_COMPLEX_DELETION flag is set] + vint cell count + cells. Each
# cell carries a CellPath after its timestamp/ttl fields and before
# the value (Cell.java:210-214); CollectionType's path serializer is
# one vint-length-prefixed buffer. Cells sit in the collection
# comparator's order: list paths are ascending timeuuids
# (Lists.java), set paths are the elements themselves with EMPTY
# values (Sets.java), map paths are the keys (Maps.java). A full-value
# write is a complex deletion at (ts - 1) plus the element cells —
# the shape a flushed memtable full-set produces.

def _list_path(base_ts_micros: int, index: int) -> bytes:
    """Deterministic ascending timeuuid cell paths for list elements
    (Lists.java PrecisionTime — the reference mints v1 uuids; replays
    here derive them from the cell timestamp + element index)."""
    import uuid as _uuid

    from cassandra_pmem_spark.cql.terms import (
        SESSION_CLOCK_SEQ_AND_NODE,
        ticks_from_unix_ms,
        v1_uuid_text,
    )

    ticks = ticks_from_unix_ms(base_ts_micros // 1000, index)
    return _uuid.UUID(v1_uuid_text(ticks, SESSION_CLOCK_SEQ_AND_NODE)).bytes


def _complex_column_bytes(value, codec: CollectionCodec, cell_ts: int,
                          stats: EncodingStats,
                          use_row_ts: bool = True,
                          ttl: int = 0,
                          expiration: int = NO_DELETION_TIME) -> bytes:
    """One complex column's data for a FULL-value write at cell_ts;
    a non-zero ttl makes every element cell expiring (explicit
    ldt+ttl per cell)."""
    out = bytearray()
    # complex deletion at ts - 1 (the full-write shadow)
    out += encode_unsigned_vint((cell_ts - 1) - stats.min_timestamp)
    out += encode_unsigned_vint(
        DELETION_TIME_EPOCH - stats.min_local_deletion_time
    )

    def cell(path: bytes, val_codec: "Codec | None", val) -> bytes:
        b = bytearray()
        flags = CELL_USE_ROW_TIMESTAMP if use_row_ts else 0
        if ttl:
            flags |= CELL_IS_EXPIRING
        packed = b""
        if val_codec is not None and val is not None:
            packed = val_codec.pack(val)
        if not packed:
            flags |= CELL_HAS_EMPTY_VALUE
        b.append(flags)
        if not use_row_ts:
            b += encode_unsigned_vint(cell_ts - stats.min_timestamp)
        if ttl:
            b += encode_unsigned_vint(
                expiration - stats.min_local_deletion_time
            )
            b += encode_unsigned_vint(ttl - stats.min_ttl)
        b += encode_unsigned_vint(len(path))
        b += path
        if packed:
            if val_codec.fixed_len >= 0:
                b += packed
            else:
                b += encode_unsigned_vint(len(packed))
                b += packed
        return bytes(b)

    if codec.kind == "list":
        items = list(value)
        out += encode_unsigned_vint(len(items))
        for i, v in enumerate(items):
            out += cell(_list_path(cell_ts, i), codec.value, v)
    elif codec.kind == "set":
        items = sorted(set(value))
        out += encode_unsigned_vint(len(items))
        for v in items:
            out += cell(codec.key.pack(v), None, None)
    else:  # map — cells in key order (MapType comparator)
        items = sorted(value.items())
        out += encode_unsigned_vint(len(items))
        for k, v in items:
            out += cell(codec.key.pack(k), codec.value, v)
    return bytes(out)


def _read_complex_column(r: ByteReader, codec: CollectionCodec,
                         row_ts: int | None, has_deletion: bool,
                         stats: EncodingStats) -> CellValue:
    deletion_ts = None
    if has_deletion:
        deletion_ts = r.unsigned_vint() + stats.min_timestamp
        r.unsigned_vint()  # local deletion time delta
    n = r.unsigned_vint()
    entries = []
    elem_ttl, elem_ldt = 0, NO_DELETION_TIME
    for _ in range(n):
        flags = r.u8()
        has_value = not (flags & CELL_HAS_EMPTY_VALUE)
        is_deleted = bool(flags & CELL_IS_DELETED)
        is_expiring = bool(flags & CELL_IS_EXPIRING)
        ts = (
            row_ts
            if flags & CELL_USE_ROW_TIMESTAMP
            else r.unsigned_vint() + stats.min_timestamp
        )
        if not (flags & CELL_USE_ROW_TTL):
            if is_deleted or is_expiring:
                ldt = r.unsigned_vint() + stats.min_local_deletion_time
                if is_expiring:
                    elem_ldt = min(elem_ldt, ldt)
            if is_expiring:
                elem_ttl = max(
                    elem_ttl, r.unsigned_vint() + stats.min_ttl
                )
        path = r.take(r.unsigned_vint())
        val = None
        vc = codec.value if codec.kind != "set" else None
        if has_value:
            if vc is not None:
                val = read_value(r, vc)
        elif not is_deleted and vc is not None and vc.fixed_len < 0:
            # HAS_EMPTY_VALUE on a LIVE cell: an empty text/blob element,
            # not an absent value (same rule as the scalar reader)
            val = vc.unpack(b"")
        if is_deleted:
            continue  # element tombstone
        if deletion_ts is not None and ts <= deletion_ts:
            continue  # shadowed by the complex deletion
        entries.append((path, ts, val))
    if codec.kind == "list":
        value = [v for _p, _t, v in entries]
    elif codec.kind == "set":
        value = [codec.key.unpack(p) for p, _t, _v in entries]
    else:
        value = {codec.key.unpack(p): v for p, _t, v in entries}
    ts0 = max((t for _p, t, _v in entries), default=row_ts or 0)
    # uniform-TTL collections (the flush shape) expire as one unit at
    # the earliest element expiry
    return CellValue(
        value=value, timestamp=ts0, ttl=elem_ttl,
        local_deletion_time=elem_ldt if elem_ttl else NO_DELETION_TIME,
    )
