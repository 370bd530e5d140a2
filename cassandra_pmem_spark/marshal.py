"""CQL value codecs: one per ``db/marshal`` type, the engine's only
serializer of CQL values.

A ``Codec`` packs a Python value into its type's serialized bytes
(``AbstractType.decompose``) and unpacks them back. The sstable format
writes these bytes, the Murmur3 partitioner hashes them
(``Murmur3Partitioner.getToken`` over the serialized partition key) and
the ``xAsBlob``/``blobAsX`` functions return them, so an sstable key and
its token come from one byte format and cannot disagree.

Types are named by their marshal text, as the sstable HEADER component
stores them (``org.apache.cassandra.db.marshal.Int32Type``);
``marshal_of`` maps a column's declared CQL type (or, without one, its
Spark shape) to that text. Wire forms, per reference serializer:

- ``LongType`` / ``Int32Type`` / ``ShortType`` / ``ByteType`` —
  big-endian two's complement at the type's width; ``TimeType`` is the
  nanos-of-day long;
- ``TimestampType`` — epoch millis as an int64, floored (the rule
  ``F.unix_millis`` applies on the token lane);
- ``SimpleDateType`` — unsigned int32 days with the epoch at 2^31;
- ``IntegerType`` (varint) — ``BigInteger.toByteArray()``: minimal
  two's complement; ``DecimalType`` — int32 scale, then that varint of
  the unscaled value;
- ``DoubleType`` / ``FloatType`` — big-endian IEEE-754 bits;
  ``BooleanType`` — one byte 0/1;
- ``UTF8Type`` / ``AsciiType`` / ``BytesType`` — the raw bytes;
- ``UUIDType`` / ``TimeUUIDType`` — 16 bytes msb||lsb big-endian;
  ``InetAddressType`` — the 4/16 address bytes;
- ``CounterColumnType`` — a CounterContext (see below);
- ``FrozenType(ListType|SetType|MapType)`` — CollectionSerializer.pack:
  int32 count, then each element (map: key, value) int32-length-prefixed;
  sets and maps in their element/key comparator's order
  (SetSerializer.java:59, MapSerializer.java:62);
- ``TupleType`` (a frozen tuple or user type) — TupleType.buildValue:
  each field int32-length-prefixed, no count, null = length -1.

A multi-column partition key packs in the CompositeType layout
(``pack_key``): per component a 2-byte big-endian length, the bytes and
one 0x00 end-of-component byte.
"""

from __future__ import annotations

import datetime as _dt
import functools
import ipaddress
import math
import struct
import uuid as _uuid
from dataclasses import dataclass
from decimal import Decimal

from pyspark.sql import types as T

_MARSHAL = "org.apache.cassandra.db.marshal."
REVERSED_PREFIX = _MARSHAL + "ReversedType("
FROZEN_PREFIX = _MARSHAL + "FrozenType("


@dataclass(frozen=True)
class Codec:
    """One CQL marshal type: the wire codec, the Spark type its values
    travel as, and its comparator's sort key (the order set elements and
    map keys pack in; None = unsigned order of the packed bytes, which
    IS the comparator of text, blob, boolean and date)."""

    marshal: str          # fully-qualified marshal class name
    spark: T.DataType
    fixed_len: int        # -1 = variable length
    pack: object          # value -> bytes
    unpack: object        # bytes -> value
    order: object         # value -> sort key, or None

    def __reduce__(self):
        # pickled (into Spark UDF closures) by name: the table rebuilds it
        return codec_of, (self.marshal,)


def _c(marshal, spark, fixed, pack, unpack, order) -> Codec:
    return Codec(_MARSHAL + marshal, spark, fixed, pack, unpack, order)


def _fixed_int(fmt: str):
    s = struct.Struct(fmt)
    return (lambda v: s.pack(int(v))), (lambda b: s.unpack(bytes(b))[0])


# -- timestamps ---------------------------------------------------------------

_EPOCH = _dt.datetime(1970, 1, 1)


def timestamp_millis(v) -> int:
    """Epoch millis of a timestamp value, floored: a pd.Timestamp, a
    datetime (naive = UTC) or raw millis. Plain datetime arithmetic for
    datetimes: pandas' ns-based values stop at years 1677..2262, and
    Cassandra timestamps span years 1..9999."""
    if isinstance(v, _dt.datetime):
        try:
            ns = getattr(v, "value", None)
        except OverflowError:  # a pandas Timestamp past the ns range
            ns = None
        if ns is not None:  # pandas Timestamp: UTC ns since the epoch
            return ns // 1_000_000
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return d.days * 86_400_000 + d.seconds * 1_000 + d.microseconds // 1_000
    return int(v)


def floor_millis(v: _dt.datetime) -> _dt.datetime:
    """A datetime floored to the millisecond, the precision
    ``timestamp_millis`` packs: two values in one millisecond are one
    CQL timestamp."""
    return v.replace(microsecond=v.microsecond // 1000 * 1000)


def set_value(vals) -> list:
    """A CQL set as stored: its elements sorted, without duplicates.
    Elements Python cannot order (frozen maps) keep the given order.
    The write path stores, and the read path compares, a set this way."""
    try:
        ordered = sorted(vals or [])
    except TypeError:
        return list(vals or [])
    return [v for i, v in enumerate(ordered) if i == 0 or v != ordered[i - 1]]


_Q = struct.Struct(">q")


def _ts_pack(v) -> bytes:
    return _Q.pack(timestamp_millis(v))


def _ts_unpack(b: bytes):
    return _EPOCH + _dt.timedelta(milliseconds=_Q.unpack(bytes(b))[0])


# -- variable-width numbers -----------------------------------------------------

def _varint(n: int) -> bytes:
    """BigInteger.toByteArray(): minimal two's complement. For n < 0 the
    boundary values -2^(8k-1) fit in exactly k bytes."""
    nbytes = (n if n >= 0 else n + 1).bit_length() // 8 + 1
    return n.to_bytes(nbytes, "big", signed=True)


def _as_decimal(v) -> Decimal:
    return v if isinstance(v, Decimal) else Decimal(str(v))


def _decimal_pack(v) -> bytes:
    # the unscaled value from the digit tuple: context arithmetic
    # (scaleb/quantize) rounds past 28 digits, which a 38-digit
    # decimal exceeds
    sign, digits, exp = _as_decimal(v).as_tuple()
    unscaled = int("".join(map(str, digits)) or "0")
    if exp > 0:
        unscaled *= 10**exp
        exp = 0
    return struct.pack(">i", -exp) + _varint(-unscaled if sign else unscaled)


def _decimal_unpack(b: bytes) -> Decimal:
    b = bytes(b)
    (scale,) = struct.unpack_from(">i", b)
    sign, digits, _ = Decimal(int.from_bytes(b[4:], "big", signed=True)).as_tuple()
    return Decimal((sign, digits, -scale))


def _float_order(v):
    """Float.compare/Double.compare: -0.0 < 0.0, NaN greatest."""
    f = float(v)
    if math.isnan(f):
        return (math.inf, 2)
    return (f, 0 if math.copysign(1.0, f) < 0 else 1)


# -- counter cells (db/context/CounterContext.java) ---------------------------
#
# A counter cell's VALUE is a serialized CounterContext: a header
# (int16 element count n, then n int16 body indices — global shards
# encoded as idx + Short.MIN_VALUE, so always negative) followed by the
# body of (CounterId 16 bytes, int64 clock, int64 count) shards
# (CounterContext.java:36-60 layout comment, :78-82 lengths). The
# visible counter value is the SUM of shard counts
# (CounterContext.total:570-576). This engine writes the
# single-global-shard form a compacted/flushed perfect value takes
# (createGlobal:142-147) with a fixed engine CounterId and clock 1;
# it reads ANY context — including legacy pre-2.1 negative header
# sizes (headerLength:171-174 takes Math.abs) and multi-shard bodies.

COUNTER_ID_LENGTH = 16  # utils/CounterId.LENGTH
_ENGINE_COUNTER_ID = bytes(COUNTER_ID_LENGTH)


def counter_context_global(count: int, clock: int = 1,
                           counter_id: bytes = _ENGINE_COUNTER_ID) -> bytes:
    """Single-global-shard context (CounterContext.createGlobal:142-147):
    header (1, [0 + Short.MIN_VALUE]) + one (id, clock, count) shard."""
    return (
        struct.pack(">hh", 1, -(1 << 15))
        + counter_id
        + struct.pack(">qq", clock, count)
    )


def counter_context_total(blob: bytes) -> int:
    """Sum of every shard's count (CounterContext.total:570-576); the
    header size is abs()'d for legacy pre-2.1 contexts (:173)."""
    b = bytes(blob)
    (n,) = struct.unpack_from(">h", b, 0)
    off = 2 + abs(n) * 2
    total = 0
    step = COUNTER_ID_LENGTH + 16
    while off + step <= len(b):
        (count,) = struct.unpack_from(">q", b, off + COUNTER_ID_LENGTH + 8)
        total += count
        off += step
    return total


# -- the scalar codec table -----------------------------------------------------

_I = struct.Struct(">i")
_U = struct.Struct(">I")
_D = struct.Struct(">d")
_F = struct.Struct(">f")
_DATE_EPOCH = _dt.date(1970, 1, 1)
_pack_q, _unpack_q = _fixed_int(">q")
_pack_i, _unpack_i = _fixed_int(">i")


def _uuid_pack(v) -> bytes:
    return _uuid.UUID(str(v)).bytes


def _uuid_unpack(b: bytes):
    return str(_uuid.UUID(bytes=bytes(b)))


# ShortType, ByteType, TimeType and SimpleDateType have fixed-width
# values but do not override AbstractType.valueLengthIfFixed, so the
# sstable format writes them length-prefixed like variable-length types
CODECS: dict[str, Codec] = {
    c.marshal: c
    for c in (
        _c("CounterColumnType", T.LongType(), -1,
           lambda v: counter_context_global(int(v)), counter_context_total,
           None),
        _c("Int32Type", T.IntegerType(), 4, _pack_i, _unpack_i, int),
        _c("LongType", T.LongType(), 8, _pack_q, _unpack_q, int),
        _c("ShortType", T.ShortType(), -1, *_fixed_int(">h"), int),
        _c("ByteType", T.ByteType(), -1, *_fixed_int(">b"), int),
        _c("TimeType", T.LongType(), -1, _pack_q, _unpack_q, None),
        _c("IntegerType", T.DecimalType(38, 0), -1,
           lambda v: _varint(int(v)),
           lambda b: Decimal(int.from_bytes(bytes(b), "big", signed=True)),
           int),
        _c("DecimalType", T.DecimalType(38, 18), -1,
           _decimal_pack, _decimal_unpack, _as_decimal),
        _c("DoubleType", T.DoubleType(), 8,
           lambda v: _D.pack(float(v)), lambda b: _D.unpack(bytes(b))[0],
           _float_order),
        _c("FloatType", T.FloatType(), 4,
           lambda v: _F.pack(float(v)), lambda b: _F.unpack(bytes(b))[0],
           _float_order),
        _c("BooleanType", T.BooleanType(), 1,
           lambda v: b"\x01" if v else b"\x00",
           lambda b: bytes(b) != b"\x00", None),
        _c("TimestampType", T.TimestampType(), 8, _ts_pack, _ts_unpack,
           timestamp_millis),
        _c("SimpleDateType", T.DateType(), -1,
           lambda v: _U.pack(((v - _DATE_EPOCH).days + (1 << 31)) & 0xFFFFFFFF),
           lambda b: _DATE_EPOCH + _dt.timedelta(
               days=_U.unpack(bytes(b))[0] - (1 << 31)), None),
        _c("UTF8Type", T.StringType(), -1,
           lambda v: str(v).encode("utf-8"),
           lambda b: bytes(b).decode("utf-8"), None),
        _c("AsciiType", T.StringType(), -1,
           lambda v: str(v).encode("ascii"),
           lambda b: bytes(b).decode("ascii"), None),
        _c("BytesType", T.BinaryType(), -1, bytes, bytes, None),
        _c("UUIDType", T.StringType(), 16, _uuid_pack, _uuid_unpack, None),
        _c("TimeUUIDType", T.StringType(), 16, _uuid_pack, _uuid_unpack, None),
        _c("InetAddressType", T.StringType(), -1,
           lambda v: ipaddress.ip_address(str(v)).packed,
           lambda b: str(ipaddress.ip_address(bytes(b))), None),
    )
}


# -- frozen collections and tuples ----------------------------------------------

def split_args(body: str, open_: str, close: str) -> list[str]:
    """Split a parameterized type's argument list at depth-0 commas only,
    so nested parameterized arguments stay whole."""
    out, depth, cur = [], 0, []
    for ch in body:
        if ch == open_:
            depth += 1
        elif ch == close:
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return [s.strip() for s in out]


def _lp(b: bytes) -> bytes:
    return _I.pack(len(b)) + b


def _values(b: bytes, off: int, n: int | None) -> list:
    """int32-length-prefixed values from `off`: n of them, or (n None)
    to the end; length -1 is null."""
    out = []
    while (len(out) < n) if n is not None else (off < len(b)):
        (ln,) = _I.unpack_from(b, off)
        off += 4
        if ln < 0:
            out.append(None)
            continue
        out.append(b[off:off + ln])
        off += ln
    return out


def _frozen_codec(text: str, kind: str, args: list[str]) -> Codec:
    if kind == "MapType":
        kc, vc = codec_of(args[0]), codec_of(args[1])
        order = kc.order or kc.pack

        def pack(v):
            entries = list(v.items()) if hasattr(v, "items") else [tuple(e) for e in v]
            entries.sort(key=lambda e: order(e[0]))
            body = [_lp(kc.pack(k)) + _lp(vc.pack(mv)) for k, mv in entries]
            return _I.pack(len(body)) + b"".join(body)

        def unpack(b):
            b = bytes(b)
            vals = _values(b, 4, 2 * _I.unpack_from(b)[0])
            return {kc.unpack(vals[i]): vc.unpack(vals[i + 1])
                    for i in range(0, len(vals), 2)}

        return Codec(text, T.MapType(kc.spark, vc.spark), -1, pack, unpack, None)
    ec = codec_of(args[0])
    is_set = kind == "SetType"

    def pack(v):
        if is_set:
            v = sorted(v, key=ec.order or ec.pack)
        return _I.pack(len(v)) + b"".join(_lp(ec.pack(e)) for e in v)

    def unpack(b):
        b = bytes(b)
        return [ec.unpack(e) for e in _values(b, 4, _I.unpack_from(b)[0])]

    return Codec(text, T.ArrayType(ec.spark), -1, pack, unpack, None)


def _tuple_codec(text: str, args: list[str]) -> Codec:
    fcs = [codec_of(a) for a in args]

    def pack(v):
        vals = list(v.values()) if hasattr(v, "values") else list(v)
        return b"".join(
            _I.pack(-1) if fv is None else _lp(fc.pack(fv))
            for fv, fc in zip(vals, fcs)
        )

    def unpack(b):
        vals = _values(bytes(b), 0, None)
        return tuple(None if fv is None else fc.unpack(fv) for fv, fc in zip(vals, fcs))

    spark = T.StructType([T.StructField(f"_{i + 1}", fc.spark) for i, fc in enumerate(fcs)])
    return Codec(text, spark, -1, pack, unpack, None)


@functools.lru_cache(maxsize=512)
def codec_of(type_text: str) -> Codec:
    # pure function of the type text — called per CELL in the row
    # serializers, so the parse is memoized
    base = type_text
    if base.startswith(REVERSED_PREFIX) and base.endswith(")"):
        base = base[len(REVERSED_PREFIX):-1]
    c = CODECS.get(base)
    if c is not None:
        return c
    name, args = _marshal_parts(base)
    if name == "FrozenType" and len(args) == 1:
        inner, iargs = _marshal_parts(args[0])
        if inner in ("ListType", "SetType") and len(iargs) == 1 or (
            inner == "MapType" and len(iargs) == 2
        ):
            return _frozen_codec(base, inner, iargs)
    if name == "TupleType" and args:
        return _tuple_codec(base, args)
    raise ValueError(f"unsupported sstable marshal type {type_text!r}")


def _marshal_parts(text: str) -> tuple[str, list[str]]:
    """('ListType', [arg texts]) of one marshal text; ('', []) for a
    text outside the marshal package."""
    if not text.startswith(_MARSHAL):
        return "", []
    body = text[len(_MARSHAL):]
    i = body.find("(")
    if i < 0 or not body.endswith(")"):
        return body, []
    return body[:i], split_args(body[i + 1:-1], "(", ")")


# -- multi-cell (non-frozen) collections ------------------------------------------
#
# A non-frozen collection column is not one value: the sstable stores
# one cell per element (sources/sstable.py's complex columns), so its
# codec names the element codecs instead of packing the whole value.

@dataclass(frozen=True)
class CollectionCodec:
    kind: str            # 'list' | 'set' | 'map'
    marshal: str         # full marshal text
    spark: T.DataType
    key: "Codec | None"    # set: element; map: key; list: None (timeuuid)
    value: "Codec | None"  # list/map: element/value; set: None

    def __reduce__(self):
        return collection_codec_of, (self.marshal,)


@functools.lru_cache(maxsize=512)
def collection_codec_of(type_text: str) -> "CollectionCodec | None":
    # pure function of the type text (see codec_of) — memoized; the
    # returned CollectionCodec is treated as immutable by all callers
    name, args = _marshal_parts(type_text)
    if name == "MapType" and len(args) == 2:
        kc, vc = codec_of(args[0]), codec_of(args[1])
        return CollectionCodec("map", type_text, T.MapType(kc.spark, vc.spark), kc, vc)
    if name in ("ListType", "SetType") and len(args) == 1:
        ec = codec_of(args[0])
        if name == "ListType":
            return CollectionCodec("list", type_text, T.ArrayType(ec.spark), None, ec)
        return CollectionCodec("set", type_text, T.ArrayType(ec.spark), ec, None)
    return None


# -- partition keys -------------------------------------------------------------

def pack_key(codecs: list, values) -> bytes:
    """Serialized partition key: a single component's raw bytes, or the
    CompositeType layout (2-byte length + bytes + 0x00 per component)
    for a multi-column key — the bytes Murmur3 tokens hash."""
    if len(codecs) == 1:
        return codecs[0].pack(values[0])
    out = bytearray()
    for c, v in zip(codecs, values):
        b = c.pack(v)
        out += struct.pack(">H", len(b)) + b + b"\x00"
    return bytes(out)


def unpack_key(codecs: list, key: bytes) -> list:
    if len(codecs) == 1:
        return [codecs[0].unpack(key)]
    out, off = [], 0
    for c in codecs:
        (ln,) = struct.unpack_from(">H", key, off)
        out.append(c.unpack(key[off + 2:off + 2 + ln]))
        off += 3 + ln  # length, bytes, end-of-component byte
    return out


# -- CQL type -> marshal text ---------------------------------------------------

_NATIVE = {
    "tinyint": "ByteType", "smallint": "ShortType", "int": "Int32Type",
    "bigint": "LongType", "counter": "CounterColumnType",
    "varint": "IntegerType", "decimal": "DecimalType",
    "float": "FloatType", "double": "DoubleType", "boolean": "BooleanType",
    "text": "UTF8Type", "varchar": "UTF8Type", "ascii": "AsciiType",
    "blob": "BytesType", "uuid": "UUIDType", "timeuuid": "TimeUUIDType",
    "inet": "InetAddressType", "date": "SimpleDateType",
    "timestamp": "TimestampType", "time": "TimeType",
    "duration": "DurationType",
}
# a Spark type's default marshal (simpleString; decimal by scale below)
_BY_SPARK = {
    "tinyint": "ByteType", "smallint": "ShortType", "int": "Int32Type",
    "bigint": "LongType", "float": "FloatType", "double": "DoubleType",
    "boolean": "BooleanType", "string": "UTF8Type", "binary": "BytesType",
    "date": "SimpleDateType", "timestamp": "TimestampType",
}


def marshal_of(text: str | None, dtype: T.DataType | None,
               frozen: bool) -> str:
    """Marshal text of one column: from its declared CQL type text
    (TableMeta.cql_type) where that names the type, else from its Spark
    shape — an ArrayType is a list, a MapType a map, a StructType (tuple
    or user type) a TupleType, a scale-0 decimal a varint. `frozen`
    packs a collection as one value (a partition-key component); a
    top-level collection otherwise keeps its multi-cell marshal, even
    when declared frozen<...>. Anything nested in a collection or tuple
    is frozen. Raises ValueError for a type with no marshal."""
    head, args = "", []
    if text:
        t = text.strip()
        i = t.find("<")
        head = (t if i < 0 else t[:i]).strip().lower()
        args = split_args(t[i + 1:-1], "<", ">") if i >= 0 else []
        if head == "frozen" and len(args) == 1:
            return marshal_of(args[0], dtype, frozen)
    if head in _NATIVE:
        return _MARSHAL + _NATIVE[head]
    arr, mp = isinstance(dtype, T.ArrayType), isinstance(dtype, T.MapType)
    st = isinstance(dtype, T.StructType)
    if head in ("list", "set") or arr and head != "tuple":
        cls = "SetType" if head == "set" else "ListType"
        elem = marshal_of(args[0] if args else None, dtype.elementType if arr else None, True)
        m = f"{_MARSHAL}{cls}({elem})"
    elif head == "map" or mp:
        k, v = args if len(args) == 2 else (None, None)
        m = (f"{_MARSHAL}MapType({marshal_of(k, dtype.keyType if mp else None, True)},"
             f"{marshal_of(v, dtype.valueType if mp else None, True)})")
    elif head == "tuple" or st:
        dts = [f.dataType for f in dtype.fields] if st else [None] * len(args)
        texts = args if head == "tuple" and len(args) == len(dts) else [None] * len(dts)
        return _MARSHAL + "TupleType(" + ",".join(
            marshal_of(ft, fdt, True) for ft, fdt in zip(texts, dts)
        ) + ")"
    elif isinstance(dtype, T.DecimalType):
        return _MARSHAL + ("IntegerType" if dtype.scale == 0 else "DecimalType")
    else:
        name = _BY_SPARK.get(dtype.simpleString()) if dtype is not None else None
        if name is None:
            raise ValueError(f"no marshal for type {text or dtype!r}")
        return _MARSHAL + name
    return f"{FROZEN_PREFIX}{m})" if frozen else m
