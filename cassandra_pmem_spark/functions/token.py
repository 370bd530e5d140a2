"""token() — partitioner token of a partition key.

Reference: cql3/functions/TokenFct.java:61 over dht/Murmur3Partitioner.java:41
(Murmur3 128-bit, first 64 bits, of the composite-serialized key). Semantics
that matter to queries: a *deterministic, uniformly-distributed total order*
over partition keys, enabling token-range scans and token-ordered paging.

Hash selection:

- single-column **bigint** (and **timestamp**, which serializes as its
  epoch-millis int64 — TimestampType.java) keys → the bit-exact Cassandra
  Murmur3 token (functions/murmur3.py, fixed-8-byte vectorized kernel);
- any other key whose column types are all in the covered marshal set —
  long/int/smallint/tinyint/text/double/float/boolean/date/timestamp/
  decimal/varint/blob, single OR composite — → the general-length
  Murmur3 kernel over the reference serialization (single column: the
  type's raw bytes per db/marshal/*; composite: CompositeType.java's
  length-prefixed layout). Also bit-exact.
- **uuid / timeuuid / inet** keys (held as text columns — Spark has no
  native uuid/inet types) → the general-length kernel over the reference
  wire forms (UUIDType.java/TimeUUIDType.java 16-byte msb||lsb,
  InetAddressType.java 4/16 address bytes). Because the Spark dtype is
  just StringType, the caller names these via ``cql_types``
  (column → 'uuid'|'timeuuid'|'inet'). Also bit-exact.
- **frozen collection / UDT** keys (legal pk components when frozen —
  CreateTableStatement.java:179 rejects only non-frozen;
  FrozenCollectionsTest.java:55,186 creates them) → the general-length
  kernel over CollectionSerializer.pack / TupleType.buildValue wire forms
  (count+length-prefixed elements; sets/maps comparator-sorted). Spark
  ArrayType maps to frozen<list>, MapType to frozen<map>, StructType to
  the frozen UDT/tuple form; tag a column 'frozen_set' via ``cql_types``
  for set element ordering (Spark has no set type). Element types must be
  in the scalar covered set; TIMESTAMP elements are covered when the
  session timezone is UTC (this engine pins it — session.get_spark):
  Arrow then delivers nested timestamps to the kernel as exact naive-UTC
  instants, so TimestampType.java's epoch-millis int64 is recovered
  bit-exactly. Also bit-exact.
- keys containing a type with no covered serializer (nested non-frozen
  semantics, or timestamp elements under a NON-UTC session timezone —
  Spark's nested Arrow transfer shifts those instants, measured on 4.1:
  a naive 12:00 written under America/New_York arrives as 08:00, a
  double offset, so exactness is unattainable there) → xxhash64 (JVM
  builtin): same query semantics (stable hash order), different values.
  Documented deviation per SURVEY §2.8.

Timestamp columns pre-convert JVM-side through unix_millis, so the
token is exact regardless of the session timezone.

Pass the table schema to get the murmur3 paths; without it the caller
gets the xxhash64 analog (type-blind, always safe).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MURMUR_TYPES = (
    T.LongType,
    T.IntegerType,
    T.StringType,
    T.ShortType,
    T.ByteType,
    T.DoubleType,
    T.FloatType,
    T.BooleanType,
    T.DateType,
    T.TimestampType,
    T.DecimalType,
    T.BinaryType,
)


def _component(col: str, dtype):
    """(column expression, effective marshal dtype) for one key component.
    Timestamps become their epoch-millis long JVM-side (unix_millis is
    timezone-independent on TimestampType), matching TimestampType.java's
    serialized form exactly."""
    if isinstance(dtype, T.TimestampType):
        return F.unix_millis(F.col(col)), T.LongType()
    return F.col(col), dtype


# scalar types legal INSIDE frozen collections/UDTs. TimestampType is
# conditional: nested values skip the JVM-side unix_millis pre-convert
# (see _component), so their exactness needs the session timezone to be
# UTC — then Arrow hands the kernel naive-UTC instants whose epoch
# millis are TimestampType.java's serialized form. Under a non-UTC
# session, nested timestamps arrive offset (measured: a double shift on
# Spark 4.1), so they stay on the xxhash64 fallback.
_FROZEN_ELEM_TYPES = tuple(t for t in _MURMUR_TYPES if t is not T.TimestampType)

def _session_tz_is_utc() -> bool:
    from cassandra_pmem_spark.session import session_tz_is_utc

    return session_tz_is_utc()


def _frozen_ok(dt, allow_ts: bool) -> bool:
    """True when a complex dtype's every leaf is in the frozen covered set."""
    if isinstance(dt, T.ArrayType):
        return _frozen_ok(dt.elementType, allow_ts)
    if isinstance(dt, T.MapType):
        return (_frozen_ok(dt.keyType, allow_ts)
                and _frozen_ok(dt.valueType, allow_ts))
    if isinstance(dt, T.StructType):
        return all(_frozen_ok(f.dataType, allow_ts) for f in dt.fields)
    if isinstance(dt, T.TimestampType):
        return allow_ts
    return isinstance(dt, _FROZEN_ELEM_TYPES)


def token_column(
    partition_key: Sequence[str] | str,
    schema: T.StructType | None = None,
    cql_types: dict[str, str] | None = None,
) -> Column:
    from cassandra_pmem_spark.functions.murmur3 import (
        FrozenSetMarshal,
        InetMarshal,
        UuidMarshal,
    )

    marshal_by_cql = {"uuid": UuidMarshal, "timeuuid": UuidMarshal, "inet": InetMarshal}
    cols = [partition_key] if isinstance(partition_key, str) else list(partition_key)
    if schema is not None or cql_types:
        by_name = {f.name: f.dataType for f in schema.fields} if schema else {}

        allow_ts = _session_tz_is_utc()

        def resolve(c: str):
            tag = (cql_types or {}).get(c)
            if tag in marshal_by_cql:
                return marshal_by_cql[tag]()
            dt = by_name.get(c)
            if tag == "frozen_set" and isinstance(dt, T.ArrayType):
                if _frozen_ok(dt.elementType, allow_ts):
                    return FrozenSetMarshal(dt.elementType)
                return None
            if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
                # bare complex dtypes map to frozen<list>/frozen<map>/UDT
                # inside serialize_pk_value; gate on leaf-type coverage
                return dt if _frozen_ok(dt, allow_ts) else None
            return dt

        dtypes = [resolve(c) for c in cols]
        ok_types = _MURMUR_TYPES + (
            UuidMarshal,
            InetMarshal,
            FrozenSetMarshal,
            T.ArrayType,
            T.MapType,
            T.StructType,
        )
        if all(isinstance(dt, ok_types) for dt in dtypes):
            exprs, eff = zip(*[_component(c, dt) for c, dt in zip(cols, dtypes)])
            if len(cols) == 1 and isinstance(eff[0], T.LongType):
                from cassandra_pmem_spark.functions.murmur3 import murmur3_token_column

                return murmur3_token_column(exprs[0])
            from cassandra_pmem_spark.functions.murmur3 import (
                murmur3_token_key_columns,
            )

            return murmur3_token_key_columns(list(exprs), list(eff))
    return F.xxhash64(*[F.col(c) for c in cols])
