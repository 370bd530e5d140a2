"""token() — partitioner token of a partition key.

Reference: cql3/functions/TokenFct.java:61 over dht/Murmur3Partitioner.java:41
(Murmur3 128-bit, first 64 bits, of the composite-serialized key). Semantics
that matter to queries: a *deterministic, uniformly-distributed total order*
over partition keys, enabling token-range scans and token-ordered paging.

Each key column's marshal comes from ``marshal.marshal_of`` — its declared
CQL type text (``cql_types``, column -> text such as ``'uuid'`` or
``'frozen<set<int>>'``), else its Spark shape — packed as a frozen value,
and the key is serialized by those codecs exactly as the sstable writer
serializes it (``marshal.pack_key``). Hash selection:

- a single-column key whose wire form is the column's 8-byte long —
  **bigint**, **time** (nanos), and **timestamp**, which pre-converts
  JVM-side through unix_millis (timezone-exact, floored like the
  TimestampType codec) → the fixed-8-byte vectorized Murmur3 kernel
  (functions/murmur3.py);
- any other key with a codec → the general-length Murmur3 kernel over
  the packed bytes: every native type but duration, uuid/timeuuid/inet
  text (named via ``cql_types``, as Spark has no such types), and
  frozen list/set/map/tuple/user-type values (legal pk components when
  frozen — CreateTableStatement.java:179; an ArrayType is a list unless
  declared ``set<...>``, sets and maps pack comparator-sorted). Nested
  TIMESTAMP leaves are covered when the session timezone is UTC (this
  engine pins it — session.get_spark): Arrow then delivers them as exact
  naive-UTC instants. Bit-exact.
- keys with no codec (duration, or nested timestamps under a NON-UTC
  session timezone — Spark's nested Arrow transfer shifts those
  instants, measured on 4.1: a naive 12:00 written under
  America/New_York arrives as 08:00, a double offset, so exactness is
  unattainable there) → xxhash64 (JVM builtin): same query semantics
  (stable hash order), different values. Documented deviation per
  SURVEY §2.8.

Pass the table schema or ``cql_types`` to get the murmur3 paths; without
either the caller gets the xxhash64 analog (type-blind, always safe).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cassandra_pmem_spark.marshal import _MARSHAL, codec_of, marshal_of

_TIMESTAMP = _MARSHAL + "TimestampType"
# marshals whose wire form is the 8-byte big-endian long the column
# expression carries (a timestamp after its unix_millis pre-convert)
_LONG_WIRE = (_MARSHAL + "LongType", _MARSHAL + "TimeType", _TIMESTAMP)


def _session_tz_is_utc() -> bool:
    from cassandra_pmem_spark.session import session_tz_is_utc

    return session_tz_is_utc()


def token_column(
    partition_key: Sequence[str] | str,
    schema: T.StructType | None = None,
    cql_types: dict[str, str] | None = None,
) -> Column:
    from cassandra_pmem_spark.functions.murmur3 import (
        murmur3_token_column,
        murmur3_token_key_columns,
    )

    cols = [partition_key] if isinstance(partition_key, str) else list(partition_key)
    fallback = F.xxhash64(*[F.col(c) for c in cols])
    if schema is None and not cql_types:
        return fallback
    by_name = {f.name: f.dataType for f in schema.fields} if schema else {}
    try:
        marshals = [
            marshal_of((cql_types or {}).get(c), by_name.get(c), frozen=True)
            for c in cols
        ]
        codecs = [codec_of(m) for m in marshals]
    except ValueError:
        return fallback
    # nested timestamps skip the unix_millis pre-convert below
    if any(m != _TIMESTAMP and _TIMESTAMP in m for m in marshals) and not (
        _session_tz_is_utc()
    ):
        return fallback
    exprs = [
        F.unix_millis(F.col(c)) if m == _TIMESTAMP else F.col(c)
        for c, m in zip(cols, marshals)
    ]
    if len(cols) == 1 and marshals[0] in _LONG_WIRE:
        return murmur3_token_column(exprs[0])
    return murmur3_token_key_columns(exprs, codecs)
