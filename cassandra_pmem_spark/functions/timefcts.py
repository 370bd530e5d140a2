"""Temporal scalar functions (cql3/functions/TimeFcts.java:37-191).

CQL's temporal surface: now()/currenttimeuuid, currenttimestamp/date/time,
min/maxtimeuuid, dateof/unixtimestampof (deprecated), todate/totimestamp/
tounixtimestamp. timeuuid itself we model as (uuid string, timestamp shadow)
— SURVEY §1.2 — so the timeuuid-boundary functions become direct timestamp
comparisons.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def current_timestamp() -> Column:  # TimeFcts.java:41
    return F.current_timestamp()


def current_date() -> Column:  # TimeFcts.java:42
    return F.current_date()


def to_date(col: Column | str) -> Column:  # TimeFcts.java:149
    return F.to_date(col)


def to_timestamp(col: Column | str) -> Column:  # TimeFcts.java:170
    return F.to_timestamp(col)


def min_timeuuid_bound(ts: Column | str) -> Column:
    """mintimeuuid(ts) (TimeFcts.java:69) exists only to range-query timeuuid
    clustering columns; on the shadow model the bound IS the timestamp."""
    return F.to_timestamp(ts)


max_timeuuid_bound = min_timeuuid_bound  # TimeFcts.java:81 — same shadow semantics


# v1 UUID epoch (1582-10-15) in unix millis — UUIDGen.java:52 START_EPOCH
# (ONE definition, shared with the driver-side fold arithmetic)
from cassandra_pmem_spark.cql.terms import (  # noqa: E402
    UUID_START_EPOCH_MS as TIMEUUID_START_EPOCH_MS,
)


def timeuuid_ticks(col: Column | str) -> Column:
    """Embedded 60-bit v1 timestamp (100ns ticks since the UUID epoch)
    extracted from a timeuuid's canonical TEXT — pure substring/conv
    whole-stage codegen, no UDF. Canonical layout
    tttttttt-tttt-1ttt-...: ticks = time_hi(12) || time_mid(16) ||
    time_low(32) (UUIDGen.createTime:353 inverted). This is the key
    TimeUUIDType compares by first, so range predicates and ordering on
    declared-timeuuid columns run on it."""
    u = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.concat(F.substring(u, 16, 3), F.substring(u, 10, 4), F.substring(u, 1, 8)),
        16,
        10,
    ).cast("long")


def timeuuid_unix_ms(col: Column | str) -> Column:
    """UUIDGen.unixTimestamp analog: embedded v1 ticks -> unix millis
    (bigint). The basis for dateof/tounixtimestamp/totimestamp over
    declared-timeuuid columns (TimeFcts.java:97,170,191)."""
    # ticks ≈ 1.4e17 exceeds double's 53-bit exact-integer range, so a
    # float division here could be off by one ms — divide in decimal
    return F.floor(
        timeuuid_ticks(col).cast("decimal(38,0)") / F.lit(10000)
    ).cast("long") + F.lit(TIMEUUID_START_EPOCH_MS)
