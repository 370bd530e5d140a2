"""cast(x AS T) (cql3/functions/CastFcts.java:61-85,:335) and typed
arithmetic (OperationFcts.java:36-98,:191,:218).

CQL casts are registered pairwise between numeric types, anything→text, and
temporal chains. Java narrowing (Number::intValue — truncate toward zero,
wrap on overflow) matches Spark's non-ANSI cast behavior, which is why the
session runs with spark.sql.ansi.enabled=false.

Integer division truncates in CQL (OperationFcts — typed arithmetic keeps
the operand type); Spark's `/` is always double, so int_div uses `div`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CQL_TO_SPARK = {
    "ascii": T.StringType(),
    "text": T.StringType(),
    "varchar": T.StringType(),
    "bigint": T.LongType(),
    "blob": T.BinaryType(),
    "boolean": T.BooleanType(),
    "counter": T.LongType(),
    "date": T.DateType(),
    "decimal": T.DecimalType(38, 18),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "inet": T.StringType(),
    "int": T.IntegerType(),
    "smallint": T.ShortType(),
    "time": T.LongType(),  # nanos since midnight
    "timestamp": T.TimestampType(),
    "timeuuid": T.StringType(),
    "tinyint": T.ByteType(),
    "uuid": T.StringType(),
    "varint": T.DecimalType(38, 0),
}


def cql_cast(col: Column | str, cql_type: str) -> Column:
    """cast(x AS <cql_type>) → Spark cast with the SURVEY §1.2 type mapping.

    varint targets truncate toward zero first: CastFcts' fractional→varint
    conversions go through BigDecimal.toBigInteger (truncation), while
    Spark's fractional→DecimalType(38,0) cast ROUNDS half-up."""
    c = F.col(col) if isinstance(col, str) else col
    t = _CQL_TO_SPARK[cql_type.lower()]
    if isinstance(t, T.DecimalType) and t.scale == 0:
        c = c - (c % F.lit(1))
    return c.cast(t)


def cast_as_text(col: Column | str) -> Column:
    """CastAsTextFunction (CastFcts.java:335) — any value → its CQL literal text."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(T.StringType())


def int_div(a: Column, b: Column) -> Column:
    """CQL integer division truncates (keeps operand type)."""
    return (a / b).cast(T.LongType())


def ts_plus_duration(ts: Column, months: int = 0, days: int = 0, micros: int = 0) -> Column:
    """timestamp ± duration (OperationFcts.java:218). CQL duration is a
    (months, days, nanos) triple (cql3/Duration.java:35-82); Spark intervals
    carry micros — nanos truncate to micros (documented deviation)."""
    return ts + F.make_interval(months=F.lit(months), days=F.lit(days), secs=F.lit(micros / 1e6))
