"""blobAsX / XAsBlob reinterpret casts (cql3/functions/BytesConversionFcts.java:36).

CQL registers a bytes↔type reinterpret pair for every native type; this
module covers the full set over the engine's type mapping: text/ascii/
varchar (straight cast), bigint/int/smallint/tinyint (big-endian
two's-complement at each width), boolean (one byte), timestamp (epoch-ms
int64 via unix_millis — timezone-exact), date (unsigned epoch-centered
days), uuid/timeuuid (16 raw bytes from the canonical text form),
double/float (IEEE-754 bit patterns — the one Arrow-batched pair, since
no JVM builtin exposes float bits), varint (minimal two's-complement,
the varint codec of cassandra_pmem_spark.marshal). time and counter map to
LongType in the DDL, so they ride bigint_as_blob; inet and duration keep
their text forms, so they ride text_as_blob. Everything except
double/float/varint stays JVM-side in whole-stage codegen.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def text_as_blob(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(T.BinaryType())


def bigint_as_blob(col: Column | str) -> Column:
    """8-byte big-endian, matching LongType serialization in the reference."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unhex(F.lpad(F.hex(c.cast(T.LongType())), 16, "0"))


def blob_as_bigint(col: Column | str) -> Column:
    """Inverse of bigint_as_blob, incl. negatives: conv() reads the 8 bytes
    as an unsigned decimal, so two's-complement wraps back via 2^64."""
    c = F.col(col) if isinstance(col, str) else col
    unsigned = F.conv(F.hex(c), 16, 10).cast(T.DecimalType(20, 0))
    two63 = F.lit("9223372036854775808").cast(T.DecimalType(20, 0))
    two64 = F.lit("18446744073709551616").cast(T.DecimalType(21, 0))
    return (
        F.when(unsigned >= two63, (unsigned - two64)).otherwise(unsigned)
    ).cast(T.LongType())


def int_as_blob(col: Column | str) -> Column:
    """4-byte big-endian (Int32Type.java). Mask to 32 bits BEFORE hex:
    a negative int sign-extends to a 16-char long hex, and lpad would
    keep the HIGH half."""
    c = F.col(col) if isinstance(col, str) else col
    masked = c.cast(T.IntegerType()).cast(T.LongType()).bitwiseAND(F.lit(0xFFFFFFFF))
    return F.unhex(F.lpad(F.hex(masked), 8, "0"))


def _blob_as_signed(col: Column | str, nbytes: int, target: T.DataType) -> Column:
    """Big-endian two's-complement blob → signed integer of the given
    width (conv() reads unsigned; wrap back via 2^(8*nbytes))."""
    c = F.col(col) if isinstance(col, str) else col
    bits = 8 * nbytes
    unsigned = F.conv(F.hex(c), 16, 10).cast(T.DecimalType(21, 0))
    half = F.lit(str(1 << (bits - 1))).cast(T.DecimalType(21, 0))
    full = F.lit(str(1 << bits)).cast(T.DecimalType(21, 0))
    return F.when(unsigned >= half, unsigned - full).otherwise(unsigned).cast(target)


def blob_as_int(col: Column | str) -> Column:
    return _blob_as_signed(col, 4, T.IntegerType())


def smallint_as_blob(col: Column | str) -> Column:
    """2-byte big-endian (ShortType.java)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unhex(
        F.substring(F.lpad(F.hex(c.cast(T.ShortType()).cast(T.LongType())), 16, "0"), 13, 4)
    )


def blob_as_smallint(col: Column | str) -> Column:
    return _blob_as_signed(col, 2, T.ShortType())


def tinyint_as_blob(col: Column | str) -> Column:
    """1-byte (ByteType.java)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unhex(
        F.substring(F.lpad(F.hex(c.cast(T.ByteType()).cast(T.LongType())), 16, "0"), 15, 2)
    )


def blob_as_tinyint(col: Column | str) -> Column:
    return _blob_as_signed(col, 1, T.ByteType())


def boolean_as_blob(col: Column | str) -> Column:
    """One byte, 0x01/0x00 (BooleanType.java)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c, F.unhex(F.lit("01"))).otherwise(F.unhex(F.lit("00")))


def blob_as_boolean(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.hex(c) != "00"  # BooleanSerializer: any non-zero byte is true


def timestamp_as_blob(col: Column | str) -> Column:
    """8-byte big-endian epoch millis (TimestampType.java) — timezone-exact
    via unix_millis."""
    c = F.col(col) if isinstance(col, str) else col
    return bigint_as_blob(F.unix_millis(c))


def blob_as_timestamp(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_millis(blob_as_bigint(c))


def date_as_blob(col: Column | str) -> Column:
    """4-byte UNSIGNED days-since-epoch centered at 2^31
    (SimpleDateType.java — day 0 is 0x80000000)."""
    c = F.col(col) if isinstance(col, str) else col
    days = F.datediff(c, F.lit("1970-01-01")).cast(T.LongType()) + F.lit(1 << 31)
    return F.unhex(F.substring(F.lpad(F.hex(days), 16, "0"), 9, 8))


def blob_as_date(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    days = (F.conv(F.hex(c), 16, 10).cast(T.LongType()) - F.lit(1 << 31)).cast(
        T.IntegerType()
    )
    return F.date_add(F.lit("1970-01-01").cast(T.DateType()), days)


def uuid_as_blob(col: Column | str) -> Column:
    """16 raw bytes from the canonical text form (UUIDType serialization)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unhex(F.replace(c, F.lit("-"), F.lit("")))


def blob_as_uuid(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    h = F.lower(F.hex(c))
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )


def double_as_blob(col: Column | str) -> Column:
    """8-byte big-endian IEEE-754 bit pattern (DoubleType.java). No JVM
    builtin exposes float bits, so this is the one Arrow-batched pair —
    numpy reinterprets the whole batch at once."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.BinaryType())
    def fn(s: pd.Series) -> pd.Series:
        import numpy as np

        a = s.to_numpy(dtype=">f8")
        b = a.tobytes()
        return pd.Series([b[8 * i : 8 * i + 8] for i in range(len(a))])

    c = F.col(col) if isinstance(col, str) else col
    return fn(c.cast(T.DoubleType()))


def blob_as_double(col: Column | str) -> Column:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.DoubleType())
    def fn(s: pd.Series) -> pd.Series:
        import numpy as np

        buf = b"".join(bytes(v) for v in s)
        return pd.Series(np.frombuffer(buf, dtype=">f8").astype(float))

    c = F.col(col) if isinstance(col, str) else col
    return fn(c)


def float_as_blob(col: Column | str) -> Column:
    """4-byte big-endian IEEE-754 (FloatType.java)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.BinaryType())
    def fn(s: pd.Series) -> pd.Series:
        import numpy as np

        a = s.to_numpy(dtype=">f4")
        b = a.tobytes()
        return pd.Series([b[4 * i : 4 * i + 4] for i in range(len(a))])

    c = F.col(col) if isinstance(col, str) else col
    return fn(c.cast(T.FloatType()))


def blob_as_float(col: Column | str) -> Column:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.FloatType())
    def fn(s: pd.Series) -> pd.Series:
        import numpy as np

        buf = b"".join(bytes(v) for v in s)
        return pd.Series(np.frombuffer(buf, dtype=">f4").astype(np.float32))

    c = F.col(col) if isinstance(col, str) else col
    return fn(c)


def varint_as_blob(col: Column | str) -> Column:
    """Minimal two's-complement bytes (IntegerType.java) — the varint
    marshal codec the sstable format and Murmur3 token path use."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.BinaryType())
    def fn(s: pd.Series) -> pd.Series:
        from cassandra_pmem_spark.marshal import CODECS, _MARSHAL

        pack = CODECS[_MARSHAL + "IntegerType"].pack
        return pd.Series([pack(v) for v in s])

    c = F.col(col) if isinstance(col, str) else col
    return fn(c.cast(T.DecimalType(38, 0)))


def blob_as_varint(col: Column | str) -> Column:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.DecimalType(38, 0))
    def fn(s: pd.Series) -> pd.Series:
        from cassandra_pmem_spark.marshal import CODECS, _MARSHAL

        unpack = CODECS[_MARSHAL + "IntegerType"].unpack
        return pd.Series([unpack(v) for v in s])

    c = F.col(col) if isinstance(col, str) else col
    return fn(c)
