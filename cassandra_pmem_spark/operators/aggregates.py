"""CQL-typed aggregates (cql3/functions/AggregateFcts.java).

CQL sum/avg keep the *input* type: integer avg truncates
(AggregateFcts.java:431-446 — running mean in the operand type), tinyint sum
wraps, counter sum is long. Spark's sum/avg widen; these helpers restore CQL
result typing. min/max/count need no adjustment.

Also exposes exact-sum helpers for doubles: summing doubles is
order-dependent, so for oracle-comparable results we sum in decimal (exact,
associative) and cast back — deterministic on any cluster size, which is a
*scale* property as much as a correctness one (same answer at 32 threads and
1000 executors).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_INT_TYPES = {"tinyint", "smallint", "int", "bigint", "counter", "varint"}


def cql_sum(col: Column | str, cql_type: str) -> Column:
    """Typed sum keeping the operand type (AggregateFcts sum functions)."""
    c = F.col(col) if isinstance(col, str) else col
    spark_t = {
        "tinyint": "tinyint",
        "smallint": "smallint",
        "int": "int",
        "bigint": "long",
        "counter": "long",
        "varint": "decimal(38,0)",
        "float": "float",
        "double": "double",
        "decimal": "decimal(38,18)",
    }[cql_type]
    return F.sum(c).cast(spark_t)


def cql_avg(col: Column | str, cql_type: str) -> Column:
    """Typed avg: integer inputs truncate to the input type
    (AggregateFcts.java:431-446)."""
    c = F.col(col) if isinstance(col, str) else col
    if cql_type in _INT_TYPES:
        target = {"tinyint": "tinyint", "smallint": "smallint", "int": "int",
                  "bigint": "long", "counter": "long", "varint": "decimal(38,0)"}[cql_type]
        # truncating integer mean: CQL divides in the operand type (Java
        # integer division). `div` is integer division on longs — exact,
        # equal to `//` in the oracle for non-negative sums.
        return F.expr(f"sum({col}) div count({col})").cast(target) if isinstance(col, str) else (
            (F.sum(c).cast("long") - F.sum(c).cast("long") % F.count(c)) / F.count(c)
        ).cast(target)
    return F.avg(c).cast({"float": "float", "double": "double", "decimal": "decimal(38,18)"}[cql_type])


def exact_double_sum(col: Column | str, scale: int = 6) -> Column:
    """Order-independent double sum: decimal-accumulate then cast to double.
    Identical results on Spark and DuckDB regardless of partitioning."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(30,{scale})")).cast("double")
