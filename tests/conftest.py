from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from cassandra_pmem_spark.session import get_spark

    s = get_spark("cassandra-pmem-spark-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


def register_duck_views(con, sf_dir: str) -> None:
    from cassandra_pmem_spark.catalog import TABLE_NAMES

    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )


def normalize_rows(rows, colnames):
    """Order-insensitive canonical form mirroring the driver's compare:
    sort columns by name, then sort rows by stringified values."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = repr(v)  # full precision
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def persisted_rdds(spark) -> int:
    """getPersistentRDDs() size once it has settled: the async
    ContextCleaner may still be releasing other tests' collected frames,
    so read until two reads in a row agree. Assert on deltas of this,
    never on a global count."""
    import gc
    import time

    jsc = spark.sparkContext._jsc.sc()
    gc.collect()
    n = jsc.getPersistentRDDs().size()
    for _ in range(10):
        time.sleep(0.2)
        m = jsc.getPersistentRDDs().size()
        if m == n:
            break
        n = m
    return n
