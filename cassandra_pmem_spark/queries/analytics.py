"""Analytics capability layer (SURVEY §2.3/§2.4/§2.5/§2.7 + §2.10 analogs).

CQL has no joins, windows, or set ops — the reference's README calls CQL
"SQL minus joins and subqueries". These are surplus Spark capability the
driver's TPC-H-shaped suite grades, so they're first-class here.

Scale notes: always-tiny dims (region=5/nation=25 rows) broadcast
unconditionally; sf-scaling dims (customer/supplier) go through
`maybe_broadcast` — hinted only while the planner estimate is small, so at
100 TB AQE picks the join strategy instead of force-collecting the table;
fact-fact joins shuffle on the join key with AQE skew splitting; all
double sums decimal-accumulate (order-independent ⇒ same answer at any
parallelism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_pmem_spark.catalog import load_table
from cassandra_pmem_spark.plans.hints import maybe_broadcast
from cassandra_pmem_spark.streaming.windows import session_windows, tumbling_agg

_DEC = "decimal(30,10)"


def _revenue() -> F.Column:
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)


def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation with derived measures."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    ).cast(_DEC)
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double").alias("sum_base_price"),
            F.sum(_revenue()).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(F.col("l_quantity").cast(_DEC)).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(F.col("l_discount").cast(_DEC)).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, grouped revenue, top-10. Customer side is
    broadcast (small dim after segment filter)."""
    cust = load_table(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1997-06-30")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_shipdate") > F.lit("1997-06-30"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join through region/nation with the
    local-supplier constraint (c_nationkey = s_nationkey)."""
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, "nation", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(maybe_broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure predicate pushdown + single global sum."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(_DEC))
        .cast("double")
        .alias("revenue")
    )


def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue by customer, top-20."""
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def analytics_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (orderBy + limit → TakeOrderedAndProject, no full sort)."""
    return (
        load_table(spark, "orders", sf_dir)
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(25)
    )


def analytics_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct aggregates — absent in CQL (SURVEY §2.4), surplus here."""
    return (
        load_table(spark, "orders", sf_dir)
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_cust"),
            F.countDistinct("o_orderpriority").alias("n_prio"),
            F.count("*").alias("n_orders"),
        )
    )


def analytics_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window: top order per customer (SURVEY §2.5 — Window is how we
    realize PER PARTITION LIMIT-like semantics beyond CQL)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        load_table(spark, "orders", sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("top_orderkey"),
            F.col("o_totalprice").alias("top_totalprice"),
        )
    )


def analytics_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame window: per-customer running revenue in clustering order."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_custkey") < 50)
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(F.col("o_totalprice").cast("decimal(30,2)")).over(w).cast("double").alias("running_total"),
        )
    )


def analytics_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT (absent in CQL — SURVEY §2.7)."""
    orders = load_table(spark, "orders", sf_dir)

    def custs(prio: str) -> DataFrame:
        return orders.filter(F.col("o_orderpriority") == prio).select("o_custkey")

    return (
        custs("1-URGENT")
        .union(custs("2-HIGH"))
        .distinct()
        .intersect(custs("5-LOW"))
        .subtract(custs("3-MEDIUM"))
    )


def analytics_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation — the TWCS/time-series read pattern."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour_bucket"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
        )
    )


def streaming_tumbling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling window via F.window — identical code path runs under
    Structured Streaming (tests exercise the streaming mode)."""
    ev = load_table(spark, "events", sf_dir)
    return tumbling_agg(ev, ts_col="ts", duration="1 hour", keys=["event_type"])


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table (staged into a directory once per SF
    — the file source requires a directory). The staged copy is refreshed
    whenever the driver regenerates the source parquet (size/mtime drift)."""
    import os
    import shutil

    from cassandra_pmem_spark.catalog import TABLES

    sf_tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1].replace(".", "_")
    d = f"/root/repo/.scratch/stream_events_{sf_tag}"
    os.makedirs(d, exist_ok=True)
    src = f"{sf_dir}/events.parquet"
    dst = os.path.join(d, "events.parquet")
    s = os.stat(src)
    if (
        not os.path.exists(dst)
        or os.path.getsize(dst) != s.st_size
        or os.path.getmtime(dst) < s.st_mtime
    ):
        shutil.copy2(src, dst)
    return spark.readStream.schema(TABLES["events"].schema).parquet(d)


STREAM_STATE_PARTS = 8  # see _run_stream_to_memory


def _run_stream_to_memory(out: DataFrame, prefix: str, mode: str = "append") -> DataFrame:
    """availableNow → memory sink with a fresh checkpoint; returns the sink
    table (the run IS one complete micro-batch lifecycle).

    State partitioning: a stateful operator opens one state-store provider
    per shuffle partition per micro-batch; for these ONE-SHOT availableNow
    runs that init is the dominant cost (measured: 2.0 s at 32 partitions
    → 0.9 s at 8 for the same data), with no amortizing steady state. The
    state partition count is therefore set to STREAM_STATE_PARTS (8) for
    the duration of the run and restored after. A long-lived deployment
    should size state partitions via cluster conf instead — there the
    per-provider init amortizes over every micro-batch."""
    import shutil
    import tempfile
    import uuid

    spark = out.sparkSession
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    ck = tempfile.mkdtemp(prefix="cps_stream_ck_")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTS))
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ck, ignore_errors=True)
    return spark.table(name)


def streaming_tumbling_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An ACTUAL Structured Streaming run, oracle-verified: readStream →
    1h tumbling windows keyed by event_type with a 2h watermark →
    availableNow → memory sink. Append mode emits exactly the windows whose
    end ≤ final watermark (max event time − 2h) — a deterministic subset
    the DuckDB oracle reproduces with a HAVING-horizon clause."""
    out = tumbling_agg(
        _events_stream(spark, sf_dir),
        ts_col="ts",
        duration="1 hour",
        keys=["event_type"],
        watermark="2 hours",
    )
    return _run_stream_to_memory(out, "st_tumbling")


def streaming_session_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real streaming session windows (30m gap, 1h watermark): merging
    session state finalizes when the watermark passes session end; the
    oracle adds the same horizon filter to the batch sessionization."""
    out = session_windows(
        _events_stream(spark, sf_dir),
        ts_col="ts",
        gap="30 minutes",
        key="user_id",
        watermark="1 hour",
    )
    return _run_stream_to_memory(out, "st_session")


def streaming_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC consumption with at-least-once redelivery, deduplicated
    (db/commitlog/CommitLogSegmentManagerCDC.java:42 source analog;
    hints/ + batchlog/BatchlogManager.java redelivery analog): the staged
    'commit log' directory holds the SAME events segment twice — a full
    redelivery — and dropDuplicatesWithinWatermark on event_id collapses it
    back to exactly-once downstream (streaming/windows.py:93,104). The
    oracle is the plain single-copy aggregate: a hash match proves dedup
    removed every duplicate and nothing else. The memory sink bounds this
    to test SFs; a deployment sinks to parquet/foreachBatch instead."""
    import os
    import shutil

    from cassandra_pmem_spark.catalog import TABLES as _T
    from cassandra_pmem_spark.streaming.windows import dedup_with_watermark, read_cdc_stream

    sf_tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1].replace(".", "_")
    d = f"/root/repo/.scratch/cdc_events_{sf_tag}"
    os.makedirs(d, exist_ok=True)
    src = f"{sf_dir}/events.parquet"
    s = os.stat(src)
    for seg in ("seg0.parquet", "seg1.parquet"):
        dst = os.path.join(d, seg)
        if (
            not os.path.exists(dst)
            or os.path.getsize(dst) != s.st_size
            or os.path.getmtime(dst) < s.st_mtime
        ):
            shutil.copy2(src, dst)
    stream = read_cdc_stream(spark, d, _T["events"].schema)
    deduped = dedup_with_watermark(stream, ["event_id"], ts_col="ts", watermark="1 hour")
    sunk = _run_stream_to_memory(deduped, "st_cdc")
    return sunk.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
    )


def streaming_stateful_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator, REAL streaming run, oracle-verified
    (db/CounterMutation.java:49 running-total analog): per-user counter
    totals folded in applyInPandasWithState (streaming/stateful.py:29),
    update-mode memory sink. The staged source is one file → one
    availableNow micro-batch → exactly one emitted row per user, so the
    plain batch aggregate is an exact oracle. Deltas fold as Python ints —
    commutative and exact, like the reference's counter cells."""
    from cassandra_pmem_spark.streaming.stateful import running_counters

    ev = _events_stream(spark, sf_dir).withColumn(
        "delta", F.floor(F.col("value") * 100).cast("long")
    )
    out = running_counters(ev.select("user_id", "delta"), key_col="user_id", delta_col="delta")
    return _run_stream_to_memory(out, "st_counter", mode="update")


def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream inner join with watermarks on both sides:
    clicks ⋈ purchases for the same user where the purchase lands
    within 2 hours after the click — the attribution-join shape.
    Structured Streaming requires both watermarks plus the event-time
    range bound so each side's buffered state can be evicted once the
    watermark passes; with an availableNow run over a finite source an
    INNER join emits exactly every matching pair (the watermark only
    gates state cleanup, not inner-join emission), so the plain batch
    interval join is an exact oracle."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND purchase_ts >= click_ts "
            "AND purchase_ts < click_ts + INTERVAL 2 HOURS"
        ),
    ).select(
        F.col("c_user").alias("user_id"), "click_id", "purchase_id"
    )
    return _run_stream_to_memory(joined, "st_join")


_STREAM_JOIN_ORACLE = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM (SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'click') c
JOIN (SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 2 HOUR
"""


def streaming_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (gap 30 min) — F.session_window, batch mode; the
    streaming twin is tested with a memory source."""
    ev = load_table(spark, "events", sf_dir)
    return session_windows(ev, ts_col="ts", gap="30 minutes", key="user_id")


_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS sum_qty,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
  CAST(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
  CAST(CAST(SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS sum_charge,
  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

_Q3_ORACLE = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
  CAST(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1997-06-30'
  AND l_shipdate > TIMESTAMP '1997-06-30'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey LIMIT 10
"""

_Q5_ORACLE = """
SELECT n_name,
  CAST(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""

_Q10_ORACLE = """
SELECT c_custkey, c_name, c_acctbal, n_name,
  CAST(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""

_SESSION_ORACLE = """
WITH marks AS (
  SELECT user_id, ts, value, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
         OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, value,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM marks
)
SELECT user_id, min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end,
  COUNT(*) AS n_events,
  CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS sum_value
FROM sessions GROUP BY user_id, sess
"""

def temporal_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN (operators/temporal.asof_join — the time-series join
    Spark lacks as a built-in, via the one-shuffle union-and-window
    formulation): every event attaches its user's most recent hourly
    click rollup at or before its timestamp; events before the user's
    first click hour keep NULLs. The oracle is DuckDB's NATIVE ASOF
    LEFT JOIN — the semantics are checked against an engine that ships
    the operator."""
    from cassandra_pmem_spark.operators.temporal import asof_join

    ev = load_table(spark, "events", sf_dir)
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(
            "user_id", F.date_trunc("hour", F.col("ts")).alias("rts")
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    left = ev.select("event_id", "user_id", "ts")
    return asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="rts",
        value_cols=["cents"],
    )


_ASOF_ORACLE = """
WITH r AS (
  SELECT user_id, date_trunc('hour', ts) AS rts,
    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
), l AS (
  SELECT event_id, user_id, ts FROM events
)
SELECT l.event_id, l.user_id, l.ts,
  r.rts AS asof_rts, r.cents AS asof_cents
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.rts
"""


def temporal_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward AS-OF JOIN (operators/temporal.asof_join
    direction='forward' — pandas merge_asof direction='forward'):
    every event attaches its user's NEXT hourly click rollup at or
    after its timestamp; events after the user's last click hour keep
    NULLs. Same one-shuffle union-and-window shape as backward, with
    the frame ahead instead of behind. The oracle is DuckDB's native
    ASOF LEFT JOIN with the <= comparison — forward semantics checked
    against an engine that ships the operator."""
    from cassandra_pmem_spark.operators.temporal import asof_join

    ev = load_table(spark, "events", sf_dir)
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(
            "user_id", F.date_trunc("hour", F.col("ts")).alias("rts")
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    left = ev.select("event_id", "user_id", "ts")
    return asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="rts",
        value_cols=["cents"], direction="forward",
    )


_ASOF_FORWARD_ORACLE = """
WITH r AS (
  SELECT user_id, date_trunc('hour', ts) AS rts,
    CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
), l AS (
  SELECT event_id, user_id, ts FROM events
)
SELECT l.event_id, l.user_id, l.ts,
  r.rts AS asof_rts, r.cents AS asof_cents
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.rts
"""


def temporal_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join (operators/temporal.range_join): every
    event that falls inside a same-user 10-minute error window pairs
    with that window — via the bucketized equi-join that keeps Catalyst
    off the nested-loop path. The oracle is the plain inequality join;
    equality proves the bucket decomposition loses and invents
    nothing."""
    from cassandra_pmem_spark.operators.temporal import range_join

    ev = load_table(spark, "events", sf_dir)
    intervals = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("interval_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_ts"),
    )
    points = ev.select(F.col("event_id").alias("point_id"), "user_id", "ts")
    out = range_join(
        points, intervals, key="user_id", point_ts="ts",
        start_col="start_ts", end_col="end_ts",
    )
    return out.select("point_id", "interval_id", "user_id")


_RANGE_JOIN_ORACLE = """
SELECT p.event_id AS point_id, i.event_id AS interval_id, p.user_id
FROM events p
JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') i
  ON p.user_id = i.user_id
 AND p.ts >= i.ts AND p.ts < i.ts + INTERVAL 10 MINUTE
"""


def temporal_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable rollup cascade (operators/temporal.rollup_cascade —
    the continuous-aggregate contract): hourly aggregates derived from
    15-minute PARTIALS, never from raw data. The oracle aggregates the
    raw table directly at the hour — equality proves the
    partial-merge decomposition exact."""
    from cassandra_pmem_spark.operators.temporal import rollup_cascade

    ev = load_table(spark, "events", sf_dir).withColumn(
        "cents", F.floor(F.col("value") * 100).cast("long")
    )
    out = rollup_cascade(
        ev, "ts", ["event_type"], {"n_events": "count", "cents": "cents"},
        fine="15 minutes", coarse_trunc="hour",
    )
    return out.select(
        "event_type",
        "bucket",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("cents").cast("long").alias("cents"),
    )


_ROLLUP_ORACLE = """
SELECT event_type, date_trunc('hour', ts) AS bucket,
  count(*) AS n_events,
  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY 1, 2
"""


def temporal_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series per event_type with LOCF
    (operators/temporal.gapfill_locf — the hypertable
    time_bucket_gapfill+locf contract): hours with no events appear in
    the output carrying the previous hour's cents forward, flagged
    is_gap. The oracle regenerates the dense grid with
    generate_series and replays LOCF as an IGNORE NULLS window —
    equality proves grid + fill exact."""
    from cassandra_pmem_spark.operators.temporal import gapfill_locf

    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("b"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        F.count("*").cast("long").alias("n_events"),
    )
    return gapfill_locf(
        hourly, ["event_type"], "b", ["cents", "n_events"],
        bucket_seconds=3600,
    )


_GAPFILL_ORACLE = """
WITH agg AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
), span AS (
  SELECT event_type, min(b) AS lo, max(b) AS hi FROM agg GROUP BY 1
), grid AS (
  SELECT event_type, unnest(generate_series(lo, hi)) AS b FROM span
)
SELECT g.event_type,
  make_timestamp(g.b * 3600 * 1000000) AS bucket,
  last_value(a.cents IGNORE NULLS) OVER w AS cents,
  last_value(a.n_events IGNORE NULLS) OVER w AS n_events,
  a.cents IS NULL AS is_gap
FROM grid g LEFT JOIN agg a USING (event_type, b)
WINDOW w AS (PARTITION BY g.event_type ORDER BY g.b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def analytics_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a new session starts
    when a user's inter-event gap exceeds 6 hours; session ids are the
    running count of session starts — one lag + one running sum over
    the SAME per-user window (one shuffle), then per-session stats.
    This is the batch twin of streaming/windows.py session windows;
    the oracle replays the identical two-window SQL."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)
    tagged = ev.withColumn(
        "__new_s",
        F.when(gap.isNull() | (gap > 21600), F.lit(1)).otherwise(F.lit(0)),
    ).withColumn(
        "session_idx",
        F.sum("__new_s")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return tagged.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
    )


_SESSIONIZATION_ORACLE = """
WITH t AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch(ts) - epoch(lag(ts) OVER w) > 21600
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, value,
    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS session_idx
  FROM t
)
SELECT user_id, session_idx, count(*) AS n_events,
  min(ts) AS session_start, max(ts) AS session_end,
  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM s GROUP BY 1, 2
"""


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def analytics_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT surplus (SURVEY §2.4 — CQL has none): per user-cohort
    event counts pivoted into one column per event type. The pivot
    value list is the fixture's closed event_type domain (TESTDATA.md)
    — explicit values keep the plan static (no dry-run distinct scan)
    and the output schema deterministic; absent combinations coalesce
    to 0 exactly as the oracle's COUNT(*) FILTER does."""
    ev = load_table(spark, "events", sf_dir)
    pv = (
        ev.groupBy((F.col("user_id") % 10).alias("cohort"))
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
    )
    return pv.select(
        "cohort",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


_PIVOT_ORACLE = """
SELECT user_id % 10 AS cohort,
  COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
  COUNT(*) FILTER (WHERE event_type = 'error') AS n_error,
  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
  COUNT(*) FILTER (WHERE event_type = 'signup') AS n_signup,
  COUNT(*) FILTER (WHERE event_type = 'view') AS n_view
FROM events GROUP BY 1
"""


def analytics_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join (operators/skew.salted_join): events (big,
    skewed side) join a per-type dimension through an 8-bucket salt —
    the big side salts, the small side replicates 8×, so a hot key's
    rows spread across 8 tasks instead of one. The oracle is the PLAIN
    join + aggregate — equality proves salting is a pure physical
    rewrite with no semantic residue (no lost/duplicated rows)."""
    from cassandra_pmem_spark.operators.skew import salted_join

    ev = load_table(spark, "events", sf_dir).select(
        "event_type", "user_id", "value"
    )
    dim = load_table(spark, "events", sf_dir).groupBy("event_type").agg(
        F.count("*").alias("type_total")
    )
    joined = salted_join(ev, dim, on=["event_type"])
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        F.max("type_total").alias("type_total"),
    )


_SALTED_JOIN_ORACLE = """
WITH dim AS (
  SELECT event_type, count(*) AS type_total FROM events GROUP BY 1
)
SELECT e.event_type, count(*) AS n,
  CAST(SUM(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT) AS cents,
  max(d.type_total) AS type_total
FROM events e JOIN dim d USING (event_type)
GROUP BY 1
"""


def temporal_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (operators/temporal.interval_overlap_join):
    same-user 10-minute error windows × 10-minute purchase windows that
    overlap in time — the both-sides bucket decomposition of the range
    join. The oracle is the plain inequality join."""
    from cassandra_pmem_spark.operators.temporal import interval_overlap_join

    ev = load_table(spark, "events", sf_dir)

    def windows(kind, idc):
        return ev.filter(F.col("event_type") == kind).select(
            F.col("event_id").alias(idc),
            "user_id",
            F.col("ts").alias(f"{idc}_start"),
            (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias(f"{idc}_end"),
        )

    out = interval_overlap_join(
        windows("error", "err_id"),
        windows("purchase", "buy_id"),
        key="user_id",
        left_start="err_id_start", left_end="err_id_end",
        right_start="buy_id_start", right_end="buy_id_end",
    )
    return out.select("err_id", "buy_id", "user_id")


_OVERLAP_ORACLE = """
SELECT e.event_id AS err_id, p.event_id AS buy_id, e.user_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id
 AND e.ts < p.ts + INTERVAL 10 MINUTE
 AND p.ts < e.ts + INTERVAL 10 MINUTE
"""


def analytics_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 history derivation: treating each user's events as a
    change log, every row becomes a validity interval [ts, next_ts)
    via one lead() window — the warehouse pattern that turns mutation
    logs into as-of-queryable history (the batch analog of the
    reference's timestamped cells). Open intervals carry NULL
    valid_to. One shuffle (the per-user window)."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )


_SCD2_ORACLE = """
SELECT user_id, event_id, ts AS valid_from,
  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
  event_type,
  CAST(floor(value * 100) AS BIGINT) AS cents
FROM events
"""


def analytics_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: per user, did signup → click → purchase
    happen IN ORDER (each stage strictly after the previous one's first
    occurrence)? Expressed as three conditional-min aggregates + order
    predicates — one shuffle, no self-joins, the product-analytics
    shape that scales as a single grouped pass."""
    ev = load_table(spark, "events", sf_dir)

    def first_ts(kind):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts")))

    agg = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    reached_click = F.col("t_signup").isNotNull() & (
        F.col("t_click") > F.col("t_signup")
    )
    reached_purchase = reached_click & (F.col("t_purchase") > F.col("t_click"))
    return agg.select(
        "user_id",
        F.col("t_signup").isNotNull().alias("s1_signup"),
        F.coalesce(reached_click, F.lit(False)).alias("s2_click"),
        F.coalesce(reached_purchase, F.lit(False)).alias("s3_purchase"),
    )


_FUNNEL_ORACLE = """
WITH a AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY 1
)
SELECT user_id,
  t_signup IS NOT NULL AS s1_signup,
  COALESCE(t_signup IS NOT NULL AND t_click > t_signup, FALSE) AS s2_click,
  COALESCE(t_signup IS NOT NULL AND t_click > t_signup
           AND t_purchase > t_click, FALSE) AS s3_purchase
FROM a
"""


def analytics_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-activity day
    (their cohort), counted by how many days after the cohort day they
    were active — the signup-retention triangle. Two aggregations (the
    per-user first-day frame is small and re-joins broadcastable); day
    arithmetic is exact integer date math in both engines."""
    ev = load_table(spark, "events", sf_dir)
    first = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    active = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    return (
        active.join(F.broadcast(first), "user_id")
        .select(
            # midnight timestamp, not DATE: Spark DateType collects as
            # pandas `object` while DuckDB DATE arrives datetime64 — the
            # gate's dtype check would warn on every run and mask a real
            # object-dtype regression. Both sides cast to TIMESTAMP.
            F.col("cohort_day").cast("timestamp").alias("cohort_day"),
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_users"))
    )


_RETENTION_ORACLE = """
WITH first AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY 1
), active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
)
SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day,
  CAST(a.day - f.cohort_day AS BIGINT) AS day_offset,
  count(*) AS n_users
FROM active a JOIN first f USING (user_id)
GROUP BY 1, 2
"""


QUERIES = {
    "temporal_asof_join": (temporal_asof_join, _ASOF_ORACLE),
    "temporal_asof_forward": (temporal_asof_forward, _ASOF_FORWARD_ORACLE),
    "temporal_overlap_join": (temporal_overlap_join, _OVERLAP_ORACLE),
    "analytics_scd2_intervals": (analytics_scd2_intervals, _SCD2_ORACLE),
    "analytics_funnel": (analytics_funnel, _FUNNEL_ORACLE),
    "analytics_retention_cohorts": (
        analytics_retention_cohorts,
        _RETENTION_ORACLE,
    ),
    "temporal_range_join": (temporal_range_join, _RANGE_JOIN_ORACLE),
    "temporal_gapfill_locf": (temporal_gapfill_locf, _GAPFILL_ORACLE),
    "analytics_sessionization": (
        analytics_sessionization,
        _SESSIONIZATION_ORACLE,
    ),
    "analytics_pivot": (analytics_pivot, _PIVOT_ORACLE),
    "analytics_salted_join": (analytics_salted_join, _SALTED_JOIN_ORACLE),
    "temporal_rollup_cascade": (temporal_rollup_cascade, _ROLLUP_ORACLE),
    "tpch_q1_pricing_summary": (tpch_q1_pricing_summary, _Q1_ORACLE),
    "tpch_q3_shipping_priority": (tpch_q3_shipping_priority, _Q3_ORACLE),
    "tpch_q5_local_supplier": (tpch_q5_local_supplier, _Q5_ORACLE),
    "tpch_q6_forecast_revenue": (
        tpch_q6_forecast_revenue,
        "SELECT CAST(CAST(SUM(CAST(l_extendedprice*l_discount AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) AS revenue "
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
        "AND l_shipdate < TIMESTAMP '1998-01-01' "
        "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24",
    ),
    "tpch_q10_returned_items": (tpch_q10_returned_items, _Q10_ORACLE),
    "analytics_topk_orders": (
        analytics_topk_orders,
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 25",
    ),
    "analytics_count_distinct": (
        analytics_count_distinct,
        "SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, "
        "count(DISTINCT o_orderpriority) AS n_prio, count(*) AS n_orders "
        "FROM orders GROUP BY o_orderstatus",
    ),
    "analytics_window_rank": (
        analytics_window_rank,
        "SELECT o_custkey, o_orderkey AS top_orderkey, o_totalprice AS top_totalprice FROM ("
        " SELECT o_custkey, o_orderkey, o_totalprice,"
        " row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn"
        " FROM orders) WHERE rn = 1",
    ),
    "analytics_window_running": (
        analytics_window_running,
        "SELECT o_custkey, o_orderkey, "
        "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) OVER ("
        "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_total "
        "FROM orders WHERE o_custkey < 50",
    ),
    "analytics_set_ops": (
        analytics_set_ops,
        "(SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT' "
        " UNION SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH') "
        "INTERSECT SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW' "
        "EXCEPT SELECT o_custkey FROM orders WHERE o_orderpriority = '3-MEDIUM'",
    ),
    "analytics_events_hourly": (
        analytics_events_hourly,
        "SELECT date_trunc('hour', ts) AS hour_bucket, event_type, count(*) AS n, "
        "CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS sum_value "
        "FROM events GROUP BY 1, 2",
    ),
    "streaming_tumbling_batch": (
        streaming_tumbling_batch,
        "SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS n_events, "
        "CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS sum_value "
        "FROM events GROUP BY 1, 2",
    ),
    "streaming_session_batch": (streaming_session_batch, _SESSION_ORACLE),
    "streaming_tumbling_real": (
        streaming_tumbling_real,
        """
        WITH horizon AS (SELECT max(ts) - INTERVAL 2 HOUR AS wm FROM events)
        SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS n_events,
          CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
        HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT wm FROM horizon)
        """,
    ),
    "streaming_session_real": (
        streaming_session_real,
        _SESSION_ORACLE.rstrip()
        + "\nHAVING max(ts) + INTERVAL 30 MINUTE <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)\n",
    ),
    "streaming_stream_join": (streaming_stream_join, _STREAM_JOIN_ORACLE),
    "streaming_stateful_counters": (
        streaming_stateful_counters,
        "SELECT user_id, CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total, "
        "count(*) AS n_updates FROM events GROUP BY 1",
    ),
    "streaming_cdc_dedup": (
        streaming_cdc_dedup,
        "SELECT event_type, count(*) AS n, "
        "CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents "
        "FROM events GROUP BY 1",
    ),
}
