"""Physical-plan regression tests — the scale contract, asserted.

Correctness tests prove the answers; these prove the *plans*: filters reach
the Parquet scan, dimensions broadcast, bucketed joins skip the Exchange,
salting spreads hot keys. A plan regression here is a 100 TB incident that
a row-count test would never catch.
"""

from __future__ import annotations

import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cassandra_pmem_spark.catalog import load_table
from cassandra_pmem_spark.operators.skew import salted_aggregate, salted_join
from cassandra_pmem_spark.sources.bucketing import bucketize, co_located_join
from tests.conftest import SF_SMALL


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestMaterialize:
    """plans.hints.materialize — the shared lineage-truncation primitive
    behind the iterative loops and proxy frames (r14)."""

    def test_lazy_truncates_plan_before_any_action(self, spark):
        from cassandra_pmem_spark.plans.hints import materialize

        df = spark.range(100).selectExpr("id", "id * 2 AS v")
        out = materialize(df.groupBy((F.col("id") % 10).alias("k")).agg(
            F.sum("v").alias("s")
        ), eager=False)
        # plan truncated NOW (LogicalRDD leaf, no Aggregate) even though
        # nothing has run yet — iterative loops rely on this to keep
        # round-over-round plans flat while the convergence probe is the
        # materializing action
        logical = out._jdf.queryExecution().analyzed().toString()
        assert "Aggregate" not in logical
        assert out.count() == 10

    def test_eager_matches_lazy_rows(self, spark):
        from cassandra_pmem_spark.plans.hints import materialize

        df = spark.range(50).selectExpr("id", "id % 7 AS k")
        a = sorted(tuple(r) for r in materialize(df).collect())
        b = sorted(tuple(r) for r in materialize(df, eager=False).collect())
        assert a == b

    def test_reliable_checkpoint_env_gate(self, spark, monkeypatch, tmp_path):
        from cassandra_pmem_spark.plans.hints import materialize

        monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
        monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ck"))
        df = spark.range(20).selectExpr("id", "id + 1 AS v")
        out = materialize(df)
        assert sorted(r.v for r in out.collect()) == list(range(1, 21))
        # the reliable checkpoint actually landed in the configured dir
        ckdir = spark.sparkContext._jsc.sc().getCheckpointDir()
        assert not ckdir.isEmpty() and str(tmp_path / "ck") in ckdir.get()

    @pytest.mark.parametrize(
        "engine", ["connected_components", "connected_components_star"]
    )
    def test_reliable_lazy_rounds_release_their_pins(
        self, spark, monkeypatch, tmp_path, engine
    ):
        # under the reliable checkpoint a lazy round persists its frame to
        # write the checkpoint files; a 16-node chain takes both engines
        # at least 3 rounds, and none of those pins may outlive its round
        from cassandra_pmem_spark.pipeline import dedup
        from tests.conftest import persisted_rdds

        monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
        monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ck"))
        n = 16
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "a long, b long"
        )
        verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        before = persisted_rdds(spark)
        got = getattr(dedup, engine)(edges, verts, max_iter=n + 1).collect()
        assert {r.comp for r in got} == {0} and len(got) == n
        assert persisted_rdds(spark) <= before


class TestPushdownAndBroadcast:
    def test_filter_reaches_parquet_scan(self, spark):
        df = (
            load_table(spark, "lineitem", SF_SMALL)
            .filter(F.col("l_shipdate") > "1997-06-30")
            .select("l_orderkey", "l_extendedprice")
        )
        plan = plan_of(df)
        assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan
        # column pruning: read schema carries only the needed columns
        assert "l_tax" not in plan

    def test_dimension_join_broadcasts(self, spark):
        from cassandra_pmem_spark.queries.analytics import tpch_q3_shipping_priority

        plan = plan_of(tpch_q3_shipping_priority(spark, SF_SMALL))
        assert "BroadcastHashJoin" in plan

    def test_topk_uses_take_ordered(self, spark):
        from cassandra_pmem_spark.queries.analytics import analytics_topk_orders

        assert "TakeOrderedAndProject" in plan_of(analytics_topk_orders(spark, SF_SMALL))

    def test_q21_has_no_expand(self, spark):
        """The multi-countDistinct rewrite: no Expand node → shuffle volume
        is 1× not 3× (see tpch_q21 docstring)."""
        from cassandra_pmem_spark.queries.tpch_more import tpch_q21_waiting_supplier

        assert "Expand" not in plan_of(tpch_q21_waiting_supplier(spark, SF_SMALL))


class TestBroadcastGate:
    """maybe_broadcast: hint small frames, never force scale-growing ones."""

    def test_small_frame_gets_hint(self, spark):
        from cassandra_pmem_spark.plans.hints import maybe_broadcast

        nation = load_table(spark, "nation", SF_SMALL)
        hinted = maybe_broadcast(nation)
        assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()

    def test_over_threshold_returns_unhinted(self, spark):
        from cassandra_pmem_spark.plans.hints import maybe_broadcast

        li = load_table(spark, "lineitem", SF_SMALL)
        # max_bytes=0 simulates the 100 TB case where the planner estimate
        # exceeds any sane broadcast cap: the frame comes back untouched
        assert maybe_broadcast(li, max_bytes=0) is li

    def test_q17_aggregate_is_never_force_broadcast(self, spark):
        """Round-1 regression: q17 hinted both the part dim AND the per-part
        avg aggregate (unbounded at scale). Now only the Brand#3 partkey
        list may carry a hint; the aggregate join is left to AQE."""
        from cassandra_pmem_spark.queries.tpch_more import tpch_q17_small_qty_revenue

        analyzed = (
            tpch_q17_small_qty_revenue(spark, SF_SMALL)
            ._jdf.queryExecution()
            .analyzed()
            .toString()
        )
        lines = analyzed.splitlines()
        for i, ln in enumerate(lines):
            if "ResolvedHint" in ln:
                assert "Aggregate" not in lines[i + 1], analyzed


class TestBucketing:
    @pytest.fixture(scope="class")
    def warehouse(self, spark):
        d = tempfile.mkdtemp(prefix="cps_buckets_")
        yield d
        for t in ("b_orders", "b_lineitem"):
            try:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            except Exception:
                pass
        shutil.rmtree(d, ignore_errors=True)

    def test_bucketed_join_elides_exchange(self, spark, warehouse):
        orders = load_table(spark, "orders", SF_SMALL).withColumnRenamed(
            "o_orderkey", "okey"
        )
        li = load_table(spark, "lineitem", SF_SMALL).withColumnRenamed(
            "l_orderkey", "okey"
        )
        bucketize(orders, "b_orders", ["okey"], num_buckets=8)
        bucketize(li, "b_lineitem", ["okey"], num_buckets=8)

        joined = co_located_join(spark, "b_lineitem", "b_orders", on=["okey"])
        plan = plan_of(joined)
        assert "Exchange hashpartitioning" not in plan, plan
        # sanity: result matches the unbucketed join
        want = li.join(orders, "okey").count()
        assert joined.count() == want

    def test_bucketed_groupby_elides_exchange(self, spark, warehouse):
        grouped = spark.table("b_lineitem").groupBy("okey").agg(F.count("*").alias("n"))
        assert "Exchange hashpartitioning" not in plan_of(grouped)


class TestSkew:
    def test_salted_aggregate_matches_plain(self, spark):
        li = load_table(spark, "lineitem", SF_SMALL)
        got = salted_aggregate(
            li,
            key=["l_returnflag"],
            partial_aggs=[
                F.count("*").alias("c"),
                F.sum(F.col("l_quantity").cast("decimal(30,6)")).alias("s"),
            ],
            merge_aggs=[
                F.sum("c").alias("n"),
                F.sum("s").cast("double").alias("sum_qty"),
            ],
        )
        want = li.groupBy("l_returnflag").agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(30,6)")).cast("double").alias("sum_qty"),
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    def test_salted_join_matches_plain(self, spark):
        li = load_table(spark, "lineitem", SF_SMALL).select("l_orderkey", "l_quantity")
        orders = load_table(spark, "orders", SF_SMALL).select("o_orderkey", "o_orderpriority")
        got = salted_join(
            li, orders.withColumnRenamed("o_orderkey", "l_orderkey"), on=["l_orderkey"]
        )
        want = li.join(
            orders.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey"
        )
        assert got.count() == want.count()
        # the salted big side really fans out over multiple salt values
        salted = li.withColumn(
            "__salt", F.abs(F.xxhash64(*[F.col(c) for c in li.columns])) % 8
        )
        assert salted.select("__salt").distinct().count() > 1


class TestRound4Plans:
    def test_timestamp_token_scan_pushes_bound_filter(self, spark):
        """The event_id bound must reach the Parquet scan — at 100 TB the
        token UDF only sees the filtered slice, never the full table."""
        from cassandra_pmem_spark.queries.cql_queries import cql_token_scan_timestamp

        plan = plan_of(cql_token_scan_timestamp(spark, SF_SMALL))
        assert "PushedFilters" in plan and "LessThan(event_id,1500)" in plan
        # projection pruning: untouched wide columns stay out of the scan
        assert "props" not in plan

    def test_color_jpeg_pipeline_is_shuffle_free(self, spark):
        """Encode → decode → features is a pure mapInPandas chain: zero
        Exchanges; the stage parallelism is the scan parallelism."""
        from cassandra_pmem_spark.pipeline.multimodal import (
            extract_image_features,
            jpeg_encode_color_stage,
        )

        docs = (
            load_table(spark, "documents", SF_SMALL)
            .select(
                F.col("doc_id").alias("item_id"),
                F.col("text").cast("binary").alias("data"),
            )
        )
        feats = extract_image_features(
            jpeg_encode_color_stage(docs), dim=8, fake_decode=False
        )
        assert "Exchange" not in plan_of(feats)


class TestThirdWavePlans:
    """Physical-plan shape asserts for the second-session round-4
    operators — the 100 TB contract, checked in the plan text."""

    def test_pii_and_urls_are_shuffle_free(self, spark):
        from cassandra_pmem_spark.pipeline.pii import pii_counts, redact_pii
        from cassandra_pmem_spark.pipeline.urls import normalize_url

        docs = load_table(spark, "documents", SF_SMALL)
        out = pii_counts(docs, "text").select(redact_pii("text").alias("r"))
        assert "Exchange" not in plan_of(out)
        assert "Exchange" not in plan_of(
            docs.select(normalize_url("text").alias("u"))
        )

    def test_chunking_is_narrow(self, spark):
        from cassandra_pmem_spark.pipeline.packing import chunk_documents

        docs = load_table(spark, "documents", SF_SMALL)
        assert "Exchange" not in plan_of(chunk_documents(docs))

    def test_epoch_shuffle_single_exchange(self, spark):
        from cassandra_pmem_spark.pipeline.packing import epoch_shuffle

        docs = load_table(spark, "documents", SF_SMALL)
        plan = plan_of(epoch_shuffle(docs))
        assert plan.count("Exchange") == 1  # the per-shard rank window

    def test_sq8_broadcasts_queries_and_scans_corpus_once(self, spark):
        from cassandra_pmem_spark.pipeline.quantization import sq8_topk

        emb = load_table(spark, "embeddings", SF_SMALL)
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        plan = plan_of(sq8_topk(emb, queries, k=3))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        # the integer dot product runs as expressions, not Python
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    def test_decontaminate_probe_stays_off_the_corpus_shuffle(self, spark):
        from cassandra_pmem_spark.pipeline.decontaminate import contamination

        docs = load_table(spark, "documents", SF_SMALL).select("doc_id", "text")
        bench = docs.limit(3).select("text")
        plan = plan_of(contamination(docs, bench))
        assert "BroadcastHashJoin" in plan

    def test_countmin_and_histogram_partial_aggregate(self, spark):
        """Sketch builds must map-side combine: a partial_count /
        partial aggregation before the exchange."""
        from cassandra_pmem_spark.pipeline.sketch import (
            countmin_build,
            histogram_bins,
        )

        orders = load_table(spark, "orders", SF_SMALL)
        plan = plan_of(countmin_build(orders, "o_custkey"))
        assert "partial_count" in plan or "partial" in plan.lower()
        events = load_table(spark, "events", SF_SMALL)
        plan2 = plan_of(histogram_bins(events, "value"))
        assert "partial" in plan2.lower()


class TestTemporalPlans:
    def test_asof_join_is_one_exchange(self, spark):
        """The union-and-window as-of join must spend exactly one
        shuffle (the per-key window) — no join exchange at all."""
        import datetime as dt

        import pandas as pd

        from cassandra_pmem_spark.operators.temporal import asof_join

        t0 = dt.datetime(2024, 1, 1)
        left = spark.createDataFrame(
            pd.DataFrame({"pid": [1], "k": [1], "ts": [t0]})
        )
        right = spark.createDataFrame(
            pd.DataFrame({"k": [1], "rts": [t0], "v": [1]})
        )
        plan = plan_of(
            asof_join(left, right, "k", "ts", "rts", ["v"])
        )
        assert plan.count("Exchange") == 1
        fwd = plan_of(
            asof_join(
                left, right, "k", "ts", "rts", ["v"],
                direction="forward",
            )
        )
        assert fwd.count("Exchange") == 1


class TestZorderLayout:
    def test_morton_matches_python_reference(self, spark):
        """The mask-shift spread must equal naive bit interleaving."""
        import pandas as pd

        from cassandra_pmem_spark.sources.zorder import morton_code

        def ref(a, b):
            z = 0
            for i in range(16):
                z |= ((a >> i) & 1) << (2 * i)
                z |= ((b >> i) & 1) << (2 * i + 1)
            return z

        vals = [(0, 0), (1, 0), (0, 1), (65535, 65535), (1234, 4321),
                (255, 256), (32768, 1)]
        df = spark.createDataFrame(
            pd.DataFrame({"a": [v[0] for v in vals],
                          "b": [v[1] for v in vals]})
        )
        got = [
            r["z"]
            for r in df.select(
                morton_code(F.col("a"), F.col("b")).alias("z")
            ).collect()
        ]
        assert got == [ref(a, b) for a, b in vals]

    def test_zorder_write_prunes_in_both_dimensions(self, spark, tmp_path):
        """Range-partitioning files by the Morton code must leave every
        file covering a narrow min/max rectangle in BOTH dimensions —
        the footer stats a 100 TB scan prunes on. Compare against a
        single-dimension sort layout, where the second dimension's
        per-file span stays full-range."""
        import pandas as pd
        import pyarrow.parquet as pq

        from cassandra_pmem_spark.sources.zorder import zorder_write

        n = 1 << 12
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "x": [i % 64 for i in range(n)],
                    "y": [(i * 37) % 64 for i in range(n)],
                }
            )
        )
        path = str(tmp_path / "zord")
        zorder_write(df, "x", "y", path, n_files=16)

        import glob

        spans = []
        for f in sorted(glob.glob(path + "/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            lo = {"x": 64, "y": 64}
            hi = {"x": -1, "y": -1}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in lo:
                        st = col.statistics
                        lo[name] = min(lo[name], st.min)
                        hi[name] = max(hi[name], st.max)
            spans.append((hi["x"] - lo["x"], hi["y"] - lo["y"]))
        assert len(spans) >= 8
        # every file covers well under the full 0..63 range in BOTH dims
        assert all(sx <= 32 and sy <= 32 for sx, sy in spans), spans
        # and a point filter on EITHER dim overlaps only a minority of
        # files (the pruning a single-dim sort gives one dim only)
        files = []
        for f in sorted(glob.glob(path + "/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            stats = {}
            for ci in range(md.num_columns):
                col = md.row_group(0).column(ci)
                stats[col.path_in_schema] = (
                    col.statistics.min, col.statistics.max,
                )
            files.append(stats)
        for dim in ("x", "y"):
            matching = sum(
                1 for st in files if st[dim][0] <= 5 <= st[dim][1]
            )
            assert matching <= len(files) // 2, (dim, matching, files)


class TestCompaction:
    def test_compaction_reduces_files_and_preserves_rows(
        self, spark, tmp_path
    ):
        import glob

        import pandas as pd

        from cassandra_pmem_spark.sources.compaction import (
            compact_parquet_dir,
        )

        path = str(tmp_path / "frag")
        df = spark.createDataFrame(
            pd.DataFrame({"k": list(range(10_000)),
                          "v": [i * 3 for i in range(10_000)]})
        )
        df.repartition(40).write.parquet(path)
        n_before = len(glob.glob(path + "/part-*.parquet"))
        rows_before = spark.read.parquet(path).count()
        checksum_before = (
            spark.read.parquet(path).agg(F.sum("v")).collect()[0][0]
        )

        stats = compact_parquet_dir(
            spark, path, target_bytes=1 << 30, sort_cols=["k"]
        )
        n_after = len(glob.glob(path + "/part-*.parquet"))
        assert stats["files_before"] == n_before >= 40
        assert stats["files_after"] == n_after == 1
        assert spark.read.parquet(path).count() == rows_before
        assert (
            spark.read.parquet(path).agg(F.sum("v")).collect()[0][0]
            == checksum_before
        )
        # no staging/old residue after publish
        assert not glob.glob(str(tmp_path / "frag.compact-*"))

    def test_crash_between_renames_rolls_forward(self, spark, tmp_path):
        """A crash after the audit marker is stamped but mid-swap must
        recover to the COMPACTED data, not a missing table."""
        import os

        import pandas as pd

        from cassandra_pmem_spark.sources.compaction import (
            _AUDIT_MARKER,
            recover_compaction,
        )

        path = str(tmp_path / "fwd")
        df = spark.createDataFrame(pd.DataFrame({"k": list(range(100))}))
        df.repartition(4).write.parquet(path)
        # simulate: staging written + audited, old moved aside, then crash
        staging, old = path + ".compact-staging", path + ".compact-old"
        spark.read.parquet(path).repartition(1).write.parquet(staging)
        with open(os.path.join(staging, _AUDIT_MARKER), "w") as fh:
            fh.write("100\n")
        os.rename(path, old)
        assert recover_compaction(path) == "rolled-forward"
        assert spark.read.parquet(path).count() == 100
        assert not os.path.isdir(old) and not os.path.isdir(staging)

    def test_crash_before_audit_rolls_back(self, spark, tmp_path):
        """Without the audit marker the original directory is restored
        and the unaudited staging discarded."""
        import os

        import pandas as pd

        from cassandra_pmem_spark.sources.compaction import recover_compaction

        path = str(tmp_path / "bwd")
        df = spark.createDataFrame(pd.DataFrame({"k": list(range(50))}))
        df.repartition(2).write.parquet(path)
        staging, old = path + ".compact-staging", path + ".compact-old"
        spark.read.parquet(path).limit(10).write.parquet(staging)  # torn
        os.rename(path, old)
        assert recover_compaction(path) == "rolled-back"
        assert spark.read.parquet(path).count() == 50
        assert not os.path.isdir(old) and not os.path.isdir(staging)

    def test_compaction_clusters_footers_on_sort_cols(self, spark, tmp_path):
        """With a range sort, rewritten files must carry non-overlapping
        min/max key ranges — compaction doubles as re-clustering."""
        import glob

        import pandas as pd
        import pyarrow.parquet as pq

        from cassandra_pmem_spark.sources.compaction import (
            compact_parquet_dir,
        )

        path = str(tmp_path / "clust")
        df = spark.createDataFrame(
            pd.DataFrame({"k": [(i * 7919) % 10_000 for i in range(10_000)]})
        )
        df.repartition(16).write.parquet(path)
        size = sum(
            __import__("os").path.getsize(f)
            for f in glob.glob(path + "/part-*.parquet")
        )
        compact_parquet_dir(
            spark, path, target_bytes=max(1, size // 4), sort_cols=["k"]
        )
        ranges = []
        for f in glob.glob(path + "/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            st = md.row_group(0).column(0).statistics
            ranges.append((st.min, st.max))
        ranges.sort()
        assert len(ranges) >= 3
        for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2  # non-overlapping key ranges


class TestDynamicPartitionPruning:
    def test_dpp_subquery_appears_for_partitioned_fact(self, spark, tmp_path):
        """Joining a date-partitioned fact on its partition column with a
        filtered dim must plan a dynamicpruning partition filter — the
        runtime partition skip that replaces the reference's token-range
        elimination at the lake layer."""
        import pandas as pd

        fact_path = str(tmp_path / "fact")
        fact = spark.createDataFrame(
            pd.DataFrame(
                {
                    "p": [i % 20 for i in range(5_000)],
                    "v": list(range(5_000)),
                }
            )
        )
        fact.write.partitionBy("p").parquet(fact_path)
        # the dim must be a real source relation: a LocalRelation dim gets
        # its filter constant-folded away (ConvertToLocalRelation), leaving
        # no selective predicate for the DPP rule to key on. partition
        # values are directory names, inferred as int32 on read — the dim
        # key must match exactly, a cast on the partition column also
        # disables DPP
        dim_path = str(tmp_path / "dim")
        spark.createDataFrame(
            pd.DataFrame({"p": pd.array(range(20), dtype="int32"),
                          "name": [chr(97 + i % 5) for i in range(20)]})
        ).write.parquet(dim_path)
        dim = spark.read.parquet(dim_path)
        fct = spark.read.parquet(fact_path)
        joined = fct.join(dim.filter(F.col("name") == "a"), "p").agg(
            F.sum("v")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]


class TestSnapshotTable:
    def test_versions_time_travel_and_rollback(self, spark, tmp_path):
        import pandas as pd

        from cassandra_pmem_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(str(tmp_path / "snap"))
        d1 = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": [10, 20]}))
        d2 = spark.createDataFrame(pd.DataFrame({"k": [3], "v": [30]}))
        d3 = spark.createDataFrame(pd.DataFrame({"k": [9], "v": [90]}))

        assert t.create(d1) == 1
        assert t.append(d2) == 2
        assert t.overwrite(d3) == 3
        assert t.rollback(1) == 4
        assert t.versions() == [1, 2, 3, 4]

        def rows(v):
            return sorted(
                (r["k"], r["v"]) for r in t.read(spark, v).collect()
            )

        assert rows(1) == [(1, 10), (2, 20)]
        assert rows(2) == [(1, 10), (2, 20), (3, 30)]
        assert rows(3) == [(9, 90)]  # overwrite replaced membership...
        assert rows(2) == [(1, 10), (2, 20), (3, 30)]  # ...old still reads
        assert rows(4) == rows(1)  # rollback = old list, no data moved
        # rollback didn't erase history
        assert rows(3) == [(9, 90)]

    def test_reader_isolation_across_commits(self, spark, tmp_path):
        """A frame resolved at version N keeps reading N's files even
        after later overwrites — SSTable-style snapshot isolation."""
        import pandas as pd

        from cassandra_pmem_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(str(tmp_path / "iso"))
        t.create(
            spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": [1, 2]}))
        )
        reader = t.read(spark)  # resolves v1's file list NOW
        t.overwrite(
            spark.createDataFrame(pd.DataFrame({"k": [7], "v": [7]}))
        )
        assert sorted(r["k"] for r in reader.collect()) == [1, 2]
        assert sorted(r["k"] for r in t.read(spark).collect()) == [7]

    def test_concurrent_commit_conflict_raises(self, spark, tmp_path):
        import glob

        import pandas as pd
        import pytest as _pytest

        from cassandra_pmem_spark.sources.snapshots import SnapshotTable

        path = str(tmp_path / "conflict")
        t1, t2 = SnapshotTable(path), SnapshotTable(path)
        df = spark.createDataFrame(pd.DataFrame({"k": [1], "v": [1]}))
        t1.create(df)
        # both handles target version 2; the second commit must fail
        # cleanly (no torn manifest) rather than overwrite
        files = t2.manifest(1)["files"]
        t1.append(df)
        winner = t2.manifest(2)
        with _pytest.raises(RuntimeError, match="concurrent commit"):
            t2._commit(files, "append", parent=1)
        assert t2.versions() == [1, 2]
        # the losing commit must not have touched the winner's manifest
        # (the link() publish is atomic — no check-then-rename window)
        assert t2.manifest(2) == winner
        # no .tmp manifest residue
        assert not glob.glob(path + "/_snapshots/.tmp-*")


class TestSnapshotDeletes:
    def test_merge_on_read_equals_materialized(self, spark, tmp_path):
        import pandas as pd

        from cassandra_pmem_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(str(tmp_path / "mor"))
        t.create(
            spark.createDataFrame(
                pd.DataFrame({"k": [1, 2, 3, 4], "v": [10, 20, 30, 40]})
            )
        )
        keys = spark.createDataFrame(pd.DataFrame({"k": [2, 4]}))
        v_mor = t.delete_keys(keys, ["k"])
        live_mor = sorted(
            (r["k"], r["v"]) for r in t.read(spark, v_mor).collect()
        )
        assert live_mor == [(1, 10), (3, 30)]
        # v1 is untouched history
        assert t.read(spark, 1).count() == 4

        v_mat = t.materialize_deletes(spark)
        assert t.manifest(v_mat)["delete_files"] == []
        live_mat = sorted(
            (r["k"], r["v"]) for r in t.read(spark, v_mat).collect()
        )
        assert live_mat == live_mor
        # deletes accumulate; a second delete on the compacted table
        # starts a fresh tombstone set
        v2 = t.delete_keys(
            spark.createDataFrame(pd.DataFrame({"k": [1]})), ["k"]
        )
        assert sorted(
            r["k"] for r in t.read(spark, v2).collect()
        ) == [3]

    def test_delete_key_mismatch_rejected(self, spark, tmp_path):
        import pandas as pd
        import pytest as _pytest

        from cassandra_pmem_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(str(tmp_path / "morkeys"))
        t.create(
            spark.createDataFrame(pd.DataFrame({"k": [1], "v": [1]}))
        )
        t.delete_keys(
            spark.createDataFrame(pd.DataFrame({"k": [1]})), ["k"]
        )
        with _pytest.raises(ValueError, match="delete key mismatch"):
            t.delete_keys(
                spark.createDataFrame(pd.DataFrame({"v": [1]})), ["v"]
            )


class TestManifestPruning:
    def test_prune_keeps_overlaps_and_statless_files(self, spark, tmp_path):
        import json
        import os

        import pandas as pd

        from cassandra_pmem_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(str(tmp_path / "prune"))
        t.create(
            spark.createDataFrame(
                pd.DataFrame({"k": list(range(100)), "v": range(100)})
            ).repartitionByRange(4, "k")
        )
        kept, total = t.prune_files("k", 10, 30)
        assert total == 4 and 0 < len(kept) < 4
        # pruned read equals filtered full read
        got = sorted(
            r["k"] for r in t.read_range(spark, "k", 10, 30).collect()
        )
        assert got == list(range(10, 31))
        # boundary: a file whose max == lo must be KEPT (inclusive)
        m = t.manifest()
        some = m["files"][0]
        lo_k, hi_k = m["stats"][some]["k"]
        kept2, _ = t.prune_files("k", hi_k, hi_k + 1000)
        assert some in kept2
        # a file with no stats for the column is never pruned
        m["stats"][some] = {}
        path = os.path.join(t.snap_dir, f"v{m['version']}.json")
        with open(path, "w") as fh:
            json.dump(m, fh)
        kept3, _ = t.prune_files("k", 10**6, 10**6 + 1)
        assert some in kept3  # statless ⇒ kept; others pruned
        assert len(kept3) == 1


class TestZorderSnapshotCompose:
    def test_zorder_clustered_snapshot_prunes_both_dims(self, spark, tmp_path):
        """Clustering a snapshot table by a Morton column makes manifest
        pruning effective on BOTH interleaved dimensions — the full
        composition: zorder layout → footer stats → manifest planning."""
        import pandas as pd

        from cassandra_pmem_spark.sources.snapshots import SnapshotTable
        from cassandra_pmem_spark.sources.zorder import morton_code

        n = 1 << 12
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "x": [i % 64 for i in range(n)],
                    "y": [(i * 37) % 64 for i in range(n)],
                }
            )
        ).withColumn("z", morton_code(F.col("x"), F.col("y")))
        t = SnapshotTable(str(tmp_path / "zsnap"))
        t.create(df, cluster_by=["z"])
        for dim in ("x", "y"):
            kept, total = t.prune_files(dim, 5, 8)
            assert total >= 4 and len(kept) < total, (dim, kept, total)
        # pruned range read still exact
        got = t.read_range(spark, "x", 5, 8).count()
        want = df.filter((F.col("x") >= 5) & (F.col("x") <= 8)).count()
        assert got == want


class TestSnapshotExpiry:
    def test_expire_deletes_only_orphaned_files(self, spark, tmp_path):
        import glob

        import pandas as pd

        from cassandra_pmem_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(str(tmp_path / "gc"))
        d = lambda ks: spark.createDataFrame(  # noqa: E731
            pd.DataFrame({"k": ks, "v": [x * 10 for x in ks]})
        )
        t.create(d([1, 2]))       # v1
        t.append(d([3]))          # v2 shares v1's files
        t.overwrite(d([9]))       # v3: fresh membership
        t.append(d([10]))         # v4

        files_before = len(glob.glob(str(tmp_path / "gc/data/*.parquet")))
        out = t.expire_versions(keep_last=2)
        assert out["expired_versions"] == [1, 2]
        assert out["deleted_files"] > 0
        assert t.versions() == [3, 4]
        # v1/v2-only files gone from disk; v3/v4 still read perfectly
        files_after = len(glob.glob(str(tmp_path / "gc/data/*.parquet")))
        assert files_after == files_before - out["deleted_files"]
        assert sorted(r["k"] for r in t.read(spark, 4).collect()) == [9, 10]
        assert sorted(r["k"] for r in t.read(spark, 3).collect()) == [9]

    def test_expire_keeps_files_shared_with_live_versions(self, spark, tmp_path):
        import pandas as pd

        from cassandra_pmem_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(str(tmp_path / "gcshare"))
        df = spark.createDataFrame(pd.DataFrame({"k": [1], "v": [1]}))
        t.create(df)   # v1
        t.append(df)   # v2 = v1's files + new
        t.append(df)   # v3 = v2's files + new
        out = t.expire_versions(keep_last=1)
        # v1/v2 expired, but their files live on inside v3's manifest
        assert out["expired_versions"] == [1, 2]
        assert out["deleted_files"] == 0
        assert t.read(spark, 3).count() == 3


class TestRound6Plans:
    """Plan-shape locks for the round-6 operators: the shuffle counts
    below ARE the design — a regression here is a scale regression."""

    def test_overlap_join_has_no_dedup_shuffle(self, spark):
        import datetime as dt

        import pandas as pd

        from cassandra_pmem_spark.operators.temporal import interval_overlap_join

        t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731
        left = spark.createDataFrame(
            pd.DataFrame({"k": [1], "ls": [t(0)], "le": [t(600)]})
        )
        right = spark.createDataFrame(
            pd.DataFrame({"k": [1], "rs": [t(0)], "re": [t(600)]})
        )
        plan = plan_of(
            interval_overlap_join(left, right, "k", "ls", "le", "rs", "re")
        )
        # at most the two join inputs shuffle (broadcast may elide one);
        # the old dropDuplicates cost an extra full-width Exchange + two
        # HashAggregates ABOVE the join — the first-common-bucket filter
        # must leave nothing above it but the projection
        assert plan.count("Exchange") <= 2, plan
        above_join = plan.split("Join")[0]
        assert "HashAggregate" not in above_join, plan

    def test_image_dhash_stage_is_zero_shuffle(self, spark):
        import numpy as np
        import pandas as pd

        from cassandra_pmem_spark.pipeline.codecs import encode_png
        from cassandra_pmem_spark.pipeline.multimodal import image_dhash_stage

        img = (np.arange(72).reshape(8, 9) % 251).astype(np.uint8)
        media = spark.createDataFrame(
            pd.DataFrame({"item_id": [1], "data": [encode_png(img)]})
        )
        assert "Exchange" not in plan_of(image_dhash_stage(media))

    def test_domain_mixture_scan_side_never_shuffles(self, spark):
        import pandas as pd

        from cassandra_pmem_spark.pipeline.packing import domain_mixture_sample

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(100), "lang": ["en", "de"] * 50})
        )
        plan = plan_of(domain_mixture_sample(docs, alpha=0.5, target_total=50.0))
        # the rates side aggregates (shuffles) a tiny per-domain count;
        # the document side joins it BROADCAST — no hash-join shuffle of
        # the corpus itself
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan


class TestUdtMergePlan:
    """SCALE.md round-9 claim: non-frozen UDT field cells ride the SAME
    one-pass cell-LWW merge as scalar columns — decomposing a UDT into
    per-field synthetic columns adds ZERO exchanges over an equivalent
    all-scalar table."""

    def _session(self, spark, udt: bool):
        from pyspark.sql import types as T

        from cassandra_pmem_spark.catalog import TableMeta
        from cassandra_pmem_spark.cql.writes import CollectionInfo, CqlWriteSession

        if udt:
            schema = T.StructType(
                [
                    T.StructField("k", T.LongType()),
                    T.StructField(
                        "u",
                        T.StructType(
                            [
                                T.StructField("a", T.StringType()),
                                T.StructField("b", T.LongType()),
                            ]
                        ),
                    ),
                ]
            )
            info = CollectionInfo(kinds={"u": "udt"}, frozen=frozenset())
        else:
            schema = T.StructType(
                [
                    T.StructField("k", T.LongType()),
                    T.StructField("a", T.StringType()),
                    T.StructField("b", T.LongType()),
                ]
            )
            info = None
        meta = TableMeta("t", schema, partition_key=("k",))
        s = CqlWriteSession(spark, meta, collection_info=info)
        if udt:
            s.execute("UPDATE t SET u.a = 'x' WHERE k = 1")
            s.execute("INSERT INTO t (k, u) VALUES (2, {a: 'y', b: 3})")
        else:
            s.execute("UPDATE t SET a = 'x' WHERE k = 1")
            s.execute("INSERT INTO t (k, a, b) VALUES (2, 'y', 3)")
        return s

    def test_udt_merge_adds_no_exchange(self, spark):
        scalar_plan = plan_of(self._session(spark, udt=False).table())
        udt_plan = plan_of(self._session(spark, udt=True).table())
        n_scalar = scalar_plan.count("Exchange")
        n_udt = udt_plan.count("Exchange")
        assert n_udt == n_scalar, (n_udt, n_scalar)


class TestRound12Plans:
    def test_statement_log_frame_is_arrow_backed(self, spark):
        """The mutation-log frame compiles to a JVM LocalTableScan, not a
        pickled `Scan ExistingRDD` (which would re-run Python workers on
        EVERY downstream job of every statement — see writes._log_frame)."""
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute(
            "CREATE KEYSPACE plk WITH REPLICATION = {'class': 'SimpleStrategy'}"
        )
        db.execute("USE plk")
        db.execute(
            "CREATE TABLE t (k int, c int, v text, m map<text,int>, "
            "PRIMARY KEY (k, c))"
        )
        db.execute("INSERT INTO t (k, c, v, m) VALUES (1, 1, 'a', {'x': 1})")
        db.execute("UPDATE t SET m['y'] = 2 WHERE k = 1 AND c = 1")
        sess = db._session_for_key(db._table_key("t"))
        df = sess.table(now=sess._clock_ref[0])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan
        # and the merge result is still right (map merged per cell)
        row = db.execute("SELECT v, m FROM t").collect()[0]
        assert row.v == "a" and dict(row.m) == {"x": 1, "y": 2}

    def test_log_frame_non_utc_session_keeps_timestamp_semantics(self, spark):
        """Under a non-UTC session timezone the Arrow fast path would
        interpret naive datetimes as UTC while createDataFrame localizes
        to the session zone — the gate in writes._log_frame must fall
        back so timestamp cells don't silently shift."""
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        old_tz = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            db = CqlDatabase(spark)
            db.execute(
                "CREATE KEYSPACE tzk WITH REPLICATION = "
                "{'class': 'SimpleStrategy'}"
            )
            db.execute("USE tzk")
            db.execute("CREATE TABLE t (k int PRIMARY KEY, ts timestamp)")
            db.execute(
                "INSERT INTO t (k, ts) VALUES (1, '2024-06-01 12:00:00+0000')"
            )
            row = db.execute("SELECT k, ts FROM t").collect()[0]
            got = row.ts
            # the instant must survive regardless of session zone
            import datetime as dt

            want = dt.datetime(2024, 6, 1, 12, 0, 0,
                               tzinfo=dt.timezone.utc)
            if got.tzinfo is None:
                # PySpark collects timestamps naive in the OS-local
                # zone (not the session zone); re-anchor there
                got = got.astimezone()
            assert got == want, got
        finally:
            spark.conf.set("spark.sql.session.timeZone", old_tz)

    def test_pager_page_jobs_have_no_python_eval(self, spark):
        """Per-page sort/filter work is pure JVM: the token order column
        is materialized ONCE on the page frame, so the per-page plan
        (after-filter + orderBy + limit) contains no Arrow/Python eval
        above the cached frame."""
        from cassandra_pmem_spark.cql.ddl import CqlDatabase
        from pyspark.sql import functions as F

        db = CqlDatabase(spark)
        db.execute(
            "CREATE KEYSPACE plp WITH REPLICATION = {'class': 'SimpleStrategy'}"
        )
        db.execute("USE plp")
        db.execute("CREATE TABLE t (k int, c int, v int, PRIMARY KEY (k, c))")
        for k in range(4):
            for c in range(3):
                db.execute(
                    "INSERT INTO t (k, c, v) VALUES (?, ?, ?)", [k, c, k + c]
                )
        p = db.pager("SELECT k, c FROM t", page_size=5)
        first = p.fetch_page()
        assert len(first) == 5
        frame = db._session_for_key(db._table_key("t"))._frames[repr(p._st)]
        spec = p._order_spec()
        page_plan = (
            frame.filter(p._after_filter(p._pos))
            .orderBy(*[c.asc() if asc else c.desc() for c, asc in spec])
            .limit(5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the persisted frame itself contains the one-time token UDF;
        # everything ABOVE the InMemoryTableScan must be JVM-only
        above = page_plan.split("InMemoryTableScan")[0]
        assert "ArrowEvalPython" not in above
        assert "BatchEvalPython" not in above


FLAG_VALUES = [("0", False), ("", False), ("false", False), ("1", True)]


class TestEnvFlags:
    """Boolean env flags parse strictly: only 1/true/yes turn one on, so
    `=0` and an empty value mean off (session.env_flag)."""

    @pytest.mark.parametrize("value, on", FLAG_VALUES)
    def test_reliable_checkpoint(self, spark, monkeypatch, tmp_path, value, on):
        from cassandra_pmem_spark.plans.hints import materialize

        monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", value)
        monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ck"))
        df = spark.range(5)
        cls = type(df)
        called = []
        for name in ("checkpoint", "localCheckpoint"):
            real = getattr(cls, name)
            monkeypatch.setattr(
                cls, name,
                lambda self, eager=True, _n=name, _f=real: (
                    called.append(_n) or _f(self, eager)
                ),
            )
        assert materialize(df).count() == 5
        assert called == (["checkpoint"] if on else ["localCheckpoint"])

    @pytest.mark.parametrize("value, on", FLAG_VALUES)
    def test_no_master(self, monkeypatch, value, on):
        from pyspark.sql import SparkSession

        from cassandra_pmem_spark.session import get_spark

        monkeypatch.setenv("SPARK_GRAFT_NO_MASTER", value)
        # return the configured options instead of starting a session
        monkeypatch.setattr(
            SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
        )
        assert ("spark.master" not in get_spark()) is on


# Deployment settings: where data lives, how much CPU and memory, whether
# the session picks its own master, and the checkpoint's fault posture
# (same rows, same plans above the boundary). None of them chooses an
# algorithm; a new env var must be one of these kinds to be added here.
DEPLOYMENT_ENV_VARS = {
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_NO_MASTER",
    "SPARK_GRAFT_RELIABLE_CHECKPOINT",
    "SPARK_GRAFT_CHECKPOINT_DIR",
}

_ENV_READ = re.compile(
    r"""(?:os\.environ\.get\(|os\.getenv\(|env_flag\(|os\.environ\[)\s*["']([^"']+)["']"""
)


def test_engine_reads_only_deployment_env_vars():
    """No env var chooses an algorithm: the engine package reads exactly
    the deployment settings."""
    from pathlib import Path

    import cassandra_pmem_spark

    root = Path(cassandra_pmem_spark.__file__).parent
    names = {
        name
        for path in root.rglob("*.py")
        for name in _ENV_READ.findall(path.read_text())
    }
    assert names == DEPLOYMENT_ENV_VARS


def test_sstable_metadata_parsed_only_by_the_opener():
    """Statistics.db and CompressionInfo.db are parsed in one place, the
    sstable opener; the metadata mutator may parse the raw Statistics.db
    bytes it patches. Every other reader and tool goes through
    open_sstable."""
    import ast
    from pathlib import Path

    import cassandra_pmem_spark

    root = Path(cassandra_pmem_spark.__file__).parent
    calls = set()

    class Calls(ast.NodeVisitor):
        def __init__(self, rel):
            self.rel, self.stack = rel, ["<module>"]

        def visit_FunctionDef(self, node):
            self.stack.append(node.name)
            self.generic_visit(node)
            self.stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            callee = ast.unparse(node.func)
            for name in ("parse_statistics", "CompressionInfo.parse"):
                if callee == name or callee.endswith("." + name):
                    calls.add((self.rel, self.stack[-1], name))
            self.generic_visit(node)

    for path in root.rglob("*.py"):
        rel = path.relative_to(root).as_posix()
        Calls(rel).visit(ast.parse(path.read_text()))
    assert calls == {
        ("sources/sstable.py", "open_sstable", "parse_statistics"),
        ("sources/sstable.py", "open_sstable", "CompressionInfo.parse"),
        ("sources/sstable.py", "mutate_sstable_metadata", "parse_statistics"),
    }
