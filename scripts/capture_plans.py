#!/usr/bin/env python
"""Capture .explain("formatted") for named registry queries into
plans/<round>/<name>_<tag>.txt (tag = before/after), plus a wall-clock
timing via the noop sink (guide §1.4) printed per query. The round
directory defaults to r14 and is overridable via SPARK_GRAFT_PLANS_DIR.

Run: python scripts/capture_plans.py <tag> <name> [name ...]
     python scripts/capture_plans.py <tag> --bench   (headline + tier2)
     python scripts/capture_plans.py <tag> --loops   (one unrolled
         iteration of each iterative operator — pagerank, label-prop
         components, star components, BPE — so the committed plans
         show the IN-LOOP shape that per-round materialization barriers
         hide from the final frame's plan; VERDICT r13 item 8)
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT_DIR = os.environ.get(
    "SPARK_GRAFT_PLANS_DIR",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r14",
    ),
)


def _write_plan(df, name: str, tag: str, header: str) -> None:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
    with open(path, "w") as f:
        f.write(header)
        f.write(buf.getvalue())
    print(f"         {name} -> {path}", flush=True)


def capture_loops(spark, sf_dir: str, tag: str) -> None:
    """One unrolled iteration of each iterative operator, explained from
    the frame the loop would carry into the NEXT round — the shape each
    round's job actually executes, which per-round materialization
    barriers (checkpoint/persist) hide from the final frame's plan.
    plans.hints.materialize is patched to identity for the capture so
    the checkpoint truncation cannot blank out the round body."""
    from pyspark.sql import functions as F

    from cassandra_pmem_spark.pipeline.bpe import _adjacent_pairs
    from cassandra_pmem_spark.pipeline.dedup import (
        NotConverged,
        connected_components,
        connected_components_star,
    )
    from cassandra_pmem_spark.pipeline.graph import pagerank_exact
    from cassandra_pmem_spark.plans import hints

    rounds = []  # frames the CC loops hand to their next round

    def identity(df, eager=True):  # show the loop body
        if not eager:
            rounds.append(df)
        return df

    hints.materialize = identity

    def one_round(cc):
        # one round does not reach the fixpoint, so the engine raises
        # instead of returning; its round frame is what the plan shows
        rounds.clear()
        try:
            cc(edges, ids, max_iter=1)
        except NotConverged:
            pass
        return rounds[-1]

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") < 150)
    )
    ids = docs.select("doc_id")
    d = F.col("doc_id")
    edges = ids.select(d.alias("a"), ((d * 7 + 1) % 150).alias("b"))
    header = (
        "-- one unrolled loop iteration (max_iter/iters=1; the frame the"
        " round hands to the next) --\n"
    )
    _write_plan(
        pagerank_exact(ids, edges.select(
            F.col("a").alias("src"), F.col("b").alias("dst")
        ), iters=1),
        "loop_pagerank", tag, header,
    )
    _write_plan(
        one_round(connected_components),
        "loop_connected_components", tag, header,
    )
    _write_plan(
        one_round(connected_components_star),
        "loop_components_star", tag, header,
    )
    # BPE's train loop returns a list (merge table), so its in-loop
    # shape is the per-round argmax aggregation frame, reconstructed
    # here exactly as train_bpe builds it (one map-side-combined
    # aggregation over exploded 2-char pairs + bounded 1-row argmax)
    corpus = docs.select(F.col("text").alias("__t")).cache()
    bpe_round = (
        corpus.select(F.explode(_adjacent_pairs("__t")).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("pair"))
        .limit(1)
    )
    _write_plan(bpe_round, "loop_bpe_train", tag, header)
    corpus.unpersist()


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from cassandra_pmem_spark.queries import all_queries
    from cassandra_pmem_spark.session import get_spark

    if names == ["--loops"]:
        spark = get_spark("capture-plans")
        spark.sparkContext.setLogLevel("ERROR")
        os.makedirs(OUT_DIR, exist_ok=True)
        capture_loops(spark, sf_dir, tag)
        return
    if names == ["--bench"]:
        import bench

        names = bench.HEADLINE + bench.TIER2
    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    os.makedirs(OUT_DIR, exist_ok=True)
    for name in names:
        fn, _ = registry[name]
        spark.sparkContext.setJobDescription(f"{name} [{tag}]")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} [{tag}] sf={sf_dir} noop_wall={dt:.3f}s\n")
            f.write(buf.getvalue())
        print(f"{dt:7.3f}s  {name} -> {path}", flush=True)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
