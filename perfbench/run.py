#!/usr/bin/env python3
"""Benchmark harness: one seeded workload per run, closed loop, one client.

    python3 perfbench/run.py --workload cql_read --seed 1 --seconds 10 --trace 0

Run from the repository root. The engine's base tables are generated once
per checkout under ``.perfbench/data`` (see ``datagen.py``); everything a
run writes stays under ``.perfbench``. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics (and the spans, op counters and traced end-to-end numbers go to
``--trace-out``). The line before it records the host and the
workload-specific latencies.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = 0.1  # scale of the generated base tables (600k lineitem rows)

# per-layer metrics (BENCHMARK.json per_layer) taken as the mean per op
# that ran the span / counter
SPAN_METRICS = {"cql.parse_ms": "cql.parse", "cql.compile_ms": "cql.compile",
                "cql.write_ms": "cql.write", "cql.flush_ms": "cql.flush",
                "cql.load_ms": "cql.load", "df.build_ms": "df.build",
                "plan.ms": "plan", "spark.action_ms": "spark.action"}
COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_skipped",
            "spark.sql_execs", "spark.driver_wait_ms", "spark.executor_run_ms",
            "spark.executor_cpu_ms", "spark.gc_ms", "spark.input_mb",
            "spark.input_rows", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
            "spark.spill_mb", "py.nodes", "py.run_ms", "py.start_ms", "py.sent_mb",
            "py.returned_mb", "py.rows")
RECORDED = ("cql.pages_per_drain", "sources.sstable.bytes", "sources.sstable.files",
            "sources.sstable.bytes_per_row", "pipeline.dup_recall",
            "pipeline.ivf_recall")
STAGES = ("exact_dedup", "near_dup", "quality_langid", "bpe_train", "ivf_topk")
# metrics of the workloads left out of BENCHMARK.json (df.build: tpch_analytics
# and llm_pipeline) go to the trace file, not the result line
TRACE_ONLY = ("pipeline.", "df.build")
# tables each TPC-H query reads, for rows_per_s
TPCH_TABLES = {
    "tpch_q1_pricing_summary": ("lineitem",),
    "tpch_q3_shipping_priority": ("customer", "orders", "lineitem"),
    "tpch_q5_local_supplier": ("region", "nation", "customer", "supplier",
                               "orders", "lineitem"),
    "tpch_q6_forecast_revenue": ("lineitem",),
    "tpch_q9_product_profit": ("nation", "supplier", "part", "orders", "lineitem"),
    "tpch_q18_large_volume_customer": ("customer", "orders", "lineitem"),
    "tpch_q21_waiting_supplier": ("supplier", "lineitem", "nation"),
}


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--trace-out", help="traced run: where to write spans and counters")
    p.add_argument("--sf", type=float, default=SF, help="base table scale factor")
    return p.parse_args(argv)


def _env(work: str) -> None:
    """Engine deployment settings for the run; every temp file stays in
    ``work``. SPARK_GRAFT_* settings from the caller are dropped so each
    run measures the engine's defaults.

    Spark runs one task thread, and the JVM a serial collector and sizes
    its thread pools and lock spinning for one processor. On a shared
    host whose hypervisor takes CPU from the guest now and then, threads
    spin while a preempted thread holds what they wait for, so CPU time
    per op grows with the stolen share. Over five seeds each on a 4-core
    host: cql_write at ``local[2]`` with the default collector spread
    0.34 (quartile distance over median), 0.08 at ``local[1]`` with the
    serial collector; cql_read at the latter still spread 0.29, and 0.08
    once the JVM also sized itself for one processor."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": "1",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        # fewer malloc arenas in the JVM's native threads: its peak RSS
        # then varies far less from run to run
        "MALLOC_ARENA_MAX": "2",
        "PYSPARK_SUBMIT_ARGS": ("--driver-java-options '-XX:+UseSerialGC "
                                f"-XX:ActiveProcessorCount=1 -Djava.io.tmpdir={tmp}' "
                                "pyspark-shell"),
    })
    time.tzset()


def _cpu_probe_s() -> float:
    """Fixed single-thread loop: a host-speed reading stored with results."""
    t0 = time.perf_counter()
    s = 0
    for i in range(5_000_000):
        s += i
    return time.perf_counter() - t0


def _cpu_ticks() -> list[int]:
    """The host's CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of the host's CPU time between two readings that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) else 0.0


def _host(spark) -> dict:
    import pyarrow
    import pyspark

    head = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, check=False)
        head = r.stdout.strip() or None
    return {"nproc": len(os.sched_getaffinity(0)), "cpu_count": os.cpu_count(),
            "python": platform.python_version(), "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "git_head": head,
            "master": spark.sparkContext.master}


def _pct(vals: list[float], q: float) -> float:
    if not vals:
        return 0.0
    s = sorted(vals)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def _median(vals) -> float:
    return statistics.median(vals) if vals else 0.0


def end_to_end(units, setup_s: float, rss: tuple[float, float]) -> dict:
    """The BENCHMARK.json end-to-end metrics. ``cpu_ms_per_op`` is the CPU
    time of the driver, the JVM and its Python workers per correct op of a
    unit, median over the run's units: what an op costs the machine. On a
    shared host it moves far less from run to run than the wall-clock
    figures in ``detail``, which follow how much CPU the hypervisor gives
    to other guests."""
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cpu_ms_per_op": {"value": _median([cpu * 1e3 / ok for ok, _, cpu in units if ok]),
                          "unit": "ms"},
        "peak_rss_mb": {"value": rss[0] + rss[1], "unit": "MB"},
    }


def detail(wl, units, wall_s: float, table_rows: dict) -> dict:
    """Throughput and latencies, printed before the result line.
    ``ops_per_s`` is the median over the run's units of each unit's
    correct ops per second. ``op_ms.p50_gmean`` is the geometric mean over
    op kinds of each kind's median latency, so a run that ends partway
    through a mix of fast and slow kinds reads the same as one that does
    not."""
    by: dict[str, list[float]] = {}
    for s in wl.samples:
        by.setdefault(s.kind, []).append(s.ms)
    meds = [_median(v) for k, v in by.items()
            if not wl.latency_kinds or k in wl.latency_kinds]
    d: dict = {"samples": len(wl.samples), "timed_s": wall_s,
               "ops_per_s": _median([ok / sec for ok, sec, _ in units if sec > 0]),
               "op_ms.p50_gmean": math.exp(sum(map(math.log, meds)) / len(meds))
               if meds else 0.0,
               "kind_ms.p50": {k: _median(v) for k, v in sorted(by.items())}}
    name = wl.name
    if name in ("cql_read", "cql_write"):
        reads = [s.ms for s in wl.samples if name == "cql_read" or s.kind == "read"]
        d["read_ms.p50"], d["read_ms.p95"] = _median(reads), _pct(reads, 0.95)
    if name == "cql_write":
        from workloads import WRITE_SQL

        d["write_ms.p50"] = _median([m for k in WRITE_SQL for m in by.get(k, [])])
        pages = wl.probe.values.get("cql.pages_per_drain", [])
        drains = by.get("page", [])
        per_page = [m / p for m, p in zip(drains, pages[-len(drains):]) if p]
        d["page_ms.p50"] = _median(per_page)
        d["flush_s"] = _median(by.get("flush", [])) / 1e3
    if name == "tpch_analytics":
        d["query_s.p50"] = _median([s.ms for s in wl.samples]) / 1e3
        rows = sum(sum(table_rows[t] for t in TPCH_TABLES[s.kind]) for s in wl.samples)
        d["rows_per_s"] = rows / wall_s
    if name == "llm_pipeline":
        d["query_s.p50"] = _median([s.ms for s in wl.samples]) / 1e3
        per_pass = 4 * wl.n_docs + table_rows["embeddings"]
        d["rows_per_s"] = per_pass * len(by.get("ivf_topk", [])) / wall_s
    return d


def per_layer(wl, probe, rss: tuple[float, float]) -> dict:
    m: dict[str, tuple[float, str]] = {}
    for name, span in SPAN_METRICS.items():
        m[name] = (_mean(probe.span_ms(span)), "ms")
    for name in COUNTERS:
        unit = ("ms" if name.endswith("_ms") else "MB" if name.endswith("_mb")
                else "rows" if name.endswith("rows") else "count")
        m[name] = (probe.counter_mean(name), unit)
    rdds = [o.get("spark.persisted_rdds", 0) for o in probe.ops]
    m["spark.persisted_rdds"] = (rdds[-1] if rdds else 0, "count")
    m["spark.persisted_rdds.growth"] = (rdds[-1] - rdds[0] if rdds else 0, "count")
    units = {"cql.pages_per_drain": "count", "sources.sstable.bytes": "B",
             "sources.sstable.files": "count", "sources.sstable.bytes_per_row": "B",
             "pipeline.dup_recall": "ratio", "pipeline.ivf_recall": "ratio"}
    for name in RECORDED:
        m[name] = (_mean(probe.values.get(name, [])), units[name])
    for st in STAGES:
        m[f"pipeline.{st}_s"] = (_median([s.ms for s in wl.samples if s.kind == st]) / 1e3, "s")
    m["proc.driver_rss_mb"] = (rss[0], "MB")
    m["proc.jvm_rss_mb"] = (rss[1], "MB")
    cov = probe.coverage()
    m["trace.span_coverage_min"] = (min(cov) if cov else 0.0, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _mean(vals) -> float:
    return sum(vals) / len(vals) if vals else 0.0


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import cassandra_pmem_spark  # noqa: F401  (the engine under test)
    except ImportError as e:
        print(f"perfbench: engine package not found next to the benchmark: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    load_start = os.getloadavg()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _env(work)
    import datagen

    data = datagen.ensure_tables(os.path.join(base, "data"), args.sf)
    t_session = time.perf_counter()
    from cassandra_pmem_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_session
    jvm = spark.sparkContext._gateway.proc
    try:
        from probes import Probe, rss_mb, tree_cpu_s

        probe = Probe(spark, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, data, args.seed, work, probe)
        t_gen = time.perf_counter()
        inputs = wl.make_inputs()
        gen_s = time.perf_counter() - t_gen
        digest = _digest(inputs)
        wl.expect(inputs)
        wl.warm_up()
        warm_errors = list(wl.errors)
        wl.reset_samples()
        setup_s = time.perf_counter() - T_START
        units = []  # (correct ops, seconds, CPU seconds) per unit
        ticks = _cpu_ticks()
        t0 = time.perf_counter()
        while True:
            n0, u0, c0 = len(wl.samples), time.perf_counter(), tree_cpu_s(os.getpid())
            wl.unit()
            now = time.perf_counter()
            units.append((sum(s.ok for s in wl.samples[n0:]), now - u0,
                          tree_cpu_s(os.getpid()) - c0))
            if now - t0 >= args.seconds:
                break
        wall_s = time.perf_counter() - t0
        steal = _steal_share(ticks, _cpu_ticks())
        # same seed, same inputs: regenerate after the timed phase and compare
        same_inputs = _digest(wl.make_inputs()) == digest
        rss = rss_mb(spark)
        import pyarrow.parquet as pq

        table_rows = {t: pq.read_metadata(f"{data}/{t}.parquet").num_rows
                      for t in datagen.TABLES}
        e2e = end_to_end(units, setup_s, rss)
        host = _host(spark)
        host.update({"loadavg_start": load_start, "loadavg_end": os.getloadavg(),
                     "cpu_probe_s": _cpu_probe_s(), "steal_share": steal})
        info = {"workload": wl.name, "seed": args.seed, "sf": args.sf,
                "inputs_sha256": digest, "same_inputs": same_inputs,
                "session_s": session_s, "input_gen_s": gen_s,
                "unit_s": [sec for _, sec, _ in units], "unit_cpu_s": [c for _, _, c in units],
                "host": host,
                "detail": detail(wl, units, wall_s, table_rows),
                "errors": wl.errors[:5], "warm_up_errors": warm_errors[:5]}
        failed = sum(not s.ok for s in wl.samples)
        result = {"correct": failed == 0 and same_inputs and not warm_errors,
                  "attempted": len(wl.samples), "failed": failed}
        if args.trace:
            layers = per_layer(wl, probe, rss)
            out = args.trace_out or os.path.join(
                base, "traces", f"{wl.name}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
            with open(out, "w") as fh:
                json.dump({**info, "end_to_end": e2e, "per_layer": layers,
                           "ops": probe.ops, "spans": probe.spans}, fh, indent=1,
                          default=str)
            result["metrics"] = {k: v for k, v in layers.items()
                                 if not k.startswith(TRACE_ONLY)}
        else:
            result["metrics"] = e2e
        print(json.dumps(info, default=str))
        print(json.dumps(result))
        return 0
    finally:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        if jvm.stdin:
            jvm.stdin.close()
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
