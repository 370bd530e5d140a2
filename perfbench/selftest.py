#!/usr/bin/env python3
"""Harness self-test at a tiny size (base tables at sf0.001):

    python3 perfbench/selftest.py

For every workload, including llm_pipeline, it checks that

- the same seed gives byte-identical inputs, in one process and across
  two processes, and another seed gives other inputs;
- no op fails or returns a wrong result;
- every end-to-end metric of BENCHMARK.json is printed untraced, and
  every per-layer metric traced;
- each traced op's spans cover at least 90% of its wall time.

Exits 1 and names the failed checks if any fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF, SEED, OTHER_SEED = 0.001, 7, 8
MIN_COVERAGE = 0.9


def _run(workload: str, trace: int, trace_out: str | None = None) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--sf", str(SF)]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} trace={trace} exited {out.returncode}: "
                           f"{out.stderr[-2000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def main() -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import datagen
    from run import _digest
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e_names = [m["name"] for m in bench["end_to_end"]]
    layer_names = [m["name"] for m in bench["per_layer"]]
    data = datagen.ensure_tables(os.path.join(ROOT, ".perfbench", "data"), SF)
    problems: list[str] = []
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as tmp:
        for name, cls in WORKLOADS.items():
            digests = [_digest(cls(None, data, s, tmp, None).make_inputs())
                       for s in (SEED, SEED, OTHER_SEED)]
            if digests[0] != digests[1]:
                problems.append(f"{name}: one seed gave two different inputs")
            if digests[0] == digests[2]:
                problems.append(f"{name}: seeds {SEED} and {OTHER_SEED} gave the same inputs")
            trace_path = os.path.join(tmp, f"{name}.json")
            runs = [_run(name, 0), _run(name, 1, trace_path)]
            for (info, res), wanted in zip(runs, (e2e_names, layer_names)):
                tag = f"{name} trace={int(wanted is layer_names)}"
                if not res["correct"] or res["failed"] or res["attempted"] < 1:
                    problems.append(f"{tag}: correct={res['correct']} failed={res['failed']} "
                                    f"attempted={res['attempted']} {info['errors']}")
                missing = [m for m in wanted if m not in res["metrics"]]
                if missing:
                    problems.append(f"{tag}: metrics not printed: {missing}")
                if info["inputs_sha256"] != digests[0]:
                    problems.append(f"{tag}: inputs differ from the same seed in-process")
            zero = [m for m in e2e_names if not runs[0][1]["metrics"].get(m, {}).get("value")]
            if zero:
                problems.append(f"{name}: end-to-end metrics read 0: {zero}")
            with open(trace_path) as fh:
                trace = json.load(fh)
            for op in trace["ops"]:
                inner = sum(s["end"] - s["start"] for s in trace["spans"] if s["op"] == op["op"])
                wall = op["end"] - op["start"]
                if wall > 0 and inner / wall < MIN_COVERAGE:
                    problems.append(f"{name}: op {op['op']} ({op['kind']}) spans cover "
                                    f"{inner / wall:.2f} of its wall time")
            print(f"{name}: checked", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
