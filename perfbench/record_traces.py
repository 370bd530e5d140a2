#!/usr/bin/env python3
"""Record one traced run per workload, with its tracing overhead:

    python3 perfbench/record_traces.py [--seed 1] [--seconds 10] [workload ...]

For each workload it runs the benchmark untraced and then traced at the
same seed, and writes ``perfbench/traces/<workload>.json``: the traced
run's spans, per-op counters and per-layer metrics, both runs'
end-to-end metrics, and the overhead (traced minus untraced) of each
end-to-end metric. It also prints, per op kind, how much of the op's
wall time the compile, plan and action spans account for.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: str, trace_out: str | None) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", seconds, "--trace", "1" if trace_out else "0"]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def coverage_by_kind(trace: dict, names=("cql.compile", "plan", "spark.action")) -> dict:
    """Per op kind: the worst op's share of wall time covered by ``names``."""
    worst: dict[str, float] = defaultdict(lambda: 1.0)
    for op in trace["ops"]:
        wall = op["end"] - op["start"]
        part = sum(s["end"] - s["start"] for s in trace["spans"]
                   if s["op"] == op["op"] and s["name"] in names)
        if wall > 0:
            worst[op["kind"]] = min(worst[op["kind"]], part / wall)
    return dict(worst)


def main() -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", default="10")
    args = p.parse_args()
    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    for wl in args.workloads:
        path = os.path.join(HERE, "traces", f"{wl}.json")
        _info, plain = _run(wl, args.seed, args.seconds, None)
        _run(wl, args.seed, args.seconds, path)
        with open(path) as fh:
            trace = json.load(fh)
        trace["untraced"] = plain
        trace["overhead"] = {
            k: {"traced": v["value"], "untraced": plain["metrics"][k]["value"],
                "traced_minus_untraced": v["value"] - plain["metrics"][k]["value"],
                "unit": v["unit"]}
            for k, v in trace["end_to_end"].items()}
        trace["compile_plan_action_share"] = coverage_by_kind(trace)
        with open(path, "w") as fh:
            json.dump(trace, fh, indent=1)
        print(wl, json.dumps({k: round(v["traced_minus_untraced"], 3)
                              for k, v in trace["overhead"].items()}),
              json.dumps({k: round(v, 3) for k, v in trace["compile_plan_action_share"].items()}),
              flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
