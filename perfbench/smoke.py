#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json at ``--size tiny`` (UNIT_WEB crawl,
a 15k-URL frontier, 200 documents) untraced and traced, and checks that

- each run exits 0 and prints its result as the last line;
- no operation failed (error rate 0);
- the metric names and units are exactly those BENCHMARK.json declares;
- in the traced run, the self times of the layers called inside the
  operation, plus the unattributed remainder and the trace's own
  bookkeeping, sum to the operation's wall time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Layers whose public function is the operation itself: their self time
# is the unattributed remainder, not a child of the operation.
ROOT_LAYERS = {"crawl_wide": {"plans.crawl"}, "batch_jobs": {"bench", "jobs.corpus"}}


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        name = w["name"]
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            res = run(name, trace)
            where = f"{name} trace={trace}"
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{where}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{where}: {res['failed']}/{res['attempted']} failed")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            want = {m["name"]: m["unit"] for m in declared}
            if got != want:
                problems.append(f"{where}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(got) ^ set(want))}")
            if trace:
                m = {k: v["value"] for k, v in res["metrics"].items()}
                layers = {k.rsplit(".", 1)[0] for k in m if k.endswith(".busy_s")}
                total = m["unattributed_s"] + m["trace_bookkeeping_s"] + sum(
                    m[f"{layer}.busy_s"] for layer in layers - ROOT_LAYERS[name])
                if abs(total - m["op_wall_s"]) > 1e-3 * m["op_wall_s"]:
                    problems.append(f"{where}: layer self times sum to {total}, "
                                    f"operation wall is {m['op_wall_s']}")
            print(f"{where}: ok" if not problems else f"{where}: {problems}",
                  flush=True)
    if problems:
        raise SystemExit("smoke: FAILED\n" + "\n".join(problems))
    print("smoke: all workloads pass")


if __name__ == "__main__":
    main()
