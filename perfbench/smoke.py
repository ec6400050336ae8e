#!/usr/bin/env python3
"""Self-check of the benchmark on the sf0.001 snapshot.

    python3 perfbench/smoke.py [--workload NAME ...]

Checks that the same seed derives identical inputs and another seed
different ones, and that an untraced and a traced run of each workload
exit 0 and print every metric BENCHMARK.json names, with its unit, both
on a metric line and in the final JSON object. Takes a few minutes.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from inputs import derive  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SCALE = "sf0.001"


def same_inputs(a: str, b: str) -> bool:
    return all(pq.read_table(os.path.join(a, f)).equals(pq.read_table(os.path.join(b, f)))
               for f in sorted(os.listdir(a)))


def check_inputs(tmp: str) -> None:
    dirs = {}
    for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
        dirs[tag] = os.path.join(tmp, tag)
        derive(SCALE, seed, dirs[tag])
    if not same_inputs(dirs["a"], dirs["b"]):
        raise AssertionError("the same seed derived different inputs")
    if same_inputs(dirs["a"], dirs["c"]):
        raise AssertionError("a different seed derived the same inputs")
    print("inputs: same seed -> same tables, other seed -> different tables")


def check_run(workload: str, trace: int, spec: dict) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", SCALE]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise AssertionError(f"{workload} --trace {trace}: exit {proc.returncode}")
    lines = proc.stdout.splitlines()
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"} or not result["correct"]:
        raise AssertionError(f"{workload} --trace {trace}: bad result {lines[-1][:300]}")
    wanted = spec["per_layer" if trace else "end_to_end"]
    if set(result["metrics"]) != {m["name"] for m in wanted}:
        raise AssertionError(f"{workload} --trace {trace}: metric names differ from BENCHMARK.json")
    for m in wanted:
        got = result["metrics"][m["name"]]
        if got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
            raise AssertionError(f"{workload}: {m['name']} printed as {got}")
        pattern = re.compile(rf"^{re.escape(m['name'])} \S+ {re.escape(m['unit'])}$")
        if not any(pattern.match(line) for line in lines[:-1]):
            raise AssertionError(f"{workload}: no metric line for {m['name']} [{m['unit']}]")
    print(f"{workload} --trace {trace}: {len(wanted)} metrics with units, "
          f"{result['attempted']} queries run, 0 failed")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    tmp = os.path.join(ROOT, ".perfbench_work", f"smoke-{os.getpid()}")
    try:
        check_inputs(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for workload in args.workload or [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            check_run(workload, trace, spec)
    print("smoke: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
