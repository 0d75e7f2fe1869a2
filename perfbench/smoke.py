"""Smoke test of the benchmark itself: every workload, briefly, at sf0.001.

    python3 perfbench/smoke.py

Checks, per workload and tracing mode, that the run exits 0, that the
last stdout line carries every metric BENCHMARK.json names (end-to-end
without tracing, per-layer with it) with its unit, that the correctness
checks pass, and that the op generator is deterministic per seed.
Exits 1 on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import ops  # noqa: E402
from run import WORKLOADS  # noqa: E402


def fail(msg: str) -> None:
    print(f"FAIL {msg}")
    sys.exit(1)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sizes = datagen.Sizes.for_sf(0.001)
    for w in WORKLOADS:
        if ops.digest(w, 7, sizes) != ops.digest(w, 7, sizes):
            fail(f"{w}: same seed gave different operations")
        if ops.digest(w, 7, sizes) == ops.digest(w, 8, sizes):
            fail(f"{w}: different seeds gave the same operations")
    print("ok   op streams are deterministic per seed")
    for w in WORKLOADS:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "3",
                   "--seconds", "2", "--trace", str(trace), "--sf", "0.001"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            if p.returncode != 0:
                fail(f"{w} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                fail(f"{w} trace={trace}: correctness {res}\n{p.stdout}\n{p.stderr[-2000:]}")
            for m in wanted:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    fail(f"{w} trace={trace}: metric {m['name']} missing or wrong unit: {got}")
            print(f"ok   {w} trace={trace}: {len(res['metrics'])} metrics, "
                  f"{res['attempted']} ops, correct")
    print("smoke test passed")


if __name__ == "__main__":
    main()
