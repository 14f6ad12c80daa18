#!/usr/bin/env python3
"""Smoke test of the benchmark at sf0.001 with a 1x fact.

    python3 perfbench/smoke.py

For every workload it asserts that an untraced run prints exactly the
end-to-end metrics of ``BENCHMARK.json`` and a traced run exactly the
per-layer ones, each with its declared unit, all checks passing; and that
a run whose result is deliberately tampered with reports a failure.
Exits non-zero on the first violated assertion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, corrupt: bool = False) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "smoke"]
    if corrupt:
        cmd.append("--corrupt")
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{cmd} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for workload in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(workload, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{workload} trace={trace}: metrics differ: {set(got) ^ set(want)}"
            assert res["correct"] and res["failed"] == 0, f"{workload} trace={trace}: {res}"
            assert res["attempted"] >= 1
        bad = run(workload, 0, corrupt=True)
        assert not bad["correct"] and bad["failed"] > 0, f"{workload}: tampered result not caught"
        print(f"ok {workload}: {len(spec['end_to_end'])} end-to-end and "
              f"{len(spec['per_layer'])} per-layer metrics; error rate with a tampered "
              f"result {bad['failed']}/{bad['attempted']}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
