#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke/smoke.py [--workload NAME ...]

Run from the repository root. Runs every workload of ``BENCHMARK.json``
at smoke size (``run.py --smoke``: a short stream backlog and open loop;
decode has no smaller size), untraced and traced, and checks that

- each run exits 0 with a result line whose ``correct`` is true and
  whose metrics are exactly the ``end_to_end`` (untraced) or
  ``per_layer`` (traced) names of ``BENCHMARK.json``, each with its unit;
- a run with ``--inject-failure`` reports ``failed`` above zero (so a
  non-zero fail ratio) and ``correct`` false.

Exits 1 on the first failed check.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "2",
           "--trace", str(trace), "--smoke", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd[1:])} exited {proc.returncode}: {proc.stderr[-500:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, expected: list[dict], label: str) -> None:
    got = result["metrics"]
    names = [m["name"] for m in expected]
    if sorted(got) != sorted(names):
        raise AssertionError(f"{label}: metrics {sorted(got)} are not {sorted(names)}")
    for m in expected:
        value = got[m["name"]]
        if value.get("unit") != m["unit"] or not isinstance(value.get("value"), float):
            raise AssertionError(f"{label}: {m['name']} printed as {value}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description="Smoke-test the benchmark.")
    ap.add_argument("--workload", action="append", choices=[w["name"] for w in spec["workloads"]])
    workloads = ap.parse_args().workload or [w["name"] for w in spec["workloads"]]
    try:
        for name in workloads:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                result = run(name, trace)
                label = f"{name} --trace {trace}"
                if not result["correct"] or result["failed"] or result["attempted"] < 1:
                    raise AssertionError(f"{label}: {result}")
                check_metrics(result, spec[key], label)
                print(f"ok   {label}: {result['attempted']} operations", flush=True)
        result = run(workloads[0], 0, "--inject-failure")
        if result["failed"] < 1 or result["correct"]:
            raise AssertionError(f"injected failure not counted: {result}")
        print(f"ok   {workloads[0]} --inject-failure: fail ratio "
              f"{result['failed'] / result['attempted']:.3f}")
    except AssertionError as exc:
        print(f"FAIL {exc}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
