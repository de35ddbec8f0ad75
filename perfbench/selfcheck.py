"""Tiny-size self-check of the benchmark.

Runs every workload of BENCHMARK.json once per trace mode on small inputs
and asserts that the result line is well formed, that its outputs passed
their checks, and that it carries exactly the metrics BENCHMARK.json names
for that mode, each with its unit. Run from the repository root:

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def check_one(spec: dict, workload: str, trace: int) -> list:
    section = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[section]}
    cmd = spec["command"] + [
        "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--tiny",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    where = f"{workload} trace={trace}"
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    result = json.loads(lines[-1])
    errors = []
    if set(result) != RESULT_KEYS:
        errors.append(f"{where}: result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") or result.get("attempted", 0) < 1:
        errors.append(f"{where}: checks failed: {lines[-2] if len(lines) > 1 else ''}")
    got = {name: m.get("unit") for name, m in result.get("metrics", {}).items()}
    for name in sorted(set(want) - set(got)):
        errors.append(f"{where}: metric {name} not printed")
    for name in sorted(set(got) - set(want)):
        errors.append(f"{where}: metric {name} not in BENCHMARK.json {section}")
    for name in sorted(set(want) & set(got)):
        if want[name] != got[name]:
            errors.append(f"{where}: {name} unit {got[name]!r}, expected {want[name]!r}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors = []
    for workload in spec["workloads"]:
        for trace in (0, 1):
            found = check_one(spec, workload["name"], trace)
            print(f"{workload['name']} trace={trace}: {'ok' if not found else 'FAIL'}", flush=True)
            errors.extend(found)
    for err in errors:
        print(err, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
