"""Tiny-size smoke check of the benchmark's output contract.

    python3 perfbench/smoke.py

Runs every workload in BENCHMARK.json at smoke sizes, untraced and traced,
and fails when a listed metric is not printed (by name and unit, and in
the final JSON line), when a printed metric is not listed, when a run
reports incorrect output, or when ``layers.json`` does not map every
per-layer metric to end-to-end metrics and workloads that exist.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_run(workload: str, trace: int, expected: dict) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    where = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    errors = []
    if not result["correct"] or result["failed"]:
        errors.append(f"{where}: incorrect output ({result['failed']}/{result['attempted']} failed)")
    got = result["metrics"]
    for name in sorted(set(expected) - set(got)):
        errors.append(f"{where}: metric {name} missing from the JSON line")
    for name in sorted(set(got) - set(expected)):
        errors.append(f"{where}: metric {name} printed but not listed in BENCHMARK.json")
    for name, unit in expected.items():
        if name in got and got[name]["unit"] != unit:
            errors.append(f"{where}: {name} unit {got[name]['unit']!r}, listed {unit!r}")
        if not any(line.split()[:1] == [name] and line.split()[-1:] == [unit] for line in lines[:-1]):
            errors.append(f"{where}: {name} not printed with its unit")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    errors = [f"layers.json: {n} has no entry" for n in sorted(set(per_layer) - set(layers))]
    errors += [f"layers.json: {n} is not a per-layer metric" for n in sorted(set(layers) - set(per_layer))]
    for name, link in layers.items():
        errors += [f"layers.json: {name} moves unknown metric {m}" for m in link["moves"] if m not in e2e]
        errors += [f"layers.json: {name} on unknown workload {w}" for w in link["on"] if w not in workloads]
    for w in workloads:
        errors += check_run(w, 0, e2e)
        errors += check_run(w, 1, per_layer)
    for e in errors:
        print(e, file=sys.stderr)
    print("smoke: ok" if not errors else f"smoke: {len(errors)} problem(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
