"""Smoke run of the benchmark on tiny inputs.

    python3 perfbench/smoke.py

Runs every workload untraced and the traced sweep (all three jobs) once,
at ``--scale 0.05``.  Checks that each run's last stdout line is a result
whose metric names and units are exactly those ``BENCHMARK.json``
declares and whose output check passed.
Then checks that the benchmark, copied alone into an empty directory (no
program to measure), exits non-zero without printing a result.  Exits
non-zero on any mismatch.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from run import HERE, ROOT, WORKLOADS


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check(spec: dict, workload: str, trace: int) -> list[str]:
    proc = run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", str(trace), "--scale", "0.05")
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-3000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        errors.append(f"{where}: result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0:
        errors.append(f"{where}: output check failed: {proc.stdout.splitlines()[-2]}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        errors.append(
            f"{where}: missing {sorted(set(want) - set(got))}, "
            f"unexpected {sorted(set(got) - set(want))}, "
            f"unit mismatches {sorted(k for k in set(want) & set(got) if want[k] != got[k])}"
        )
    bad = [k for k, v in result["metrics"].items() if not isinstance(v["value"], (int, float))]
    if bad:
        errors.append(f"{where}: non-numeric values for {bad}")
    return errors


def check_without_program() -> list[str]:
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        proc = run(bare, "--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        return [f"without the program: exit {proc.returncode}, stdout {proc.stdout[-500:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = check_without_program()
    for workload in WORKLOADS:
        errors += check(spec, workload, 0)
    errors += check(spec, WORKLOADS[0], 1)
    for e in errors:
        print(e)
    print("smoke: " + ("FAILED" if errors else "ok"))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
