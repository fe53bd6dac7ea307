#!/usr/bin/env python3
"""Self-test of the CDC benchmark at tiny sizes (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Checks that:
* all three workloads run and print every end-to-end metric with its unit,
  and the traced run prints every per-layer metric with its unit;
* the drift cascade maps every drifted column (accuracy 1.0) when the
  benchmark is started from another working directory, so Spark's Python
  workers must import ``valentine_spark`` through the launcher's path;
* the oracle check fails, and the command exits non-zero, when the expected
  checksum is corrupted;
* in a directory holding only ``BENCHMARK.json`` and ``perfbench/`` the
  command exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _BENCH = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}


def run(workload: str, *extra: str, cwd: str = ROOT, script: str = RUN):
    cmd = [sys.executable, script, "--workload", workload, "--seed", "3",
           "--seconds", "1", "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith('{"correct"') else None
    return p, result


def printed(stdout: str, workload: str, name: str, unit: str) -> bool:
    return re.search(rf"^{workload}\s+{re.escape(name)}\s+\S+ {re.escape(unit)}\b",
                     stdout, re.M) is not None


def check_metrics(p, result, workload: str, expected: dict) -> list:
    errors = []
    if result is None:
        return [f"{workload}: no result line (exit {p.returncode}): {p.stderr[-2000:]}"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != expected:
        errors.append(f"{workload}: result metrics {got} != {expected}")
    for name, unit in END_TO_END.items():
        if not printed(p.stdout, workload, name, unit):
            errors.append(f"{workload}: {name} [{unit}] not printed")
    for name in ("failed_ops_ratio", "drift_mapping_accuracy"):
        if not printed(p.stdout, workload, name, "ratio"):
            errors.append(f"{workload}: {name} not printed")
    return errors


def report(p) -> dict:
    for line in p.stdout.splitlines():
        if line.startswith('{"report"'):
            return json.loads(line)["report"]
    return {}


def main() -> int:
    errors = []

    p, result = run("bulk_replay")
    errors += check_metrics(p, result, "bulk_replay", END_TO_END)
    if p.returncode != 0 or not (result or {}).get("correct"):
        errors.append(f"bulk_replay: not correct: {report(p).get('failures')}")

    p, result = run("tail_mor", "--trace", "1")
    errors += check_metrics(p, result, "tail_mor", PER_LAYER)
    if p.returncode != 0 or not (result or {}).get("correct"):
        errors.append(f"tail_mor: not correct: {report(p).get('failures')}")
    elif result["metrics"]["cdc.wal.decode_rows"]["value"] <= 0:
        errors.append("tail_mor: traced run decoded no rows")

    # another working directory: the matchers' pandas UDFs run in Python
    # workers that only find valentine_spark through the launcher's path
    p, result = run("schema_drift", cwd=HERE)
    errors += check_metrics(p, result, "schema_drift", END_TO_END)
    rep = report(p)
    if p.returncode != 0 or not (result or {}).get("correct"):
        errors.append(f"schema_drift: not correct: {rep.get('failures')}")
    if rep.get("drift_mapping_accuracy") != 1.0 or not rep.get("drifted_columns"):
        errors.append(f"schema_drift: drift accuracy {rep.get('drift_mapping_accuracy')} "
                      f"over {rep.get('drifted_columns')} columns")

    p, result = run("bulk_replay", "--corrupt-oracle")
    if p.returncode == 0 or result is None or result["correct"] or result["failed"] < 1:
        errors.append(f"corrupted oracle not detected: exit {p.returncode}, result {result}")

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p, result = run("tail_mor", cwd=bare, script=os.path.join("perfbench", "run.py"))
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or result is not None:
        errors.append(f"bare directory: exit {p.returncode}, result {result}")

    for e in errors:
        print("FAIL", e)
    print("selftest:", "FAIL" if errors else "PASS")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
