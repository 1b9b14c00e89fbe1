#!/usr/bin/env python3
"""Self-test of the benchmark at smoke size (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Run from the repository root. Checks that:

- ``BENCHMARK.json`` has the shape the benchmark runner expects;
- every ``end_to_end`` metric is printed with its unit by ``--trace 0`` on
  each workload, and every ``per_layer`` metric by ``--trace 1``;
- clean runs of each workload, and the traced run, are correct with no
  failed op, and a run whose output lost one row (``--corrupt``) reports
  ``correct: false`` with at least one failed op;
- in a directory that holds only ``BENCHMARK.json`` and the benchmark's
  files, the command exits non-zero without printing a result.

Exits 0 when every check passes, 1 otherwise.
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
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_spec(spec: dict) -> list[str]:
    bad = []
    if set(spec) != {"command", "paths", "run_seconds", "workloads",
                     "end_to_end", "per_layer"}:
        bad.append(f"top-level keys {sorted(spec)}")
    if not 2 <= len(spec["workloads"]) <= 8:
        bad.append("workloads: need 2 to 8")
    names = []
    for w in spec["workloads"]:
        names.append(w["name"])
        if set(w) != {"name", "why"} or len(w["why"]) > 200 \
                or "\n" in w["why"]:
            bad.append(f"workload {w['name']}: keys or why")
    e2e = spec["end_to_end"]
    for m in e2e:
        names.append(m["name"])
        if set(m) != {"name", "unit", "better", "bound"} \
                or not 0 < m["bound"] <= 0.25:
            bad.append(f"end_to_end {m['name']}: keys or bound")
    setup = [m for m in e2e if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" \
            or setup[0]["better"] != "lower" \
            or setup[0]["bound"] < max(m["bound"] for m in e2e):
        bad.append("setup_s: needs unit s, lower, the largest bound")
    for m in spec["per_layer"]:
        names.append(m["name"])
        if set(m) != {"name", "unit", "better"}:
            bad.append(f"per_layer {m['name']}: keys")
    for m in e2e + spec["per_layer"]:
        if not UNIT.match(m["unit"]) or m["better"] not in ("lower",
                                                            "higher"):
            bad.append(f"{m['name']}: unit or better")
    bad += [f"bad name {n}" for n in names if not NAME.match(n)]
    if len(names) != len(set(names)):
        bad.append("names are not unique")
    return bad


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    proc = subprocess.run(
        ["python3", os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
    return proc.returncode, result


def check_metrics(result: dict | None, want: list[dict]) -> list[str]:
    if result is None:
        return ["no result line"]
    bad = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        bad.append(f"result keys {sorted(result)}")
    if result.get("attempted", 0) < 1:
        bad.append("attempted < 1")
    got = result.get("metrics", {})
    names = {m["name"] for m in want}
    if set(got) != names:
        bad.append(f"metric names differ: {sorted(set(got) ^ names)}")
    for m in want:
        g = got.get(m["name"])
        if g is None or g.get("unit") != m["unit"] \
                or not isinstance(g.get("value"), (int, float)):
            bad.append(f"{m['name']}: {g}")
    return bad


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = [f"spec: {b}" for b in check_spec(spec)]
    base = ["--seed", "7", "--seconds", "1", "--smoke"]

    for w in spec["workloads"]:
        rc, res = run(["--workload", w["name"], *base, "--trace", "0"])
        failures += [f"{w['name']} trace 0: {b}"
                     for b in check_metrics(res, spec["end_to_end"])]
        if rc != 0 or res is None or not res["correct"] or res["failed"]:
            failures.append(f"{w['name']}: clean run not correct (rc={rc})")
        rc, res = run(["--workload", w["name"], *base, "--trace", "0",
                       "--corrupt"])
        if rc != 0 or res is None or res["correct"] \
                or res["failed"] < 1:
            failures.append(f"{w['name']}: a dropped row was not caught "
                            f"(rc={rc}, result={res and res['correct']})")

    rc, res = run(["--workload", spec["workloads"][0]["name"], *base,
                   "--trace", "1"])
    failures += [f"trace 1: {b}"
                 for b in check_metrics(res, spec["per_layer"])]
    if rc != 0 or res is None or not res["correct"] or res["failed"]:
        failures.append(f"clean traced run not correct (rc={rc})")

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    rc, res = run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                   "--seconds", "1", "--trace", "0"], cwd=bare)
    if rc == 0 or res is not None:
        failures.append(f"bare directory: rc={rc}, result={res}")
    shutil.rmtree(bare, ignore_errors=True)

    for f in failures:
        print("FAIL", f)
    print("selftest:", "ok" if not failures else f"{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
