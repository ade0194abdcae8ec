"""Self-test of the benchmark on a tiny seeded corpus.

    python3 perfbench/selftest.py

Checks, for every workload with ``--trace 0`` and ``--trace 1``, that the
run exits 0 and its last output line is a JSON object with exactly the
keys ``correct``, ``attempted``, ``failed``, ``metrics``, carrying every
metric of BENCHMARK.json with its unit, all answers correct. Then checks
that a deliberately corrupted answer is counted as a failed operation,
and that a directory holding only BENCHMARK.json and the benchmark's
files makes the benchmark exit non-zero without printing a result.
Takes about five minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEYS = {"correct", "attempted", "failed", "metrics"}


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def last_json(proc: subprocess.CompletedProcess) -> dict:
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(result) != KEYS:
        raise AssertionError(f"result keys {sorted(result)}")
    return result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    tiny = ["--seed", "1", "--seconds", "2", "--scale", "tiny"]
    for w in spec["workloads"]:
        for trace in (0, 1):
            result = last_json(run(ROOT, "--workload", w["name"], "--trace", str(trace), *tiny))
            wanted = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == wanted, f"{w['name']} trace={trace}: metrics {got} != {wanted}"
            assert all(isinstance(v["value"], float) for v in result["metrics"].values())
            assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
            print(f"ok   {w['name']} --trace {trace}: {len(got)} metrics, "
                  f"{result['attempted']} operations checked", flush=True)

    result = last_json(run(ROOT, "--workload", spec["workloads"][-1]["name"], "--trace", "0",
                           "--corrupt", *tiny))
    assert not result["correct"] and result["failed"] == 1, result
    print("ok   a corrupted answer counts as one failed operation", flush=True)

    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="selftest-bare-", dir=runs)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = run(bare, "--workload", spec["workloads"][0]["name"], "--trace", "0", *tiny)
        assert proc.returncode != 0, "ran without the engine"
        assert not any(l.startswith("{") for l in proc.stdout.splitlines()), proc.stdout
    finally:
        shutil.rmtree(bare)
    print("ok   without the engine: exit", proc.returncode, "and no result", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
