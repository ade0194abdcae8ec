"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload serve --seeds 1-10 [--trace 0]

For every metric: the median of its values and the distance between
the first and third quartile (``statistics.quantiles(values, n=4)``) as
a share of the median, next to the metric's bound from BENCHMARK.json.
Each run's JSON line and wall time are appended to
``.perfbench_out/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    values: dict[str, list[float]] = {}
    with open(os.path.join(out_dir, f"spread-{args.workload}.jsonl"), "a") as log:
        for seed in seeds(args.seeds):
            cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.perf_counter() - t0
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                print(f"seed {seed}: exit {proc.returncode}")
                return 1
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            report = [json.loads(l.partition(": ")[2]) for l in lines if l.startswith("perfbench report: ")]
            log.write(json.dumps({"seed": seed, "wall_s": wall, "result": result,
                                  "report": report[0] if report else None}) + "\n")
            log.flush()
            print(f"seed {seed}: {wall:.1f} s, correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']}", flush=True)
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None else ("  ok" if spread < bound / 3 else "  WIDE")
        print(f"{name:40s} median {med:14.4f}  spread {spread:6.3f}  bound {bound}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
