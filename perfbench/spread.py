#!/usr/bin/env python3
"""Run-to-run spread of end-to-end metrics.

    python3 perfbench/spread.py --workload W --seeds 1 2 3 ... [--out FILE]
    python3 perfbench/spread.py --workload W --summarize FILE

Runs the benchmark once per seed (untraced, ``run_seconds`` from
BENCHMARK.json) and prints, per metric, the median, the quartiles as
``statistics.quantiles(values, n=4)`` gives them, and the spread
(Q3 - Q1) / median next to the metric's bound. ``--out`` appends each
run's JSON line, with the run's wall time and its stderr summary line,
to FILE; ``--summarize`` prints the same table for the workload's lines
already in FILE.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def summarize(rows: list[dict], bench: dict) -> list[str]:
    lines = [f"{len(rows)} runs"]
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in rows]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        lines.append(
            f"{m['name']:18s} median={med:10.4g} q1={q1:10.4g} q3={q3:10.4g}"
            f" spread={(q3 - q1) / med:6.3f} bound={m['bound']}"
        )
    return lines


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=[])
    ap.add_argument("--out")
    ap.add_argument("--summarize")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.summarize:
        with open(args.summarize) as f:
            rows = [r for r in map(json.loads, f) if r["workload"] == args.workload]
        print("\n".join(summarize(rows, bench)))
        return 0
    rows = []
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall_s = time.perf_counter() - t0
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not line:
            print(p.stderr[-2000:], file=sys.stderr)
            return 1
        rows.append(json.loads(line))
        # the run's own stderr summary: host probe, load time, window size
        info = [ln for ln in p.stderr.splitlines() if ln.startswith("perfbench: ")]
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({
                    "workload": args.workload, "seed": seed, "wall_s": wall_s,
                    "stderr": info[-1] if info else "", **rows[-1],
                }) + "\n")
    print("\n".join(summarize(rows, bench)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
