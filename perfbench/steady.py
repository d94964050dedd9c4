"""Steadiness check: runs each workload repeatedly, one seed per run, and
prints every end-to-end metric's spread next to its bound.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workload NAME ...]

Run from the repository root. The spread is the distance between the first
and third quartile of the runs' values (``statistics.quantiles(n=4)``) as a
share of their median; a metric is steady when its spread stays within a
third of its bound from BENCHMARK.json (``setup_s`` is reported but
exempt). Prints one JSON line per run as it finishes, then the table and
the wall time a full benchmark pass of 4 + 22 runs per workload would take
at the measured mean run time. Exits 1 if any run fails or any spread
exceeds its bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append", help="default: every workload")
    a = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = a.workload or [w["name"] for w in bench["workloads"]]

    ok = True
    values: dict[str, dict[str, list[float]]] = {}
    walls: dict[str, list[float]] = {}
    for w in workloads:
        values[w] = {m["name"]: [] for m in bench["end_to_end"]}
        walls[w] = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            cmd = bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0",
            ]
            t = time.perf_counter()
            out = subprocess.run(cmd, capture_output=True, text=True)
            walls[w].append(time.perf_counter() - t)
            lines = out.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else {}
            if out.returncode != 0 or not result.get("correct"):
                ok = False
                print(f"{w} seed {seed}: FAILED (exit {out.returncode})\n{out.stderr[-2000:]}", file=sys.stderr)
                continue
            for name, xs in values[w].items():
                xs.append(result["metrics"][name]["value"])
            context = json.loads(lines[-2])["context"]
            print(json.dumps({"workload": w, "seed": seed, "wall_s": round(walls[w][-1], 1),
                              "metrics": {k: v["value"] for k, v in result["metrics"].items()},
                              "calib_s": context["calib_s"], "raw": context["raw"]}), flush=True)

    print(f"{'workload':<18} {'metric':<12} {'median':>12} {'spread':>8} {'bound':>6}  n")
    for w, metrics in values.items():
        for m in bench["end_to_end"]:
            xs = metrics[m["name"]]
            if len(xs) < 2:
                continue
            q1, q2, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / q2
            flag = "" if m["name"] == "setup_s" or spread <= m["bound"] / 3 else "  OVER"
            ok &= not flag
            print(f"{w:<18} {m['name']:<12} {q2:>12.6g} {spread:>8.4f} {m['bound']:>6}  {len(xs)}{flag}")
    for w, ws in walls.items():
        print(f"{w}: mean run wall {statistics.fmean(ws):.1f} s, max {max(ws):.1f} s")
    if len(walls) == len(bench["workloads"]):
        mean = statistics.fmean(x for ws in walls.values() for x in ws)
        print(f"full pass: {4 + 22 * len(walls)} runs x {mean:.1f} s = {(4 + 22 * len(walls)) * mean:.0f} s")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
