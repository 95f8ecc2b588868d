"""Steadiness record: run every workload once per seed, in sets, and report
per-metric medians, quartiles and spread (IQR ÷ median) per workload and
set, plus the drift of each set's median from the first set's.

    python3 perfbench/steady.py --sets 2 --seeds 10 --out steady.json

Seeds differ per run and per set (set k uses seeds 1000·k + 1 …), so two
sets are independent draws of the same commit.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=CHECKOUT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited "
                           f"{proc.returncode}: {proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    return result


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
            "min": min(values), "max": max(values)}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--out", default=None)
    args = p.parse_args()
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    runs: dict[str, list[list[dict]]] = {w: [] for w in workloads}
    for k in range(args.sets):
        for w in workloads:
            runs[w].append([])
        for i in range(args.seeds):
            for w in workloads:
                r = run_once(w, 1000 * (k + 1) + i + 1, spec["run_seconds"])
                runs[w][k].append(r)
                print(f"set {k} {w} seed {1000 * (k + 1) + i + 1}: "
                      f"correct={r['correct']} wall={r['wall_s']:.1f}s "
                      + " ".join(f"{m}={v['value']:.4g}"
                                 for m, v in r["metrics"].items()),
                      file=sys.stderr, flush=True)
    report = {}
    for w in workloads:
        report[w] = {"sets": [], "wall_s": [r["wall_s"] for s in runs[w]
                                            for r in s],
                     "all_correct": all(r["correct"] for s in runs[w]
                                        for r in s)}
        for s in runs[w]:
            report[w]["sets"].append({
                m["name"]: summarize([r["metrics"][m["name"]]["value"]
                                      for r in s])
                for m in spec["end_to_end"]})
        first = report[w]["sets"][0]
        report[w]["drift"] = {
            m: [(st[m]["median"] - first[m]["median"]) / first[m]["median"]
                for st in report[w]["sets"][1:]] for m in first}
    text = json.dumps(report, indent=1)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text)
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
