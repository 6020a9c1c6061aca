"""Two sets of ten benchmark runs of one commit, judged against BENCHMARK.json.

    python3 perfbench/compare.py --workload stream [--small] [--trace]

Run from the repository root. Each set runs ``run.py`` once per seed,
seeds 1 to 10, one run at a time, and prints each run's result line. For
each metric it then prints every set's median and quartiles, the spread
(Q3 - Q1) over the median against the metric's bound, and how far the
second set's median moved from the first's (positive: worse). It exits 1
when a run fails or is incorrect, when a spread or a median move in
either direction exceeds its bound, or when the share of failed
operations differs between sets. With ``--trace`` it runs the traced
variant and instead checks that every job count repeats exactly.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
SETS = 2
FIRST_SEED = 1


def one_run(workload: str, seed: int, seconds: int, small: bool, trace: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
    if small:
        cmd.append("--small")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0 or not p.stdout.strip():
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    return json.loads(p.stdout.strip().splitlines()[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="two sets of runs of one commit")
    p.add_argument("--workload", required=True)
    p.add_argument("--small", action="store_true")
    p.add_argument("--trace", action="store_true")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["per_layer" if args.trace else "end_to_end"]

    sets: list[list[dict]] = []
    for s in range(SETS):
        runs = []
        for seed in range(FIRST_SEED, FIRST_SEED + RUNS):
            res = one_run(args.workload, seed, bench["run_seconds"], args.small, args.trace)
            runs.append(res)
            print(f"set {s + 1} seed {seed}: {json.dumps(res)}", flush=True)
        sets.append(runs)

    ok = all(r["correct"] for runs in sets for r in runs)
    shares = [sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs)
              for runs in sets]
    print(f"failed share per set: {shares}")
    ok &= len(set(shares)) == 1

    if args.trace:
        for m in metrics:
            if m["name"].endswith("_jobs"):
                seen = {r["metrics"][m["name"]]["value"] for runs in sets for r in runs}
                print(f"{m['name']:24s} values seen: {sorted(seen)}")
                ok &= len(seen) == 1
        print("PASS" if ok else "FAIL")
        return 0 if ok else 1

    print(f"{'metric':22s} {'set':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>7s} {'move':>7s} {'bound':>6s}")
    for m in metrics:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        first_median = None
        for s, runs in enumerate(sets):
            q1, med, q3 = quartiles([r["metrics"][name]["value"] for r in runs])
            spread = (q3 - q1) / med if med else float("inf")
            if first_median is None:
                first_median, move = med, 0.0
            else:
                move = (med - first_median) / first_median * (1 if lower else -1)
            bad = spread > bound or abs(move) > bound
            ok &= not bad
            print(f"{name:22s} {s + 1:3d} {med:12.2f} {q1:12.2f} {q3:12.2f} "
                  f"{spread:7.3f} {move:7.3f} {bound:6.2f}{'  <-- over bound' if bad else ''}")
    print("PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
