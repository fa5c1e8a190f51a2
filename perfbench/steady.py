#!/usr/bin/env python3
"""Steadiness of the benchmark: run workloads many times and summarize.

    python3 perfbench/steady.py --workload dedup [--workload ingest ...] \
        [--runs 10] [--sets 1] [--first-seed 1] [--trace 0|1]

Each run is `perfbench/run.py` with BENCHMARK.json's run_seconds and its
own seed (first-seed, first-seed+1, ...; a second set continues the
sequence). For every metric it prints the median, the first and third
quartiles (`statistics.quantiles(n=4)`), and the spread (Q3 - Q1) /
median; with --sets 2 it also prints how far the second set's median is
from the first's, against the metric's bound in BENCHMARK.json. The
failed share of attempted operations is printed per set. Every run's raw
result is printed to standard error as it ends.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def one(workload, seed, seconds, trace):
    t = time.time()
    r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} failed ({r.returncode}):\n{r.stderr[-3000:]}")
    res = json.loads(lines[-1])
    res["wall_s"] = time.time() - t
    res["seed"] = seed
    res["workload"] = workload
    if trace and len(lines) > 1:
        res["traced_e2e"] = json.loads(lines[-2]).get("traced_e2e")
    return res


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    seed = a.first_seed
    for w in a.workload:
        sets = []
        for _ in range(a.sets):
            runs = []
            for _ in range(a.runs):
                res = one(w, seed, seconds, a.trace)
                seed += 1
                runs.append(res)
                print(json.dumps(res), file=sys.stderr, flush=True)
                if not res["correct"]:
                    sys.exit(f"{w} seed {res['seed']}: output check failed")
            sets.append(runs)
        print(f"\n## {w}: {a.runs} runs x {a.sets} set(s), --seconds {seconds}, "
              f"--trace {a.trace}, mean run {statistics.mean(r['wall_s'] for s in sets for r in s):.1f} s")
        for i, runs in enumerate(sets):
            att = sum(r["attempted"] for r in runs)
            fail = sum(r["failed"] for r in runs)
            print(f"set {i + 1}: failed {fail}/{att} operations")
        print("| metric | unit | set | median | Q1 | Q3 | spread | bound |")
        print("|---|---|---|---|---|---|---|---|")
        for name, m in sets[0][0]["metrics"].items():
            meds = []
            for i, runs in enumerate(sets):
                med, q1, q3, spread = summary([r["metrics"][name]["value"] for r in runs])
                meds.append(med)
                print(f"| {name} | {m['unit']} | {i + 1} | {med:.4g} | {q1:.4g} | {q3:.4g} "
                      f"| {spread:.3f} | {bounds.get(name, '')} |")
            if len(meds) == 2 and meds[0]:
                print(f"| {name} | | 2 vs 1 | {meds[1] / meds[0] - 1:+.3f} | | | | |")
        if a.trace:
            traced = [r for s in sets for r in s if r.get("traced_e2e")]
            if traced:
                print("traced end-to-end medians (compare with an untraced set for the "
                      "tracing overhead):")
                for k in traced[0]["traced_e2e"]:
                    print(f"  {k}: {statistics.median(r['traced_e2e'][k] for r in traced):.4g}")


if __name__ == "__main__":
    main()
