#!/usr/bin/env python3
"""Steadiness check: run one workload N times, each with its own seed, and
print for every end-to-end metric the median, the quartiles and the
spread (q3 - q1) / median against the metric's bound in BENCHMARK.json,
plus the operations attempted and failed.

    python3 perfbench/steady.py --workload pipeline_trickle --runs 10
    python3 perfbench/steady.py --workload app_backlog --runs 5 --traced 1

`--traced K` adds K traced runs and prints the tracing overhead: the
traced runs' end-to-end medians minus the untraced ones.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

ROOT = os.path.dirname(HERE)


def one(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"run failed (seed {seed}, exit {p.returncode}):\n{p.stderr[-2000:]}")
    res = json.loads(lines[-1])
    traced = [json.loads(ln[len("traced_e2e "):]) for ln in lines
              if ln.startswith("traced_e2e ")]
    return res, (traced[0] if traced else None), lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values, shares, attempted, failed, correct = {}, [], 0, 0, True
    for i in range(a.runs):
        seed = a.first_seed + i
        res, _, lines = one(a.workload, seed, seconds, 0)
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            + f" attempted={res['attempted']} failed={res['failed']}"
            + f" correct={res['correct']} | {lines[0]}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        attempted += res["attempted"]
        failed += res["failed"]
        shares.append(res["failed"] / res["attempted"])
        correct &= res["correct"]

    print(f"\n{a.workload}: {a.runs} runs, {seconds} s each; operations "
          f"attempted {attempted}, failed {failed}; all correct: {correct}; "
          f"failed share per run: {sorted(set(shares))}")
    print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}{'spread/bound':>14}")
    for k, xs in values.items():
        med, q1, q3, sp = stats.spread(xs)
        b = bounds.get(k)
        rel = f"{sp / b:.2f}" if b else "-"
        print(f"{k:<14}{med:>12.5g}{q1:>12.5g}{q3:>12.5g}{sp:>9.3f}{b if b else '-':>7}{rel:>14}")

    if a.traced:
        traced = {}
        for i in range(a.traced):
            _, e2e, _ = one(a.workload, a.first_seed + i, seconds, 1)
            for k, v in e2e.items():
                traced.setdefault(k, []).append(v["value"])
        print("\ntracing overhead (traced median - untraced median):")
        for k, xs in traced.items():
            t, u = statistics.median(xs), statistics.median(values[k])
            print(f"{k:<14}{t - u:>+12.5g}  ({(t - u) / u:+.1%} of {u:.5g})")


if __name__ == "__main__":
    main()
