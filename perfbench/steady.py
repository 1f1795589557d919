"""Steadiness check for the benchmark: two interleaved sets of runs.

    python3 perfbench/steady.py --runs 10 [--workloads spatial,...] [--out F]
    python3 perfbench/steady.py --report F

For run i = 1..N and every workload, runs ``run.py`` once for set A (seed
i) and once for set B (seed 100 + i), alternating which set goes first and
which workload goes first, so host drift over the session lands on both
sets alike. ``--traced K`` adds a ``--trace 1`` run for the first K
seeds of each workload, next to its untraced runs.

Per workload and end-to-end metric it prints each set's median and its
quartile spread (Q3 - Q1) / median, the drift of B's median from A's, and
the tracing overhead (traced ``trace.pass_cpu_s`` minus untraced
``pass_cpu_s``, medians). ``--report F`` prints the same table from the JSON lines an
earlier ``--out F`` wrote. Bounds come from BENCHMARK.json. Exit code 1 when a spread
exceeds its bound (``setup_s`` excepted) or a median drifts past it.
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
ROOT = os.path.dirname(HERE)


def one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else {}
    res.update(workload=workload, seed=seed, trace=trace, rc=p.returncode,
               wall_s=time.monotonic() - t0)
    return res


def spread(vals: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def main() -> int:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(
        w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out", help="append every run's result as a JSON line")
    ap.add_argument("--report", help="only report the runs saved in this file")
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    if args.report:
        with open(args.report) as f:
            return report([json.loads(line) for line in f], workloads, bench)
    results = []

    def record(res: dict) -> None:
        results.append(res)
        print(f"# {res['workload']} seed={res['seed']} trace={res['trace']} "
              f"rc={res['rc']} wall={res['wall_s']:.0f}s correct={res.get('correct')}",
              flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(res) + "\n")

    for i in range(1, args.runs + 1):
        for w in workloads if i % 2 else workloads[::-1]:
            for seed in [i, 100 + i] if i % 2 else [100 + i, i]:
                record(one(w, seed, args.seconds, 0))
            if i <= args.traced:
                record(one(w, i, args.seconds, 1))
    return report(results, workloads, bench)


def report(results: list[dict], workloads: list[str], bench: dict) -> int:
    ok = True
    for w in workloads:
        runs = [r for r in results if r["workload"] == w]
        bad = [r for r in runs if r["rc"] != 0 or not r.get("correct")]
        if bad:
            ok = False
            print(f"{w}: {len(bad)} runs failed or incorrect")
        print(f"{w}: {'metric':14s} {'A median':>10s} {'A spread':>9s} "
              f"{'B median':>10s} {'B spread':>9s} {'drift':>7s} bound")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sets = []
            for lo, hi in ((1, 100), (101, 200)):
                vals = [r["metrics"][name]["value"] for r in runs
                        if r["trace"] == 0 and lo <= r["seed"] < hi and "metrics" in r]
                sets.append((statistics.median(vals), spread(vals)) if len(vals) >= 2
                            else (float("nan"), float("nan")))
            (ma, sa), (mb, sb) = sets
            sign = 1 if m["better"] == "lower" else -1
            drift = sign * (mb - ma) / ma if ma else 0.0
            flag = ""
            if name != "setup_s" and max(sa, sb) > bound:
                flag, ok = " SPREAD", False
            if drift > bound:
                flag, ok = flag + " DRIFT", False
            print(f"{w}: {name:14s} {ma:10.4f} {sa:9.4f} {mb:10.4f} {sb:9.4f} "
                  f"{drift:+7.4f} {bound}{flag}")
        traced = [r["metrics"]["trace.pass_cpu_s"]["value"] for r in runs
                  if r["trace"] == 1 and "metrics" in r]
        if traced:
            base = statistics.median(r["metrics"]["pass_cpu_s"]["value"] for r in runs
                                     if r["trace"] == 0 and "metrics" in r)
            over = statistics.median(traced) - base
            print(f"{w}: tracing overhead {over:+.3f} cpu-s per pass "
                  f"({over / base:+.1%} of {base:.3f} s)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
