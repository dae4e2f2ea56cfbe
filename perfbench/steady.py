#!/usr/bin/env python3
"""Steadiness check: for every workload of BENCHMARK.json, two sets of ten
runs, one seed per run, and every end-to-end metric's run-to-run spread
and drift against its bound.

  python3 perfbench/steady.py

Spread = (Q3 - Q1) / median over a set's runs, quartiles as
statistics.quantiles(values, n=4) gives them; drift = how much worse the
second set's median is than the first's, as a share of the first's. A
metric passes when both sets' spreads and the drift are within its bound
from BENCHMARK.json. Runs use the run_seconds of BENCHMARK.json. Exit
code 1 if any metric fails.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
SETS = 2
SEED0 = 1000


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"steady: run failed: {' '.join(cmd)}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def spread(values: list) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse `second` is than `first`, as a share of `first`."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main() -> int:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ok = True
    for wl in (w["name"] for w in bench["workloads"]):
        sets = []
        for s in range(SETS):
            vals = {m["name"]: [] for m in bench["end_to_end"]}
            for i in range(RUNS):
                seed = SEED0 + s * RUNS + i
                out = run_once(wl, seed, bench["run_seconds"])
                if not out["correct"]:
                    print(f"{wl} seed {seed}: INCORRECT ({out['failed']}/{out['attempted']} failed)")
                    ok = False
                for k in vals:
                    vals[k].append(out["metrics"][k]["value"])
                print(f"{wl} seed {seed}: " + "  ".join(
                    f"{k}={v[-1]:.4g}" for k, v in vals.items()), flush=True)
            sets.append(vals)
        print(f"\n{wl}: spread = IQR/median over {RUNS} runs per set, "
              "drift = second set's median vs first")
        for m in bench["end_to_end"]:
            k, bound = m["name"], m["bound"]
            sp = [spread(v[k]) for v in sets]
            d = worse_by(statistics.median(sets[0][k]), statistics.median(sets[1][k]), m["better"])
            line = (f"  {k:<14} bound {bound:5.3f}  spread "
                    + " / ".join(f"{x:6.4f}" for x in sp) + f"  drift {d:+.4f}")
            bad = any(x > bound for x in sp) or d > bound
            flag = "FAIL" if bad else ("ok (< bound/3)" if max(sp) < bound / 3 else "ok")
            print(f"{line}  {flag}")
            ok = ok and not bad
        print(flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
