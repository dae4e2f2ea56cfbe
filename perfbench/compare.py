#!/usr/bin/env python3
"""A/B comparison of two checkouts with the same benchmark.

  python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Both directories must hold identical benchmark files (BENCHMARK.json and
perfbench/, build outputs aside); copy this benchmark into the parent
checkout first if it predates it. For every workload of BENCHMARK.json
the script runs ten pairs, one fresh seed per pair, alternating which side runs
first, and reports per end-to-end metric:

  - each side's median and quartiles;
  - the change's win fraction over the pairs (ties count for neither);
  - a verdict: "gain" when the change wins at least 9/10 of the pairs and
    the medians differ by more than the parent's own quartile distance;
    else "unresolved" when the parent's spread (IQR/median) exceeds the
    bound, unless every change run beats every parent run; else "worse"
    when the change's median is worse than the parent's by more than the
    metric's bound; otherwise "within bound".

It then makes one traced run per side per workload and prints the
per-layer metrics side by side (e.g. `sched.jobs 41 -> 23`).
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

PAIRS = 10
SEED0 = 2000


def bench_digest(root: str) -> str:
    h = hashlib.sha256()
    files = [os.path.join(root, "BENCHMARK.json")]
    for d, subdirs, names in os.walk(os.path.join(root, "perfbench")):
        subdirs[:] = sorted(s for s in subdirs if s not in ("out", "__pycache__"))
        files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run(root: str, wl: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"compare: run failed in {root}: {' '.join(cmd)}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(par, chg, better, bound):
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(par, chg) if sign * (p - c) > 0)
    pq1, pmed, pq3 = quartiles(par)
    _, cmed, _ = quartiles(chg)
    win_frac = wins / len(par)
    worse = sign * (cmed - pmed) / pmed
    if win_frac >= 0.9 and abs(cmed - pmed) > (pq3 - pq1):
        v = "gain"
    elif (pq3 - pq1) / pmed > bound and not (
            max(sign * c for c in chg) < min(sign * p for p in par)):
        v = "unresolved"
    elif worse > bound:
        v = "worse"
    else:
        v = "within bound"
    return win_frac, v


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    args = ap.parse_args()
    par_root, chg_root = os.path.abspath(args.parent), os.path.abspath(args.change)
    if bench_digest(par_root) != bench_digest(chg_root):
        raise SystemExit("compare: the two checkouts hold different benchmark files")
    bench = json.load(open(os.path.join(chg_root, "BENCHMARK.json")))
    secs = bench["run_seconds"]

    for wl in (w["name"] for w in bench["workloads"]):
        res = {"parent": [], "change": []}
        for i in range(PAIRS):
            seed = SEED0 + i
            order = [("parent", par_root), ("change", chg_root)]
            if i % 2:
                order.reverse()
            for side, root in order:
                out = run(root, wl, seed, secs, 0)
                if not out["correct"]:
                    print(f"{wl} {side} seed {seed}: INCORRECT "
                          f"({out['failed']}/{out['attempted']} failed)")
                res[side].append(out["metrics"])
            print(f"{wl}: pair {i + 1}/{PAIRS} done", file=sys.stderr, flush=True)
        print(f"\n== {wl}  ({PAIRS} pairs, {secs} s runs)")
        print(f"  {'metric':<14} {'parent median [Q1, Q3]':>34} {'change median [Q1, Q3]':>34}"
              f"  {'wins':>5}  verdict")
        for m in bench["end_to_end"]:
            k = m["name"]
            par = [r[k]["value"] for r in res["parent"]]
            chg = [r[k]["value"] for r in res["change"]]
            pq = quartiles(par)
            cq = quartiles(chg)
            win, v = verdict(par, chg, m["better"], m["bound"])
            print(f"  {k:<14} {pq[1]:12.4f} [{pq[0]:.4f}, {pq[2]:.4f}]"
                  f" {cq[1]:12.4f} [{cq[0]:.4f}, {cq[2]:.4f}]  {win:5.2f}  {v}")
        tp = run(par_root, wl, SEED0, secs, 1)["metrics"]
        tc = run(chg_root, wl, SEED0, secs, 1)["metrics"]
        print(f"  per-layer (traced run, seed {SEED0}): parent -> change")
        for k in tp:
            print(f"    {k:<28} {tp[k]['value']:.4g} -> {tc[k]['value']:.4g} {tp[k]['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
