#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one run.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark's JVM program from source (perfbench/build.py,
once per source state), generates the workload's input from the seed
(perfbench/gen.py, cached under perfbench/out/data by a digest of its inputs),
runs perfbench/scala/PerfBench.scala in one JVM, checks every query's
output against its DuckDB oracle with the typed comparison of
tools/check.py, and prints a human-readable report followed by one JSON
line:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Reported times are wall times divided by the host's slowdown, measured
on fixed Spark work between the measured passes; see REF_S.

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
of BENCHMARK.json (the traced run alternates untraced and traced passes
and also prints its own tracing overhead). Workloads and their pinned
query lists are in perfbench/workloads.json. Everything the run measured
goes to perfbench/out/runs/<workload>-s<seed>-t<trace>.json.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen    # noqa: E402

# the whole run (build excluded) ends within this many seconds
RUN_BUDGET_S = 170
# the JVM starts no further measured pass past this many seconds, so a
# slow host costs samples rather than time
JVM_SOFT_LIMIT_S = 60
ORACLE_TIMEOUT_S = 20
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "rows_per_s": "rows/s", "query_p50_s": "s",
    "query_tail_s": "s", "failed_frac": "ratio", "peak_rss_mb": "MB",
}
SETUPS = 3
# a pass of either workload takes 1.1-1.6 s on a quiet 4-vCPU host
NOMINAL_PASS_S = 1.25
# a run has 8 passes of 5 queries: p75 is the highest percentile with 10
# samples beyond it
TAIL_PCT = 75
# Host speed. A shared VM runs the same code 2-3.5x slower when its
# neighbours are busy, for minutes at a time. After every measured pass the
# JVM times fixed Spark work that uses no engine code
# (PerfBench.referenceWork); its median divided by REF_S is the host's
# slowdown, and every reported time is the measured wall time divided by
# it. REF_S is a fixed scale, set so that scaled times read about what a
# quiet 4-vCPU host measures (JDK 17, Spark 4.1).
REF_S = 0.09


def load_check():
    """tools/check.py's typed comparison (canon_type, type_report,
    to_sortable, values_match), imported without running its main."""
    path = os.path.join(ROOT, "tools", "check.py")
    if not os.path.exists(path):
        raise SystemExit(f"run: oracle comparison {path} not found")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def host_state() -> dict:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": list(os.getloadavg()),
            "time": time.time(), "cpu_jiffies": cpu}


def steal_frac(h0: dict, h1: dict) -> float:
    """Share of CPU time the hypervisor gave to others between two host
    snapshots (the 8th /proc/stat cpu field)."""
    d = [b - a for a, b in zip(h0["cpu_jiffies"], h1["cpu_jiffies"])]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def source_commit() -> str:
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    stamp = build.STAMP
    return "src-sha256:" + (open(stamp).read().strip()[:16] if os.path.exists(stamp) else "?")


def run_jvm(cp: str, wl: dict, data: str, trace: int, run_dir: str, cpus: int, passes: int,
            timeout_s: float) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    dump = os.path.join(run_dir, "dump")
    os.makedirs(tmp)
    os.makedirs(dump)
    result = os.path.join(run_dir, "jvm.json")
    # fixed heap and generation sizes, and few malloc arenas: the resident
    # set then tracks what the run keeps alive, not the GC's adaptive
    # sizing or per-thread native arenas from run to run
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    cmd = ["java", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn512m",
           "-XX:-UseAdaptiveSizePolicy", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.PerfBench",
            "--data", data, "--queries", ",".join(wl["queries"]),
            "--trace", str(trace), "--cpus", str(cpus), "--setups", str(SETUPS),
            "--passes", str(passes), "--dump", dump,
            "--deadline-ms", str(int((time.time() + min(timeout_s - 10, JVM_SOFT_LIMIT_S)) * 1000)),
            "--tmp", tmp, "--out", result]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"run: JVM exceeded {timeout_s:.0f} s (log: {log})")
    if rc != 0 or not os.path.exists(result):
        tail = open(log, errors="replace").read()[-3000:]
        sys.stderr.write(tail)
        raise SystemExit(f"run: JVM failed with exit code {rc} (log: {log})")
    with open(result) as f:
        return json.load(f)


def oracle_check(ck, res: dict, data: str, dump: str, cache: str) -> dict:
    """Per query: {"ok", "rows", "error"}. The DuckDB oracle runs on the
    same generated tables; its results are cached per input (`cache` is
    named after the input's digest) and oracle SQL text."""
    import duckdb
    import pyarrow.parquet as pq
    import threading
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    os.makedirs(cache, exist_ok=True)
    out = {}
    for name, d in res["dump"].items():
        if d["error"]:
            out[name] = {"ok": False, "rows": None, "error": "threw: " + d["error"]}
            continue
        got = pq.read_table(os.path.join(dump, name))
        sql = res["oracle_sql"].get(name)
        if sql is None:
            ok = got.num_rows > 0
            out[name] = {"ok": ok, "rows": got.num_rows, "check": "rows-only",
                         "error": None if ok else "rows-only check: 0 rows"}
            continue
        sql_digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
        cached = os.path.join(cache, f"{name}-{sql_digest}.parquet")
        if os.path.exists(cached):
            want = pq.read_table(cached)
        else:
            timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
            timer.start()
            try:
                want = con.execute(sql).arrow()
            except duckdb.Error as e:
                out[name] = {"ok": False, "rows": got.num_rows, "check": "oracle",
                             "error": f"oracle failed or exceeded {ORACLE_TIMEOUT_S} s: {e}"}
                continue
            finally:
                timer.cancel()
            pq.write_table(want, cached + ".tmp")
            os.replace(cached + ".tmp", cached)
        err = None
        if sorted(got.schema.names) != sorted(want.schema.names):
            err = f"columns {sorted(got.schema.names)} vs {sorted(want.schema.names)}"
        elif got.num_rows != want.num_rows:
            err = f"rows {got.num_rows} vs oracle {want.num_rows}"
        elif ck.type_report(got, want):
            err = "type mismatch: " + "; ".join(
                f"{c} spark={s} oracle={o}" for c, s, o in ck.type_report(got, want))
        else:
            ok, bad = ck.values_match(ck.to_sortable(got.to_pandas()),
                                      ck.to_sortable(want.to_pandas()))
            if not ok:
                err = f"value mismatch in col {bad}"
        out[name] = {"ok": err is None, "rows": got.num_rows, "check": "oracle", "error": err}
    return out


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def e2e_metrics(res: dict, inp: dict, failed: int, attempted: int, slowdown: float) -> tuple:
    """The end-to-end metrics from the untraced passes, times divided by
    the host's slowdown, and the sample counts printed beside them."""
    # untraced passes only; a traced run cut to one (traced) pass falls
    # back to it, for the printed report
    untraced = any(not p["traced"] for p in res["passes"])
    walls = [p["wall_s"] for p in res["passes"] if not (untraced and p["traced"])]
    lat = [s["wall_s"] for s in res["samples"] if not (untraced and s["traced"])]
    n = len(lat)
    tail = statistics.quantiles(lat, n=100, method="inclusive")[TAIL_PCT - 1]
    pass_s = median(walls) / slowdown
    return {
        "setup_s": median(res["setup_s"]) / slowdown,
        "pass_s": pass_s,
        "rows_per_s": inp["rows"] / pass_s,
        "query_p50_s": median(lat) / slowdown,
        "query_tail_s": tail / slowdown,
        "failed_frac": failed / attempted,
        "peak_rss_mb": res["peak_rss_mb"],
    }, {"passes": len(walls), "samples": n, "beyond": sum(1 for x in lat if x > tail),
        "raw_pass_s": median(walls), "raw_setup_s": median(res["setup_s"])}


def layer_metrics(res: dict) -> dict:
    """Per traced pass, each layer metric summed over the pass's queries
    (exec.stage_skew: the worst query), then the median over passes."""
    per_pass = {}
    for q in res["traced_queries"] or []:
        agg = per_pass.setdefault(q["pass"], {})
        for k, v in q["metrics"].items():
            agg[k] = max(agg.get(k, 0.0), v) if k == "exec.stage_skew" else agg.get(k, 0.0) + v
    keys = sorted({k for p in per_pass.values() for k in p})
    return {k: median([p[k] for p in per_pass.values()]) for k in keys}


def span_report(res: dict) -> tuple:
    """Self time per span name per traced pass (median over passes), and
    the largest |sum of self times - wall| over traced queries."""
    per_pass, worst = {}, 0.0
    for q in res["traced_queries"] or []:
        agg = per_pass.setdefault(q["pass"], {})
        tot = 0.0
        for s in q["spans"]:
            agg[s["name"]] = agg.get(s["name"], 0.0) + s["self_s"]
            tot += s["self_s"]
        worst = max(worst, abs(tot - q["wall_s"]))
    names = sorted({k for p in per_pass.values() for k in p})
    return {k: median([p.get(k, 0.0) for p in per_pass.values()]) for k in names}, worst


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    if args.workload not in workloads:
        raise SystemExit(f"run: unknown workload {args.workload!r}; known: {sorted(workloads)}")
    wl = workloads[args.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ck = load_check()

    os.makedirs(OUT, exist_ok=True)
    host0 = host_state()
    t_build = time.perf_counter()
    cp = build.build()
    build_s = time.perf_counter() - t_build
    deadline = time.perf_counter() + RUN_BUDGET_S
    cpus = min(4, host0["nproc"])

    key = f"{args.workload}-s{args.seed}"
    base = os.path.join(HERE, "fixtures", "sf0.001")
    # inputs are cached under a digest of what makes them, so a change to
    # the generator, the fixture or the replica count makes new ones
    data = os.path.join(OUT, "data", f"{key}-{gen.input_digest(base, args.seed, wl['replicas'])[:16]}")
    inp = gen.generate(base, data, args.seed, wl["replicas"])

    run_dir = os.path.join(OUT, "runs", f"{key}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # a fixed pass count per --seconds, so the sample count does not depend
    # on how fast the measured code is
    passes = max(3, round(args.seconds / NOMINAL_PASS_S))
    t_jvm = time.perf_counter()
    # 25 s stay for the oracle check after the JVM
    res = run_jvm(cp, wl, data, args.trace, run_dir, cpus, passes,
                  deadline - time.perf_counter() - 25)
    slowdown = median(res["reference_s"]) / REF_S
    t_check = time.perf_counter()
    checks = oracle_check(ck, res, data, os.path.join(run_dir, "dump"),
                          os.path.join(OUT, "oracle", os.path.basename(data)))
    phase_s = {"build": build_s, "generate": t_jvm - t_build - build_s,
               "jvm": t_check - t_jvm, "check": time.perf_counter() - t_check}
    host1 = host_state()

    # failures: executions that threw, plus every execution of a query
    # whose output failed the check (or that threw during warmup/dump)
    untraced = [s for s in res["samples"] if not s["traced"]] if args.trace == 0 else res["samples"]
    bad_queries = {n for n, c in checks.items() if not c["ok"]} | set(res["errors"])
    attempted = len(untraced)
    failed = sum(1 for s in untraced if s["error"] or s["name"] in bad_queries)
    e2e, tail = e2e_metrics(res, inp, failed, attempted, slowdown)
    layers = layer_metrics(res) if args.trace else {}
    spans, span_err = span_report(res) if args.trace else ({}, 0.0)
    traced_pass = median([p["wall_s"] for p in res["passes"] if p["traced"]])
    loaded = host0["loadavg"][0] >= host0["nproc"] / 2

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": source_commit(), "phase_s": phase_s,
        "passes_planned": passes,
        "host": {"before": host0, "after": host1, "loaded_at_start": loaded,
                 "steal_frac": steal_frac(host0, host1),
                 "reference_s": res["reference_s"], "slowdown": slowdown,
                 "python": platform.python_version(), "cpus": cpus},
        "jvm": res["jvm"], "input": inp, "e2e": e2e, "tail": tail,
        "checks": checks, "errors": res["errors"], "layers": layers, "self_s": spans,
        "passes": res["passes"], "setup_s": res["setup_s"], "session_s": res["session_s"],
        "samples": res["samples"], "traced_queries": res["traced_queries"],
    }
    with open(run_dir + ".json", "w") as f:
        json.dump(record, f)

    # ---- human-readable report ------------------------------------
    p = print
    p(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
      f"local[{cpus}]  commit {record['commit'][:16]}")
    p(f"host: nproc {host0['nproc']}  load {host0['loadavg'][0]:.2f} -> "
      f"{host1['loadavg'][0]:.2f}{'  LOADED HOST AT START' if loaded else ''}  "
      f"steal {steal_frac(host0, host1) * 100:.1f}%  "
      f"java {res['jvm']['version']}  spark {res['jvm']['spark']}")
    p(f"host speed: reference work median {median(res['reference_s']):.4f} s vs REF_S {REF_S} s: "
      f"slowdown {slowdown:.3f}; times below are wall times / {slowdown:.3f} "
      f"(measured: pass {tail['raw_pass_s']:.4f} s, setup {tail['raw_setup_s']:.4f} s)")
    p(f"input: replicas {inp['replicas'][:4]}{'...' if len(inp['replicas']) > 4 else ''}  "
      f"{inp['rows']} rows  {inp['bytes']} bytes  generated in {inp['gen_s']:.2f} s"
      f"{' (cached)' if inp['cached'] else ''}")
    p("  " + "  ".join(f"{t}={v['rows']}r/{v['bytes']}B" for t, v in inp["tables"].items()))
    p(f"setups {[round(x, 3) for x in res['setup_s']]} s; "
      f"{len(res['passes'])} of {passes} passes measured in {res['measure_s']:.1f} s"
      f"{'  (TRUNCATED: the host was too slow for the time limit)' if len(res['passes']) < passes else ''}")
    for name, e in e2e.items():
        note = ""
        if name == "rows_per_s":
            note = f"  ({inp['rows']} input rows)"
        elif name == "query_p50_s":
            note = f"  ({tail['samples']} samples)"
        elif name == "query_tail_s":
            note = f"  (p{TAIL_PCT}, {tail['beyond']} of {tail['samples']} samples beyond)"
        elif name == "failed_frac":
            note = f"  ({failed} of {attempted} executions)"
        p(f"  {name:<14} {e:12.4f} {E2E_UNITS[name]}{note}")
    p("queries (median wall s, output rows, check):")
    for q in wl["queries"]:
        ws = [s["wall_s"] for s in untraced if s["name"] == q]
        c = checks.get(q, {})
        p(f"  {q:<26} {median(ws):8.3f}  rows={c.get('rows')}  "
          f"{'ok' if c.get('ok') else 'FAIL'} {c.get('check', '')}"
          f"{'  ' + c['error'] if c.get('error') else ''}"
          f"{'  threw: ' + res['errors'][q] if q in res['errors'] else ''}")
    if args.trace:
        untraced_pass = median([p_["wall_s"] for p_ in res["passes"] if not p_["traced"]])
        p(f"tracing overhead: traced pass {traced_pass:.4f} s vs untraced {untraced_pass:.4f} s "
          f"({(traced_pass / untraced_pass - 1) * 100:+.1f}%)")
        p("per-layer (per pass, median over traced passes):")
        for k, v in layers.items():
            p(f"  {k:<28} {v:14.4f}")
        p(f"self time per span (s per pass; max |sum(self) - wall| = {span_err * 1e3:.3f} ms):")
        for k, v in spans.items():
            p(f"  {k:<28} {v:14.4f}")

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    correct = failed == 0 and not bad_queries
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
