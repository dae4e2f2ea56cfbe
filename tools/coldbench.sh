#!/bin/bash
# Cold-JVM A/B bench (round-22 methodology fix, VERDICT r21 item 2).
#
# Round 21's optimization A/Bs were warm pairs in a long-lived JVM
# (second-run numbers in one warm JVM); six of its claimed wins reversed on
# the driver, whose statistic is: FRESH JVM, untimed warmup pass, N
# measured passes, per-query MIN. This wrapper reproduces that exact
# statistic for a query subset: every invocation launches a new JVM via
# `sbt "runMain graft.Bench"` with SPARK_GRAFT_BENCH_ONLY, so deep-plan
# analysis / janino codegen / AQE replan costs are charged the way the
# driver charges them. Run variants serially (bench_detail.json is
# written to the repo root).
#
# Usage: tools/coldbench.sh <label> <q1,q2,...> [passes]
# Output: per-query min seconds; JSON kept at /tmp/coldbench_<label>.json
set -euo pipefail
label=$1; queries=$2; passes=${3:-2}
export SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32}
export SPARK_GRAFT_BENCH_ONLY="$queries"
export SPARK_GRAFT_BENCH_PASSES=$passes
out="/tmp/coldbench_${label}.log"
cd "$(dirname "$0")/.."
sbt -batch "runMain graft.Bench" > "$out" 2>&1 || { tail -5 "$out"; exit 1; }
cp bench_detail.json "/tmp/coldbench_${label}.json"
python3 - "$label" <<'EOF'
import json, sys
d = json.load(open(f"/tmp/coldbench_{sys.argv[1]}.json"))
for k, v in sorted(d["queries"].items()):
    print(f"  {k}: {v:.3f}")
print(f"[{sys.argv[1]}] total={d['value']:.3f}s failed={d['failed']}")
EOF
