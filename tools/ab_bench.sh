#!/bin/bash
# Isolated subset A/B bench runner (r19).
# Usage: tools/ab_bench.sh <label> <classesDir> <nRuns> key1 [key2 ...]
# Runs graft.Bench on the given keys from a scratch cwd, N invocations,
# appends each invocation's one-line JSON to /tmp/ab/<label>.jsonl.
# Honors SPARK_GRAFT_BENCH_RUNS (set =1 for single-run first-run-honesty).
set -euo pipefail
LABEL="$1"; CLASSES="$2"; N="$3"; shift 3
REPO="$(cd "$(dirname "$0")/.." && pwd)"
mkdir -p /tmp/ab /tmp/benchrun
cd /tmp/benchrun
: > "/tmp/ab/${LABEL}.jsonl"
for i in $(seq 1 "$N"); do
  SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
  GRAFT_CLASSES="$CLASSES" \
    "$REPO/tools/run.sh" graft.Bench "$@" 2>/dev/null \
    | grep '"queries"' >> "/tmp/ab/${LABEL}.jsonl" || echo "RUN $i FAILED" >&2
done
python3 - "$LABEL" <<'EOF'
import json, sys
lab = sys.argv[1]
runs = [json.loads(l) for l in open(f"/tmp/ab/{lab}.jsonl") if l.strip()]
# a failed key reads 0.0 in Bench's "queries": a run with any failure is
# excluded, so a broken variant can never read as the fastest leg
bad = [r for r in runs if r.get("failures")]
for r in bad:
    print(f"!! {lab}: EXCLUDED a run with failures {r['failures']}", file=sys.stderr)
runs = [r for r in runs if not r.get("failures")]
if not runs:
    sys.exit(f"!! {lab}: no run without failures")
keys = list(runs[0]["queries"])
mins = {k: min(r["queries"][k] for r in runs) for k in keys}
print(f"== {lab}: {len(runs)} runs, min-merged" + (f", {len(bad)} EXCLUDED for failures" if bad else "") + " ==")
for k in keys: print(f"  {k}: {mins[k]:.3f}  (" + ", ".join(f"{r['queries'][k]:.2f}" for r in runs) + ")")
print(f"  TOTAL(min-merged): {sum(mins.values()):.2f}")
EOF
