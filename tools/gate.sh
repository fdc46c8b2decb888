#!/usr/bin/env bash
# Full release gate for this repo — run after the LAST commit touching
# src/main or the oracle SQL in a round (SCALE.md "Release-process rule"):
#
#   1. full ScalaTest suite
#   2. perfbench build + unit tests (perfbench compiles the program from
#      source, so a GraftNode/TxLog API change that breaks it is red here)
#   3. Verify dump at sf0.01 + DuckDB oracle compare (the driver's gate)
#   4. full Bench at sf0.1 (JSON line on stdout)
#
# Exits non-zero on the first red. Timestamps printed for the SCALE.md
# record. Usage: tools/gate.sh [outdir]   (default /tmp/graft_gate)
set -euo pipefail
cd "$(dirname "$0")/.."
OUT="${1:-/tmp/graft_gate}"
mkdir -p "$OUT"

stamp() { date -u +%Y-%m-%dT%H:%M:%SZ; }

# the north star's "fewer lines" figure, recorded with every gate run
echo "gate: main-code lines $(find src/main -name '*.scala' | xargs cat | wc -l)"

# the README "Size routes" table names exactly the keys the code reads
# through Route.maxRows(<spark>, "<name>", <default>)
code_keys=$({ grep -rhoE 'Route\.maxRows\([^,]+, *"[a-z.]+"' src/main || true; } \
  | grep -oE '"[a-z.]+"' | tr -d '"' | sort -u)
doc_keys=$(awk '/^Size routes/ {s = 1; next} s && /^\|/ {t = 1; print; next} t {exit}' README.md \
  | sed -nE 's/^\| `([a-z.]+)` \|.*/\1/p' | sort -u)
echo "gate: route keys $(echo "$code_keys" | grep -c .)"
[ "$code_keys" = "$doc_keys" ] || {
  echo "gate: route keys differ: code [$(echo $code_keys)] README [$(echo $doc_keys)]"; exit 1; }

echo "gate: sbt test start $(stamp)"
sbt -batch test > "$OUT/sbt_test.log" 2>&1 || {
  grep -E "Tests:|FAILED|Failed tests" "$OUT/sbt_test.log" | tail -10 || true
  echo "gate: sbt test RED"; exit 1; }
grep -E "Tests: succeeded" "$OUT/sbt_test.log" | tail -1 || true
echo "gate: sbt test end $(stamp)"

echo "gate: perfbench test start $(stamp)"
(cd perfbench && sbt -batch test) > "$OUT/perfbench_test.log" 2>&1 || {
  grep -E "Tests:|FAILED|Failed tests|\[error\]" "$OUT/perfbench_test.log" | tail -10 || true
  echo "gate: perfbench test RED"; exit 1; }
grep -E "Tests: succeeded" "$OUT/perfbench_test.log" | tail -1 || true
echo "gate: perfbench test end $(stamp)"

echo "gate: verify start $(stamp)"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $OUT/verify" \
  > "$OUT/verify.log" 2>&1 || { tail -5 "$OUT/verify.log"; echo "gate: verify RED"; exit 1; }
grep -E '\[verify\]' "$OUT/verify.log" || true   # per-query failures, if any
python3 tools/check_oracle.py /root/testdata/sf0.01 "$OUT/verify" \
  > "$OUT/oracle.log" 2>&1 || { grep "^FAIL" "$OUT/oracle.log" | head -20; echo "gate: oracle RED"; exit 1; }
tail -1 "$OUT/oracle.log"
echo "gate: verify end $(stamp)"

echo "gate: bench start $(stamp)"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="${BENCH_CPUS:-32}" \
  sbt -batch 'runMain graft.Bench' 2> "$OUT/bench.err" \
  | { grep -F '"metric"' || true; } | tee "$OUT/bench.json"
# Bench catches per-query Throwables and reports them in the JSON
# ("errors":N) while exiting 0 — a red bench must fail the gate, and a
# bench that printed no metric line at all is equally red
# Bench now prints TWO lines (r15 VERDICT #1): the full per-query board
# first, then a compact summary line — parse the full one (it carries
# "queries"), tolerate the extra line.
python3 - "$OUT/bench.json" <<'PY' || { echo "gate: bench RED"; exit 1; }
import json, sys
raw = open(sys.argv[1]).read()
lines = [l[l.find('{'):] for l in raw.splitlines() if '{' in l]
full = [l for l in lines if '"queries"' in l]
assert full, "no bench JSON line"
b = json.loads(full[0])
assert b.get("errors") == 0, f"bench errors: {b.get('errors')} " + str(
    [k for k, v in b.get("queries", {}).items() if isinstance(v, str)])
PY
echo "gate: bench end $(stamp)"
# The round's full per-gate board stays IN-REPO as clean JSON: Bench itself
# writes tools/bench_last.json (no sbt log prefix). Refresh
# tools/bench_ref.json from it by hand only after confirming a quiet box
# (cpu_control_min ≈ the 0.540 anchor).
echo "gate: full bench JSON written by Bench to tools/bench_last.json"
echo "gate: ALL GREEN"
