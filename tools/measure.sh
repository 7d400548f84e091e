#!/usr/bin/env bash
# One measurement batch, run SEQUENTIALLY on a quiet box. Every artifact
# carries the round label, so nothing here overwrites an artifact a
# committed BASELINE.md cites; a re-measurement gets a new label and
# BASELINE is regenerated from the new bytes.
#
# Usage: SPARK_GRAFT_SF_DIR=<sf0.1 testdata dir> tools/measure.sh <round>
#        (round e.g. r23; SPARK_GRAFT_SF_DIR is the dir Bench reads)
#
#   0. oracle gate @ sf0.1: Verify + tools/compare.py; ANY mismatch aborts
#      the batch before a single timing is taken (performance work is
#      tuned at sf0.1, so its results are gated there, not only at the
#      driver's sf0.01)
#   1. paired full sweep @ sf0.1, one session:
#        BENCH_local_<round>.json        Spark suite, min-of-3
#        DUCKDB_BENCH_<round>_full.json  DuckDB oracle suite, min-of-3
#      and the headline ratio of their totals
#   2. BENCH_structural_sf15_<round>.json: full structural sweep @ sf1.5
#      (solo min-of-4 + DuckDB same box; WATCH rows drifted > +-25%,
#      exits non-zero if a pinned query has no row)
#
# Both engines run SPARK_GRAFT_CPUS threads (default: every core).
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND=${1:?usage: SPARK_GRAFT_SF_DIR=<sf0.1 dir> tools/measure.sh <round>}
SF01=${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to the sf0.1 testdata dir}
SF15=benchdata/sf1.5
# the sweeps read oracle SQL from this dump (tools/bench_structural.py)
VOUT=/tmp/vout01

if [ ! -d "$SF15" ]; then
  echo "missing $SF15: build it with  python3 tools/make_sf.py $SF01 $SF15 15" >&2
  exit 1
fi

echo "== 0/2 oracle gate @ sf0.1 (Verify + compare)"
rm -rf "$VOUT"
sbt -batch "runMain graft.Verify $SF01 $VOUT" >/dev/null
python3 tools/compare.py "$SF01" "$VOUT" | grep -v '^PASS '

echo "== 1/2 PAIRED full sweep @ sf0.1 (Spark min-of-3 then DuckDB min-of-3, one session)"
rm -f "BENCH_local_$ROUND.json"
SPARK_GRAFT_BENCH_RUNS=3 SPARK_GRAFT_BENCH_OUT="BENCH_local_$ROUND.json" \
  sbt -batch "runMain graft.Bench" | tail -1
python3 tools/bench_duckdb.py "$SF01" "$VOUT/oracle_sql.json" 3 600 \
  > "DUCKDB_BENCH_${ROUND}_full.json"
python3 - "BENCH_local_$ROUND.json" "DUCKDB_BENCH_${ROUND}_full.json" <<'EOF'
import json, sys
s = json.load(open(sys.argv[1]))
d = json.load(open(sys.argv[2]))
st = sum(v for v in s["queries"].values() if v >= 0)
dt = sum(v for v in d["queries"].values() if v >= 0)
print(f"PAIRED HEADLINE sf0.1: spark={st:.1f}s duckdb={dt:.1f}s ratio={st/dt:.3f}")
EOF

echo "== 2/2 full structural sweep @ sf1.5 (min-of-4, duck timeout 300)"
python3 tools/bench_structural.py "$SF15" "BENCH_structural_sf15_$ROUND.json" 4 300

echo "== done: regenerate BASELINE.md from these exact files before committing"
