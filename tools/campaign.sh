#!/bin/bash
# Measurement campaign over one scale factor.
#
# Usage: tools/campaign.sh SF_DIR TAG STEPS [ONLY]
#   SF_DIR  fixture dir (read-only), or GenScale's output dir for `genscale`
#   TAG     artifact tag: everything lands in target/campaign/TAG/
#           (plan dumps in plans/TAG/)
#   STEPS   comma list, run in this order whatever order is given:
#             genscale  synthesize a 10x corpus into SF_DIR from
#                       $SPARK_GRAFT_SF_DIR (GenScale's default: sf0.1)
#             verify    graft.Verify + tools/check_oracle.py (DuckDB oracle
#                       hash compare, oracle wall times -> oracle_times.json)
#             sweeps    two back-to-back graft.Bench sweeps
#                       -> bench_sweep1.json, bench_sweep2.json
#             gate      tools/ratio_gate.py on the min of the two sweeps
#                       against this campaign's oracle_times.json when the
#                       verify step wrote one, else ORACLE_TIMES_<sf>.json
#             plans     graft.tools.PlanAudit formatted plans, one file per
#                       query (needs ONLY)
#   ONLY    optional comma list of query-name prefixes (SPARK_GRAFT_ONLY);
#           empty = the full registry
#
# Cores come from nproc. Example (sf0.1 smoke over two queries):
#   tools/campaign.sh path/to/sf0.1 smoke verify,sweeps,gate q41,q157
set -euo pipefail
[ $# -ge 3 ] || { sed -n '3,27p' "$0"; exit 2; }
SF=$1 TAG=$2 STEPS=",$3," ONLY=${4:-}
cd "$(dirname "$0")/.."
CPUS=$(nproc)
OUT=target/campaign/$TAG
mkdir -p "$OUT"
has() { [[ $STEPS == *",$1,"* ]]; }
sfname=$(basename "$SF")
oracle_opts=(--timeout 2400)
[ "$sfname" = sf1.0 ] && oracle_opts+=(--declare tools/oracle_sf1_declared.json)

if has genscale; then
  sbt -batch "runMain graft.tools.GenScale 10 $SF" 2>&1 | tail -2
  echo PHASE_GENSCALE_DONE
fi

if has verify; then
  rm -rf "$OUT/verify"
  env ${ONLY:+SPARK_GRAFT_ONLY=$ONLY} SPARK_GRAFT_CPUS=$CPUS \
    sbt -batch "runMain graft.Verify $SF $OUT/verify" 2>&1 | grep -E '\[verify\]' | tail -20 || true
  python3 tools/check_oracle.py "$SF" "$OUT/verify" "$OUT/oracle_times.json" \
    "${oracle_opts[@]}" 2>&1 | tail -20
  echo PHASE_VERIFY_DONE
fi

if has sweeps; then
  for i in 1 2; do
    rm -f target/bench.json
    env ${ONLY:+SPARK_GRAFT_ONLY=$ONLY} SPARK_GRAFT_SF_DIR=$SF SPARK_GRAFT_CPUS=$CPUS \
      sbt -batch "runMain graft.Bench" 2>&1 \
      | grep -E '"metric"|BENCHCAL|TOTAL|REFUSED|failed' | tail -8 || true
    cp target/bench.json "$OUT/bench_sweep$i.json"
    echo "PHASE_SWEEP${i}_DONE"
  done
fi

if has gate; then
  oracle=$OUT/oracle_times.json
  [ -f "$oracle" ] || oracle=ORACLE_TIMES_$sfname.json
  python3 tools/ratio_gate.py "$OUT/bench_sweep1.json,$OUT/bench_sweep2.json" \
    "$oracle" ADJUDICATIONS.json --out "$OUT/ratios.json" | tail -20
  echo PHASE_GATE_DONE
fi

if has plans; then
  [ -n "$ONLY" ] || { echo "plans needs ONLY" >&2; exit 2; }
  mkdir -p "plans/$TAG"
  SPARK_GRAFT_SF_DIR=$SF sbt -batch "runMain graft.tools.PlanAudit ${ONLY//,/ }" \
    > "$OUT/planaudit.txt" 2>&1
  python3 - "$OUT/planaudit.txt" "plans/$TAG" <<'EOF'
import re, sys
txt = re.sub(r"^\[(info|error|success)\] ?", "", open(sys.argv[1]).read(), flags=re.M)
blocks = re.split(r"=+ (q\w+) =+", txt)
for name, body in zip(blocks[1::2], blocks[2::2]):
    open(f"{sys.argv[2]}/{name}.txt", "w").write(body.strip() + "\n")
    print("wrote", name)
EOF
  echo PHASE_PLANS_DONE
fi
