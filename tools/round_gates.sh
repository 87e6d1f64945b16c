#!/bin/bash
# Round-close gate runner: runs every mode of the require()-gated
# graft.Probe — build (stage-build scale ratios + the hub-routing hit
# floor), knob (serving-knob-vs-scale response curves and replica caps)
# and scale (10x/1x warm-serve ratios) — each in its own JVM, against
# the base sf0.1 dir and the make_scale.py 10x replica, and records
# GATES_r<N>.json at the repo root: per-mode exit status plus every
# measured gate line (STAGE/HITS/CODEGEN/BEAM/BQC/IVFBQ/SCALE), so the
# round-close record proves the gates ran and what they measured.
# Exit non-zero iff any gate failed.
# Usage: tools/round_gates.sh <round>   (run `sbt Test/compile` first)
set -uo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:?usage: round_gates.sh <round-number>}"
BASE="${SPARK_GRAFT_BASE:-/root/testdata/sf0.1}"
SCALED="${SPARK_GRAFT_SCALED:-/tmp/sf1x}"
if [ ! -d "$SCALED" ]; then
  python3 tools/make_scale.py "$BASE" "$SCALED" 10 || exit 1
fi
mkdir -p target/gates
export GRAFT_CP="target/scala-2.13/test-classes:target/scala-2.13/classes"
status=0
lines=""
modes_json=""
for mode in build knob scale; do
  log="target/gates/${mode}_r${ROUND}.log"
  SPARK_GRAFT_BASE="$BASE" SPARK_GRAFT_SCALED="$SCALED" \
    tools/run.sh graft.Probe "$mode" >"$log" 2>&1
  rc=$?
  [ $rc -ne 0 ] && { status=1; tail -20 "$log"; }
  modes_json="${modes_json}${modes_json:+,}\"$mode\":$rc"
  # keep only the measured gate lines (valid JSON after the tag)
  l=$(grep -E '^(STAGE|HITS|CODEGEN|BEAM|BQC|IVFBQ|SCALE) ' "$log" | sed 's/"/\\"/g' |
      awk '{printf "\"%s\",", $0}')
  lines="${lines}${l}"
done
printf '{"round":%s,"base":"%s","scaled":"%s","exit_codes":{%s},"pass":%s,"gate_lines":[%s"_end"]}\n' \
  "$ROUND" "$BASE" "$SCALED" "$modes_json" \
  "$([ $status -eq 0 ] && echo true || echo false)" "$lines" \
  > "GATES_r${ROUND}.json"
echo "gates: $([ $status -eq 0 ] && echo PASS || echo FAIL) -> GATES_r${ROUND}.json"
exit $status
