#!/bin/bash
# Round-close gate runner (VERDICT r14 #2): the require()-gated probes
# — BuildProbe (stage-build scale ratios + the hub-routing hit floor)
# and KnobProbe (serving-knob-vs-scale response curves and replica
# caps) — previously ran only when someone remembered to invoke them,
# so a recall/scale regression could ride a green 479-spec suite
# through a round. This script runs both against the base sf0.1 dir
# and the make_scale.py 10x replica and records GATES_r<N>.json at the
# repo root: per-probe exit status plus every measured gate line
# (STAGE/HITS/CODEGEN/BEAM/BQC/IVFBQ/SCALE), so the round-close record PROVES
# the gates ran and what they measured. Exit non-zero iff any gate
# failed. Round 16 (VERDICT r15 #3 + ADVICE r15): ScaleProbe joined
# the loop — its measured 10x/1x warm-serve ratios previously lived
# only in commit text — and the line filter keeps IVFBQ (KnobProbe's
# composed-knob sweep) and SCALE, which the r15 alternation dropped.
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
probes_json=""
for probe in BuildProbe KnobProbe ScaleProbe; do
  log="target/gates/${probe}_r${ROUND}.log"
  SPARK_GRAFT_BASE="$BASE" SPARK_GRAFT_SCALED="$SCALED" \
    tools/run.sh "graft.$probe" >"$log" 2>&1
  rc=$?
  [ $rc -ne 0 ] && { status=1; tail -20 "$log"; }
  probes_json="${probes_json}${probes_json:+,}\"$probe\":$rc"
  # keep only the measured gate lines (valid JSON after the tag)
  l=$(grep -E '^(STAGE|HITS|CODEGEN|BEAM|BQC|IVFBQ|SCALE) ' "$log" | sed 's/"/\\"/g' |
      awk '{printf "\"%s\",", $0}')
  lines="${lines}${l}"
done
printf '{"round":%s,"base":"%s","scaled":"%s","exit_codes":{%s},"pass":%s,"gate_lines":[%s"_end"]}\n' \
  "$ROUND" "$BASE" "$SCALED" "$probes_json" \
  "$([ $status -eq 0 ] && echo true || echo false)" "$lines" \
  > "GATES_r${ROUND}.json"
echo "gates: $([ $status -eq 0 ] && echo PASS || echo FAIL) -> GATES_r${ROUND}.json"
exit $status
