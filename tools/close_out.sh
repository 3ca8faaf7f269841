#!/usr/bin/env bash
# Round close-out: the ONLY writer of GATE.json. Runs the full spec
# suite plus the two-SF correctness gate at the current HEAD, then
# seals the round by recording that commit. GateSealSpec enforces the
# seal mechanically: once sealed, any later commit touching SOURCE
# (src/, build.sbt, project/, tools/) makes the suite fail until this
# script reruns (re-sealing at the new HEAD) — closing the post-gate-
# landing hole three consecutive rounds of VERDICTs flagged. Artifact
# commits (markdown, recorded *.json, PROGRESS.jsonl) stay allowed so
# the driver's own snapshot/records never trip it.
set -euo pipefail
cd "$(dirname "$0")/.."

if [ -n "$(git status --porcelain -- src build.sbt project tools)" ]; then
  echo "close_out: SOURCE tree is dirty — commit source changes first" >&2
  exit 1
fi

# Auto-unseal (r12 VERDICT #2: 373329d sits in history as a synthetic
# red because source landed one commit before the manual unseal).
# close_out IS the re-verify path, so it may unseal mechanically: if
# GATE.json is still sealed from a previous gate, flip sealed:false in
# its own visible commit BEFORE the suite runs — the suite below then
# polices the actual work, and the seal is re-written at the new HEAD
# on success. Round-start convention stays: the FIRST source commit of
# a round should co-land the sealed:false flip so no intermediate
# commit ever fails GateSealSpec on fresh checkout.
if grep -q '"sealed": true' GATE.json 2>/dev/null; then
  sed -i 's/"sealed": true/"sealed": false/' GATE.json
  git add GATE.json
  git commit -m "Unseal the round gate for re-verification (close_out auto-unseal)"
fi

CPUS="${SPARK_GRAFT_CPUS:-16}"
OUT001="${GATE_OUT001:-/tmp/gate_r_sf001}"
OUT01="${GATE_OUT01:-/tmp/gate_r_sf01}"
rm -rf "$OUT001" "$OUT01"

echo "== close_out: spec suite =="
SUITE_LOG=$(mktemp)
sbt -batch test | tee "$SUITE_LOG"
SUITE_LINE=$(grep -E "Tests: succeeded" "$SUITE_LOG" | tail -1)
SUCCEEDED=$(sed -E 's/.*succeeded ([0-9]+).*/\1/' <<<"$SUITE_LINE")
FAILED=$(sed -E 's/.*failed ([0-9]+).*/\1/' <<<"$SUITE_LINE")
if [ "$FAILED" != "0" ]; then
  echo "close_out: suite has failures — not sealing" >&2
  exit 1
fi

gate_sf() { # sfdir outdir -> "match fail err"
  local SF="$1" OUT="$2" LOG
  LOG=$(mktemp)
  SPARK_GRAFT_CPUS="$CPUS" sbt -batch "runMain graft.Verify $SF $OUT" \
    >/dev/null 2>&1
  python3 tools/verify_local.py "$SF" "$OUT" >"$LOG" 2>&1 || true
  # the compare's timing lines, so a slow oracle can be named from the
  # close-out output (stderr: stdout carries only the counts)
  grep -E "^\[time\]" "$LOG" | sed "s|^|$(basename "$SF"): |" >&2 || true
  local M F
  M=$(grep -c ": MATCH\|: ROWS_ONLY" "$LOG" || true)
  F=$(grep -cE "^\[FAIL|FAIL\]" "$LOG" || true)
  echo "$M $F"
}

echo "== close_out: gate sf0.01 =="
read -r M001 F001 <<<"$(gate_sf /root/testdata/sf0.01 "$OUT001")"
echo "sf0.01: match=$M001 fail=$F001"
echo "== close_out: gate sf0.1 =="
read -r M01 F01 <<<"$(gate_sf /root/testdata/sf0.1 "$OUT01")"
echo "sf0.1: match=$M01 fail=$F01"

if [ "$F001" != "0" ] || [ "$F01" != "0" ]; then
  echo "close_out: correctness gate has FAIL rows — not sealing" >&2
  exit 1
fi

COMMIT=$(git rev-parse HEAD)
cat > GATE.json <<EOF
{"commit": "$COMMIT", "sealed": true,
 "suite": {"succeeded": $SUCCEEDED, "failed": $FAILED},
 "gate": {"sf0.01": {"match": $M001, "fail": $F001},
          "sf0.1": {"match": $M01, "fail": $F01}},
 "source_paths": ["src/", "build.sbt", "project/", "tools/"],
 "allowance": "commits after 'commit' may touch only non-source paths; GateSealSpec enforces"}
EOF
git add GATE.json
git commit -m "Seal the round gate at $COMMIT (suite $SUCCEEDED/0, gate sf0.01 $M001/$F001, sf0.1 $M01/$F01)"
echo "close_out: sealed at $COMMIT"
