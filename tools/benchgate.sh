#!/bin/bash
# Bench regression GATE, two modes:
#
# 1) Re-run mode (default): re-run graft.Bench at the committed
#    artifact's own config (sf dir and cpus — read from the artifact,
#    so the compare is never parallelism-incomparable) and benchdiff the fresh run against it. Exit 0 = no
#    regression; nonzero = a query regressed beyond threshold (or
#    broke), with benchdiff's report naming it. This turns "a regressed
#    query resurfaces as a bench mystery next round" into a one-command
#    pre-commit check (VERDICT r14 #7).
#
#      tools/benchgate.sh [committed_artifact] [reps]
#        committed_artifact: default bench_full.json
#        reps: default 1 (gate mode — fast; the committed artifact still
#              carries its own 3-rep spread, this run only needs enough
#              signal for benchdiff's sentinel-normalized 1.5x threshold)
#
# 2) Acceptance mode (VERDICT r15 #2): compare two EXISTING same-config
#    artifacts — e.g. the driver's round-end run against the committed
#    one — and refuse (exit 1) if any query is >2x off in EITHER
#    direction, printing the solo-probe adjudication command per
#    flagged query. Round 15 shipped two same-HEAD sf0.1 artifacts 26%
#    apart with three >2x per-query divergences and no adjudication;
#    this mode makes that pair un-acceptable by construction; it is
#    the one divergence check (Bench does not compare artifacts).
#
#      tools/benchgate.sh --accept NEW.json [COMMITTED.json]
#        COMMITTED.json: default bench_full.json
set -eu
cd "$(dirname "$0")/.."

if [ "${1:-}" = "--accept" ]; then
  NEW=${2:?usage: benchgate.sh --accept NEW.json [COMMITTED.json]}
  OLD=${3:-bench_full.json}
  echo "[benchgate] acceptance compare: $OLD (committed) vs $NEW (candidate)"
  python3 tools/benchdiff.py "$OLD" "$NEW" --divergence --threshold 2.0
  exit $?
fi

ART=${1:-bench_full.json}
REPS=${2:-1}
# one field per line: a path with spaces survives (r15 advice), unlike
# a whitespace-split `read -r SF CPUS <<< "$CFG"`
{ IFS= read -r SF; IFS= read -r CPUS; } < <(
python3 - "$ART" << 'EOF'
import json, sys
d = json.load(open(sys.argv[1]))
print(d.get("sf", "/root/testdata/sf0.1"))
print(d.get("cpus", "32"))
EOF
)
OUT=$(mktemp /tmp/graft_benchgate.XXXXXX.json)
LOG=$(mktemp /tmp/graft_benchgate.XXXXXX.log)
# clean both on exit; the Bench-failure path below re-arms the trap to
# RETAIN the log (that's the one case its contents matter — ADVICE r16)
trap 'rm -f "$OUT" "$LOG"' EXIT
echo "[benchgate] re-running Bench at sf=$SF cpus=$CPUS reps=$REPS (log: $LOG)"
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_GRAFT_BENCH_REPS="$REPS" SPARK_GRAFT_BENCH_OUT="$OUT" \
  sbt -batch "runMain graft.Bench" > "$LOG" 2>&1 \
  || { trap 'rm -f "$OUT"' EXIT; echo "[benchgate] Bench run FAILED — tail of $LOG (retained):" >&2; tail -30 "$LOG" >&2; exit 1; }
# retain the log through benchdiff too: a regression verdict is exactly
# when the Bench stderr (per-query [bench] lines, [explode-width]
# regime evidence) is needed for adjudication (ADVICE r17)
trap 'rm -f "$OUT"' EXIT
if python3 tools/benchdiff.py "$ART" "$OUT"; then
  rm -f "$LOG"
else
  rc=$?
  echo "[benchgate] regression verdict — Bench log retained: $LOG" >&2
  exit $rc
fi
