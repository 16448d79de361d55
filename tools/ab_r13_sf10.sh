#!/bin/bash
# r13 interleaved sf10 A/B: a base tree (a checkout of the commit to
# compare against) vs this tree, single-key isolated sessions via
# tools/scale_report.py (SCALE_QUERIES=<key>, warm second-run timing, 24g
# driver heap — the r12 "isolated" protocol), alternating trees per rep so
# box drift cannot masquerade as a code delta. Usage:
#   bash tools/ab_r13_sf10.sh <base_tree> <key> <reps> [sf_dir]
# Appends one line per rep to evidence/ab_r13_sf10.log with the run's exit
# code (rc=N) and ok or FAILED (non-zero exit, or no result line); each
# rep's stderr is kept next to the log, named on its line. Exits non-zero
# when any rep failed.
set -u
if [ $# -lt 2 ] || [ ! -d "$1/tools" ]; then
  echo "usage: $0 <base_tree> <key> [reps] [sf_dir]" >&2
  exit 2
fi
REPO=$(cd "$(dirname "$0")/.." && pwd)
BASE=$(cd "$1" && pwd); KEY="$2"; REPS="${3:-2}"
SFD="${4:-$REPO/scale_data/sf10}"
LOG="$REPO/evidence/ab_r13_sf10.log"
FAILED=0
for i in $(seq 1 "$REPS"); do
  for TREE in "$BASE" "$REPO"; do
    ERR="${LOG%.log}.$(date -u +%Y%m%dT%H%M%S).rep$i.$(basename "$TREE").$KEY.stderr"
    T0=$(date +%s)
    OUT=$(cd "$TREE" && SCALE_QUERIES="$KEY" SPARK_GRAFT_DRIVER_MEM=24g \
          python tools/scale_report.py "$SFD" 2>"$ERR")
    RC=$?
    T1=$(date +%s)
    OUT=$(printf '%s\n' "$OUT" | tail -1)
    STATUS=ok
    if [ "$RC" -ne 0 ] || [ -z "$OUT" ]; then
      STATUS=FAILED; FAILED=$((FAILED + 1))
    fi
    echo "$(date -u +%H:%M:%S) rep=$i tree=$TREE key=$KEY wall=$((T1-T0))s" \
         "rc=$RC $STATUS stderr=$(basename "$ERR") $OUT" | tee -a "$LOG"
  done
done
[ "$FAILED" -eq 0 ]
