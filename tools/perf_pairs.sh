#!/bin/bash
# Paired benchmark runs for a performance change. For each seed, runs
# perfbench/run.py once in the parent checkout and once in the change's
# checkout, alternating which of the two goes first (so a drift of the
# host hits both sides alike), and appends each run's result to
# parent.jsonl / change.jsonl in OUT_DIR. Ends with perfbench/compare.py
# over the two files; its exit code is the script's, or 1 when a run
# ended without a result.
#
# Usage: tools/perf_pairs.sh PARENT_DIR CHANGE_DIR WORKLOAD SEED...
# Env:   OUT_DIR (default: the current directory), RUN_SECONDS (default 10),
#        TRACE (0 or 1, default 0)
#
# Each checkout builds its own program from its own sources on the
# first run (perfbench/build.py). Runs are strictly sequential: two
# benchmark JVMs at once would time each other.
set -u
PARENT=$(cd "${1:?PARENT_DIR}" && pwd) || exit 2
CHANGE=$(cd "${2:?CHANGE_DIR}" && pwd) || exit 2
WORKLOAD=${3:?WORKLOAD}
shift 3
[ $# -gt 0 ] || { echo "usage: $0 PARENT_DIR CHANGE_DIR WORKLOAD SEED..." >&2; exit 2; }
OUT=$(mkdir -p "${OUT_DIR:-.}" && cd "${OUT_DIR:-.}" && pwd) || exit 2
touch "$OUT/parent.jsonl" "$OUT/change.jsonl" || exit 2
SECS=${RUN_SECONDS:-10}
TRACE=${TRACE:-0}
missing=0

one_run() { # one_run <checkout> <side> <seed>
  local log="$OUT/$2-$WORKLOAD-$3-t$TRACE.log"
  echo "$(date +%H:%M:%S) $2 $WORKLOAD seed $3" >&2
  local before after rc
  before=$(wc -l < "$OUT/$2.jsonl")
  (cd "$1" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$3" \
     --seconds "$SECS" --trace "$TRACE" --append "$OUT/$2.jsonl") > "$log" 2>&1
  rc=$?
  after=$(wc -l < "$OUT/$2.jsonl")
  if [ "$after" -le "$before" ]; then
    echo "  $2 seed $3: no result (exit $rc), see $log" >&2
    missing=1
  elif [ "$rc" -ne 0 ]; then
    echo "  $2 seed $3: run not correct (exit $rc), see $log" >&2
  fi
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    one_run "$PARENT" parent "$seed"; one_run "$CHANGE" change "$seed"
  else
    one_run "$CHANGE" change "$seed"; one_run "$PARENT" parent "$seed"
  fi
  i=$((i + 1))
done

python3 "$CHANGE/perfbench/compare.py" "$OUT/parent.jsonl" "$OUT/change.jsonl"
rc=$?
[ "$missing" -eq 0 ] || rc=1
exit "$rc"
