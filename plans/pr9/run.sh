#!/usr/bin/env bash
# Small-scale Bench run: sf0.01 as the primary scale factor, sf0.1 as the
# second ("sf1") pass under a 60 s budget, and the committed freeze divided
# by 10 so that the retry pass has lines over 2x their frozen minimum.
#
# Usage: plans/pr9/run.sh <source-tree> <out.json> [bench-timeout-s]
#   <source-tree>  a checkout (or `git archive` export) of the revision to run
#   <out.json>     where the full artifact goes; the compact stdout line is
#                  written next to it as <out>.line, the run's stderr as
#                  <out>.log, and its wall time as the log's last line
# A third argument sets SPARK_GRAFT_BENCH_TIMEOUT (2 makes the boxed path fire).
# TESTDATA names the test data root (see TESTDATA.md); sbt runs with the
# caller's SBT_OPTS, and the forked JVM's heap is SPARK_DRIVER_MEM (4g).
set -euo pipefail
tree=$(cd "$1" && pwd)
out=$(realpath -m "$2")
freeze="${out%.json}.freeze10.json"
python3 - "$tree/bench_freeze.json" "$freeze" <<'PY'
import json, sys
d = json.load(open(sys.argv[1]))
json.dump({sf: {k: v / 10 for k, v in d[sf].items()} for sf in ("sf01", "sf1")},
          open(sys.argv[2], "w"))
PY
data=${TESTDATA:-/root/testdata}
cd "$tree"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-4g}"
t0=$(date +%s.%N)
env SPARK_GRAFT_SF_DIR="$data/sf0.01" SPARK_GRAFT_SF1_DIR="$data/sf0.1" \
  SPARK_GRAFT_SF1_BUDGET=60 SPARK_GRAFT_FREEZE="$freeze" SPARK_GRAFT_BENCH_OUT="$out" \
  ${3:+SPARK_GRAFT_BENCH_TIMEOUT=$3} \
  sbt --batch -Dsbt.log.noformat=true "runMain graft.Bench" \
  > "${out%.json}.stdout" 2> "${out%.json}.log"
tail -1 "${out%.json}.stdout" > "${out%.json}.line"
rm "${out%.json}.stdout"
echo "wall_s=$(python3 -c "import sys; print(round($(date +%s.%N) - $t0, 1))")" | tee -a "${out%.json}.log"
