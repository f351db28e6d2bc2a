#!/bin/bash
# RECORD of the r19 measurement, kept for its numbers (OPTIMIZATION_r19.md);
# g4 staging and v20 overlap, which it first A/B'd, were reverted since.
# r19 ABBA A/B runner: arm A sets SPARK_GRAFT_CKPT_CANDS=1 (d4/d22 candidate
# checkpoint ON); arm B sets SPARK_GRAFT_NOOVERLAP=1 (every Frames.overlap
# runs its two chains sequentially). Those are the only two knobs it toggles.
# Usage: ab_r19.sh <tag> <order: ABBA|BAAB> [queries...]
# Writes one mins line per run to /tmp/ab_r19_<tag>.log
set -u
TAG=$1; ORDER=$2; shift 2
QUERIES=${@:-"g4_dedup_corpus d4_jaccard_pairs d22_containment_pairs v20_ivfpq_indexed"}
LOG=/tmp/ab_r19_${TAG}.log
run_arm() {
  local arm=$1
  if [ "$arm" = "A" ]; then
    env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
      SPARK_GRAFT_CKPT_CANDS=1 \
      sbt "runMain graft.Bench $QUERIES" 2>/dev/null | grep '"metric":"mins"' | tail -1 | sed "s/^/A /" >> "$LOG"
  else
    env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
      SPARK_GRAFT_NOOVERLAP=1 \
      sbt "runMain graft.Bench $QUERIES" 2>/dev/null | grep '"metric":"mins"' | tail -1 | sed "s/^/B /" >> "$LOG"
  fi
}
for arm in $(echo "$ORDER" | grep -o .); do
  echo "== arm $arm $(date +%T) load=$(cut -d' ' -f1 /proc/loadavg)" >> "$LOG"
  run_arm "$arm"
done
echo "done $TAG" >> "$LOG"
