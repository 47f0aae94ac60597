#!/bin/bash
# Round-15 Phase V+C: HEAD-stamped tier dumps, then the DuckDB gates.
# Same split/budget layout as the round-14 Phase VC script (whose
# artifacts were lost to the /tmp wipe — round-14 verdict item 3): d5's
# tier320 oracle is
# the long pole, so its dump goes first and its check starts the moment
# the dump exists; tier160 follows. check.py writes incrementally
# (round-14 hardening), so a partial run still leaves per-op evidence.
# Run ONLY after every wall/spill-bearing artifact is written — DuckDB
# checks are contention-immune but the audits/bench are not.
set -u
cd /root/repo
log() { echo "[phaseVC $(date +%H:%M:%S)] $*" >> /tmp/phaseVC_r15.log; }

rm -rf /tmp/verify_t320_r15 /tmp/verify_t640_r15 /tmp/verify_t160_r15

log "dump t320 d5 (long pole first)"
GRAFT_AQE_INITIAL=512 SPARK_GRAFT_CPUS=32 sbt -batch \
  "runMain graft.Verify target/tier320 /tmp/verify_t320_r15 d5_embed_dedup" \
  > /tmp/verify_t320_d5_r15.log 2>&1 || { log "DUMP t320 d5 FAILED"; exit 1; }

log "start DuckDB d5 t320 (threads=20 mem=50GB)"
GRAFT_CHECK_JSON=/tmp/ct320_d5.json GRAFT_CHECK_THREADS=20 GRAFT_CHECK_MEM=50GB \
  python3 tools/check.py target/tier320 /tmp/verify_t320_r15 d5_embed_dedup \
  > /tmp/check_t320_d5_r15.log 2>&1 &
D5PID=$!

log "dump t160 full inventory"
GRAFT_AQE_INITIAL=512 SPARK_GRAFT_CPUS=32 sbt -batch \
  "runMain graft.Verify target/tier160 /tmp/verify_t160_r15" \
  > /tmp/verify_t160_r15.log 2>&1 || { log "DUMP t160 FAILED"; exit 1; }

log "start DuckDB d5 t160 (threads=8 mem=25GB)"
GRAFT_CHECK_JSON=/tmp/ct160_d5.json GRAFT_CHECK_THREADS=8 GRAFT_CHECK_MEM=25GB \
  python3 tools/check.py target/tier160 /tmp/verify_t160_r15 d5_embed_dedup \
  > /tmp/check_t160_d5_r15.log 2>&1 &
D5T160PID=$!

log "dump t320 rest (110 ops)"
REST=$(python3 - <<'EOF'
import json
o = sorted(json.load(open('/tmp/verify_t320_r15/oracle_sql.json')))
print(','.join(k for k in o if k != 'd5_embed_dedup'))
EOF
)
GRAFT_AQE_INITIAL=512 SPARK_GRAFT_CPUS=32 sbt -batch \
  "runMain graft.Verify target/tier320 /tmp/verify_t320_r15 $REST" \
  > /tmp/verify_t320_rest_r15.log 2>&1 || { log "DUMP t320 rest FAILED"; exit 1; }

log "start DuckDB t320 rest (threads=8 mem=20GB)"
GRAFT_CHECK_JSON=/tmp/ct320_rest.json GRAFT_CHECK_THREADS=8 GRAFT_CHECK_MEM=20GB \
  python3 tools/check.py target/tier320 /tmp/verify_t320_r15 "$REST" \
  > /tmp/check_t320_rest_r15.log 2>&1 &
RESTPID=$!

log "dump t640 LSH subset"
GRAFT_AQE_INITIAL=512 SPARK_GRAFT_CPUS=32 sbt -batch \
  "runMain graft.Verify target/tier640 /tmp/verify_t640_r15 d5_embed_dedup,s2_lsh_ann,s7_multiprobe,s9_recall_matrix,s10_knn_graph" \
  > /tmp/verify_t640_r15.log 2>&1 || { log "DUMP t640 FAILED"; exit 1; }

wait $RESTPID; log "t320 rest check done rc=$?"

log "start DuckDB t640 LSH minus d5 (threads=8 mem=25GB)"
GRAFT_CHECK_JSON=/tmp/ct640_lsh.json GRAFT_CHECK_THREADS=8 GRAFT_CHECK_MEM=25GB \
  python3 tools/check.py target/tier640 /tmp/verify_t640_r15 s2_lsh_ann,s7_multiprobe,s9_recall_matrix,s10_knn_graph \
  > /tmp/check_t640_lsh_r15.log 2>&1 &
T640PID=$!

log "start DuckDB t160 rest (threads=8 mem=20GB)"
GRAFT_CHECK_JSON=/tmp/ct160_rest.json GRAFT_CHECK_THREADS=8 GRAFT_CHECK_MEM=20GB \
  python3 tools/check.py target/tier160 /tmp/verify_t160_r15 "$REST" \
  > /tmp/check_t160_rest_r15.log 2>&1 &
REST160PID=$!

wait $T640PID;    log "t640 check done rc=$?"
wait $REST160PID; log "t160 rest check done rc=$?"
wait $D5T160PID;  log "t160 d5 check done rc=$?"

log "merge tier160 gate -> CORRECTNESS_SF16.json"
python3 tools/merge_correctness.py CORRECTNESS_SF16.json \
  /tmp/ct160_d5.json /tmp/ct160_rest.json >> /tmp/phaseVC_r15.log 2>&1 \
  && log "CORRECTNESS_SF16.json written" || log "MERGE t160 FAILED"

wait $D5PID; log "t320 d5 check done rc=$?"

log "merge tier320 gate -> CORRECTNESS_SF32.json"
python3 tools/merge_correctness.py CORRECTNESS_SF32.json \
  /tmp/ct320_d5.json /tmp/ct320_rest.json >> /tmp/phaseVC_r15.log 2>&1 \
  && log "CORRECTNESS_SF32.json written" || log "MERGE t320 FAILED"

log "stamp d5 infeasibility + write CORRECTNESS_SF64_LSH.json"
python3 tools/stamp_infeasible.py /tmp/ct640_lsh.json CORRECTNESS_SF64_LSH.json \
  d5_embed_dedup "tier640 oracle (banded self-join over n=1.28M, candidate mass e=1.43/doubling) exceeds the local DuckDB budget; d5 is gated at tier320 in CORRECTNESS_SF32.json and its tier640 evidence is the band-recall floor gate + row-count/exponent series (SCALE_UP_T320T640.json)" \
  >> /tmp/phaseVC_r15.log 2>&1 && log "CORRECTNESS_SF64_LSH.json written" || log "STAMP t640 FAILED"

log "PHASEVC_DONE"
