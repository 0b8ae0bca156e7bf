#!/bin/sh
# Seeded oracle fuzz sweep at one HEAD. Per seed: generate a
# schema-identical 500-doc corpus (tools/gen_fuzz_corpus.py), run Verify
# via spark-submit (on PATH) against the packaged jar, then
# oracle-compare with the DuckDB checker.
#
#   sbt -batch package
#   sh tools/fuzz_sweep.sh [QUERIES] [SEEDS] > evidence/rNN/fuzz_sweep.log 2>&1
#
# QUERIES: optional comma-separated query names, passed to Verify's
#   filter; empty or omitted runs the whole registry.
# SEEDS: optional comma-separated corpus seeds; the default is the
#   twelve seeds every earlier sweep used.
#
# Sized from the host: local[N] with N = nproc, driver memory = half of
# MemTotal clamped to 2-8 GB (as ROADMAP.md's test command sizes it),
# and DuckDB's memory limit (GRAFT_ORACLE_MEM_GB) = half of MemTotal, at
# least 2 GB — the oracle runs after Spark exits, so the two never share
# the RAM.
#
# Expected per seed: "== N pass, 0 fail ==" where N is the number of
# selected queries with an oracle entry (q17b/q44 are spec-bounded
# approximations with no oracle entry, by design).
set -u
cd "$(dirname "$0")/.."
JAR=target/scala-2.13/duckdb_gsheetsspark_2.13-0.1.0.jar
QUERIES=${1:-}
SEEDS=$(echo "${2:-11,222,3333,44444,55555,66666,77777,88888,1234,98765,7,424242}" | tr ',' ' ')
CPUS=$(env -u OMP_NUM_THREADS nproc)
MEM_GB=$(awk '/^MemTotal:/ {print int($2 / 1048576)}' /proc/meminfo)
DRIVER_GB=$((MEM_GB / 2)); [ "$DRIVER_GB" -lt 2 ] && DRIVER_GB=2; [ "$DRIVER_GB" -gt 8 ] && DRIVER_GB=8
ORACLE_GB=$((MEM_GB / 2)); [ "$ORACLE_GB" -lt 2 ] && ORACLE_GB=2
TMP=${TMPDIR:-/tmp}
echo "== local[$CPUS], driver ${DRIVER_GB}g, oracle ${ORACLE_GB} GB, queries: ${QUERIES:-all} =="
for seed in $SEEDS; do
  echo "== seed $seed =="
  CORPUS="$TMP/fuzz_$seed"
  python3 tools/gen_fuzz_corpus.py "$seed" "$CORPUS" >/dev/null
  SPARK_GRAFT_CPUS=$CPUS spark-submit --master "local[$CPUS]" \
    --driver-memory "${DRIVER_GB}g" --class graft.Verify "$JAR" \
    "$CORPUS" "${CORPUS}_out" $QUERIES \
    > "${CORPUS}_verify.log" 2>&1 || { echo "VERIFY FAILED seed $seed"; continue; }
  GRAFT_ORACLE_MEM_GB=$ORACLE_GB python3 tools/check_correctness.py \
    "$CORPUS" "${CORPUS}_out" 2>&1 | grep -E "^(FAIL|== )"
  rm -rf "$CORPUS" "${CORPUS}_out"
done
echo FUZZ_SWEEP_DONE
