#!/bin/sh
# Round-15 session close-out battery (spark-submit only — no sbt lock):
#   1. PLANS.md regen over the grown registry (q147-q150 fold in)
#   2. full sf0.01 oracle gate (the t2 stand-in)
#   3. full sf0.1 bench, two runs (cold JIT envelope + a warm check)
# The twelve-seed fuzz sweep runs separately (tools/fuzz_sweep.sh).
set -u
cd "$(dirname "$0")/../.."
JAR=target/scala-2.13/duckdb_gsheetsspark_2.13-0.1.0.jar
SUBMIT="/opt/spark/bin/spark-submit --master local[32] --driver-memory 16g"

echo "== plans regen =="
/opt/spark/bin/spark-shell --master "local[32]" --driver-memory 8g \
  --conf spark.sql.shuffle.partitions=32 \
  --conf spark.sql.legacy.parquet.nanosAsLong=true \
  --conf spark.ui.enabled=false \
  --jars "$JAR" -i tools/gen_plans.scala 2>/dev/null | grep -E "done|error:"

echo "== full sf0.01 gate =="
$SUBMIT --class graft.Verify "$JAR" /root/testdata/sf0.01 /tmp/gate_001 \
  > /tmp/gate_001.log 2>&1
GRAFT_ORACLE_MEM_GB=32 python3 tools/check_correctness.py \
  /root/testdata/sf0.01 /tmp/gate_001 2>&1 | grep -E "^(FAIL|== )"

echo "== full sf0.1 bench run 1 =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  SPARK_GRAFT_BENCH_OUT=evidence/r15/bench_sf01_r15_final160.json \
  $SUBMIT --class graft.Bench "$JAR" 2>/dev/null | grep '"metric":"total","value":[0-9]*\.'
echo "== full sf0.1 bench run 2 =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  SPARK_GRAFT_BENCH_OUT=evidence/r15/bench_sf01_r15_final160_run2.json \
  $SUBMIT --class graft.Bench "$JAR" 2>/dev/null | grep '"metric":"total","value":[0-9]*\.'
echo CLOSEOUT_DONE
