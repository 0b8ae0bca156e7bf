#!/bin/sh
# Same-box A/B of two packaged jars on the native-kernel microbenchmark
# (tools/kernel_bench.scala), in the ABBA order of tools/ab.sh
# (A B B A B A A B), then per-kernel medians over each side's four runs,
# each side's spread ((max - min)/median) and the ratios B/A.
#
#   sh tools/kernel_ab.sh JAR_A JAR_B > kab.log 2>&1
#
# Both jars must exist before the battery starts. The table is written
# once under a temporary directory and shared by all eight runs.
set -eu
[ $# -eq 2 ] || { echo "usage: sh tools/kernel_ab.sh JAR_A JAR_B" >&2; exit 2; }
for j in "$1" "$2"; do
  [ -f "$j" ] || { echo "no such jar: $j" >&2; exit 2; }
done
SCRIPT=$(cd "$(dirname "$0")" && pwd)/kernel_bench.scala
OUT=$(mktemp -d "${TMPDIR:-/tmp}/graft_kab.XXXXXX")
i=0
for side in A B B A B A A B; do
  i=$((i + 1))
  if [ "$side" = A ]; then JAR=$1; else JAR=$2; fi
  (cd "$OUT" && KERNEL_BENCH_DIR="$OUT" spark-shell --master "local[4]" \
    --driver-memory 3g --conf spark.ui.enabled=false \
    --conf spark.sql.shuffle.partitions=8 --jars "$JAR" -i "$SCRIPT") \
    < /dev/null > "$OUT/${side}_$i.log" 2>&1 || true
  r=$(grep -o 'KB_RESULT.*' "$OUT/${side}_$i.log") \
    || { echo "run $i ($side) FAILED, log: $OUT/${side}_$i.log"; exit 1; }
  echo "$side ${r#KB_RESULT }" >> "$OUT/results"
  echo "run $i ($side) done"
done
python3 - "$OUT/results" <<'PY'
import json, statistics, sys
runs = {"A": [], "B": []}
for line in open(sys.argv[1]):
    side, rest = line.split(" ", 1)
    runs[side].append(json.loads(rest))
print(f"{'kernel':14s}{'A ms':>9s}{'spread':>8s}{'B ms':>9s}{'spread':>8s}{'B/A':>8s}")
for k in runs["A"][0]:
    a = [r[k] for r in runs["A"]]
    b = [r[k] for r in runs["B"]]
    ma, mb = statistics.median(a), statistics.median(b)
    print(f"{k:14s}{ma:9.1f}{(max(a) - min(a)) / ma:8.2f}"
          f"{mb:9.1f}{(max(b) - min(b)) / mb:8.2f}{mb / ma:8.3f}")
PY
rm -rf "$OUT"
echo KAB_DONE
