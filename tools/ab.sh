#!/bin/sh
# Same-box A/B of two packaged jars on a query subset, in drift-cancelling
# ABBA order: A B B A B A A B (four Bench runs a side, first- and
# second-order drift balanced), then per-query warm medians, each side's
# spread over its four runs, and the ratios B/A. Each Bench run already
# reports a query's warm time as the median of its three warm passes;
# this takes the median of those four.
#
#   sbt -batch package   # and the other side's jar, e.g. from a git archive
#   SPARK_GRAFT_SF_DIR=<testdata>/sf0.01 \
#     sh tools/ab.sh JAR_A JAR_B q60_ann_pq,q130_rrf_fusion > ab.log 2>&1
#
# Both jars must exist before the battery starts (never package while it
# runs). The data directory is Bench's own SPARK_GRAFT_SF_DIR.
#
# Sized from the host as tools/fuzz_sweep.sh is: local[N] with
# N = nproc, driver memory = half of MemTotal clamped to 2-8 GB.
set -eu
[ $# -eq 3 ] || { echo "usage: sh tools/ab.sh JAR_A JAR_B QUERIES" >&2; exit 2; }
JAR_A=$1
JAR_B=$2
QUERIES=$3
for j in "$JAR_A" "$JAR_B"; do
  [ -f "$j" ] || { echo "no such jar: $j" >&2; exit 2; }
done
CPUS=$(env -u OMP_NUM_THREADS nproc)
MEM_GB=$(awk '/^MemTotal:/ {print int($2 / 1048576)}' /proc/meminfo)
DRIVER_GB=$((MEM_GB / 2)); [ "$DRIVER_GB" -lt 2 ] && DRIVER_GB=2; [ "$DRIVER_GB" -gt 8 ] && DRIVER_GB=8
OUT=$(mktemp -d "${TMPDIR:-/tmp}/graft_ab.XXXXXX")
echo "== local[$CPUS], driver ${DRIVER_GB}g, sf ${SPARK_GRAFT_SF_DIR:-Bench default}, queries: $QUERIES =="
echo "== A: $JAR_A"
echo "== B: $JAR_B"
i=0
for side in A B B A B A A B; do
  i=$((i + 1))
  if [ "$side" = A ]; then JAR=$JAR_A; else JAR=$JAR_B; fi
  SPARK_GRAFT_CPUS=$CPUS SPARK_GRAFT_BENCH_ONLY=$QUERIES \
  SPARK_GRAFT_BENCH_OUT="$OUT/${side}_$i.json" \
  spark-submit --master "local[$CPUS]" --driver-memory "${DRIVER_GB}g" \
    --class graft.Bench "$JAR" > "$OUT/${side}_$i.log" 2>&1 \
    || { echo "run $i ($side) FAILED, log: $OUT/${side}_$i.log"; exit 1; }
  echo "run $i ($side) done"
done
python3 - "$OUT" <<'PY'
import glob, json, statistics, sys
out = sys.argv[1]
med = {}
for side in ("A", "B"):
    runs = [json.load(open(f)) for f in sorted(glob.glob(f"{out}/{side}_*.json"))]
    for r in runs:
        if r["failed"]:
            print(f"{side} run failed queries: {r['failed']}")
    qs = {}
    for r in runs:
        for k, v in r["queries_warm"].items():
            qs.setdefault(k, []).append(v)
    med[side] = {k: statistics.median(v) for k, v in sorted(qs.items())}
    print(f"{side} warm median s", json.dumps({k: round(x, 3) for k, x in med[side].items()}))
    # Run-to-run spread of one side on unchanged code: a B/A ratio
    # inside 1 ± this is not a measured difference.
    print(f"{side} spread (max-min)/median", json.dumps(
        {k: round((max(v) - min(v)) / statistics.median(v), 3) for k, v in sorted(qs.items())}))
print("ratio B/A", json.dumps({k: round(med["B"][k] / med["A"][k], 3) for k in med["B"]}))
PY
rm -rf "$OUT"
echo AB_DONE
