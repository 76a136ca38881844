#!/usr/bin/env bash
# Re-derives the catalog goldens in perfbench/workloads.json:
#   1. graft.Verify writes each catalog query's result (parquet) for the
#      benchmark's query list on the sf0.1 tables;
#   2. tools/check.py replays every query's DuckDB oracle SQL over the same
#      tables and must report PASS for all of them;
#   3. the harness digests those oracle-checked results (row count and
#      order-free row-hash sum, Catalog.digest) and prints the goldens.
# Run from the root of a checkout after one benchmark run has compiled
# the classes into .bench_build/classes:
#   bash perfbench/make_goldens.sh [sfDir] > goldens.json
# (sfDir defaults to the catalog workload's table directory).
set -euo pipefail
SF=${1:-$(python3 -c "import json; print(json.load(open('perfbench/workloads.json'))['catalog']['sf'])")}
OUT=.bench_build/goldens
SPARK_HOME=${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}
JARS="$SPARK_HOME/jars/*"
CP=".bench_build/classes:$JARS"
Q=$(python3 -c "import json; print(','.join(json.load(open('perfbench/workloads.json'))['catalog']['queries']))")
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util \
         java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
rm -rf "$OUT" && mkdir -p "$OUT"
SPARK_GRAFT_ONLY=$Q SPARK_GRAFT_CPUS=4 java $OPENS -Xmx4g -Dspark.ui.enabled=false \
  -cp "$CP" graft.Verify "$SF" "$OUT/verify" >"$OUT/verify.log" 2>&1
python3 tools/check.py "$SF" "$OUT/verify" "$Q" | tee "$OUT/check.log" >&2
grep -q "^0 failures" "$OUT/check.log"
java $OPENS -Xmx4g -cp "$CP" perfbench.Harness mode=digest queries="$Q" \
  verify="$OUT/verify" work="$OUT" result="$OUT/goldens.json" >"$OUT/digest.log" 2>&1
cat "$OUT/goldens.json"
