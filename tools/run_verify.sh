#!/bin/bash
# Dev loop: compile, run graft.Verify on sf0.01, then check against DuckDB.
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
sbt -batch compile 1>&2
# Defaults fit the box: every core, and the Tier-1 driver heap (half
# the RAM, clamped to 2-8 GB).
CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}
rm -rf "$OUT"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_CPUS=$CPUS java $ADD_OPENS -Xmx$MEM \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF" "$OUT" 1>&2
NAMES=("${@:3}")
# SPARK_GRAFT_ONLY with no names given: check just the queries Verify ran
if [ ${#NAMES[@]} -eq 0 ] && [ -n "$SPARK_GRAFT_ONLY" ]; then
  NAMES=($(cd "$OUT" && ls -d q*/ | tr -d /))
fi
python3 tools/check_oracle.py "$SF" "$OUT" "${NAMES[@]}"
