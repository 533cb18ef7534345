#!/bin/bash
# Round-close ritual (round-10 verdict item 7): run the driver-protocol
# bench at sf0.1 (min-of-2), then diff per-query against the TRACKED
# previous round's bench_detail.json and append the markdown table to
# PLANS.md — so regression adjudication starts from the artifact.
# Dev tooling only — not part of the engine.
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.1}
OUT=${2:-/tmp/bench_close.json}
sbt -batch compile 1>&2
# Defaults fit the box: every core, and the Tier-1 driver heap (half
# the RAM, clamped to 2-8 GB).
CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS=$CPUS \
  SPARK_GRAFT_BENCH_DETAIL="$OUT" \
  java $ADD_OPENS -Xmx$MEM \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench 1>&2
python3 tools/bench_diff.py bench_detail.json "$OUT" 2.0 --md PLANS.md
# Adopt the new record as the tracked bench_detail.json ONLY when it is
# nominal — no suspect-flagged queries and stable interleaved controls
# (round-14 verdict item 1c: the clean tracked record must never be
# clobbered by a stall-polluted close). Bench.main applies the same
# guard when writing the default path; this covers the explicit-OUT flow.
python3 - "$OUT" <<'PYEOF'
import json, shutil, sys
d = json.load(open(sys.argv[1]))
sus, bad = d.get("suspect_n", 0), d.get("ctl_disturbed", False)
if sus == 0 and not bad:
    shutil.copy(sys.argv[1], "bench_detail.json")
    print(f"round_close: adopted {sys.argv[1]} as bench_detail.json "
          f"(suspect_n=0, ctl_drift={d.get('ctl_drift')})")
else:
    print(f"round_close: NOT adopting {sys.argv[1]} (suspect_n={sus}, "
          f"ctl_disturbed={bad}, suspects={d.get('suspect')}) — re-run on "
          "a quiet window", file=sys.stderr)
    sys.exit(1)
PYEOF
