#!/bin/bash
# Interleaved fresh-JVM A/B bench (the r18 judge's protocol, now standing
# discipline for plan-shape rewrites): alternate isolated runs of ONE row
# across two or three jars on the same host — wobble moves all sides
# together, the RATIO is the signal.
# Usage: tools/abbench.sh <row> <reps> <label=jar> [label=jar ...]
# Reads the FIRST stdout line with "queries" (Bench's full line, at full
# precision); the compact last line rounds its times to the millisecond.
set -u
ROW="$1"; REPS="$2"; shift 2
SF="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"; done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"; done
for rep in $(seq 1 "$REPS"); do
  for spec in "$@"; do
    label="${spec%%=*}"; jar="${spec#*=}"
    sec=$(SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_ONLY="$ROW" SPARK_GRAFT_ISO_CHILD=1 \
      java $OPENS -Xmx${SPARK_DRIVER_MEM:-32g} \
        -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
        -cp "/opt/spark/jars/*:$jar" graft.Bench 2>/dev/null |
      python3 -c "import json,sys; print(json.loads([l for l in sys.stdin if '\"queries\"' in l][0])['queries']['$ROW'])")
    echo "$ROW rep$rep $label $sec"
  done
done
