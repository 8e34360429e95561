#!/bin/bash
# Full local correctness gate, driver semantics: fresh-JVM graft.Verify
# dump at each SF + tools/check_oracle.py DuckDB compare. Run before ANY
# commit that touches the gate rows (src/main/scala/graft/gate; bench
# notes must record the resulting "<N> ok, 0 fail" lines). Uses the
# compiled classes directly — do NOT recompile while this runs. Both SFs
# always run; the script exits non-zero if either has a failure.
#
# Usage: tools/rungate.sh [row,row,...]
# With a comma-separated row list, only those gate rows run and are
# compared (graft.Verify's row filter); without one, all rows do.
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# half of RAM, clamped to 2-8g (the same sizing as the tier-1 test recipe)
XMX="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
cd "$(dirname "$0")/.." || exit 2
# java with the row list, if any, appended as graft.Verify's third argument
ROWS="$1"
java_rows() { java "$@" ${ROWS:+"$ROWS"}; }
status=0
for sf in 0.001 0.01; do
  java_rows $ADDOPENS -Xmx$XMX -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
    graft.Verify /root/testdata/sf$sf /tmp/vfull_$sf > /tmp/vfull_$sf.log 2>&1 || status=1
  python3 tools/check_oracle.py /tmp/vfull_$sf /root/testdata/sf$sf > /tmp/gate_$sf.txt 2>&1 || status=1
  echo "=== sf$sf: $(tail -1 /tmp/gate_$sf.txt)"
done
exit $status
