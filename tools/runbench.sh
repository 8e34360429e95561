#!/bin/bash
# Exclusive fresh-JVM bench sweep at sf0.1 (the driver's protocol:
# local[32], adaptive best-of-N per query) with a STEAL GATE: co-tenant
# load inflated whole sweeps 2-7x in rounds 11-12 and left three
# different totals describing the same code. Bench self-reports
# `steal_cores` (avg hypervisor steal over the sweep, in cores); this
# wrapper runs up to $SPARK_GRAFT_BENCH_ATTEMPTS (default 3) sweeps,
# PROMOTES the one with the LOWEST steal_cores to
# tools/bench_last_run.json only if it clears $GRAFT_BENCH_MAX_STEAL
# (default 0.2 cores), and EXITS NONZERO otherwise — the polluted best
# attempt is then parked at tools/bench_quarantine.json, NEVER at the
# committed artifact path (round-13 lesson: the refusal used to leave
# the polluted sweep at bench_last_run.json, one blanket `git add` away
# from committing exactly what the gate exists to block). Bench itself
# writes only tools/bench_scratch.json; this wrapper is the sole writer
# of the committed path.
set -u
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
cd "$(dirname "$0")/.."
export SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
ATTEMPTS=${SPARK_GRAFT_BENCH_ATTEMPTS:-3}
MAX_STEAL=${GRAFT_BENCH_MAX_STEAL:-0.2}

steal_of() { # extract steal_cores from a bench artifact (no jq on host)
  sed -n 's/.*"steal_cores":\(-\{0,1\}[0-9.]*\).*/\1/p' "$1"
}
total_of() {
  sed -n 's/.*"metric":"total","value":\([0-9.]*\).*/\1/p' "$1"
}

best=""
best_steal=""
for i in $(seq 1 "$ATTEMPTS"); do
  echo "== bench attempt $i/$ATTEMPTS ==" >&2
  java $ADDOPENS -Xmx100g -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench || exit 1
  mv tools/bench_scratch.json "tools/bench_attempt_$i.json"
  s=$(steal_of "tools/bench_attempt_$i.json"); s=${s:--1}
  echo "== attempt $i: total=$(total_of "tools/bench_attempt_$i.json")s steal_cores=$s ==" >&2
  if [ -z "$best" ] || awk -v a="$s" -v b="$best_steal" 'BEGIN{exit !(a>=0 && (b<0 || a<b))}'; then
    best="tools/bench_attempt_$i.json"; best_steal="$s"
  fi
  if awk -v a="$s" -v m="$MAX_STEAL" 'BEGIN{exit !(a>=0 && a<=m)}'; then
    break # quiet sweep — record it, no need to burn more attempts
  fi
done
# all attempts reported unknown steal (-1, /proc/stat unreadable): keep
# the last sweep rather than failing on bookkeeping
if [ -z "$best" ]; then best="tools/bench_attempt_$i.json"; best_steal="-1"; fi
# r15 (VERDICT ask #2): ALWAYS promote the best attempt — the artifact is
# steal-stamped (Bench records steal_cores inside the JSON), so a
# contended sweep is self-describing rather than hidden, and the committed
# path can never go stale (rounds 13-14 closed with bench_last_run.json
# still describing the PREVIOUS round's code because every sweep was
# refused, which left the driver's per-query comparison empty two rounds
# running). A gate-exceeding sweep is still flagged loudly and parked in
# quarantine too, so a quieter re-run can supersede it.
if ! awk -v a="$best_steal" -v m="$MAX_STEAL" 'BEGIN{exit !(a<0 || a<=m)}'; then
  cp "$best" tools/bench_quarantine.json
  echo "== WARNING: lowest steal_cores=$best_steal > $MAX_STEAL after $ATTEMPTS attempts." >&2
  echo "   Promoting it anyway (steal recorded in the artifact); re-run on a quieter" >&2
  echo "   window to supersede. Copy also parked at tools/bench_quarantine.json. ==" >&2
fi
cp "$best" tools/bench_last_run.json
# stamp the promoted sweep so no consumer compares a polluted one silently:
# "contended" is true when its steal_cores exceeds MAX_STEAL
contended=$(awk -v a="$best_steal" -v m="$MAX_STEAL" 'BEGIN{print (a > m) ? "true" : "false"}')
sed -i '$ s/}[[:space:]]*$/,"contended":'"$contended"'}/' tools/bench_last_run.json
rm -f tools/bench_attempt_*.json
echo "== kept sweep: steal_cores=$best_steal contended=$contended total=$(total_of tools/bench_last_run.json)s ==" >&2
