#!/bin/bash
# Full local correctness gate, driver semantics: fresh-JVM graft.Verify
# dump at each SF + tools/check_oracle.py DuckDB compare. Run before ANY
# commit that touches the gate rows (src/main/scala/graft/gate; bench
# notes must record the resulting "<N> ok, 0 fail" lines). Uses the
# compiled classes directly — do NOT recompile while this runs. Both SFs
# always run; the script exits non-zero if either has a failure.
#
# Usage: tools/rungate.sh [row,row,...|tails]
# With a comma-separated row list, only those gate rows run and are
# compared (graft.Verify's row filter); without one, all rows do.
# `tails` names every row that reaches a lib/LocalTail driver tail: each
# row whose run posts a TailDecision that took the tail, plus
# g_louvain_decimal (Louvain's distributed twin of g_louvain). Run it
# after any change to lib/LocalTail.scala or a tail builder; every row
# must pass at both SFs.
TAIL_ROWS="g_2ecc,g_articulation,g_articulation_dist,g_avg_distance,g_betweenness,\
g_betweenness_sampled,g_betweenness_weighted,g_bridges,g_bridges_dist,g_cc_nations,\
g_closeness,g_closeness_sampled,g_closeness_weighted,g_coloring,g_connected_components,\
g_cycles,g_eccentricity,g_eccentricity_sampled,g_eccentricity_weighted,g_edge_betweenness,\
g_effective_diameter,g_eigenvector,g_eigenvector_weighted,g_hits,g_ic_spread,g_katz,g_kcore,\
g_label_propagation,g_louvain,g_louvain_coarse,g_louvain_decimal,g_matching,\
g_matching_weighted,g_mis,g_modularity,g_mst,g_neighborhood,g_pagerank,g_pagerank_tol,\
g_pagerank_weighted,g_pppr,g_ppr_sweep,g_salsa,g_scc_nations,g_simrank,g_skew_flat,\
g_skew_hub,g_temporal_bfs,p_host_rank,p_knn_clusters"
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
if [ "$ROWS" = tails ]; then
  ROWS="$TAIL_ROWS"
  echo "tail rows: expect $(echo "$ROWS" | tr ',' '\n' | wc -l) ok, 0 fail at each SF"
fi
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
