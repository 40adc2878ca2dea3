#!/usr/bin/env bash
# Keep the local-regime policy in one place. Fails (exit 1) when
# src/main/scala has
#   - a call to localRegimesEnabled( outside GraphAlgorithms.localRowCap,
#   - a call to localRowCap( outside GraphAlgorithms.collectRowsGated, the
#     one gate every regime gates and loads through (one probe collect),
#     but for StreamingTriangles' check of its cumulative driver store,
#   - any countGated (the retired count-then-collect gate shapes),
#   - more than one `def intern(` (the shared LocalGraph.Interner),
#   - a localThreshold parameter outside StreamingTriangles,
#   - the removed spark.graft.kleene.localThreshold conf,
#   - an .observe( call outside graft.algorithms.Fixpoint (the one place a
#     round's materialization and its stopping count are taken).
#   - any org.apache.spark.graphx use: connected and strongly connected
#     components run on the DataFrame engine in GraphAlgorithms, and no
#     second (GraphX) execution model rides beside it.
#   - a second driver-side graph beside graft.algorithms.LocalGraph: a
#     parallelize( or a java.util.ArrayList in GraphAlgorithms.scala (the
#     replays emit through LocalGraph.frame, the one parallelize( in
#     LocalGraph.scala, not through createDataFrame over a java list), a
#     per-replay ArrayBuffer.empty[Int] adjacency in GraphAlgorithms.scala
#     (the replays read LocalGraph's CSR adjacencies), or a reference to
#     the retired InternedEdges; a java.util.ArrayList in Sparql.scala
#     (the Kleene replay emits through LocalGraph.frame too); a
#     parallelize( or createDataFrame( in pipeline/Dedup.scala (the
#     near-duplicate replays and the hyperplane matrix emit through
#     LocalGraph.frame).
#
#   dev/check_local_gate.sh
set -euo pipefail
cd "$(dirname "$0")/.."
src=src/main/scala
fail=0

# every localRegimesEnabled( that is not its own def must sit in the body
# of `def localRowCap` (the last def opened above the call)
calls=$(find "$src" -name '*.scala' -print0 | xargs -0 awk '
  FNR == 1 { cur = "" }
  /def [A-Za-z_]+/ { match($0, /def [A-Za-z_]+/); cur = substr($0, RSTART + 4, RLENGTH - 4) }
  /localRegimesEnabled\(/ && !/def localRegimesEnabled/ && cur != "localRowCap" {
    print FILENAME ":" FNR ": " $0 }')
if [ -n "$calls" ]; then
  echo "localRegimesEnabled( read outside GraphAlgorithms.localRowCap:"
  echo "$calls"
  fail=1
fi

# every localRowCap( that is not its own def must sit in the body of
# `def collectRowsGated`, StreamingTriangles aside
caps=$(find "$src" -name '*.scala' ! -path '*/streaming/StreamingTriangles.scala' -print0 \
  | xargs -0 awk '
  FNR == 1 { cur = "" }
  /def [A-Za-z_]+/ { match($0, /def [A-Za-z_]+/); cur = substr($0, RSTART + 4, RLENGTH - 4) }
  /localRowCap\(/ && !/def localRowCap/ && cur != "collectRowsGated" {
    print FILENAME ":" FNR ": " $0 }')
if [ -n "$caps" ]; then
  echo "localRowCap( read outside GraphAlgorithms.collectRowsGated (gate through one probe collect):"
  echo "$caps"
  fail=1
fi

counted=$(grep -rn --include='*.scala' 'countGated' "$src" || true)
if [ -n "$counted" ]; then
  echo "countGated is back (gate and load with collectRowsGated):"
  echo "$counted"
  fail=1
fi

interns=$(grep -rn --include='*.scala' 'def intern(' "$src" || true)
if [ "$(printf '%s' "$interns" | grep -c .)" -gt 1 ]; then
  echo "more than one interner (use LocalGraph.Interner):"
  echo "$interns"
  fail=1
fi

knobs=$(grep -rnE --include='*.scala' 'localThreshold[[:space:]]*:' "$src" \
  | grep -v '/streaming/StreamingTriangles.scala:' || true)
if [ -n "$knobs" ]; then
  echo "localThreshold parameter outside StreamingTriangles:"
  echo "$knobs"
  fail=1
fi

confs=$(grep -rn --include='*.scala' 'spark\.graft\.kleene\.localThreshold' "$src" || true)
if [ -n "$confs" ]; then
  echo "removed conf spark.graft.kleene.localThreshold is back:"
  echo "$confs"
  fail=1
fi

observes=$(grep -rn --include='*.scala' '\.observe(' "$src" \
  | grep -v '/algorithms/Fixpoint.scala:' || true)
if [ -n "$observes" ]; then
  echo ".observe( outside graft.algorithms.Fixpoint:"
  echo "$observes"
  fail=1
fi

graphx=$(grep -rn --include='*.scala' 'org\.apache\.spark\.graphx' "$src" || true)
if [ -n "$graphx" ]; then
  echo "GraphX is back (use GraphAlgorithms.connectedComponents / stronglyConnectedComponents):"
  echo "$graphx"
  fail=1
fi

algs="$src/graft/algorithms"
emitters=$(grep -n 'parallelize(' "$algs/GraphAlgorithms.scala" || true)
if [ -n "$emitters" ] || [ "$(grep -c 'parallelize(' "$algs/LocalGraph.scala")" -gt 1 ]; then
  echo "parallelize( outside the one LocalGraph.frame emitter:"
  if [ -n "$emitters" ]; then echo "$emitters"; fi
  grep -n 'parallelize(' "$algs/LocalGraph.scala"
  fail=1
fi

lists=$(grep -n 'java\.util\.ArrayList' "$algs/GraphAlgorithms.scala" \
  "$src/graft/sparql/Sparql.scala" || true)
if [ -n "$lists" ]; then
  echo "java.util.ArrayList emitter in GraphAlgorithms.scala or Sparql.scala (emit through LocalGraph.frame):"
  echo "$lists"
  fail=1
fi

buffers=$(grep -n 'ArrayBuffer\.empty\[Int\]' "$algs/GraphAlgorithms.scala" || true)
if [ -n "$buffers" ]; then
  echo "per-replay ArrayBuffer.empty[Int] adjacency (read LocalGraph's CSR):"
  echo "$buffers"
  fail=1
fi

dedup=$(grep -nE 'parallelize\(|createDataFrame\(' "$src/graft/pipeline/Dedup.scala" || true)
if [ -n "$dedup" ]; then
  echo "parallelize( or createDataFrame( in Dedup.scala (emit through LocalGraph.frame):"
  echo "$dedup"
  fail=1
fi

interned=$(grep -rn --include='*.scala' 'InternedEdges' "$src" || true)
if [ -n "$interned" ]; then
  echo "InternedEdges is back (use LocalGraph):"
  echo "$interned"
  fail=1
fi

if [ "$fail" -eq 0 ]; then echo "local gate: ok"; fi
exit "$fail"
