#!/usr/bin/env bash
# Replay the oracle gate in one command: run every declared query with
# graft.Verify over one scale directory, then compare each result with its
# DuckDB oracle (dev/compare_oracle.py).
#
#   dev/oracle.sh <scale-dir> <out-dir>
#
# <out-dir> is deleted first: query dirs left by an earlier run would read
# as phantom results. Exits 1 when any query is BAD.
set -euo pipefail
if [ $# -ne 2 ]; then
  echo "usage: $0 <scale-dir> <out-dir>" >&2
  exit 2
fi
sf=$(realpath -m "$1")
out=$(realpath -m "$2")
if [ -e "$out" ] && [ ! -f "$out/oracle_sql.json" ]; then
  echo "refusing to delete $out: not the output of an earlier graft.Verify run" >&2
  exit 2
fi
cd "$(dirname "$0")/.."
rm -rf "$out"
sbt -batch "runMain graft.Verify $sf $out"
python3 dev/compare_oracle.py "$sf" "$out"
