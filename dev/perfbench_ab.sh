#!/usr/bin/env bash
# A/B two revisions on one perfbench workload in interleaved pairs.
#
#   dev/perfbench_ab.sh <parent-rev> <change-rev> <workload> <pairs> <first-seed>
#
# Each revision is exported with `git archive` into its own fresh directory
# under $PERFBENCH_AB_DIR (default: a new directory from mktemp), where
# perfbench/run.py builds and runs it. Pair i (0-based) runs both sides with
# seed <first-seed>+i: the parent first in even pairs, the change first in
# odd ones, so drift of the host's speed falls on both sides alike. Each run
# gets --seconds of BENCHMARK.json's run_seconds and --trace 0. Prints each
# run's end-to-end metrics as it finishes, then q1 / median / q3 of each
# metric per side. The checkout is not touched.
set -euo pipefail
if [ $# -ne 5 ]; then
  echo "usage: $0 <parent-rev> <change-rev> <workload> <pairs> <first-seed>" >&2
  exit 2
fi
cd "$(dirname "$0")/.."
parent=$(git rev-parse --verify "$1^{commit}")
change=$(git rev-parse --verify "$2^{commit}")
workload=$3
pairs=$4
seed0=$5
seconds=$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')
work=${PERFBENCH_AB_DIR:-$(mktemp -d "${TMPDIR:-/tmp}/perfbench_ab.XXXXXX")}
mkdir -p "$work"
results="$work/results.jsonl"
: > "$results"

for side in parent change; do
  rm -rf "${work:?}/$side"
  mkdir -p "$work/$side"
  git archive "${!side}" | tar -x -C "$work/$side"
done
echo "perfbench_ab: parent ${parent:0:12} change ${change:0:12} workload $workload," \
  "$pairs pairs from seed $seed0, ${seconds}s runs, in $work" >&2

run() {  # run <side> <seed> <pair>: one run, its result line appended to $results
  local line
  if line=$(cd "$work/$1" &&
      python3 perfbench/run.py --workload "$workload" --seed "$2" --seconds "$seconds" \
        --trace 0 2>>"$work/$1.log" | tail -n 1); then
    :
  else
    line='{"failed_run": true}'
  fi
  python3 - "$1" "$2" "$3" "$line" >> "$results" <<'EOF'
import json, sys
side, seed, pair, line = sys.argv[1:]
try:
    res = json.loads(line)
except ValueError:
    res = {"failed_run": True}
res.update(side=side, seed=int(seed), pair=int(pair))
print(json.dumps(res))
m = {k: v["value"] for k, v in res.get("metrics", {}).items()}
shown = " ".join(f"{k} {m[k]:.3f}" for k in ("wall_s", "setup_s", "ok_ops_ratio", "resident_cache_mb") if k in m)
print(f"pair {pair} seed {seed} {side:6} correct {res.get('correct')} {shown or 'RUN FAILED'}",
      file=sys.stderr)
EOF
}

for ((i = 0; i < pairs; i++)); do
  seed=$((seed0 + i))
  if ((i % 2 == 0)); then order="parent change"; else order="change parent"; fi
  for side in $order; do run "$side" "$seed" "$i"; done
done

python3 - "$results" <<'EOF'
import json, statistics, sys
runs = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
names = ("wall_s", "setup_s", "ok_ops_ratio", "resident_cache_mb")
def quartiles(xs):
    if len(xs) < 2:
        return (xs[0],) * 3
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))
print("metric              side    runs  q1        median    q3")
for name in names:
    for side in ("parent", "change"):
        xs = [r["metrics"][name]["value"] for r in runs
              if r["side"] == side and name in r.get("metrics", {})]
        if xs:
            q1, med, q3 = quartiles(sorted(xs))
            print(f"{name:19} {side:6} {len(xs):5}  {q1:<9.3f} {med:<9.3f} {q3:<9.3f}")
bad = [r for r in runs if r.get("failed_run") or not r.get("correct")]
for r in bad:
    print(f"pair {r['pair']} seed {r['seed']} {r['side']}: "
          f"{'run failed' if r.get('failed_run') else 'not correct'}")
EOF
