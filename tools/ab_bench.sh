#!/bin/bash
# Interleaved A/B of the vul-db benchmark (python3 vdbbench/run.py)
# between two revisions of this repository, a parent and a change.
#
#   tools/ab_bench.sh [-w WORKLOAD] [-t SECONDS] [-o OUTDIR] PARENT CHANGE SEED...
#
# PARENT and CHANGE are git revisions; "." stands for the working tree
# (its tracked and untracked, not ignored, files). Each side is exported
# into its own checkout under OUTDIR (git archive, so nothing registers
# in the repository) and builds its own engine there before any run.
# One pair per SEED: odd pairs run the parent first, even pairs the
# change first, so host drift hits both sides alike. Each run's result
# line is kept in OUTDIR/<side>_seed<N>.json and its log beside it.
# The summary prints, per end-to-end metric, each side's median and
# quartiles and the number of pairs the change won (lower wins).
#
# Example: tools/ab_bench.sh -o /tmp/ab HEAD~1 . 41 42 43 44 45 46 47 48 49 50
set -euo pipefail

workload=build_daily seconds=5 out=""
while getopts "w:t:o:" opt; do
  case $opt in
    w) workload=$OPTARG ;;
    t) seconds=$OPTARG ;;
    o) out=$OPTARG ;;
    *) sed -n '2,16p' "$0"; exit 2 ;;
  esac
done
shift $((OPTIND - 1))
if [ $# -lt 3 ]; then sed -n '2,16p' "$0"; exit 2; fi
parent=$1 change=$2
shift 2
repo=$(git -C "$(dirname "$0")" rev-parse --show-toplevel)
out=${out:-$(mktemp -d "${TMPDIR:-/tmp}/ab_bench.XXXXXX")}
mkdir -p "$out"

export_side() {  # export_side REV DIR
  rm -rf "$2" && mkdir -p "$2"
  if [ "$1" = "." ]; then
    (cd "$repo" && git ls-files -z -co --exclude-standard |
      tar --null --ignore-failed-read -T - -cf -) 2>/dev/null | tar -x -C "$2"
  else
    git -C "$repo" archive "$1" | tar -x -C "$2"
  fi
}

for side in parent change; do
  rev=$parent; [ $side = change ] && rev=$change
  echo "[ab] $side = $rev: export and build"
  export_side "$rev" "$out/$side"
  (cd "$out/$side" && python3 vdbbench/build.py) > "$out/${side}_build.log" 2>&1
done

run_side() {  # run_side SIDE SEED
  local log="$out/$1_seed$2.log"
  echo "[ab] seed $2: $1"
  (cd "$out/$1" && python3 vdbbench/run.py --workload "$workload" --seed "$2" \
    --seconds "$seconds") > "$log.out" 2> "$log" || true
  tail -n 1 "$log.out" > "$out/$1_seed$2.json"
  rm -f "$log.out"
}

i=0
for seed in "$@"; do
  i=$((i + 1))
  if [ $((i % 2)) -eq 1 ]; then order="parent change"; else order="change parent"; fi
  for side in $order; do run_side "$side" "$seed"; done
done

python3 - "$out" "$@" <<'EOF'
import json, statistics, sys

out, seeds = sys.argv[1], sys.argv[2:]

def load(side, seed):
    try:
        with open("%s/%s_seed%s.json" % (out, side, seed)) as f:
            r = json.loads(f.read())
        return {k: v["value"] for k, v in r["metrics"].items()} if r.get("correct") else None
    except (OSError, ValueError, KeyError):
        return None

runs = {s: [load(s, seed) for seed in seeds] for s in ("parent", "change")}
bad = {s: sum(m is None for m in ms) for s, ms in runs.items()}
print("[ab] runs without a correct result: parent %d, change %d" % (bad["parent"], bad["change"]))
pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"]) if p and c]
metrics = sorted({k for p, c in pairs for k in p})

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

print("%-14s %-7s %9s %9s %9s %9s" % ("metric", "side", "q1", "median", "q3", "iqr"))
for k in metrics:
    for side, i in (("parent", 0), ("change", 1)):
        q1, q2, q3 = quartiles([pr[i][k] for pr in pairs])
        print("%-14s %-7s %9.3f %9.3f %9.3f %9.3f" % (k, side, q1, q2, q3, q3 - q1))
for k in metrics:
    p = [pr[0][k] for pr in pairs]
    c = [pr[1][k] for pr in pairs]
    wins = sum(b < a for a, b in zip(p, c))
    pq1, pmed, pq3 = quartiles(p)
    gap = pmed - statistics.median(c)
    print("[ab] %s: change wins %d/%d pairs; median gap %.3f, parent iqr %.3f"
          % (k, wins, len(pairs), gap, pq3 - pq1))
EOF
echo "[ab] results in $out"
