#!/usr/bin/env bash
# Interleaved end-to-end A/B of one benchmark workload: a parent ref
# against HEAD (committed files only).
#
#   scripts/perfab.sh <parent-ref> <workload> <seed> [<seed> ...]
#
# Each arm is a git worktree in a temporary directory outside the repo
# (removed on exit). Per seed both arms run
# `perfbench/run.py --trace 0 --seconds 7`, the arm order alternating from
# seed to seed. Prints every pair's head/parent ratio and, per end-to-end
# metric of BENCHMARK.json, both arms' medians, the median ratio, the
# parent's interquartile spread (a gain should exceed it) and how many
# pairs head won. Nothing under perfbench/ is changed.
set -euo pipefail
[ $# -ge 3 ] || { echo "usage: $0 <parent-ref> <workload> <seed> [<seed> ...]" >&2; exit 2; }
parent=$1 workload=$2
shift 2
repo=$(git rev-parse --show-toplevel)
dir=$(mktemp -d "${TMPDIR:-/tmp}/perfab.XXXXXX")
cleanup() {
  for arm in parent head; do git -C "$repo" worktree remove --force "$dir/$arm" 2>/dev/null || true; done
  git -C "$repo" worktree prune
  rm -rf "$dir"
}
trap cleanup EXIT
git -C "$repo" worktree add -q --detach "$dir/parent" "$parent"
git -C "$repo" worktree add -q --detach "$dir/head" HEAD
i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then order="parent head"; else order="head parent"; fi
  for arm in $order; do
    echo "perfab: seed $seed, $arm" >&2
    (cd "$dir/$arm" && python3 perfbench/run.py --workload "$workload" --seed "$seed" \
      --seconds 7 --trace 0 2>"$dir/$arm-$seed.err") | tail -n 1 >"$dir/$arm-$seed.json"
  done
  i=$((i + 1))
done
python3 - "$dir" "$@" <<'EOF'
import json, statistics, sys
d, seeds = sys.argv[1], sys.argv[2:]
spec = json.load(open(f"{d}/head/BENCHMARK.json"))["end_to_end"]
runs = {arm: [json.load(open(f"{d}/{arm}-{s}.json")) for s in seeds] for arm in ("parent", "head")}
for arm, rs in runs.items():
    print(f"{arm}: correct {[r['correct'] for r in rs]}, failed {[r['failed'] for r in rs]}")
print(f"{'metric':<12} {'parent':>10} {'head':>10} {'ratio':>7} {'p_iqr':>9}  wins  per-pair ratios")
for m in spec:
    p = [r["metrics"][m["name"]]["value"] for r in runs["parent"]]
    h = [r["metrics"][m["name"]]["value"] for r in runs["head"]]
    ratios = [b / a if a else float("nan") for a, b in zip(p, h)]
    wins = sum((b < a) if m["better"] == "lower" else (b > a) for a, b in zip(p, h))
    mp, mh = statistics.median(p), statistics.median(h)
    q = statistics.quantiles(p, n=4) if len(p) > 1 else [mp, mp, mp]
    print(f"{m['name']:<12} {mp:>10.3f} {mh:>10.3f} {mh / mp if mp else float('nan'):>7.3f}"
          f" {q[2] - q[0]:>9.3f}"
          f"  {wins}/{len(seeds)}  {' '.join('%.3f' % x for x in ratios)}")
EOF
