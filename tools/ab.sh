#!/usr/bin/env bash
# Paired, interleaved Bench A/B of two revisions over a gate subset.
#
# Usage: tools/ab.sh <revA> <revB> <gates> [pairs]
#   <gates>  comma-separated gate names, passed as SPARK_GRAFT_ONLY. Bench
#            and Verify run a gate when its name starts with a listed
#            entry; no gate name is a prefix of another, so full names
#            select exactly those gates. Pass full names: each is also
#            checked for a time on both sides.
#   [pairs]  A/B pairs to run (default 3)
# Env passes through to graft.Bench (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
# SPARK_GRAFT_ITERS, SPARK_DRIVER_MEM, ...); TMPDIR picks where the
# worktrees go (default /tmp).
#
# Each revision is checked out into its own detached git worktree and
# runs `SPARK_GRAFT_ONLY=<gates> tools/bench.sh` there, pairs in ABAB
# order with the side that goes first alternating (A B, B A, A B, ...),
# so drift in the host's load lands on both sides. Every record is
# written inside a worktree: the main checkout's committed
# bench_last.json / bench_subset.json are never touched. It prints, per
# gate, each side's min seconds over the pairs, the B/A ratio of those
# mins and each side's spread ((max - min) / min), then each run's
# subset total and any budget breach. This replaces the hand-run
# stash/pop A/Bs of earlier rounds. It exits 1 when any run left no
# record or a requested gate has no time on one side (the table is still
# printed first).
set -euo pipefail
if [ $# -lt 3 ]; then
  echo "usage: tools/ab.sh <revA> <revB> <gates> [pairs]" >&2
  exit 2
fi
revA=$1 revB=$2 gates=$3 pairs=${4:-3}
repo=$(cd "$(dirname "$0")/.." && pwd)
work=$(mktemp -d "${TMPDIR:-/tmp}/graft-ab.XXXXXX")
cleanup() {
  for side in a b; do
    git -C "$repo" worktree remove --force "$work/$side" 2>/dev/null || true
  done
  rm -rf "$work"
}
trap cleanup EXIT
git -C "$repo" worktree add --detach -q "$work/a" "$revA"
git -C "$repo" worktree add --detach -q "$work/b" "$revB"

for i in $(seq 1 "$pairs"); do
  if [ $((i % 2)) -eq 1 ]; then order="a b"; else order="b a"; fi
  for side in $order; do
    echo "[ab] pair $i/$pairs: side $side" >&2
    (cd "$work/$side" && SPARK_GRAFT_ONLY="$gates" tools/bench.sh \
      2>"$work/$side.$i.log" | tail -1 >"$work/$side.$i.json") || true
  done
done

python3 - "$work" "$pairs" "$revA" "$revB" "$gates" <<'PY'
import json, sys
work, pairs, rev = sys.argv[1], int(sys.argv[2]), {"a": sys.argv[3], "b": sys.argv[4]}
requested = [g for g in sys.argv[5].split(",") if g]
runs = {}
for side in "ab":
    runs[side] = []
    for i in range(1, pairs + 1):
        try:
            runs[side].append(json.load(open(f"{work}/{side}.{i}.json")))
        except (OSError, ValueError):
            runs[side].append({"error": f"no record (log {side}.{i}.log)"})
gates = sorted({g for side in "ab" for r in runs[side] for g in r.get("queries", {})}
               | set(requested))
def times(side, g):
    return [r["queries"][g] for r in runs[side] if g in r.get("queries", {})]
problems = [f"side {side.upper()} run {i} left no record"
            for side in "ab" for i, r in enumerate(runs[side], 1) if "error" in r]
print(f"A = {rev['a']}   B = {rev['b']}   pairs = {pairs}")
print(f"{'gate':24} {'A_min':>8} {'B_min':>8} {'B/A':>6} {'A_sprd':>7} {'B_sprd':>7}")
for g in gates:
    a, b = times("a", g), times("b", g)
    if not a or not b:
        print(f"{g:24} missing on side {'A' if not a else 'B'}")
        problems.append(f"gate {g} has no time on side {'A' if not a else 'B'}")
        continue
    sprd = lambda v: (max(v) - min(v)) / min(v) if min(v) > 0 else 0.0
    print(f"{g:24} {min(a):8.3f} {min(b):8.3f} {min(b) / min(a):6.3f} "
          f"{sprd(a):7.3f} {sprd(b):7.3f}")
for side in "ab":
    for i, r in enumerate(runs[side], 1):
        print(f"{side.upper()} run {i}: total {r.get('value')} s, "
              f"failed {r.get('failed', '-')}, over_budget {r.get('over_budget', '-')}"
              + (f", {r['error']}" if "error" in r else ""))
if problems:
    print("[ab] FAILED: " + "; ".join(problems), file=sys.stderr)
    sys.exit(1)
PY
