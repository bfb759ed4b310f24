#!/usr/bin/env bash
# Do two revisions write the same gate outputs? Verify both, compare each.
#
# Usage: tools/same.sh <revA> <revB> [gates] [sfDir...]
#   [gates]   comma-separated SPARK_GRAFT_ONLY prefixes (g0,g10,t21 selects
#             g01-g09, g10 and t21); empty or "all" runs every gate
#   [sfDir]   scale-factor directories to verify over, one after another
#             (default: $SPARK_GRAFT_SF_DIR)
# Env passes through to graft.Verify (SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM,
# ...); TMPDIR picks where the worktrees and outputs go (default /tmp).
#
# Each revision is checked out into its own detached git worktree
# (tools/worktrees.sh) and runs `graft.Verify <sfDir> <out>` there. For
# every gate either side wrote, it compares the two parquet outputs the
# way tools/check.py compares Spark with DuckDB (its rows_of_table,
# canon and type_class: columns sorted by name, canonical values, output
# type classes) and prints one line per gate:
#   identical     same columns, type classes and rows in the same order
#   reordered     the same rows in another order
#   differs       columns, type classes or rows differ
#   only in A|B   one side wrote no output (its Verify logged the failure)
# then a summary line per sfDir. It exits 1 when any gate is not
# identical on any sfDir.
#
# The two sides run one after the other, never at once: 23 gates (p16-p33,
# src04/06/07, s16 and the bucketed join) write scratch tables under fixed
# /tmp/graft_* paths, and src04's oracle SQL reads /tmp/graft_src04_evo
# directly, so two Verify runs at once overwrite each other's tables.
set -euo pipefail
if [ $# -lt 2 ]; then
  echo "usage: tools/same.sh <revA> <revB> [gates] [sfDir...]" >&2
  exit 2
fi
revA=$1 revB=$2 gates=${3:-all}
shift $(( $# < 3 ? $# : 3 ))
if [ $# -eq 0 ]; then set -- "${SPARK_GRAFT_SF_DIR:?pass an sfDir or set SPARK_GRAFT_SF_DIR}"; fi
tools=$(cd "$(dirname "$0")" && pwd)
. "$tools/worktrees.sh"
worktrees same "$revA" "$revB"

rc=0
for sf in "$@"; do
  sf=$(cd "$sf" && pwd)
  tag=$(basename "$sf")
  for side in a b; do
    echo "[same] $tag: verify side $side" >&2
    out="$work/$side.$tag"
    (cd "$work/$side" &&
      if [ "$gates" = all ]; then unset SPARK_GRAFT_ONLY
      else export SPARK_GRAFT_ONLY="$gates"; fi &&
      sbt -batch "runMain graft.Verify $sf $out" >"$out.log" 2>&1) ||
      echo "[same] $tag: side $side Verify exited non-zero (log kept below)" >&2
    grep -h "\[verify\].*failed" "$out.log" >&2 || true
  done
  python3 - "$tools" "$work/a.$tag" "$work/b.$tag" "$revA" "$revB" "$tag" <<'PY' || rc=1
import os, sys
sys.path.insert(0, sys.argv[1])
import pyarrow.parquet as pq
from check import rows_of_table, type_class

a, b, revA, revB, tag = sys.argv[2:7]

def gates(out):
    return {d for d in os.listdir(out) if os.path.isdir(os.path.join(out, d))} \
        if os.path.isdir(out) else set()

def shape(out, g):
    t = pq.read_table(os.path.join(out, g))
    cols, rows = rows_of_table(t)
    types = [type_class(f.type) for f in sorted(t.schema, key=lambda f: f.name)]
    return cols, types, rows

ga, gb = gates(a), gates(b)

def compare(g):
    """(status, detail) of gate g."""
    if g not in ga or g not in gb:
        return f"only in {'A' if g in ga else 'B'}", ""
    (ca, ta, ra), (cb, tb, rb) = shape(a, g), shape(b, g)
    if ca != cb:
        return "differs", f"columns {ca} vs {cb}"
    if ta != tb:
        return "differs", f"types {ta} vs {tb}"
    if ra == rb:
        return "identical", ""
    if sorted(ra) == sorted(rb):
        return "reordered", ""
    return "differs", f"rows {len(ra)} vs {len(rb)}"

counts = {}
print(f"[{tag}] A = {revA}   B = {revB}")
for g in sorted(ga | gb):
    status, detail = compare(g)
    counts[status] = counts.get(status, 0) + 1
    print(f"{status:12} {g}" + (f"  {detail}" if detail else ""))
print(f"[{tag}] " + ", ".join(f"{n} {s}" for s, n in sorted(counts.items())))
sys.exit(0 if counts and set(counts) == {"identical"} else 1)
PY
done
exit $rc
