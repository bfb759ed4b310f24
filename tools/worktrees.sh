# Two revisions side by side, shared by tools/ab.sh and tools/same.sh.
#
# Sourced, not run: `. tools/worktrees.sh; worktrees <name> <revA> <revB>`
# checks each revision out into its own detached git worktree, $work/a and
# $work/b, under a new directory $work in ${TMPDIR:-/tmp} (prefix
# graft-<name>.), and removes both worktrees and $work when the sourcing
# script exits. $repo is the checkout the worktrees come from. Run the
# scripts from a clone if the main checkout must not gain worktree entries
# while they run.
repo=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
worktrees() {
  work=$(mktemp -d "${TMPDIR:-/tmp}/graft-$1.XXXXXX")
  trap remove_worktrees EXIT
  git -C "$repo" worktree add --detach -q "$work/a" "$2"
  git -C "$repo" worktree add --detach -q "$work/b" "$3"
}
remove_worktrees() {
  for side in a b; do
    git -C "$repo" worktree remove --force "$work/$side" 2>/dev/null || true
  done
  rm -rf "$work"
}
