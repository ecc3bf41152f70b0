#!/bin/sh
# Lines added, removed and net under src/main against a base revision.
# usage: tools/net_main_lines.sh [base]   (default HEAD~1). Compares the
# working tree, so uncommitted edits count; new files count once staged.
base=${1:-HEAD~1}
cd "$(git rev-parse --show-toplevel)" || exit 1
git diff --numstat "$base" -- src/main | awk -v base="$base" '
  { add += $1; del += $2 }
  END { printf "src/main vs %s: +%d -%d net %+d\n", base, add, del, add - del }'
