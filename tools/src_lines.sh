#!/bin/bash
# Counts the Scala lines under src/main of a tree: total lines, and code
# lines (non-blank lines that are not a `//`, `/**` or ` *` comment line).
# With a second tree (say a `git archive` copy of the parent commit), it
# prints both trees' counts and the change from the second to the first.
# Extra arguments after the trees name files or dirs under src/main to
# count instead of all of it.
#
# Usage: tools/src_lines.sh [tree] [base-tree] [path under src/main ...]
#   e.g. tools/src_lines.sh . /tmp/parent
#        tools/src_lines.sh . /tmp/parent scala/graft/sources/v2
set -euo pipefail
tree=${1:-.}
base=${2:-}
shift $(( $# > 2 ? 2 : $# ))
paths=("$@")
[ ${#paths[@]} -eq 0 ] && paths=(.)

# prints "<total> <code>" for tree $1
count() {
  local files
  files=$(cd "$1/src/main" && for p in "${paths[@]}"; do
    if [ -e "$p" ]; then find "$p" -name '*.scala'; fi; done | sort -u)
  if [ -z "$files" ]; then echo "0 0"; return; fi
  (cd "$1/src/main" && cat $files) | awk '
    { total++ }
    /^[ \t]*$/ { next }
    /^[ \t]*(\/\/|\/\*\*|\*)/ { next }
    { code++ }
    END { printf "%d %d\n", total, code }'
}

read -r total code < <(count "$tree")
if [ -z "$base" ]; then
  printf 'src/main  total %d  code %d\n' "$total" "$code"
  exit 0
fi
read -r btotal bcode < <(count "$base")
printf 'base      total %d  code %d\n' "$btotal" "$bcode"
printf 'tree      total %d  code %d\n' "$total" "$code"
printf 'change    total %+d  code %+d\n' $((total - btotal)) $((code - bcode))
