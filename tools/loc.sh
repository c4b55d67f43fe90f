#!/bin/bash
# Code size: non-blank, non-comment Scala lines. Blank lines, lines that
# start with `//`, and every line of a `/* ... */` (or `/** ... */`) block
# are dropped; a line that holds code is counted even if a comment follows.
# Usage: tools/loc.sh <path> [path ...]   (files or directories)
# Prints one "<lines> <path>" row per argument, then a total row when more
# than one path is given.
set -eu
[ $# -ge 1 ] || { echo "usage: $0 <path> [path ...]" >&2; exit 2; }
total=0
for p in "$@"; do
  n=$(find "$p" -type f -name '*.scala' -print0 | sort -z | xargs -0 -r awk '
    FNR == 1 { inBlock = 0 }
    {
      line = $0
      sub(/^[ \t]+/, "", line)
      if (inBlock) { if (index(line, "*/")) inBlock = 0; next }
      if (line == "" || substr(line, 1, 2) == "//") next
      if (substr(line, 1, 2) == "/*") {
        if (!index(substr(line, 3), "*/")) inBlock = 1
        next
      }
      n++
    }
    END { print n + 0 }' | awk '{ s += $1 } END { print s + 0 }')
  echo "$n $p"
  total=$((total + n))
done
[ $# -eq 1 ] || echo "$total total"
