#!/bin/sh
# Line count of the given source files: total lines and code lines.
# A code line is non-blank and, after leading whitespace, does not start
# with "//", "/*" or "*".
# Usage: scripts/loc.sh <file>...
if [ "$#" -eq 0 ]; then
  echo "usage: scripts/loc.sh <file>..." >&2
  exit 2
fi
cat "$@" | awk '
  { total++ }
  {
    s = $0
    sub(/^[ \t]+/, "", s)
    if (s != "" && s !~ /^\/\// && s !~ /^\/\*/ && s !~ /^\*/) code++
  }
  END { printf "total %d\ncode %d\n", total, code + 0 }'
