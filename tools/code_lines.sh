#!/usr/bin/env bash
# Prints the code lines of each source file given, then their total.
# A code line is any line that is not blank and does not start (after
# indentation) with `*`, `/**` or `//`, so scaladoc and line comments
# do not count; wrapping or unwrapping code does.
#
#   tools/code_lines.sh src/main/scala/graft/index/*.scala
set -euo pipefail
if [ "$#" -eq 0 ]; then
  echo "usage: tools/code_lines.sh <file>..." >&2
  exit 2
fi
total=0
for f in "$@"; do
  n=$(grep -cvE '^[[:space:]]*($|\*|/\*\*|//)' "$f" || true)
  printf '%6d %s\n' "$n" "$f"
  total=$((total + n))
done
printf '%6d total\n' "$total"
