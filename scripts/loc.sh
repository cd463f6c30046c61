#!/bin/bash
# Non-blank, non-comment source lines under src/main, per file and in total.
#
# A line counts unless it is blank or, after leading whitespace, starts
# with `//`, `/*` or `*` (the scaladoc and block-comment bodies). Code
# followed by a trailing comment counts. This is the line filter behind
# the LOC figures in CHANGES.md and ROADMAP.md.
#
# usage: scripts/loc.sh [repo-root]   (default: the repo this script is in)
set -euo pipefail
root="${1:-$(dirname "$0")/..}"
cd "$root"
find src/main -type f \( -name '*.scala' -o -name '*.java' \) | LC_ALL=C sort |
  while read -r f; do
    n=$(grep -Ev '^[[:space:]]*$|^[[:space:]]*(//|/\*|\*)' "$f" | wc -l)
    printf '%7d %s\n' "$n" "$f"
  done | awk '{ print; total += $1 } END { printf "%7d total\n", total }'
