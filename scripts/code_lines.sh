#!/bin/bash
# Count the code lines of the main Scala sources: non-blank lines that do
# not start (after indentation) with `//`, `*` or `/**`, so deleting or
# adding comments never moves the figure. Usage:
#   scripts/code_lines.sh            # src/main/scala of this checkout
#   scripts/code_lines.sh <dir>      # any other source tree
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
DIR="${1:-$REPO/src/main/scala}"
find "$DIR" -name '*.scala' -print0 | xargs -0 cat | awk '
  { t = $0; sub(/^[ \t]+/, "", t) }
  t == "" || t ~ /^\/\// || t ~ /^\*/ || t ~ /^\/\*\*/ { next }
  { n++ }
  END { print n + 0 }'
