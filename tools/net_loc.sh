#!/usr/bin/env bash
# Lines added, removed and net under src/main and src/test between a base
# ref and the working tree (committed, staged and unstaged changes; new
# files count once staged with `git add`).
#
#   tools/net_loc.sh <base-ref>
set -euo pipefail
if [ $# -ne 1 ]; then
  echo "usage: $0 <base-ref>" >&2
  exit 2
fi
cd "$(git rev-parse --show-toplevel)"
for dir in src/main src/test; do
  git diff --numstat "$1" -- "$dir" | awk -v dir="$dir" '
    { add += $1; del += $2 }
    END { printf "%-9s +%d -%d net %+d\n", dir, add, del, add - del }'
done
