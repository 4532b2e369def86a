#!/usr/bin/env bash
# Prints the number of code lines under src/main/scala: the non-blank lines
# of the .scala files that, after leading whitespace, do not start with
# "//", "/*" or "*". Scaladoc and block-comment bodies therefore do not
# count; a code line with a trailing comment does.
#
# Usage, from anywhere in the repository:
#   tools/loc.sh [repo_root]
#     repo_root  the checkout to count; default this repository
set -euo pipefail
root=${1:-"$(dirname "$0")/.."}
find "$root/src/main/scala" -name '*.scala' -print0 | sort -z | xargs -0 cat |
  awk '{ s = $0; sub(/^[ \t]+/, "", s)
         if (s == "" || s ~ /^(\/\/|\/\*|\*)/) next
         n++ }
       END { print n + 0 }'
