#!/bin/bash
# Count Scala files, raw lines and code lines for src/main, src/test, each
# src/main/scala/graft/<package>/ directory and the top-level graft files.
# Code lines drop blank lines and lines whose first non-blank characters
# are `*`, `/**` or `//` (Scaladoc bodies, doc openers, line comments).
# Usage: scripts/loc.sh [repo-root]   (default: this script's checkout)
set -euo pipefail
cd "${1:-$(dirname "$0")/..}"

# count <label> <dir> <find maxdepth>
count() {
  local files
  files=$(find "$2" -maxdepth "$3" -name '*.scala' -type f | sort)
  awk -v label="$1" '
    FNR == 1 { n++ }
    { raw++; t = $0; sub(/^[ \t]+/, "", t)
      if (t != "" && t !~ /^(\*|\/\*\*|\/\/)/) code++ }
    END { printf "%-34s %6d %8d %8d\n", label, n, raw, code }' ${files:-/dev/null}
}

printf '%-34s %6s %8s %8s\n' dir files raw code
count src/main src/main 99
count src/test src/test 99
for d in src/main/scala/graft/*/; do count "${d%/}" "$d" 99; done
count "src/main/scala/graft/*.scala" src/main/scala/graft 1
