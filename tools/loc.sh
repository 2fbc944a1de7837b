#!/usr/bin/env bash
# Code-line count of the main sources: per file, then the total.
#
# A code line is a line that is not blank, not a `//` line and not inside
# a `/* … */` (or `/** … */`) block. A line that holds code before a
# trailing `//` comment counts as code.
#
# Usage: tools/loc.sh [dir]   (default: src/main under the repo root)
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
dir="${1:-$root/src/main}"
mapfile -t files < <(find "$dir" -type f \( -name '*.scala' -o -name '*.java' \) | sort)
awk '
    FNR == 1 { if (prev != "") out(prev); prev = FILENAME; n = 0; c = 0; inblk = 0 }
    {
      line = $0
      sub(/^[ \t]+/, "", line)
      if (inblk) {
        c++
        if (index(line, "*/") > 0) inblk = 0
        next
      }
      if (line == "") next
      if (substr(line, 1, 2) == "//") { c++; next }
      if (substr(line, 1, 2) == "/*") {
        c++
        if (index(substr(line, 3), "*/") == 0) inblk = 1
        next
      }
      n++
    }
    function out(f) { printf "%7d %7d  %s\n", n, c, f; tn += n; tc += c }
    END { if (prev != "") out(prev); printf "%7d %7d  total (code, comment)\n", tn, tc }
  ' "${files[@]}" | sed "s|$root/||"
