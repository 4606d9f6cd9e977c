#!/bin/bash
# List the engine defs nothing in the program calls: every `def` in
# src/main outside queries/ whose name appears on no non-comment
# src/main line other than a line that defines that name. Comment
# lines (//, /*, /** and scaladoc `*` lines) do not count as a use, so
# a def that only a scaladoc names is listed. `override def` and `main`
# are skipped: the runtime calls them, not the program. A name that
# also means something else (a field, a local, another object's def)
# hides the def, so the list is a floor, not the full set.
#
#   tools/test_only_defs.sh        # prints file:line: name, sorted
set -euo pipefail
cd "$(git -C "$(dirname "$0")" rev-parse --show-toplevel)"

git ls-files 'src/main/*.scala' | xargs awk '
  function defs_on(line, out,   rest, n) {
    # names defined on this line, as keys of out
    delete out
    rest = line
    while (match(rest, /(^|[^A-Za-z0-9_])def[ \t]+[A-Za-z_][A-Za-z0-9_]*/)) {
      n = substr(rest, RSTART, RLENGTH)
      sub(/^.*def[ \t]+/, "", n)
      out[n] = 1
      rest = substr(rest, RSTART + RLENGTH)
    }
  }
  /^[ \t]*(\/\/|\/\*|\*)/ { next }
  {
    defs_on($0, here)
    if (FILENAME !~ /\/queries\// && $0 !~ /override[^=]*def/)
      for (n in here) if (n != "main") def_at[n] = def_at[n] FILENAME ":" FNR ": " n "\n"
    delete seen
    rest = $0
    while (match(rest, /[A-Za-z_][A-Za-z0-9_]*/)) {
      t = substr(rest, RSTART, RLENGTH)
      if (!(t in seen) && !(t in here)) { used[t]++; seen[t] = 1 }
      rest = substr(rest, RSTART + RLENGTH)
    }
  }
  END {
    for (n in def_at) if (!(n in used)) printf "%s", def_at[n]
  }' | sort -t: -k1,1 -k2,2n
