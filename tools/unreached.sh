#!/bin/sh
# Lists the engine surface nothing reaches: every def, val, class,
# object, trait or type declared in src/main without a plain `private`,
# a `protected` or an `override` modifier (package-private
# `private[graft]` declarations are listed) whose name appears on no code line
# of src/main or perfbench/harness/src other than its own declaration.
# Specs do not count as callers. Comment lines, block comments and
# trailing `//` comments are skipped; string literals count (the oracle
# SQL and Verify's query names are strings). A name declared twice
# counts each declaration as the other's use, so the list is a lower
# bound, not a proof. An object whose file defines `main` is a `runMain`
# entry point and is not listed. Prints `file:line name`, one per line.
#
#   tools/unreached.sh            # run from the repository root
cd "$(dirname "$0")/.." || exit 1
find src/main perfbench/harness/src -name '*.scala' | sort | xargs awk '
  FNR == 1 { c = 0 }
  /^[[:space:]]*\/\*/ { c = 1 }
  c { if (/\*\//) c = 0; next }
  /^[[:space:]]*\/\// { next }
  {
    code = $0
    i = index(code, " //")
    if (i > 0 && index(substr(code, 1, i), "\"") == 0) code = substr(code, 1, i)
    # one count per line per identifier
    split("", seen)
    rest = code
    while (match(rest, /[A-Za-z_][A-Za-z0-9_]*/)) {
      w = substr(rest, RSTART, RLENGTH)
      if (!(w in seen)) { seen[w] = 1; uses[w]++ }
      rest = substr(rest, RSTART + RLENGTH)
    }
    if (FILENAME !~ /^src\/main\//) next
    if (code ~ /def main\(/) hasMain[FILENAME] = 1
    if (!match(code, /(^|[[:space:]])(def|val|lazy val|class|object|trait|type)[[:space:]]+[A-Za-z_][A-Za-z0-9_]*/)) next
    head = substr(code, 1, RSTART)
    if (head ~ /(private([^[]|$)|protected|override)/) next
    decl = substr(code, RSTART, RLENGTH)
    sub(/^[[:space:]]*/, "", decl)
    n++; file[n] = FILENAME; where[n] = FILENAME ":" FNR
    kind[n] = decl; sub(/[[:space:]]+[A-Za-z0-9_]*$/, "", kind[n])
    name[n] = decl; sub(/^.*[[:space:]]/, "", name[n])
  }
  END {
    for (k = 1; k <= n; k++)
      if (uses[name[k]] <= 1 && !(kind[k] == "object" && hasMain[file[k]]))
        print where[k] " " name[k]
  }'
