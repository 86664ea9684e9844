#!/bin/sh
# Counts the code lines of the Scala sources under each given directory
# (default src/main): every line that is not blank, not a // comment
# line and not inside a /* */ comment that starts a line. Uses POSIX
# classes only, so it gives the same count under mawk, gawk and busybox.
#
#   tools/loc.sh [dir...]
[ $# -eq 0 ] && set -- src/main
find "$@" -name '*.scala' | sort | xargs awk '
  /^[[:space:]]*\/\*/ { c = 1 }
  c { if (/\*\//) c = 0; next }
  /^[[:space:]]*\/\// { next }
  /^[[:space:]]*$/ { next }
  { n++ }
  END { print n + 0 }'
