#!/usr/bin/env bash
# Count the chmod, readlink, ls and stat processes a command spawns.
#
#   scripts/forkcount.sh <cmd...>
#   e.g. scripts/forkcount.sh python3 perfbench/run.py --workload stream_micro \
#          --seed 1 --seconds 7 --trace 0
#
# Hadoop's local filesystem forks these when libhadoop.so is not loaded.
# The script puts logging wrappers for the four commands first on PATH,
# runs the command (output and exit status pass through) and prints one
# "forks <command> <count>" line per command and a total to stderr. The
# counts cover every process the command starts, not only the JVM.
set -u
if [ $# -eq 0 ]; then
  echo "usage: $0 <cmd...>" >&2
  exit 2
fi
cmds="chmod readlink ls stat"
dir=$(mktemp -d "${TMPDIR:-/tmp}/forkcount.XXXXXX")
trap 'rm -rf "$dir"' EXIT
log="$dir/log"
: > "$log"
for c in $cmds; do
  real=$(command -v "$c") || continue
  printf '#!/bin/sh\necho %s >> "%s"\nexec "%s" "$@"\n' "$c" "$log" "$real" > "$dir/$c"
  chmod +x "$dir/$c"
done
PATH="$dir:$PATH" "$@"
rc=$?
total=0
for c in $cmds; do
  n=$(grep -cx "$c" "$log")
  echo "forks $c $n" >&2
  total=$((total + n))
done
echo "forks total $total" >&2
exit $rc
