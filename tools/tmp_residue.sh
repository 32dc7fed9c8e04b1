#!/bin/bash
# Runs a command with a private java.io.tmpdir (through JAVA_TOOL_OPTIONS)
# and a private SPARK_LOCAL_DIRS, then lists the graft-* entries the
# command left in either dir. Exits non-zero if any is left or if the
# command failed; the private dirs are removed either way.
#
# Usage: tools/tmp_residue.sh <command...>
#   e.g. tools/tmp_residue.sh tools/run.sh graft.Verify <sf-dir> <out-dir>
set -uo pipefail
if [ $# -eq 0 ]; then
  echo "usage: $0 <command...>" >&2
  exit 2
fi
# Short names: Spark abbreviates a scan's location in a plan to 100
# characters, and some query contracts look for a dir name in it.
TMP_DIR=$(mktemp -d "${TMPDIR:-/tmp}/trj.XXXXXX")
LOCAL_DIR=$(mktemp -d "${TMPDIR:-/tmp}/trl.XXXXXX")
trap 'rm -rf "$TMP_DIR" "$LOCAL_DIR"' EXIT

JAVA_TOOL_OPTIONS="${JAVA_TOOL_OPTIONS:+$JAVA_TOOL_OPTIONS }-Djava.io.tmpdir=$TMP_DIR" \
  SPARK_LOCAL_DIRS="$LOCAL_DIR" "$@"
status=$?

left=$(find "$TMP_DIR" "$LOCAL_DIR" -mindepth 1 -maxdepth 1 -name 'graft-*' | sort)
count=$(printf '%s' "$left" | grep -c . || true)
echo "tmp_residue: command exit $status; $count graft-* entries left" >&2
[ -n "$left" ] && printf '%s\n' "$left" | sed 's/^/tmp_residue:   /' >&2
if [ "$count" -gt 0 ]; then exit 1; fi
exit "$status"
