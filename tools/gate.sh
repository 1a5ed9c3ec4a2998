#!/bin/bash
# The oracle gate as one command. Compiles, runs every SparkEntry query on
# the in-repo sf0.01 tables (graft.Verify) into a temp dir, compares each
# result with its DuckDB oracle (tools/check.py) and prints the pass count.
# Exits non-zero on any failed compare and on any query that Verify lists
# in errors.json. Usage: tools/gate.sh
set -euo pipefail
cd "$(dirname "$0")/.."
SF=perfbench/data/sf0.01
OUT="$(mktemp -d -t graft-gate.XXXXXX)"
trap 'rm -rf "$OUT"' EXIT

sbt --batch compile >&2
tools/runtool.sh graft.Verify "$SF" "$OUT" >&2
status=0
python3 tools/check.py "$SF" "$OUT" > "$OUT/check.log" || status=$?
grep '^FAIL' "$OUT/check.log" || true
pass=$(grep -c '^PASS' "$OUT/check.log" || true)
total=$(grep -c '^\(PASS\|FAIL\)' "$OUT/check.log" || true)
echo "gate: $pass/$total pass"
if [ "$(cat "$OUT/errors.json")" != "{}" ]; then
  echo "gate: Verify recorded failed queries: $(cat "$OUT/errors.json")"
  status=1
fi
exit "$status"
