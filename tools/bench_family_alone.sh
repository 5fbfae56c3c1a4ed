#!/usr/bin/env bash
# Benched-alone pass for a family of catalog entries (VERDICT r15 #6):
# each entry runs in its own fresh JVM (min-of-3 via graft.Bench), paired
# with its DuckDB twin alone on the same host, back to back. Usage:
#   tools/bench_family_alone.sh SF_DIR ORACLE_SQL.json OUT.json name1 name2 ...
set -euo pipefail
# three warmup passes unless the caller set SPARK_GRAFT_WARMUP: with one,
# a fresh single-entry JVM still compiles and JITs inside the timed passes
# and overstates codegen-heavy entries about 3x
export SPARK_GRAFT_WARMUP="${SPARK_GRAFT_WARMUP:-3}"
SF_DIR=$1; ORACLES=$2; OUT=$3; shift 3
echo -n '{' > "$OUT"
first=1
for q in "$@"; do
  echo "=== $q (spark alone) ===" >&2
  SPARK_GRAFT_ONLY=$q SPARK_GRAFT_SF_DIR=$SF_DIR \
    sbt -batch "runMain graft.Bench" > /tmp/bench_alone_$q.log 2>&1
  spark=$(python3 -c "
import json,re
j=json.load(open('target/bench.json'))
print(j['queries']['$q'])")
  echo "=== $q (duckdb alone) ===" >&2
  mkdir -p /tmp/alone_oracle_$q
  python3 - "$q" "$ORACLES" <<'EOF'
import json, sys
q, oracles = sys.argv[1], sys.argv[2]
full = json.load(open(oracles))
json.dump({q: full[q]}, open(f'/tmp/alone_oracle_{q}/oracle_sql.json', 'w'))
EOF
  duck=$(python3 tools/bench_duckdb.py "$SF_DIR" /tmp/alone_oracle_$q --json \
    | python3 -c "import json,sys; print(json.load(sys.stdin)['total'])")
  [ $first -eq 0 ] && echo -n ',' >> "$OUT"
  first=0
  ratio=$(python3 -c "print(f'{$spark/$duck:.3f}')")
  echo -n "\"$q\":{\"spark_alone\":$spark,\"duckdb_alone\":$duck,\"ratio\":$ratio}" >> "$OUT"
  echo "$q spark=$spark duck=$duck ratio=$ratio" >&2
done
echo '}' >> "$OUT"
