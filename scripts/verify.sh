#!/bin/bash
# Compile + run graft.Verify + DuckDB-compare, emulating the driver gate.
# Usage: scripts/verify.sh [sfDir] [query ...]
# Builds and checks the checkout this script lives in.
set -e
cd "$(dirname "${BASH_SOURCE[0]}")/.."
SF="${1:-/root/testdata/sf0.01}"
shift || true
# Unique per invocation: two concurrent runs (e.g. an sf0.01 gate while
# an sf0.1 sweep is in flight) must not clobber each other's dumps or
# logs — a shared dir makes the later run's check compare mixed-scale
# outputs, and a shared log hands one run the other's failures.
OUT=$(mktemp -d /tmp/graft_verify.XXXXXX)
trap 'rm -rf "$OUT"' EXIT
sbt -batch compile > "$OUT/sbt_compile.log" 2>&1 || { tail -40 "$OUT/sbt_compile.log"; exit 1; }
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF" "$OUT" 2> "$OUT/verify_err.log" || { tail -40 "$OUT/verify_err.log"; exit 1; }
grep -E '^\[verify\]' "$OUT/verify_err.log" || true
python3 scripts/check.py "$SF" "$OUT" "$@"
