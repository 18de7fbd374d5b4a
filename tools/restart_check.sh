#!/usr/bin/env bash
# Two-JVM restart check of every at-rest artifact: the five index families,
# SplitState, the admission drain's `_admissions` manifest, ClusterState and
# IvfIndex. JVM 1 builds them and runs one admission drain; JVM 2 starts
# with an empty in-memory catalog on the same warehouse directory, loads,
# appends, drains again on the same checkpoint, compacts and compares with
# fresh builds (tools/restart_check.scala). Not part of the test suite.
#
# Usage: sbt compile && tools/restart_check.sh [work-dir]
# Prints one "[restart_check] PASS|FAIL <artifact>" line per check; exits
# non-zero unless both JVMs finish their phase with every check passed (the
# shell's own output is kept in <work-dir>/jvm<N>.out).
set -euo pipefail
cd "$(dirname "$0")/.."
classes=target/scala-2.13/classes
[ -d "$classes" ] || { echo "no $classes: run sbt compile first" >&2; exit 2; }
work="$(realpath -m "${1:-$(mktemp -d -t graft-restart-XXXXXX)}")"
mkdir -p "$work"
for phase in 1 2; do
  { echo "val phase = $phase"; echo "val work = \"$work\""; cat tools/restart_check.scala; } \
    > "$work/jvm$phase.scala"
  spark-shell --master 'local[2]' --driver-class-path "$classes" \
    --conf spark.sql.catalogImplementation=in-memory \
    --conf spark.sql.warehouse.dir="$work/warehouse" \
    --conf spark.sql.extensions=graft.plans.GraftExtensions \
    --conf spark.sql.session.timeZone=UTC \
    --conf spark.sql.shuffle.partitions=2 \
    --conf spark.ui.enabled=false \
    -i "$work/jvm$phase.scala" < /dev/null > "$work/jvm$phase.out" 2> "$work/jvm$phase.log" || true
  # the shell stops reading a script at its first error and still exits 0
  grep '^\[restart_check\]' "$work/jvm$phase.out" || true
  grep -q "^\[restart_check\] phase $phase done" "$work/jvm$phase.out" ||
    { echo "[restart_check] JVM $phase failed: see $work/jvm$phase.out"; exit 1; }
done
