#!/bin/bash
# Run a graft main (graft.Bench) from a SNAPSHOT of the compiled
# classes, without holding the sbt project lock — so long ladder runs
# can proceed in the background while sbt keeps compiling/testing.
# Mirrors build.sbt's fork JVM exactly (add-opens, UTC, no UI, 8g heap
# unless SPARK_DRIVER_MEM overrides).
#
#   tools/run_main.sh graft.Bench [args...]          # env as usual
#
# tools/ab_block.sh and tools/plan_diff.sh (graft.Explain, old vs new
# plans) run their arms through this script with GRAFT_CLASSES_DIR.
#
# The snapshot is refreshed from target/scala-2.13/classes at launch;
# recompiles during the run cannot mix class versions into it.
set -euo pipefail
MAIN="$1"; shift
# Sweep stale snapshots from prior runs (the EXIT trap can't fire for
# a killed java child, and leaked dirs accumulate in /tmp otherwise).
# Age alone is not enough: a >2h (or concurrent long) run's snapshot is
# old but LIVE, and deleting it breaks the runner's lazy class loading
# mid-run with NoClassDefFoundError — each snapshot records its java
# pid in .owner_pid (below), and the sweep skips dirs whose owner is
# still alive. fuser wouldn't do here: a JVM opens classpath files on
# demand and closes them, so the dir usually shows no holder.
for d in /tmp/graft_classes_*; do
  [ -d "$d" ] || continue
  [ -n "$(find "$d" -maxdepth 0 -mmin +120)" ] || continue
  pid=$(cat "$d/.owner_pid" 2>/dev/null || true)
  if [ -n "$pid" ] && kill -0 "$pid" 2>/dev/null; then continue; fi
  # best-effort under set -e: a permission/IO failure on someone
  # else's stale dir must not abort the benchmark run
  rm -rf "$d" 2>/dev/null || true
done
# Killed JVMs also leak their Spark scratch dirs (blockmgr-*, spark-*)
# — ~35 GB of them measurably inflated successive heavy captures in
# round 12 before a manual cleanup. Those dirs carry no owner pid, so
# the sweep is gated the safe way: only when NO java is running at all
# (leaked dirs are then orphans by definition) and only past the same
# 2h age bar. A live run naturally skips it.
if ! pgrep -x java >/dev/null 2>&1; then
  find /tmp -maxdepth 1 \( -name 'blockmgr-*' -o -name 'spark-*' \) \
    -mmin +120 -exec rm -rf {} + 2>/dev/null || true
fi
SNAP=$(mktemp -d /tmp/graft_classes_XXXX)
trap 'rm -rf "$SNAP"' EXIT
# GRAFT_CLASSES_DIR lets tools/ab_block.sh and tools/plan_diff.sh point
# each arm at its own compiled classes (e.g. an old-tree arm) without
# copying the script.
cp -r "${GRAFT_CLASSES_DIR:-/root/repo/target/scala-2.13/classes}"/. "$SNAP"/

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

# Run java as a child (not exec) so the EXIT trap fires and the
# snapshot is removed; record its pid for the sweep's liveness check,
# forward TERM/INT so a killed wrapper cannot strand a live child whose
# snapshot the trap is about to delete, and forward the exit code.
java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$SNAP:/opt/spark/jars/*" \
  "$MAIN" "$@" &
JPID=$!
echo "$JPID" > "$SNAP/.owner_pid"
trap 'kill "$JPID" 2>/dev/null' TERM INT
wait "$JPID"
