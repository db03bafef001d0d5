#!/bin/bash
# Count the processes a graft main forks. Runs the main through
# tools/run_main.sh under a JFR recording (jdk.ProcessStart, with stack
# traces) and prints the count of started processes by command, then by
# the innermost graft / Spark / Hadoop frame that started them (the
# org.apache.hadoop.util.Shell fork machinery itself counts only when
# nothing else does, so a Hadoop fork is charged to the filesystem call
# behind it).
#
#   SPARK_GRAFT_SF_DIR=<testdata>/sf0.001 SPARK_GRAFT_QUERIES=q96_stream_join \
#   SPARK_GRAFT_ITERS=1 tools/forks.sh graft.Bench
#
# The main's own stdout/stderr go to stderr; the report goes to stdout.
# A frame starting with org.apache.hadoop.fs. in the second table is a
# Hadoop local-filesystem fork (chmod, readlink, ls) — graft.Sessions'
# sessions should show none (see graft.tap.ForkFreeRawLocalFileSystem).
set -euo pipefail
[ $# -ge 1 ] || { echo "usage: $0 <main> [args...]" >&2; exit 2; }
HERE="$(cd "$(dirname "$0")" && pwd)"
OUT=$(mktemp -d /tmp/graft_forks_XXXX)
trap 'rm -rf "$OUT"' EXIT

JAVA_TOOL_OPTIONS="${JAVA_TOOL_OPTIONS:-} -XX:StartFlightRecording=settings=default,dumponexit=true,filename=$OUT/run.jfr" \
  "$HERE/run_main.sh" "$@" 1>&2

jfr print --json --stack-depth 64 --events jdk.ProcessStart "$OUT/run.jfr" > "$OUT/forks.json"
python3 - "$OUT/forks.json" <<'EOF'
import collections, json, sys

events = json.load(open(sys.argv[1]))["recording"]["events"]
by_cmd, by_frame = collections.Counter(), collections.Counter()
for e in events:
    v = e["values"]
    by_cmd[(v.get("command") or "?").split()[0]] += 1
    frames = [f["method"]["type"]["name"].replace("/", ".") + "." + f["method"]["name"]
              for f in (v.get("stackTrace") or {}).get("frames", [])]
    ours = [f for f in frames if f.startswith(("graft.", "org.apache.spark.", "org.apache.hadoop."))]
    where = next((f for f in ours if not f.startswith("org.apache.hadoop.util.Shell")),
                 ours[0] if ours else "(no graft/Spark/Hadoop frame)")
    by_frame[where] += 1

print(f"jdk.ProcessStart events: {len(events)}")
for title, c in (("by command", by_cmd), ("by first graft/Spark/Hadoop frame", by_frame)):
    print(f"\n{title}:")
    for k, n in c.most_common():
        print(f"  {n:7d}  {k}")
EOF
