#!/bin/bash
# Compare the physical plans of every catalog query between two builds.
# Runs graft.Explain once from each compiled class tree (through
# tools/run_main.sh and GRAFT_CLASSES_DIR), masks what differs between
# any two processes or builds, and diffs the two outputs query by query.
# Masked: expression ids (#123), plan and RDD ids, the source lines of
# RDD call sites (`localCheckpoint at X.scala:12`), per-process temp
# roots (graft_stage_*, graft_ckpt_*) and the stage fingerprints of taps
# under them, UUID names, lambda and object identity hashes.
#
#   tools/plan_diff.sh <classesA> <classesB> [sfDir]
#
# classesA/B are `target/scala-2.13/classes` directories (e.g. the
# parent commit built in a second checkout); sfDir is passed on to
# graft.Explain, which falls back to its own default without it.
# Prints the names of the queries whose plans differ and a unified diff
# of them; exits 0 when there is none, 1 otherwise. Run it A-vs-A
# first: a non-empty result there means the masking misses some
# per-process detail, not that the plans differ.
set -euo pipefail
if [ $# -lt 2 ]; then
  echo "usage: $0 <classesA> <classesB> [sfDir]" >&2
  exit 2
fi
A="$1"; B="$2"; SF=("${@:3:1}")
HERE="$(cd "$(dirname "$0")" && pwd)"
OUT=$(mktemp -d /tmp/graft_plan_diff_XXXX)
trap 'rm -rf "$OUT"' EXIT

normalize() {
  sed -E \
    -e 's/#[0-9]+/#N/g' \
    -e 's/plan_id=[0-9]+/plan_id=N/g' \
    -e 's/RDD\[[0-9]+\]/RDD[N]/g' \
    -e 's/( at [A-Za-z0-9_$]+\.scala):[0-9]+/\1:L/g' \
    -e 's/[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}/UUID/g' \
    -e 's/graft_(stage|ckpt)_[A-Za-z0-9_.-]+/graft_\1_TMP/g' \
    -e 's#(graft_stage_TMP/[^] ,]*)-[0-9a-f]{12}\b#\1-FP#g' \
    -e 's/\$Lambda\$[0-9]+\/0x[0-9a-f]+/$Lambda/g' \
    -e 's/([A-Za-z0-9_$])@[0-9a-f]{1,8}\b/\1@H/g'
}

for side in A B; do
  dir="${!side}"
  [ -d "$dir" ] || { echo "no class tree at $dir" >&2; exit 2; }
  echo "[plan_diff] explaining all queries from $dir" >&2
  if ! GRAFT_CLASSES_DIR="$dir" "$HERE/run_main.sh" graft.Explain \
      "${SF[@]}" >"$OUT/$side.raw" 2>"$OUT/$side.err" \
      || ! grep -q '^========== ' "$OUT/$side.raw"; then
    echo "graft.Explain failed for $side:" >&2
    tail -20 "$OUT/$side.err" >&2
    exit 2
  fi
  normalize <"$OUT/$side.raw" >"$OUT/$side.txt"
done

# one file per query, so the report names the queries that moved
for side in A B; do
  mkdir -p "$OUT/$side.q"
  awk -v d="$OUT/$side.q" '
    /^========== .* ==========$/ { f = d "/" $2; next }
    f { print > f }' "$OUT/$side.txt"
done
n=$(ls "$OUT/A.q" | wc -l)
changed=$(diff -rq "$OUT/A.q" "$OUT/B.q" \
  | sed -E 's#^Files .*/A\.q/([^ ]+) and .*#\1#; s#^Only in .*: ##' || true)
if [ -z "$changed" ]; then
  echo "[plan_diff] $n queries, 0 with a different plan"
  exit 0
fi
echo "[plan_diff] $n queries, $(echo "$changed" | wc -l) with a different plan:"
echo "$changed"
diff -ru "$OUT/A.q" "$OUT/B.q" || true
exit 1
