#!/bin/bash
# Dump `.explain("formatted")` plans per query into files.
# usage: scripts/dump_plans.sh <sfDir> <outDir> <suffix> <query> [query ...]
# Runs graft.ExplainAudit (in the repo this script lives next to) and splits
# its output on the "========== <name> ==========" markers into
# <outDir>/<name>_<suffix>.txt — the plans/rNN evidence files plan claims
# are checked against. It also writes <outDir>/COUNTS_<suffix>.tsv, one row
# per query: the operator tree is the text before the first blank line
# (nested memo-build plans included); `exchanges` counts `Exchange (` nodes
# (BroadcastExchange included), `broadcast` the `BroadcastExchange (` nodes
# alone, and `joins` every HashJoin, MergeJoin, NestedLoopJoin or
# CartesianProduct node. The counts stay small where the memoized plans
# are too large to keep.
set -euo pipefail
sfdir="$1"; outdir="$2"; suffix="$3"; shift 3
repo="$(cd "$(dirname "$0")/.." && pwd)"
mkdir -p "$outdir"
tmp="$(mktemp)"
(cd "$repo" && sbt -batch "runMain graft.ExplainAudit $sfdir $*" 2>/dev/null) > "$tmp"
awk -v outdir="$outdir" -v suffix="$suffix" '
  # older checkouts (pre-r17 build.sbt) wrap forked stdout in "[info] "
  { sub(/^\[info\] /, "") }
  /^========== .* ==========$/ {
    if (f) close(f)
    name = $2
    f = outdir "/" name "_" suffix ".txt"
    next
  }
  f { print > f }
' "$tmp"
rm -f "$tmp"
missing=0
counts="$outdir/COUNTS_${suffix}.tsv"
printf 'key\texchanges\tbroadcast\tjoins\n' > "$counts"
for q in "$@"; do
  f="$outdir/${q}_${suffix}.txt"
  if [ -s "$f" ]; then
    ls -la "$f"
    awk -v key="$q" '
      /^[[:space:]]*$/ { exit }
      /Exchange \(/ { ex++ }
      /BroadcastExchange \(/ { bx++ }
      /(HashJoin|MergeJoin|NestedLoopJoin|CartesianProduct)/ { jn++ }
      END { printf "%s\t%d\t%d\t%d\n", key, ex, bx, jn }
    ' "$f" >> "$counts"
  else
    echo "dump_plans: no plan written for $q (expected $f)" >&2
    missing=1
  fi
done
exit "$missing"
