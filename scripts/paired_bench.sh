#!/bin/bash
# Paired same-window bench — the default gate for per-change perf
# claims: builds the OLD tip in a throwaway worktree and alternates
# old/new Bench runs (restricted to the queries the change touches)
# within ONE host window, min-of-N per side. Cross-window medians are
# not comparable on this host (3-4x co-tenant bursts, see PLANS.md);
# alternation puts both sides in the same window by construction, so
# a swing that brackets an UNTOUCHED control query is noise, and one
# that doesn't is the change.
#
# Usage: scripts/paired_bench.sh <baseRef> <onlyCsv> [sfDir] [rounds] [xmx]
#   baseRef  git ref of the pre-change tip (e.g. HEAD~1, a round tag)
#   onlyCsv  comma-separated bench query names — include at least one
#            UNTOUCHED control query to expose the window's noise floor
#   sfDir    scale-factor dir to bench (default sf0.1)
#   rounds   old/new alternations, min-of-rounds per side (default 3)
#   xmx      heap of each Bench JVM (default half of this host's memory)
set -euo pipefail
source "$(dirname "$0")/jvm.sh"
BASE=${1:?base git ref}
ONLY=${2:?comma-separated query names (include an untouched control)}
DIR=${3:-/root/testdata/sf0.1}
ROUNDS=${4:-3}
XMX=${5:-}

WT=$(mktemp -d /tmp/paired_wt.XXXXXX)
TMPD=$(mktemp -d /tmp/paired_out.XXXXXX)
git worktree add --detach "$WT" "$BASE" >/dev/null
trap 'git worktree remove --force "$WT" >/dev/null 2>&1 || true; rm -rf "$TMPD"' EXIT
# compile BOTH sides: the new side too, or an edited-but-unbuilt
# checkout silently benchmarks stale classes as "new"
echo "[paired] building new tip ($GRAFT_ROOT) ..." >&2
(cd "$GRAFT_ROOT" && sbt -batch compile >"$TMPD/build_new.log" 2>&1) || {
  echo "[paired] new-tip build FAILED:" >&2; tail -20 "$TMPD/build_new.log" >&2; exit 1; }
echo "[paired] building $BASE in $WT ..." >&2
(cd "$WT" && sbt -batch compile >"$TMPD/build_old.log" 2>&1) || {
  echo "[paired] old-tip build FAILED:" >&2; tail -20 "$TMPD/build_old.log" >&2; exit 1; }

# NOTE: a query the change under review ADDED does not exist on the
# old tip — Bench rejects unknown SPARK_GRAFT_BENCH_ONLY names loudly.
# Pair only queries both tips share; bench new-only queries separately.
run_bench() { # $1 = repo root, $2 = out json
  SPARK_GRAFT_SF_DIR="$DIR" SPARK_GRAFT_BENCH_OUT="$2" \
      SPARK_GRAFT_BENCH_ONLY="$ONLY" graft_java "$1" "$XMX" graft.Bench \
      >"$2.log" 2>&1 || {
        echo "[paired] bench run FAILED ($2):" >&2
        tail -15 "$2.log" >&2; exit 1; }
}

for i in $(seq "$ROUNDS"); do
  echo "[paired] round $i/$ROUNDS old..." >&2
  run_bench "$WT" "$TMPD/old_$i.json"
  echo "[paired] round $i/$ROUNDS new..." >&2
  run_bench "$GRAFT_ROOT" "$TMPD/new_$i.json"
done

python3 - "$TMPD" "$ROUNDS" <<'EOF'
import json, sys, os
d, rounds = sys.argv[1], int(sys.argv[2])
def mins(side):
    acc = {}
    for i in range(1, rounds + 1):
        q = json.load(open(os.path.join(d, f"{side}_{i}.json")))["queries"]
        for k, v in q.items():
            acc[k] = min(acc.get(k, float("inf")), v)
    return acc
old, new = mins("old"), mins("new")
print(f"{'query':<28}{'old(min)':>10}{'new(min)':>10}{'ratio':>8}")
for k in sorted(set(old) | set(new)):
    o, n = old.get(k), new.get(k)
    r = f"{n/o:.2f}x" if o and n else "-"
    print(f"{k:<28}{o if o is not None else '-':>10}{n if n is not None else '-':>10}{r:>8}")
EOF
rm -rf "$TMPD"
