#!/usr/bin/env bash
# Mechanical round-close gate (VERDICT r10 #2): from a CLEAN CHECKOUT of
# the candidate close commit, run the full test suite, the closing bench,
# and the full-registry correctness sweeps at both SFs — under pipefail —
# before the final artifact commit. Both r10 close defects (a red plan
# test from an un-rerun suite; a NameError frozen into BENCH_DETAIL by a
# stale module state) were stale-state escapes this gate catches: the
# clean worktree guarantees the code that runs is the code being shipped.
#
# Usage: bash scripts/round_close_gate.sh [commit-ish (default HEAD)]
# Writes its artifacts to /tmp/omnidata_close_gate/{pytest.log,bench.json,
# bench.err,BENCH_DETAIL.json}.
set -euo pipefail

REF="${1:-HEAD}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"
WORK=/tmp/omnidata_close_gate
SHA="$(git -C "$REPO" rev-parse "$REF")"

rm -rf "$WORK"
mkdir -p "$WORK"
git -C "$REPO" worktree add --detach "$WORK/checkout" "$SHA" >/dev/null
trap 'git -C "$REPO" worktree remove --force "$WORK/checkout" >/dev/null 2>&1 || true' EXIT

cd "$WORK/checkout"
echo "== close gate @ $SHA =="

echo "-- [1/3] full pytest (the ROADMAP tier-1 command) --"
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local
timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors \
    -p no:cacheprovider 2>&1 | tail -3 | tee "$WORK/pytest.log"
grep -qE "^[0-9]+ passed" "$WORK/pytest.log"
! grep -qE "failed|error" "$WORK/pytest.log"

echo "-- [2/3] closing bench (sf0.1) --"
python bench.py > "$WORK/bench.json" 2> "$WORK/bench.err"
cp BENCH_DETAIL.json "$WORK/BENCH_DETAIL.json"   # survives worktree removal
tail -1 "$WORK/bench.json"
python - "$WORK/bench.json" <<'PY'
import json, sys
line = [l for l in open(sys.argv[1]) if l.strip().startswith("{")][-1]
d = json.loads(line)
assert d["value"] > 0 and d["n_queries"] > 200, d
det = json.load(open("BENCH_DETAIL.json"))
qs = det.get("queries", det)
errs = {k: v for k, v in qs.items()
        if isinstance(v, dict) and v.get("error")}
assert not errs, f"bench errors frozen into BENCH_DETAIL: {list(errs)[:5]}"
print(f"bench OK: {d['value']:.2f}s / {d['n_queries']} queries, 0 errors")
PY

echo "-- [3/3] correctness sweeps (sf0.01 + sf0.1) --"
python scripts/verify_driver.py 2>&1 | tail -3
VERIFY_SF_DIR=/root/testdata/sf0.1 python scripts/verify_driver.py 2>&1 | tail -3

echo "== close gate GREEN @ $SHA =="
