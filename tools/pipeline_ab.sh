#!/bin/bash
# Interleaved A/B of the pipeline benchmark: perfbench's `pipeline_ref`
# work_s for an older ref against the working tree, on the same host in
# the same window.
#
#   tools/pipeline_ab.sh <old_ref> <pairs> <seeds>
#
#   <old_ref>  any git ref; it is extracted with `git archive` into a
#              fresh directory under ${TMPDIR:-/tmp} (its own .bench_build)
#   <pairs>    number of old/new pairs
#   <seeds>    comma-separated benchmark seeds, cycled over the pairs
#
# Each pair runs `python3 perfbench/run.py --workload pipeline_ref
# --seed S --trace 0` once per side; odd pairs run old first, even pairs
# new first, so host drift does not always land on the same side. The
# summary gives each side's work_s median and quartiles, how many pairs the
# working tree won, each side's median per pipeline stage (a stage that
# exists on one side only is marked so), and, per seed, whether the two
# copies' output.digest files (the digest of everything the pipeline wrote)
# match. The log with every run's stage lines and JSON line is kept next to
# the extracted copy. The script exits 1 when any run failed, was
# incorrect or printed no result, after printing the summary.
set -euo pipefail
cd "$(dirname "$0")/.."

OLD_REF="${1:?usage: pipeline_ab.sh <old_ref> <pairs> <seeds>}"
PAIRS="${2:?usage: pipeline_ab.sh <old_ref> <pairs> <seeds>}"
IFS=, read -r -a SEEDS <<< "${3:?usage: pipeline_ab.sh <old_ref> <pairs> <seeds>}"

OLD_DIR=$(mktemp -d "${TMPDIR:-/tmp}/pipeline_ab.XXXXXX")
git archive "$OLD_REF" | tar -x -C "$OLD_DIR"
LOG="$OLD_DIR/pipeline_ab.log"
dirty=$(git status --porcelain --untracked-files=no | grep -q . && echo "+dirty" || true)
echo "# pipeline A/B: old=$OLD_REF ($OLD_DIR) new=worktree@$(git rev-parse --short HEAD)$dirty" | tee "$LOG"
echo "# pairs=$PAIRS seeds=${SEEDS[*]} start=$(date -u +%FT%TZ)" | tee -a "$LOG"

run_side() {  # <side> <seed>: one benchmark run; its stage lines and last line logged
  local dir=. out line
  [ "$1" = old ] && dir="$OLD_DIR"
  out=$(cd "$dir" && python3 perfbench/run.py --workload pipeline_ref \
    --seed "$2" --seconds 60 --trace 0 2>/dev/null) || true
  grep '^stage ' <<< "$out" | sed "s/^/pair $pair seed $2 $1 /" >> "$LOG" || true
  line=$(tail -1 <<< "$out")
  [ -n "$line" ] || line='{}'
  echo "pair $pair seed $2 $1 $line" | tee -a "$LOG"
}

for pair in $(seq 1 "$PAIRS"); do
  seed=${SEEDS[$(( (pair - 1) % ${#SEEDS[@]} ))]}
  if (( pair % 2 )); then run_side old "$seed"; run_side new "$seed"
  else run_side new "$seed"; run_side old "$seed"; fi
done

python3 - "$LOG" "$OLD_DIR" "${SEEDS[@]}" <<'EOF' | tee -a "$LOG"
import json, os, statistics, sys

log, old_dir, seeds = sys.argv[1], sys.argv[2], sys.argv[3:]
work = {}  # (pair, side) -> work_s, or None for a failed or incorrect run
stages = {}  # (pair, side) -> {stage name: seconds}
for ln in open(log):
    if not ln.startswith("pair "):
        continue
    _, pair, _, _, side, payload = ln.split(" ", 5)
    if payload.startswith("stage "):  # "stage NAME SECONDS s"
        _, name, secs, _ = payload.split()
        stages.setdefault((int(pair), side), {})[name] = float(secs)
        continue
    try:
        d = json.loads(payload)
        ok = d.get("correct") and d.get("failed") == 0
        work[int(pair), side] = d["metrics"]["work_s"]["value"] if ok else None
    except (ValueError, KeyError):
        work[int(pair), side] = None

pairs = sorted({p for p, _ in work})
n_bad = 0
for side in ("old", "new"):
    xs = [work[p, side] for p in pairs if work.get((p, side)) is not None]
    bad = len(pairs) - len(xs)
    n_bad += bad
    if len(xs) >= 2:
        q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        print(f"{side}: work_s median {med:.2f} s, quartiles {q1:.2f}-{q3:.2f} s "
              f"(n={len(xs)}, failed or incorrect runs: {bad})")
    else:
        print(f"{side}: {len(xs)} good runs (failed or incorrect runs: {bad})")
wins = sum(1 for p in pairs if None not in (work.get((p, "old")), work.get((p, "new")))
           and work[p, "new"] < work[p, "old"])
print(f"new faster in {wins} of {len(pairs)} pairs")

# per-stage medians over each side's good runs
per = {"old": {}, "new": {}}
for (p, side), st in stages.items():
    if work.get((p, side)) is not None:
        for name, secs in st.items():
            per[side].setdefault(name, []).append(secs)
order = []  # a stage first seen on one side goes after its predecessor there
for st in stages.values():
    at = -1
    for name in st:
        if name in order:
            at = order.index(name)
        else:
            at += 1
            order.insert(at, name)
print(f"{'stage':<24} {'old s':>8} {'new s':>8}")
for name in order:
    cells = [f"{statistics.median(per[s][name]):8.2f}" if name in per[s] else f"{'-':>8}"
             for s in ("old", "new")]
    only = [s for s in ("old", "new") if name in per[s]]
    note = f"  ({only[0]} only)" if len(only) == 1 else ""
    print(f"{name:<24} {cells[0]} {cells[1]}{note}")

def digest(root, seed):
    path = os.path.join(root, ".bench_build", "inputs", f"pipeline_ref-{seed}", "output.digest")
    return open(path).read().strip() if os.path.exists(path) else None

for seed in dict.fromkeys(seeds):
    a, b = digest(old_dir, seed), digest(".", seed)
    same = "MISSING" if None in (a, b) else "match" if a == b else "DIFFER"
    print(f"seed {seed}: output.digest {same} (old {str(a)[:16]}, new {str(b)[:16]})")

if n_bad:
    print(f"FAIL: {n_bad} failed or incorrect runs")
    sys.exit(1)
EOF
