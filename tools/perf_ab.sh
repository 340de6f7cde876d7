#!/bin/bash
# Same-window A/B of the benchmark (BENCHMARK.json, perfbench/): the
# parent commit against the working tree, on one workload.
#
# Usage: tools/perf_ab.sh <workload> <pairs> <first-seed>
#
#   workload    dbt_build | thrift_dbt | query_keys
#   pairs       number of parent/change pairs (10 or more to claim a gain)
#   first-seed  seeds first-seed .. first-seed+pairs-1, one per pair
#
# The parent is HEAD~1 (PERF_AB_BASE=<rev> picks another, e.g. HEAD
# while the change is still uncommitted); the change is the working
# tree, tracked and untracked files, less what .gitignore excludes.
# Each side is exported with `git archive` into its own fresh directory
# under ${TMPDIR:-/tmp} and built there once. A built tree is never
# copied: sbt's incremental compiler records absolute paths, so a
# copied checkout's compile can delete the ORIGINAL tree's classes.
#
# Pairs run one run at a time (never both sides at once: they would
# share the cores), alternating which side goes first, each with
# `perfbench/run.py --seconds <run_seconds from BENCHMARK.json>
# --trace 0`. The report gives, per end-to-end metric, each side's
# median and quartiles, the change's wins, and a verdict: "gain" when
# the change wins at least 9 of 10 pairs (ties count for neither side)
# and the medians differ by more than the parent's interquartile range
# ("loss" symmetrically), else "no change". It also gives each side's
# per-kind median op latency. Run logs stay in the printed directory;
# the two checkouts are deleted at exit. Exits 1 when any run is not
# correct or has a failed op.
set -euo pipefail

if [ $# -ne 3 ]; then
  echo "usage: $0 <workload> <pairs> <first-seed>" >&2
  exit 2
fi
workload=$1 pairs=$2 seed0=$3
repo=$(git -C "$(dirname "$0")" rev-parse --show-toplevel)
base=${PERF_AB_BASE:-HEAD~1}
out=$(mktemp -d "${TMPDIR:-/tmp}/perf_ab.XXXXXX")
trap 'rm -rf "$out/parent" "$out/change" "$out/index"' EXIT

# the working tree as a tree object, through a throwaway index (the
# repository's own index is left alone)
GIT_INDEX_FILE="$out/index" git -C "$repo" add -A
tree=$(GIT_INDEX_FILE="$out/index" git -C "$repo" write-tree)
mkdir "$out/parent" "$out/change"
git -C "$repo" archive "$base" | tar -x -C "$out/parent"
git -C "$repo" archive "$tree" | tar -x -C "$out/change"
echo "[perf_ab] parent $(git -C "$repo" rev-parse --short "$base"), change" \
  "= working tree; logs in $out" >&2

seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$out/change/BENCHMARK.json")
for side in parent change; do
  echo "[perf_ab] building $side" >&2
  (cd "$out/$side" &&
    python3 -c 'import sys; sys.path.insert(0, "perfbench"); import run; run.build(".")')
done

for ((i = 0; i < pairs; i++)); do
  seed=$((seed0 + i))
  if ((i % 2 == 0)); then order="parent change"; else order="change parent"; fi
  for side in $order; do
    echo "[perf_ab] pair $((i + 1))/$pairs seed $seed: $side" >&2
    (cd "$out/$side" &&
      python3 perfbench/run.py --workload "$workload" --seed "$seed" \
        --seconds "$seconds" --trace 0) \
      >"$out/$side-$seed.out" 2>"$out/$side-$seed.err" || true
  done
done

python3 - "$out" "$workload" "$pairs" "$seed0" "$repo/BENCHMARK.json" <<'EOF'
import json, math, os, sys

out, workload, pairs, seed0 = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
seeds = range(seed0, seed0 + pairs)
lower = {m["name"]: m["better"] == "lower"
         for m in json.load(open(sys.argv[5]))["end_to_end"]}


def load(side, seed):
    """(final JSON line, summary dict) of one run, or (None, None)."""
    path = os.path.join(out, f"{side}-{seed}.out")
    lines = open(path).read().splitlines() if os.path.exists(path) else []
    final = summary = None
    for ln in lines:
        if ln.startswith("perfbench summary: "):
            summary = json.loads(ln[len("perfbench summary: "):])
        elif ln.startswith("{"):
            final = json.loads(ln)
    return final, summary


def quantile(xs, p):
    xs = sorted(xs)
    k = (len(xs) - 1) * p
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


runs = {(side, s): load(side, s) for side in ("parent", "change") for s in seeds}
bad = [f"{side} seed {s}" for (side, s), (final, _) in runs.items()
       if not final or not final["correct"] or final["failed"]]
ok_seeds = [s for s in seeds
            if all(runs[(side, s)][0] for side in ("parent", "change"))]
if not ok_seeds:
    sys.exit(f"perf_ab: no complete pair; see the logs in {out}")
names = list(runs[("parent", ok_seeds[0])][0]["metrics"])

print(f"perf_ab {workload}: {len(ok_seeds)} pairs, seeds {seed0}..{seed0 + pairs - 1}")
print(f"{'metric':<14}{'side':<8}{'median':>10}{'q1':>10}{'q3':>10}")
for n in names:
    for side in ("parent", "change"):
        v = [runs[(side, s)][0]["metrics"][n]["value"] for s in ok_seeds]
        print(f"{n:<14}{side:<8}{quantile(v, .5):>10.4g}"
              f"{quantile(v, .25):>10.4g}{quantile(v, .75):>10.4g}")
print(f"{'metric':<14}{'wins':>6}{'losses':>8}{'change':>9}"
      f"{'gap':>10}{'parent IQR':>12}  verdict")
for n in names:
    p = [runs[("parent", s)][0]["metrics"][n]["value"] for s in ok_seeds]
    c = [runs[("change", s)][0]["metrics"][n]["value"] for s in ok_seeds]
    sign = 1 if lower.get(n, True) else -1  # gap > 0: the change is better
    wins = sum(sign * (a - b) > 0 for a, b in zip(p, c))
    losses = sum(sign * (a - b) < 0 for a, b in zip(p, c))
    gap = sign * (quantile(p, .5) - quantile(c, .5))
    iqr = quantile(p, .75) - quantile(p, .25)
    need = math.ceil(0.9 * len(ok_seeds))
    verdict = ("gain" if wins >= need and gap > iqr else
               "loss" if losses >= need and -gap > iqr else "no change")
    rel = quantile(c, .5) / quantile(p, .5) - 1
    print(f"{n:<14}{wins:>6}{losses:>8}{rel:>+9.1%}{gap:>10.4g}{iqr:>12.4g}  {verdict}")
for side in ("parent", "change"):
    kinds = {}
    for s in ok_seeds:
        for k, v in (runs[(side, s)][1] or {}).get("op_p50_ms_by_kind", {}).items():
            kinds.setdefault(k, []).append(v)
    print(f"op p50 by kind, {side}: " + ", ".join(
        f"{k} {quantile(v, .5):.0f} ms" for k, v in sorted(kinds.items())))
if bad:
    sys.exit("perf_ab: not correct or with failed ops: " + ", ".join(bad))
EOF
