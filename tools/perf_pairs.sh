#!/bin/bash
# Paired end-to-end A/B of two checkouts on the perfbench workloads.
#
#   tools/perf_pairs.sh <base-dir> <change-dir> <workload> <first-seed> <pairs> [seconds=12]
#
# Runs `python3 perfbench/run.py --trace 0` once per seed in each
# checkout, alternating which side goes first (even pairs: base first,
# odd pairs: change first), for seeds first-seed .. first-seed+pairs-1.
# It then reads each side's run records
# (<dir>/.bench_build/perfbench/records/<workload>-<seed>-0-*.json, the
# newest one per seed) and prints, for every end-to-end metric in
# BENCHMARK.json: the median, q1 and q3 of each side, the per-pair
# ratio change/base, how many pairs the change won, and whether the
# claim rule holds (the change better on at least 9 of 10 pairs, and
# its median better than the base median by more than the base IQR).
# It also prints each side's failed_ops, each side's Spark codegen
# compilations per measured pass for every seed (the passes'
# `codegen_compiles`), and per key the median call time of each side
# with its q1 and q3 (successful calls of passes after the first, over
# every seed) and the ratio of the medians change/base, so a key the
# change did not touch can be read against its spread. Nothing under perfbench/ is
# written besides what run.py itself writes under .bench_build/.
# Set PERF_PAIRS_REPORT_ONLY=1 to skip the runs and only report on the
# records already there.
set -euo pipefail
BASE="$(cd "${1:?usage: perf_pairs.sh <base-dir> <change-dir> <workload> <first-seed> <pairs> [seconds]}" && pwd)"
CHANGE="$(cd "${2:?change dir}" && pwd)"
WORKLOAD="${3:?workload}"
FIRST="${4:?first seed}"
PAIRS="${5:?pairs}"
SECONDS_PER_RUN="${6:-12}"
SPEC="$(cd "$(dirname "$0")/.." && pwd)/BENCHMARK.json"

run_side() {
  local dir="$1" seed="$2"
  echo "[perf_pairs] $(basename "$dir") seed $seed" >&2
  (cd "$dir" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$seed" \
    --seconds "$SECONDS_PER_RUN" --trace 0 | tail -1) >&2
}

if [ "${PERF_PAIRS_REPORT_ONLY:-0}" != "1" ]; then
  for i in $(seq 0 $((PAIRS - 1))); do
    seed=$((FIRST + i))
    if [ $((i % 2)) -eq 0 ]; then
      run_side "$BASE" "$seed"; run_side "$CHANGE" "$seed"
    else
      run_side "$CHANGE" "$seed"; run_side "$BASE" "$seed"
    fi
  done
fi

python3 - "$BASE" "$CHANGE" "$WORKLOAD" "$FIRST" "$PAIRS" "$SPEC" <<'EOF'
import glob, json, os, statistics, sys

base, change, workload, first, pairs, spec = sys.argv[1:]
seeds = range(int(first), int(first) + int(pairs))
metrics = json.load(open(spec))["end_to_end"]

def record(root, seed):
    pat = os.path.join(root, ".bench_build", "perfbench", "records",
                       f"{workload}-{seed}-0-*.json")
    paths = sorted(glob.glob(pat), key=lambda p: int(p.rsplit("-", 1)[1][:-5]))
    if not paths:
        sys.exit(f"no record for {workload} seed {seed} under {root}")
    return json.load(open(paths[-1]))

recs = {s: (record(base, s), record(change, s)) for s in seeds}

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

n = len(recs)
need = -(-9 * n // 10)  # 9 of 10 pairs, rounded up
print(f"{workload}: {n} pairs, seeds {first}..{int(first) + n - 1}")
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    b = [recs[s][0]["end_to_end"][name][0] for s in seeds]
    c = [recs[s][1]["end_to_end"][name][0] for s in seeds]
    bq1, bmed, bq3 = quartiles(b)
    cq1, cmed, cq3 = quartiles(c)
    ratios = [y / x if x else float("nan") for x, y in zip(b, c)]
    wins = sum(1 for x, y in zip(b, c) if (y < x if lower else y > x))
    gain = (bmed - cmed) if lower else (cmed - bmed)
    claim = wins >= need and gain > (bq3 - bq1)
    print(f"  {name} ({m['unit']}, {m['better']} is better)")
    print(f"    base   median {bmed:.4g}  q1 {bq1:.4g}  q3 {bq3:.4g}")
    rel = f"  ({cmed / bmed - 1:+.1%})" if bmed else ""
    print(f"    change median {cmed:.4g}  q1 {cq1:.4g}  q3 {cq3:.4g}{rel}")
    print(f"    ratios change/base: {' '.join(f'{r:.3f}' for r in ratios)}")
    print(f"    change better in {wins}/{n} pairs; median gain {gain:.4g} vs base IQR "
          f"{bq3 - bq1:.4g}: claim rule {'MET' if claim else 'not met'}")
for side, i in (("base", 0), ("change", 1)):
    failed = [recs[s][i].get("failed_ops", 0) for s in seeds]
    print(f"  failed_ops {side}: {failed}")

print("  codegen compiles per measured pass: seed  base  change")
for s in seeds:
    cg = [",".join(str(p["codegen_compiles"]) for p in recs[s][i]["passes"] if not p["traced"])
          for i in (0, 1)]
    print(f"    {s}  {cg[0]}  {cg[1]}")

def call_quartiles(i):
    by_key = {}
    for s in seeds:
        for c in recs[s][i]["calls"]:
            if c["pass"] > 0 and c["ok"]:
                by_key.setdefault(c["key"], []).append(c["s"])
    return {k: quartiles(v) for k, v in by_key.items()}

cb, cc = call_quartiles(0), call_quartiles(1)
print("  per-key call median [q1, q3] (s): key  base  change  change/base")
for key in sorted(set(cb) | set(cc)):
    b, c = cb.get(key), cc.get(key)
    ratio = f"{c[1] / b[1]:.3f}" if b and c else "-"
    fmt = lambda q: f"{q[1]:.4f} [{q[0]:.4f}, {q[2]:.4f}]" if q is not None else "-"
    print(f"    {key:20s} {fmt(b)}  {fmt(c)}  {ratio}")
EOF
