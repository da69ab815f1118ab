#!/usr/bin/env bash
# Paired benchmark of a parent revision against a change.
#
#   tools/bench_pairs.sh <parent-rev> <workload> <n> [<change-rev>]
#
# Exports both revisions' committed files (git archive) into two fresh
# checkouts and runs each one's own, unchanged perfbench/run.py for <n>
# pairs with --trace 0 and the run length BENCHMARK.json sets. Pair i
# uses seed BENCH_PAIRS_SEED0 + i (default 0, so ten pairs include the
# validation seed 7) and alternates which side runs first. Then prints,
# per end-to-end metric, each side's median and quartiles, the pairs
# the change won (ties count for neither) and whether the gain rule
# holds: at least nine tenths of the pairs won and the medians apart by
# more than the parent's interquartile distance.
#
# <change-rev> defaults to the working tree's tracked and staged files
# (git stash create), or HEAD when it is clean; `git add` new files
# first. Run records go to $BENCH_PAIRS_DIR (default: a new temp dir):
# results.jsonl holds one line per run, <side>-seed<N>.log its output.
set -euo pipefail

if [ "$#" -lt 3 ]; then
    sed -n '2,19p' "$0" | sed 's/^# \{0,1\}//'
    exit 2
fi
parent_rev=$1
workload=$2
n=$3
root=$(git rev-parse --show-toplevel)
change_rev=${4:-$(git -C "$root" stash create)}
change_rev=${change_rev:-HEAD}
out=${BENCH_PAIRS_DIR:-$(mktemp -d "${TMPDIR:-/tmp}/bench_pairs.XXXXXX")}
seed0=${BENCH_PAIRS_SEED0:-0}

for side in parent change; do
    rev=$parent_rev
    [ "$side" = change ] && rev=$change_rev
    rm -rf "${out:?}/$side"
    mkdir -p "$out/$side"
    git -C "$root" archive "$rev" | tar -x -C "$out/$side"
done
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
    "$out/parent/BENCHMARK.json")
echo "parent=$parent_rev change=$change_rev workload=$workload pairs=$n seconds=$seconds out=$out"

results=$out/results.jsonl
: > "$results"
for ((i = 0; i < n; i++)); do
    seed=$((seed0 + i))
    order="parent change"
    [ $((i % 2)) -eq 1 ] && order="change parent"
    for side in $order; do
        log=$out/$side-seed$seed.log
        (cd "$out/$side" && python3 perfbench/run.py --workload "$workload" --seed "$seed" \
            --seconds "$seconds" --trace 0) > "$log" 2>&1 || true
        last=$(tail -n 1 "$log")
        python3 - "$i" "$seed" "$side" "$last" >> "$results" <<'EOF'
import json, sys
pair, seed, side, last = sys.argv[1:]
try:
    result = json.loads(last)
except ValueError:
    result = None
print(json.dumps({"pair": int(pair), "seed": int(seed), "side": side, "result": result}))
EOF
        echo "pair $i seed $seed $side: $(tail -n 1 "$results" | cut -c1-200)"
    done
done

python3 - "$results" "$out/parent/BENCHMARK.json" <<'EOF'
import json, sys

rows = [json.loads(line) for line in open(sys.argv[1])]
bench = json.load(open(sys.argv[2]))


def quantile(xs, q):
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


by_pair = {}
for r in rows:
    by_pair.setdefault(r["pair"], {})[r["side"]] = r["result"]
for side in ("parent", "change"):
    runs = [p.get(side) for p in by_pair.values()]
    bad = sum(1 for r in runs if r is None or not r["correct"])
    failed = sum(r["failed"] for r in runs if r)
    attempted = sum(r["attempted"] for r in runs if r)
    print(f"{side}: {len(runs)} runs, {bad} without a correct result, "
          f"{failed}/{attempted} failed operations")
print(f"{'metric':<14} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} "
      f"{'delta':>8} {'won':>7}  gain rule")
for m in bench["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    pairs = [
        (p["parent"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
        for p in by_pair.values()
        if p.get("parent") and p.get("change")
    ]
    if not pairs:
        print(f"{name:<14} no complete pairs")
        continue
    par, chg = [a for a, _ in pairs], [b for _, b in pairs]
    won = sum(1 for a, b in pairs if (b < a if lower else b > a))
    pm, cm = quantile(par, 0.5), quantile(chg, 0.5)
    iqr = quantile(par, 0.75) - quantile(par, 0.25)
    better = pm - cm if lower else cm - pm
    holds = won >= 0.9 * len(pairs) and better > iqr
    print(f"{name:<14} {pm:>12.4g} [{quantile(par, .25):.4g}, {quantile(par, .75):.4g}] "
          f"{cm:>12.4g} [{quantile(chg, .25):.4g}, {quantile(chg, .75):.4g}] "
          f"{(cm - pm) / pm:>+8.1%} {won:>3}/{len(pairs):<3}  {'holds' if holds else 'no'}")
EOF
