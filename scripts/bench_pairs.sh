#!/usr/bin/env bash
# Paired benchmark of the working tree against a parent git revision.
#
#   scripts/bench_pairs.sh <parent-rev> <workload> <seed> [<seed> ...]
#
# Exports <parent-rev> into a temporary directory (git archive), then for
# each seed runs `python3 perfbench/run.py --trace 0` once there and once in
# the working tree, flipping which side goes first on every seed so slow
# drift of the host falls on both sides alike. Runs are sequential; each
# takes about a minute. Prints, per end-to-end metric of BENCHMARK.json,
# both sides' medians and quartiles, the number of seeds the change won,
# whether the two medians differ by more than the parent's IQR, and
# whether the change's median is within the metric's `bound` of the
# parent's median (the no-regression rule: change <= parent * (1 + bound)
# when lower is better), then every run's correct/failed counts. The
# exported tree and the run logs are removed at exit (mktemp honours
# TMPDIR).
set -euo pipefail

if [[ $# -lt 3 ]]; then
    echo "usage: $0 <parent-rev> <workload> <seed> [<seed> ...]" >&2
    exit 2
fi
rev=$1 workload=$2
shift 2

root=$(git rev-parse --show-toplevel)
tmp=$(mktemp -d)
parent=$tmp/parent
trap 'rm -rf "$tmp"' EXIT
mkdir "$parent"
git -C "$root" archive "$rev" | tar -x -C "$parent"
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
    "$root/BENCHMARK.json")

runs=$tmp/runs.jsonl
first=parent
for seed in "$@"; do
    if [[ $first == parent ]]; then order="parent change"; else order="change parent"; fi
    for side in $order; do
        dir=$root
        [[ $side == parent ]] && dir=$parent
        echo "[bench_pairs] seed $seed: $side" >&2
        line=$(cd "$dir" && python3 perfbench/run.py --workload "$workload" \
            --seed "$seed" --seconds "$seconds" --trace 0 2>"$tmp/run.log" | tail -n 1) || true
        if [[ -z $line ]]; then
            echo "[bench_pairs] seed $seed: $side printed no result; log tail:" >&2
            tail -n 20 "$tmp/run.log" >&2
        fi
        printf '%s\t%s\t%s\n' "$side" "$seed" "$line" >>"$runs"
    done
    [[ $first == parent ]] && first=change || first=parent
done

python3 - "$runs" "$root/BENCHMARK.json" <<'EOF'
import json
import statistics
import sys

runs_path, spec_path = sys.argv[1:]
metrics = json.load(open(spec_path))["end_to_end"]
runs = {}  # (side, seed) -> parsed result line, or None
for row in open(runs_path):
    side, seed, line = row.rstrip("\n").split("\t", 2)
    try:
        runs[side, seed] = json.loads(line)
    except ValueError:
        runs[side, seed] = None
seeds = list(dict.fromkeys(seed for _side, seed in runs))


def value(side, seed, name):
    """The metric's value, or None when the run printed no result."""
    res = runs[side, seed]
    metric = None if res is None else res["metrics"].get(name)
    return None if metric is None else metric["value"]


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


print(f"{'metric':<18}{'parent median [q1, q3]':>30}{'change median [q1, q3]':>30}"
      f"{'change wins':>13}{'|d median| > parent IQR':>25}{'within bound':>16}")
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    pairs = [(value("parent", s, name), value("change", s, name)) for s in seeds]
    pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
    if not pairs:
        print(f"{name:<18}{'no complete pair':>30}")
        continue
    pq = quartiles([p for p, _ in pairs])
    cq = quartiles([c for _, c in pairs])
    wins = sum((c < p) if lower else (c > p) for p, c in pairs)
    clear = abs(cq[1] - pq[1]) > pq[2] - pq[0]
    bound = m["bound"]
    ok = cq[1] <= pq[1] * (1 + bound) if lower else cq[1] >= pq[1] * (1 - bound)
    print(f"{name:<18}{pq[1]:>12.3f} [{pq[0]:.3f}, {pq[2]:.3f}]"
          f"{cq[1]:>12.3f} [{cq[0]:.3f}, {cq[2]:.3f}]"
          f"{f'{wins}/{len(pairs)}':>13}{str(clear):>25}"
          f"{f'{ok} ({bound:.0%})':>16}")

print()
print(f"{'seed':<8}{'side':<8}{'correct':>8}{'failed':>8}")
for (side, seed), res in runs.items():
    if res is None:
        print(f"{seed:<8}{side:<8}{'-':>8}{'no result line':>16}")
    else:
        print(f"{seed:<8}{side:<8}{str(res['correct']):>8}{res['failed']:>8}")
EOF
