#!/usr/bin/env bash
# Interleaved A/B of the repository benchmark: this checkout's working
# tree ("change") against PARENT_REF ("parent"), one pair of runs per
# seed, with the order of the pair alternated from seed to seed.
#
#   tools/perfbench_ab.sh PARENT_REF WORKLOAD SEED...
#   tools/perfbench_ab.sh HEAD~1 cdc_replay 1 2 3 4
#
# PARENT_REF's committed files are unpacked with `git archive` into a
# temporary directory, removed again on exit. Every run is
#   python3 perfbench/run.py --workload WORKLOAD --seed SEED --seconds 12 --trace 0
# from the root of its checkout. One line is printed per run: the side,
# the seed, the end-to-end metrics, failed/attempted and the host's
# steal share over the run. The last lines give, per end-to-end metric
# of BENCHMARK.json, what its acceptance rule reads: the parent and
# change medians and their ratio, the parent's quartile spread over its
# median, and the pairs the change won in the metric's `better`
# direction.
set -euo pipefail

if [ $# -lt 3 ]; then
    echo "usage: $0 PARENT_REF WORKLOAD SEED..." >&2
    exit 2
fi
ref=$1
workload=$2
shift 2
repo=$(git rev-parse --show-toplevel)
parent=$(mktemp -d)
out=$(mktemp -d)

trap 'rm -rf "$parent" "$out"' EXIT
git -C "$repo" archive "$ref" | tar -x -C "$parent"

report() {
    python3 - "$@" <<'EOF'
import json
import statistics
import sys


def last_json(path, prefix):
    with open(path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.startswith(prefix)]
    return json.loads(lines[-1]) if lines else None


def load(out_dir, side, seed):
    res = last_json(f"{out_dir}/{side}-{seed}.out", '{"correct"')
    host = last_json(f"{out_dir}/{side}-{seed}.err", '{"host"') or {}
    return res, host.get("host", {}).get("steal_share")


mode, out_dir = sys.argv[1], sys.argv[2]
if mode == "run":
    side, seed = sys.argv[3], sys.argv[4]
    res, steal = load(out_dir, side, seed)
    if res is None:
        print(f"{side:6} seed={seed} no result (see the run's stderr)")
    else:
        m = " ".join(f"{k}={v['value']:.6g}" for k, v in res["metrics"].items())
        print(f"{side:6} seed={seed} {m} failed={res['failed']}/{res['attempted']} "
              f"correct={res['correct']} steal={steal if steal is None else round(steal, 4)}")
else:
    with open(f"{sys.argv[3]}/BENCHMARK.json") as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    pairs = [(load(out_dir, "parent", s)[0], load(out_dir, "change", s)[0])
             for s in sys.argv[4:]]
    pairs = [(a["metrics"], b["metrics"]) for a, b in pairs if a and b]
    for k, direction in better.items():
        vals = [(a[k]["value"], b[k]["value"]) for a, b in pairs if k in a and k in b]
        if not vals:
            print(f"{k}: no complete pair")
            continue
        par, chg = [p for p, _ in vals], [c for _, c in vals]
        pm, cm = statistics.median(par), statistics.median(chg)
        q1, _, q3 = statistics.quantiles(par, n=4) if len(par) > 1 else (pm, pm, pm)
        won = sum(c < p if direction == "lower" else c > p for p, c in vals)
        print(f"{k} ({direction} is better): parent median {pm:.6g}, change median "
              f"{cm:.6g} (ratio {cm / pm if pm else float('nan'):.3f}); parent "
              f"quartile spread / median {(q3 - q1) / pm if pm else float('nan'):.3f}; "
              f"change won {won} of {len(vals)} pairs")
EOF
}

run() {  # side checkout seed
    (cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
        --seconds 12 --trace 0 >"$out/$1-$3.out" 2>"$out/$1-$3.err") || true
    report run "$out" "$1" "$3"
}

i=0
for seed in "$@"; do
    if [ $((i % 2)) -eq 0 ]; then
        run parent "$parent" "$seed"
        run change "$repo" "$seed"
    else
        run change "$repo" "$seed"
        run parent "$parent" "$seed"
    fi
    i=$((i + 1))
done
report summary "$out" "$repo" "$@"
