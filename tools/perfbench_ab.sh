#!/usr/bin/env bash
# Interleaved A/B of the repository benchmark: this checkout's working
# tree ("change") against PARENT_REF ("parent"), one pair of runs per
# seed, with the order of the pair alternated from seed to seed.
#
#   tools/perfbench_ab.sh PARENT_REF WORKLOAD SEED...
#   tools/perfbench_ab.sh HEAD~1 cdc_replay 1 2 3 4
#
# PARENT_REF is checked out with `git worktree add` into a temporary
# directory, removed again on exit. Every run is
#   python3 perfbench/run.py --workload WORKLOAD --seed SEED --seconds 12 --trace 0
# from the root of its checkout. One line is printed per run: the side,
# the seed, the end-to-end metrics, failed/attempted and the host's
# steal share over the run. The last lines give, per end-to-end metric,
# the median over seeds of the per-pair ratio change / parent.
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

cleanup() {
    git -C "$repo" worktree remove --force "$parent" >/dev/null 2>&1 || true
    git -C "$repo" worktree prune
    rm -rf "$parent" "$out"
}
trap cleanup EXIT
git -C "$repo" worktree add --detach "$parent" "$ref" >/dev/null 2>&1

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
    ratios = {}
    for seed in sys.argv[3:]:
        (a, _), (b, _) = load(out_dir, "parent", seed), load(out_dir, "change", seed)
        if a is None or b is None:
            continue
        for k, v in b["metrics"].items():
            if k in a["metrics"] and a["metrics"][k]["value"]:
                ratios.setdefault(k, []).append(v["value"] / a["metrics"][k]["value"])
    for k, r in ratios.items():
        print(f"median change/parent {k}: {statistics.median(r):.3f} "
              f"over {len(r)} pairs (min {min(r):.3f}, max {max(r):.3f})")
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
report summary "$out" "$@"
