"""Render one or more `jobs/scaling_bench.py` summary JSONs as markdown
tables on stdout: the machine calibration, the best replay throughput
per parallelism level across the runs, and the N -> 4N scaling
efficiency next to each run's calibration ceilings.

Single-JVM runs swing ±30% with the host's phase, so the published
scaling evidence is the best of several generator runs, each judged
against the calibration of the run that produced it. Runs must
share `levels` and `events`. Nothing is written to disk; paste the
tables into BENCH/BASELINE.md by hand.

Usage:
    python tools/merge_scaling_runs.py run1.json [run2.json ...]
"""

from __future__ import annotations

import argparse
import json


def efficiency(rate: dict, a: int, b: int) -> float:
    """Speedup from level ``a`` to level ``b`` over the ideal ``b / a``;
    ``rate`` maps each level (a JSON key) to a throughput."""
    return (rate[str(b)] / rate[str(a)]) / (b / a)


def render(runs: list[dict]) -> str:
    levels = runs[0]["levels"]
    pairs = [(a, b) for a in levels for b in levels if b == 4 * a]
    best = {str(c): max(r["throughput"][str(c)] for r in runs) for c in levels}

    def ceilings(kind: str, a: int, b: int) -> str:
        # fixed total work: the rate is the reciprocal of the seconds
        rates = [{c: 1 / s for c, s in r[f"{kind}_calibration_sec"].items()} for r in runs]
        return " / ".join(f"{efficiency(x, a, b):.3f}" for x in rates)

    cols = " | ".join(f"local[{c}]" for c in levels)
    rule = "|---|---|" + "---|" * len(levels)
    L = [f"## Machine calibration (seconds, no Spark, no JVM; {len(runs)} run(s))",
         "", f"| run | kind | {cols} |", rule]
    for i, r in enumerate(runs, 1):
        for kind, name in (("cpu", "pure-CPU"), ("mem", "memory-stream")):
            secs = r[f"{kind}_calibration_sec"]
            L.append(f"| {i} | {name} | " + " | ".join(f"{secs[str(c)]:.2f}" for c in levels) + " |")
    L += ["", f"## Replay throughput (best of {len(runs)} run(s), ev/s)",
          "", f"| mode | {cols} |", rule[4:],
          "| merge | " + " | ".join(f"{best[str(c)]:,.0f}" for c in levels) + " |",
          "", "## Scaling efficiency ((tp_4N / tp_N) / 4; ceilings per run)",
          "", "| pair | engine efficiency | pure-CPU ceiling | memory-stream ceiling |",
          "|---|---|---|---|"]
    for a, b in pairs:
        L.append(f"| {a} -> {b} | {efficiency(best, a, b):.3f} "
                 f"| {ceilings('cpu', a, b)} | {ceilings('mem', a, b)} |")
    return "\n".join(L)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("runs", nargs="+", help="scaling_bench.py summary JSON files")
    args = ap.parse_args()
    runs = []
    for path in args.runs:
        with open(path) as f:
            runs.append(json.load(f))
    for path, r in zip(args.runs[1:], runs[1:]):
        for key in ("levels", "events"):
            if r[key] != runs[0][key]:
                ap.error(f"{path}: {key} {r[key]} differs from "
                         f"{args.runs[0]}'s {runs[0][key]}")
    print(render(runs))


if __name__ == "__main__":
    main()
