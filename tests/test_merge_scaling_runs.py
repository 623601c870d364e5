"""tools/merge_scaling_runs.py: the one renderer of jobs/scaling_bench.py
summaries — best throughput per level across runs, N -> 4N efficiency,
markdown on stdout, no file written."""
from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "merge_scaling_runs.py")


def _summary(tp1, tp4, cpu4=2.0, mem4=3.0, events=20000, levels=(1, 4)):
    return {
        "events": events, "docs": 2000, "reps": 1, "levels": list(levels),
        "cpu_calibration_sec": {"1": 8.0, "4": cpu4},
        "mem_calibration_sec": {"1": 4.0, "4": mem4},
        "throughput": {"1": tp1, "4": tp4},
    }


def _render(tmp_path, *summaries):
    paths = []
    for i, s in enumerate(summaries):
        p = tmp_path / f"r{i}.json"
        p.write_text(json.dumps(s))
        paths.append(str(p))
    return subprocess.run([sys.executable, TOOL, *paths], capture_output=True,
                          text=True, timeout=60, cwd=str(tmp_path))


def _bench_files():
    return sorted(os.listdir(os.path.join(REPO, "BENCH")))


def test_best_per_level_and_efficiency(tmp_path):
    before = _bench_files()
    proc = _render(tmp_path, _summary(1000.0, 3000.0, cpu4=2.5),
                   _summary(1200.0, 2400.0))
    assert proc.returncode == 0, proc.stderr
    out = proc.stdout
    # best of both runs per level: 1200 at local[1], 3000 at local[4]
    assert "| merge | 1,200 | 3,000 |" in out
    # (3000 / 1200) / 4 = 0.625, ceilings per run: cpu 8/2.5/4, 8/2/4
    # and mem 4/3/4, 4/3/4
    assert "| 1 -> 4 | 0.625 | 0.800 / 1.000 | 0.333 / 0.333 |" in out
    assert _bench_files() == before
    assert sorted(os.listdir(tmp_path)) == ["r0.json", "r1.json"]


def test_single_run_renders(tmp_path):
    proc = _render(tmp_path, _summary(1000.0, 3000.0))
    assert proc.returncode == 0, proc.stderr
    assert "| 1 -> 4 | 0.750 | 1.000 | 0.333 |" in proc.stdout


def test_mismatched_runs_are_a_usage_error(tmp_path):
    for other, key in [(_summary(1.0, 2.0, events=40000), "events"),
                       (_summary(1.0, 2.0, levels=(1, 4, 16)), "levels")]:
        proc = _render(tmp_path, _summary(1000.0, 3000.0), other)
        assert proc.returncode == 2 and f"{key} " in proc.stderr, proc.stderr
        assert proc.stdout == ""
