"""jobs/replay.py CLI contract: the spark-submit replay job drains a
stored binlog in both modes — every delivered event reaches the lineage
counters and every partition ends with zero lag — and the removed
flags are usage errors, not silently different runs."""
from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPLAY = os.path.join(REPO, "jobs", "replay.py")
SMALL = ["--events", "4000", "--docs", "400", "--partitions", "4", "--cpus", "2"]


@pytest.mark.parametrize("extra", [
    ["--segments", "3", "--auto-compact-files", "1"],
    ["--mode", "streaming", "--segments", "4"],
], ids=["merge-segmented", "streaming"])
def test_replay_cli_drains_every_event(tmp_path, extra):
    proc = subprocess.run(
        [sys.executable, REPLAY, *SMALL, *extra],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    m = json.loads([l for l in proc.stdout.splitlines() if l.startswith("{")][-1])
    assert m["events"] > 0 and m["lineage"]["rows_in"] == m["events"]
    assert len(m["per_partition"]) == 4
    assert all(p["lag"] == 0 for p in m["per_partition"])


@pytest.mark.parametrize("flags", [
    ["--mode", "dataflow"], ["--gen-inline"], ["--conf", "a=b"],
], ids=["mode-dataflow", "gen-inline", "conf"])
def test_replay_cli_rejects_removed_flags(tmp_path, flags):
    proc = subprocess.run(
        [sys.executable, REPLAY, "--events", "100", "--docs", "10", *flags],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path),
    )
    # argparse rejects before any Spark session starts
    assert proc.returncode == 2, proc.stderr[-2000:]
    assert "usage:" in proc.stderr and "SparkContext" not in proc.stderr
