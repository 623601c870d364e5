"""Two-cluster-size scaling evidence (north rule: efficiency >= 0.8
from N to 4N executors).

Without a real cluster, the same exactly-once merge replay
(``jobs/replay.py``) runs at several parallelism levels on the SAME
stored binlog, each in a fresh JVM subprocess. Efficiency for an
N -> 4N pair = (throughput_4N / throughput_N) / 4.

A single box also caps scaling itself, so the run first times two
no-JVM calibrations at every level — pure-CPU (``_burn``) and
memory-streaming (``_stream``) — whose own N -> 4N efficiencies are the
ceilings the engine is judged against.

Prints one summary JSON line (levels, calibration seconds, best
throughput per level) to stdout; render one or more of them as
markdown tables with ``tools/merge_scaling_runs.py``:

    python jobs/scaling_bench.py > r1.json
    python tools/merge_scaling_runs.py r1.json [r2.json ...]

Environment: SCALING_LEVELS (default 2,8,32), SCALING_EVENTS,
SCALING_DOCS, SCALING_REPS.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from multiprocessing import Pool

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPLAY = os.path.join(ROOT, "jobs", "replay.py")

LEVELS = [int(x) for x in os.environ.get("SCALING_LEVELS", "2,8,32").split(",")]
REPS = int(os.environ.get("SCALING_REPS", "3"))


def _burn(n: int) -> int:
    h = 0
    for i in range(n):
        h ^= hash((i, h))
    return h


def _stream(n: int) -> int:
    """Memory-streaming workload (the replay job's profile: columnar
    arrays streamed through normalize/shuffle)."""
    import numpy as np

    a = np.arange(n, dtype=np.int64)
    s = 0
    for _ in range(6):
        b = a * 2
        s += int(b[::4096].sum())
    return s


def calibrate(fn, arg, procs: int) -> float:
    """Seconds to map ``fn(arg)`` over 32 chunks on ``procs`` processes
    — fixed total work, so the time measures what the host itself
    allows at that parallelism (32 chunks keep every level up to 32
    processes busy)."""
    t0 = time.monotonic()
    with Pool(procs) as pool:
        pool.map(fn, [arg] * 32)
    return time.monotonic() - t0


def run_once(cpus: int, events: int, docs: int, binlog: str) -> dict:
    cmd = [sys.executable, REPLAY, "--events", str(events), "--docs", str(docs),
           "--cpus", str(cpus), "--binlog", binlog]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True, cwd=ROOT)
    last = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(last)


def main() -> None:
    events = int(os.environ.get("SCALING_EVENTS", "4000000"))
    docs = int(os.environ.get("SCALING_DOCS", "400000"))

    cpu_sec = {p: round(calibrate(_burn, 3_000_000, p), 2) for p in LEVELS}
    mem_sec = {p: round(calibrate(_stream, 8_000_000, p), 2) for p in LEVELS}
    print(f"[scaling] calibration sec: cpu={cpu_sec} mem={mem_sec}", file=sys.stderr)

    tmp = tempfile.mkdtemp(prefix="scaling_binlog_")
    binlog_dir = os.path.join(tmp, "binlog")
    try:
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "jobs", "gen_binlog.py"), binlog_dir,
             "--events", str(events), "--docs", str(docs)],
            check=True, capture_output=True, cwd=ROOT,
        )
        # best-of-REPS, INTERLEAVED across levels: single-JVM runs vary
        # +-30% (JIT/GC/page-cache state), so reps of different levels
        # are alternated to decorrelate machine drift from the level.
        best: dict[int, float] = {}
        for rep in range(REPS):
            for cpus in LEVELS:
                r = run_once(cpus, events, docs, binlog_dir)
                best[cpus] = max(best.get(cpus, 0.0), r["events_per_sec"])
                print(f"[scaling] rep={rep} cpus={cpus}: "
                      f"{r['events_per_sec']} ev/s ({r['elapsed_sec']}s)",
                      file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps({
        "events": events,
        "docs": docs,
        "reps": REPS,
        "levels": LEVELS,
        "cpu_calibration_sec": cpu_sec,
        "mem_calibration_sec": mem_sec,
        "throughput": best,
    }))


if __name__ == "__main__":
    main()
