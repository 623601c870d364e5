"""Benchmark entry point for the CDC engine and its corpus operators.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_replay --seed 1 --seconds 12 --trace 0

Workloads: cdc_replay and corpus_prep (see perfbench/README.md for why
each exists and what each metric should move). The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run also
writes Spark's event log and reports per-layer metrics, and the span
tree goes to standard error.

Everything the run writes (binlogs, lake tables, checkpoints, Spark
local dirs, the event log) lives under ``.perfbench_tmp/`` in the
working directory and is removed when the run ends, failed or not;
every process the run started has ended by then.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
#: driver heap: a quarter of physical memory, at most 2 GiB. It is
#: pinned (-Xms = -Xmx) and touched at start, so that the JVM's resident
#: set does not depend on when the collector grows or moves the heap.
MAX_DRIVER_GIB = 2


def host_shape() -> dict:
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {"cpus": cpus, "ram_gib": ram / 2**30}


def _cpu_ticks() -> list[int]:
    """Aggregate CPU time counters of the host (/proc/stat first line)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests meanwhile."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1) if len(d) > 7 else 0.0


def _rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_probe(cpus: int) -> dict[str, float]:
    """No-JVM calibration: pure-CPU and memory-streaming work on every
    core, for attributing a shift to the host rather than the engine."""
    import gc
    import multiprocessing
    from multiprocessing import resource_tracker

    from jobs.scaling_bench import _burn, _stream

    out = {}
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(cpus) as pool:
        pool.map(_burn, [1000] * cpus)  # workers up before timing
        for name, fn, arg in (("host.cpu_burn_s", _burn, 400_000),
                              ("host.mem_stream_s", _stream, 4_000_000)):
            t0 = time.perf_counter()
            pool.map(fn, [arg] * (2 * cpus))
            out[name] = time.perf_counter() - t0
        pool.close()
        pool.join()
    # the pool's semaphores go with it; the helper process that tracked
    # them would otherwise exit only after this one
    del pool
    gc.collect()
    resource_tracker._resource_tracker._stop()
    return out


def become_subreaper() -> None:
    """Have orphans of the processes this run starts (the JVM's own
    children, Python workers) re-parented to this process rather than
    to init, so that ``reap_children`` can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me = os.getpid()
    kids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # gone meanwhile
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(pid))
    return kids


def reap_children(grace_s: float = 30.0) -> None:
    """Wait until this process has no child left: every live child is
    sent SIGTERM once, and SIGKILL after ``grace_s``; every exited one
    is reaped."""
    deadline = time.monotonic() + grace_s
    termed: set[int] = set()
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0]:
                continue
        except ChildProcessError:
            return  # none left
        late = time.monotonic() > deadline
        for pid in _children():
            if late or pid not in termed:
                termed.add(pid)
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def build_session(root: str, shape: dict, event_log: str | None):
    """A session fitted to the host, built from outside the package:
    the engine reads its core count and driver heap from the
    environment, so both are set before it is imported."""
    cpus = shape["cpus"]
    heap = max(1, min(MAX_DRIVER_GIB, int(shape["ram_gib"] // 4)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap}g"
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
    sys.path[:0] = [os.getcwd(), HERE]
    from etl_rs_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(root, "local"),
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.driver.extraJavaOptions": f"{jvm_opts} -Xms{heap}g -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log}",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    shape["driver_heap_gib"] = heap
    shape["spark"] = spark.version
    shape["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        # the JVM exits when its stdin closes; a wedged one is killed
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def layer_metrics(tracer, run_layer: dict, names: list[str]) -> dict:
    """Per-layer metrics: the workload's own figures plus the ones taken
    from Spark jobs attached to spans. Layers a workload never calls
    read 0."""
    import spans

    L = dict(run_layer)
    m = spans.rollup(tracer.named("measure"))
    for k in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_bytes", "spill_bytes"):
        L[f"spark.{k}"] = m[k]

    # bulk figures: the median repetition; tail figures: per commit over
    # every repetition's stream
    bulks = [spans.batch_split(s) for s in tracer.named("process_batch", under="measure")]
    for k in bulks[0] if bulks else ():
        L[f"replay.bulk.{k}"] = statistics.median(b[k] for b in bulks)
    streams = [spans.batch_split(s) for s in tracer.named("stream", under="measure")]
    if streams and run_layer.get("triggers"):
        n = run_layer["triggers"]
        for k in streams[0]:
            v = sum(b[k] for b in streams)
            L[f"replay.{k}_per_commit" if k in ("jobs", "tasks") else f"replay.{k}"] = v / n
    agg = tracer.named("lww.agg")
    if agg:
        r = spans.rollup(agg)
        L["lww.cpu_s"] = r["executor_cpu_s"]
        L["lww.shuffle_write_bytes"] = r["shuffle_write_bytes"]
        L["lww.spill_bytes"] = r["spill_bytes"]
        L["lww.combine_ratio"] = r["shuffle_write_records"] / max(r["input_records"], 1)
    preps = tracer.named("prep_corpus")
    if preps:
        r = spans.rollup(preps)
        L["corpus.jobs"] = r["jobs"] / len(preps)
        L["corpus.driver_gap_s"] = r["driver_gap_s"] / len(preps)
        L["corpus.shuffle_write_bytes"] = r["shuffle_write_bytes"] / len(preps)
    return {k: float(L.get(k, 0.0)) for k in names}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_names = {m["name"]: m["unit"] for m in spec["per_layer"]}
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    if not os.path.isfile(os.path.join(os.getcwd(), "etl_rs_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout with the engine "
              "(etl_rs_spark/ not found)", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    ticks = _cpu_ticks()
    scratch = os.path.join(os.getcwd(), ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    shape = host_shape()
    event_log = os.path.join(root, "eventlog") if args.trace else None
    spark = None
    try:
        spark = build_session(root, shape, event_log)
        import spans
        import workloads

        tracer = spans.Tracer(spark.sparkContext)
        print(f"session_s={time.perf_counter() - t_start:.2f}", file=sys.stderr)
        run = workloads.Run(spark, root, args.seed, args.seconds, bool(args.trace), tracer)
        try:
            out = workloads.WORKLOADS[args.workload](run)
        except Exception:  # noqa: BLE001 - reported as a failed run below
            traceback.print_exc()
            return 1
        shape["rss_python_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        shape["rss_jvm_mb"] = _rss_mb(spark.sparkContext._gateway.proc.pid)
        figures = {
            "setup_s": out["setup_end"] - t_start,
            "throughput_per_s": out["throughput_per_s"],
            "peak_rss_mb": shape["rss_python_mb"] + shape["rss_jvm_mb"],
        }
        stop_session(spark)
        spark = None
        shape["steal_share"] = steal_share(ticks, _cpu_ticks())
        if args.trace:
            run.layer["host.steal_share"] = shape["steal_share"]
            run.layer.update(host_probe(shape["cpus"]))
            run.layer["failed_op_share"] = run.failed / max(run.attempted, 1)
            # the end-to-end figures under tracing: against an untraced run
            # of the same seed they give the tracing overhead
            run.layer.update({f"traced.{k}": v for k, v in figures.items()})
            spans.attach(tracer, spans.load_jobs(event_log))
            values = layer_metrics(tracer, run.layer, list(layer_names))
            metrics = {k: {"value": values[k], "unit": u} for k, u in layer_names.items()}
        else:
            metrics = {k: {"value": float(figures[k]), "unit": u} for k, u in e2e.items()}
        print(spans.render(tracer), file=sys.stderr)
        print(json.dumps({"host": shape, "failures": run.failures}), file=sys.stderr)
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            reap_children()
            shutil.rmtree(root, ignore_errors=True)
            try:
                os.rmdir(scratch)
            except OSError:
                pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
