"""spark-submit entry point: synthetic-binlog CDC replay -> lake upsert.

Usage (the north rule's launch mode):

    python tools/build_pyfiles.py     # -> dist/etl_rs_spark.zip
    spark-submit --py-files dist/etl_rs_spark.zip jobs/replay.py \
        --events 10000000 --docs 1000000 --cpus 32 [--mode merge|streaming]

In-sandbox the same file runs as plain ``python jobs/replay.py`` (the
session factory ships the package itself); SparkConf entries go through
``spark-submit --conf`` or ``PYSPARK_SUBMIT_ARGS``. Emits ONE JSON line
with events/sec plus per-partition throughput / committed offset / lag
and the lineage counters — the observability surface the north rule
names.

``--mode merge`` (default) is the full exactly-once path into the
lakehouse MERGE sink; ``--segments`` replays N segment batches instead
of one bulk batch (exercises the incremental path). ``--mode
streaming`` drains segment files via exactly-once foreachBatch
micro-batches.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_rs_spark.session import get_spark, host_cpus
from etl_rs_spark.sinks.lakehouse import LakehouseTable
from etl_rs_spark.sources.binlog import BinlogSpec, write_segments
from etl_rs_spark.streaming.replay import process_batch, replay_stream
from jobs.gen_binlog import write_binlog


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--cpus", type=int, default=host_cpus())
    ap.add_argument(
        "--mode", choices=["merge", "streaming"], default="merge",
        help="streaming = Structured Streaming foreachBatch drain over "
             "segment files (availableNow), exactly-once MERGE per trigger",
    )
    ap.add_argument("--segments", type=int, default=1, help="replay in N ordered batches")
    ap.add_argument("--compact-after", action="store_true",
                    help="run compaction after the replay (timed separately)")
    ap.add_argument(
        "--auto-compact-files", type=int, default=None, metavar="N",
        help="maintenance policy: compact the table at commit time once "
             "its read depth (the most base files in a bucket plus the "
             "number of deltas) exceeds N (manifest-recorded; bounds read "
             "amplification over long segmented replays)",
    )
    ap.add_argument("--lake", default=None, help="lake table path (default: tmpdir)")
    ap.add_argument(
        "--binlog", default=None,
        help="read the binlog from this parquet dir instead of materializing one",
    )
    args = ap.parse_args()

    spark = get_spark(
        app_name=f"cdc-replay-{args.mode}-c{args.cpus}",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    spec = BinlogSpec(
        n_events=args.events, n_docs=args.docs, n_partitions=args.partitions
    )
    tmp = None
    binlog_tmp = None
    seg_root = None
    try:
        if args.binlog:
            events = spark.read.parquet(args.binlog)
        else:
            # a real CDC engine replays a STORED log — materialize the
            # synthetic binlog first (untimed), then time read -> replay
            binlog_tmp = tempfile.mkdtemp(prefix="replay_binlog_")
            write_binlog(spark, spec, os.path.join(binlog_tmp, "binlog"))
            events = spark.read.parquet(os.path.join(binlog_tmp, "binlog"))
        # rate over the stored log (incl. ~2% duplicate deliveries), not --events
        stats = events.agg(
            F.count(F.lit(1)).alias("n"), F.max("lsn").alias("m")
        ).collect()[0]
        n_events, max_lsn = int(stats["n"]), int(stats["m"])

        t0 = time.monotonic()
        lake_path = args.lake or os.path.join(
            tempfile.mkdtemp(prefix="replay_lake_"), "lake"
        )
        tmp = None if args.lake else os.path.dirname(lake_path)
        # bucket count is a table property, not a cluster property —
        # fixed so both scaling levels do identical layout work
        table = LakehouseTable(
            spark, lake_path, n_buckets=32, auto_compact_files=args.auto_compact_files,
        )
        if args.mode == "streaming":
            # materialize segment files (untimed), then time the
            # exactly-once foreachBatch drain incl. checkpointing;
            # cleaned up in the finally (NOT inside the timed region:
            # rmtree of hundreds of segment+checkpoint files is not
            # replay work, and a failed run must not leak the
            # materialization)
            seg_root = tempfile.mkdtemp(prefix="replay_segs_")
            n_segs = max(args.segments, 16)
            write_segments(events, seg_root, n_segs, max_lsn)
            schema = spark.read.parquet(f"{seg_root}/seg-00000").schema
            # ~8 micro-batches regardless of file fan-out
            n_files = sum(
                len([f for f in os.listdir(os.path.join(seg_root, d))
                     if f.endswith(".parquet")])
                for d in os.listdir(seg_root) if d.startswith("seg-")
            )
            t0 = time.monotonic()
            q = replay_stream(
                spark, table, f"{seg_root}/seg-*",
                os.path.join(seg_root, "_ckpt"), schema,
                max_files_per_trigger=max(1, n_files // 8),
            )
            q.awaitTermination()
        elif args.segments <= 1:
            process_batch(table, events, "replay:bulk")
        else:
            step = (max_lsn + args.segments - 1) // args.segments
            for s in range(args.segments):
                lo, hi = s * step + 1, min((s + 1) * step, max_lsn)
                seg = events.filter((F.col("lsn") >= lo) & (F.col("lsn") <= hi))
                process_batch(table, seg, f"replay:seg-{s}")
        elapsed = time.monotonic() - t0
        compact_sec = None
        if args.compact_after:
            t1 = time.monotonic()
            table.compact()
            compact_sec = round(time.monotonic() - t1, 3)
        committed = table.committed_offsets()
        # measured per-partition stats (not synthesized): event
        # counts + max generated offset come from the binlog itself,
        # lag = max offset - committed offset (0 iff fully drained)
        pstats = {
            r["partition"]: (r["n"], r["max_off"])
            for r in events.groupBy("partition")
            .agg(F.count(F.lit(1)).alias("n"), F.max("offset").alias("max_off"))
            .collect()
        }
        per_partition = [
            {"partition": p, "committed_offset": o,
             "n_events": int(pstats.get(p, (0, o))[0]),
             "lag": int(pstats.get(p, (0, o))[1] - o),
             "events_per_sec": round(pstats.get(p, (0, o))[0] / elapsed, 1)}
            for p, o in sorted(committed.items())
        ]

        print(json.dumps({
            "mode": args.mode,
            "compact_sec": compact_sec,
            "cpus": args.cpus,
            "events": n_events,
            "docs": args.docs,
            "segments": args.segments,
            "elapsed_sec": round(elapsed, 3),
            "events_per_sec": round(n_events / elapsed, 1),
            "lineage": table.manifest()["lineage"],
            "per_partition": per_partition,
        }))
    finally:
        spark.stop()
        for d in (tmp, binlog_tmp, seg_root):
            if d:
                shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
