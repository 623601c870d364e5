"""Skew evidence: LWW strategies on a hot-key binlog.

Generates a binlog where ~2 doc_ids receive 30% of all events (the
north rule's "skewed hot doc_ids" case) and times the two LWW
strategies:

- lww_window  — row_number over a per-key window: the hot key
  serializes into ONE task (the anti-pattern);
- lww_agg     — max_by with map-side partial aggregation: every mapper
  pre-combines the hot key to one candidate row (the engine's).

Also prints linearity evidence for the 10^10 extrapolation: the same
merge replay at growing event counts — events/sec should stay flat.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import shutil

from etl_rs_spark.operators.lww import lww_agg, lww_window
from etl_rs_spark.operators.normalize_cdc import valid_flag
from etl_rs_spark.session import get_spark, host_cpus
from etl_rs_spark.sinks.lakehouse import LakehouseTable
from etl_rs_spark.sources.binlog import BinlogSpec, gen_events
from etl_rs_spark.streaming.replay import process_batch


from etl_rs_spark.session import force as noop  # shared noop-force helper


def main() -> None:
    cpus = host_cpus()
    spark = get_spark(app_name="skew-bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    out: dict = {"skew": {}, "linearity": []}
    tmp = tempfile.mkdtemp(prefix="skewbench_")
    try:
        # --- skew: ~2 hot docs receive 30% of 4M events -----------------
        spec = BinlogSpec(n_events=4_000_000, n_docs=200_000,
                          n_partitions=32, hot_frac=0.00001, hot_share=0.30)
        binlog = os.path.join(tmp, "skewlog")
        gen_events(spark, spec).repartition(64).write.parquet(binlog)
        # the engine's hot-path shape: validity flag only, LWW on raw
        # payloads (normalize happens post-LWW on winners)
        norm = valid_flag(spark.read.parquet(binlog)).filter("_valid").drop(
            "_valid", "partition", "ts"
        )
        noop(lww_agg(norm.limit(100_000), key="doc_id"))  # JIT/codegen warmup
        for name, fn in [("window", lww_window), ("agg", lww_agg)]:
            t0 = time.monotonic()
            noop(fn(norm, key="doc_id"))
            out["skew"][name] = round(time.monotonic() - t0, 2)

        # --- linearity: merge replay at growing scale -------------------
        sizes = [int(x) for x in os.environ.get(
            "LINEARITY_SIZES", "2000000,8000000,16000000").split(",")]
        for n in sizes:
            spec = BinlogSpec(n_events=n, n_docs=n // 10, n_partitions=32)
            blog = os.path.join(tmp, f"log{n}")
            gen_events(spark, spec).repartition(64).write.parquet(blog)
            table = LakehouseTable(spark, os.path.join(tmp, f"lake{n}"), n_buckets=32)
            t0 = time.monotonic()
            process_batch(table, spark.read.parquet(blog), "lin")
            dt = time.monotonic() - t0
            out["linearity"].append(
                {"events": n, "sec": round(dt, 2), "events_per_sec": round(n / dt, 1)}
            )
        print(json.dumps(out))
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
