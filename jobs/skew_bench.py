"""Skew evidence: LWW strategies on a hot-key binlog.

Generates a binlog where ~2 doc_ids receive 30% of all events (the
north rule's "skewed hot doc_ids" case) and times the two LWW
strategies:

- lww_window  — row_number over a per-key window: the hot key
  serializes into ONE task (the anti-pattern);
- lww_agg     — max_by with map-side partial aggregation: every mapper
  pre-combines the hot key to one candidate row (the engine's).

Prints one JSON line of seconds per strategy. Linearity evidence for
the 10^10 extrapolation is the merge replay itself at growing event
counts: ``python jobs/replay.py --events N --docs N/10``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_rs_spark.operators.lww import lww_agg, lww_window
from etl_rs_spark.operators.normalize_cdc import valid_flag
from etl_rs_spark.session import force, get_spark, host_cpus
from etl_rs_spark.sources.binlog import BinlogSpec, gen_events


def main() -> None:
    cpus = host_cpus()
    spark = get_spark(app_name="skew-bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    out: dict = {"skew": {}}
    tmp = tempfile.mkdtemp(prefix="skewbench_")
    try:
        # ~2 hot docs receive 30% of 4M events
        spec = BinlogSpec(n_events=4_000_000, n_docs=200_000,
                          n_partitions=32, hot_frac=0.00001, hot_share=0.30)
        binlog = os.path.join(tmp, "skewlog")
        gen_events(spark, spec).repartition(64).write.parquet(binlog)
        # the engine's hot-path shape: validity flag only, LWW on raw
        # payloads (normalize happens post-LWW on winners)
        norm = valid_flag(spark.read.parquet(binlog)).filter("_valid").drop(
            "_valid", "partition", "ts"
        )
        force(lww_agg(norm.limit(100_000), key="doc_id"))  # JIT/codegen warmup
        for name, fn in [("window", lww_window), ("agg", lww_agg)]:
            t0 = time.monotonic()
            force(fn(norm, key="doc_id"))
            out["skew"][name] = round(time.monotonic() - t0, 2)
        print(json.dumps(out))
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
