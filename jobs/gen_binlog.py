"""Materialize a synthetic binlog to parquet (shared input for the
scaling bench — the SAME stored log is replayed at every parallelism
level, per the north rule)."""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_rs_spark.session import get_spark
from etl_rs_spark.sources.binlog import BinlogSpec, gen_events


def write_binlog(spark, spec: BinlogSpec, out: str, files: int = 64) -> None:
    """Write ``spec``'s events to ``out`` as ``files`` parquet files.

    Range-partitioned by lsn: real binlogs are written in log order,
    and lsn-sorted row groups let segment replays prune the scan."""
    gen_events(spark, spec).repartitionByRange(files, "lsn").write.mode(
        "overwrite"
    ).parquet(out)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--files", type=int, default=64)
    args = ap.parse_args()
    spark = get_spark(app_name="gen-binlog")
    try:
        spec = BinlogSpec(
            n_events=args.events, n_docs=args.docs, n_partitions=args.partitions
        )
        write_binlog(spark, spec, args.out, args.files)
        print(args.out)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
