"""etl_rs_spark — a PySpark-native analytics / CDC-ingest engine.

A from-scratch re-imagining of the capabilities of CaoKha/etl-rs
(reference surveyed in SURVEY.md) on top of the Spark DataFrame /
Structured Streaming stack:

- ``functions.transforms``: the 13 per-column normalization transforms
  (reference: ``crates/libs/lib-etl/src/transforms/*.rs``), each in a
  native Column-expression flavor (whole-stage-codegen friendly) and,
  where the reference has one, a vectorized pandas-UDF flavor.
- ``operators.dedup``: the duplicate-detect + record-merge pipeline
  (reference: ``examples/transform_hdd_deduplication.rs``) re-architected
  shuffle-first (blocking-key equi self-join instead of driver-side
  hash partitioning).
- ``operators.lww``: last-writer-wins resolution over ``(lsn, offset)``
  as one ``max_by`` aggregation whose map-side partial aggregate
  pre-combines hot keys.
- ``sources.binlog`` + ``streaming.replay`` + ``sinks.lakehouse``:
  the CDC path — ordered change-event replay into an exactly-once,
  snapshot-committed, hash-bucketed lake table with additive schema
  evolution (BASELINE.json north rule).
"""

__version__ = "0.1.0"
