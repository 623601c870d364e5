"""Ordered change-event replay -> lake upsert (the CDC engine core).

Pipeline per micro-batch (or per bounded batch replay):

  events -> skip already-committed offsets (checkpoint resume)
         -> metadata-driven column mapping (schema evolution)
         -> normalize (clip-to-vocab, recompute n_tok, drop invalid)
         -> LWW per doc_id over (lsn, offset) (partial-agg max_by)
         -> idempotent MERGE into the lake table (exactly-once commit)

Lineage counters per batch (north rule): rows_in, dup_deliveries,
invalid_dropped, upserts, deletes — accumulated in the table manifest
alongside per-partition committed offsets, so replay can resume from any
snapshot and reconverge to the identical final state.

Batch mode mirrors the reference's bounded offset-range consumption
(examples/kafka_jdd_to_mongo.rs:18-66); streaming mode is Structured
Streaming over the segment directory with ``foreachBatch`` (the
reference's subscribe-loop, src/kafka.rs:110-140, upgraded from
at-least-once auto-commit to exactly-once).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, replace

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_rs_spark.operators.lww import lww_agg
from etl_rs_spark.operators.normalize_cdc import normalize_events, valid_flag
from etl_rs_spark.sinks.lakehouse import LakehouseTable
from etl_rs_spark.streaming.schema_evolution import ColumnMapping

ENVELOPE = ["op", "lsn", "partition", "offset"]


class _AsyncCollect:
    """Run one DataFrame collect on a pyspark InheritableThread: the
    thread inherits the caller's job group / local properties (a plain
    ThreadPoolExecutor worker would NOT under pinned-thread mode), so
    cancelling the micro-batch's job group — e.g. ``query.stop()`` on a
    streaming replay — also cancels this job instead of leaving an
    orphan the shutdown must wait out."""

    def __init__(self, df: DataFrame):
        self._rows = None
        self._exc: BaseException | None = None
        sc = df.sparkSession.sparkContext
        self._sc = sc
        self._group = sc.getLocalProperty("spark.jobGroup.id")
        self._thread = InheritableThread(target=self._run, args=(df,), daemon=True)
        self._thread.start()

    def _run(self, df: DataFrame) -> None:
        try:
            self._rows = df.collect()
        except BaseException as e:  # surfaced on result()
            self._exc = e

    def result(self):
        self._thread.join()
        if self._exc is not None:
            raise self._exc
        return self._rows

    def cancel(self) -> None:
        """Best-effort teardown for the caller's FAILURE path: when the
        merge dies before consuming result(), nothing would otherwise
        join or stop this O(events) job — it would burn executor time
        for a batch that is already dead. Cancelling the inherited job
        group is safe exactly here because the whole batch is failing
        (foreachBatch scopes one group per trigger); without a group
        (ad-hoc batch callers) we just bound the wait."""
        if self._group:
            self._sc.cancelJobGroup(self._group)
        self._thread.join(timeout=30)


@dataclass
class ReplayConfig:
    vocab: int = 50257
    max_len: int = 2048
    #: drop events at-or-below each partition's committed offset before
    #: merging. ONLY sound when batches arrive in per-partition offset
    #: order (ordered segment replay, a Kafka tail). A file-based
    #: stream can split one offset range across triggers — the filter
    #: would DROP never-merged rows — so replay_stream forces it off
    #: (the file source's own checkpoint already dedupes delivery, and
    #: the merge is idempotent under the (lsn, offset) row guard).
    filter_committed_offsets: bool = True


def process_batch(
    table: LakehouseTable,
    events: DataFrame,
    batch_key: str,
    mapping: ColumnMapping | None = None,
    cfg: ReplayConfig | None = None,
) -> dict:
    """Run one change-event batch through normalize -> LWW -> MERGE."""
    cfg = cfg or ReplayConfig()
    mapping = mapping or ColumnMapping.base()

    # ONE manifest read per batch: is_committed / committed_offsets
    # each re-parse the (growing) manifest — redundant JSON loads per
    # trigger on the streaming hot path
    man0 = table.manifest()
    if batch_key in man0["committed"]:
        return {"skipped": True, "version": man0["version"], "batch": batch_key}

    # checkpoint resume: drop events at or below the committed offset of
    # their partition (idempotent MERGE makes this an optimization, but
    # it also keeps lineage counters exact on resume). See
    # ReplayConfig.filter_committed_offsets for when this is sound.
    committed = (
        {int(k): int(v) for k, v in man0["offsets"].items()}
        if cfg.filter_committed_offsets
        else {}
    )
    if committed:
        pairs = ", ".join(f"{int(p)}, {int(o)}" for p, o in committed.items())
        events = events.filter(F.expr(f"coalesce(`offset` > map({pairs})[`partition`], true)"))

    events = mapping.apply(events, passthrough=tuple(ENVELOPE))

    # committed offsets + delivery stats from the raw ENVELOPE only:
    # Catalyst prunes the scan to (partition, offset) — the token-array
    # payload column never leaves parquet for this job. (Duplicate
    # deliveries have identical (partition, offset), so count -
    # count_distinct(offset) per partition counts them exactly; a
    # "dense offsets = max-min+1" shortcut is WRONG here, because a
    # redelivery re-sends an OLD offset into a later batch, making the
    # batch's per-partition offset set non-contiguous.)
    #
    # The collect runs on a SEPARATE (job-group-inheriting) thread so
    # this ~O(events) envelope job runs CONCURRENTLY with the main
    # merge job instead of serializing in front of it (profiled at ~25%
    # of merge wall-time at 8M events on 32 cores). Both offsets and
    # lineage are consumed only at manifest-commit time, after the data
    # write — merge() accepts callables for exactly this.
    per_part_fut = _AsyncCollect(
        events.groupBy("partition").agg(
            F.expr("count(1) AS rows_in"),
            F.expr("count(1) - count(DISTINCT `offset`) AS dups"),
            F.expr("max(`offset`) AS max_offset"),
        )
    )

    def offsets_fn() -> dict[int, int]:
        # malformed envelopes can carry NULL partition/offset (broker
        # metadata is never null on a real Kafka read, but file-based
        # logs can be corrupt); they can't advance any partition's
        # committed offset, and int(None) would kill the COMMIT of an
        # otherwise-good batch after its data is already written
        return {
            int(r["partition"]): int(r["max_offset"])
            for r in per_part_fut.result()
            if r["partition"] is not None and r["max_offset"] is not None
        }

    # Normalize-after-LWW: row validity is just "delete, or at least
    # one in-vocab token exists" — an early-exit exists() with NO
    # cleaned-array materialization. The full normalize (clip, truncate,
    # recompute n_tok) runs only on the per-key WINNERS (~docs, not
    # ~events), cutting the memory-streamed bytes of the hot path.
    # Equivalent to normalize-then-LWW: validity is what decides which
    # rows compete, and normalize is deterministic per row (final-state
    # equality pinned by tests/oracle_cdc.py).
    flagged = valid_flag(events, vocab=cfg.vocab)
    # remaining lineage counters ride ON the merge job itself via
    # Observations — no persist of the full batch, no extra passes.
    obs_norm = Observation()
    flagged = flagged.observe(
        obs_norm,
        F.expr("sum(CASE WHEN NOT coalesce(_valid, false) THEN 1 ELSE 0 END) AS invalid"),
    )
    valid = flagged.filter("_valid").drop("_valid", "partition")
    winners = lww_agg(valid, key=table.key_col, order=("lsn", "offset"))
    winners = normalize_events(winners, vocab=cfg.vocab, max_len=cfg.max_len).drop("_valid")
    obs_win = Observation()
    winners = winners.observe(
        obs_win,
        F.expr("sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS deletes"),
        F.expr("sum(CASE WHEN op != 'delete' THEN 1 ELSE 0 END) AS upserts"),
    )

    def lineage_fn() -> dict[str, int]:
        # resolved AFTER the merge write executes (observations are
        # collected by that job, and the concurrent envelope job has
        # had the merge's wall-time to finish); safe because merge()
        # calls this only post-write, pre-manifest-commit
        per_part = per_part_fut.result()
        lin = {
            "rows_in": sum(int(r["rows_in"]) for r in per_part),
            "dup_deliveries": sum(int(r["dups"]) for r in per_part),
            "invalid_dropped": int(obs_norm.get["invalid"] or 0),
            "deletes": int(obs_win.get["deletes"] or 0),
            "upserts": int(obs_win.get["upserts"] or 0),
        }
        return lin

    try:
        result = table.merge(winners, batch_key, offsets=offsets_fn, lineage=lineage_fn)
    except BaseException:
        # merge died before consuming offsets_fn: stop the orphaned
        # envelope job instead of letting it run to completion for a
        # batch that no longer exists
        per_part_fut.cancel()
        raise
    return result


def _path_tag(path: str) -> str:
    """8-hex digest of ``path``'s absolute form: the location part of
    segment and streaming batch keys. The format is pinned by tests — a
    changed digest re-merges every in-flight batch on resume."""
    return hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:8]


def replay_segments(
    spark: SparkSession,
    table: LakehouseTable,
    segment_paths: list[str],
    mapping: ColumnMapping | None = None,
    cfg: ReplayConfig | None = None,
    batch_prefix: str = "batch",
    binlog_id: str | None = None,
) -> list[dict]:
    """Bounded replay: each segment directory is one MERGE batch, in
    order — the file-based analogue of offset-range Kafka consumption.

    Batch-key identity: ``write_segments`` always names directories
    ``seg-00000..``, so a basename-only key would collide across
    different binlog roots and silently skip the second binlog's batches
    as already-committed. Pass ``binlog_id`` — a caller-chosen STABLE
    identifier for the binlog (a topic name, a dataset id) — to key on
    ``prefix:basename:binlog_id``: the key then survives relocating the
    segment files to a new root, exactly like a Kafka (topic, offset)
    address survives broker moves. Without it, the key falls back to a
    digest of the segment's absolute path (same path -> same key, so
    resume still skips; relocated data re-merges, idempotently, under
    the LWW guard). Key-format note: keys changed in r3 from
    basename-only to path-digested — manifests recording the old keys
    re-merge once on resume (idempotent, state converges)."""
    results = []
    for seg in segment_paths:
        events = spark.read.option("mergeSchema", True).parquet(seg)
        norm_path = os.path.abspath(seg.rstrip("/"))
        tag = binlog_id or _path_tag(norm_path)
        key = f"{batch_prefix}:{norm_path.rsplit('/', 1)[-1]}:{tag}"
        results.append(process_batch(table, events, key, mapping, cfg))
    return results


def replay_stream(
    spark: SparkSession,
    table: LakehouseTable,
    binlog_glob: str,
    checkpoint_dir: str,
    schema_ddl: str,
    mapping: ColumnMapping | None = None,
    cfg: ReplayConfig | None = None,
    max_files_per_trigger: int = 4,
    stream_name: str = "replay",
    transform=None,
):
    """Structured Streaming replay with exactly-once foreachBatch MERGE.
    Uses availableNow so tests/bench drain the backlog and stop; a live
    tail would simply drop that trigger.

    ``transform`` decodes each micro-batch before processing — e.g.
    ``sources.kafka.parse_envelope`` when the stream carries
    Kafka-shaped (key, value, headers) rows instead of bare change
    events; the same hook is where a real `format("kafka")` source
    plugs in (kafka_stream_source -> parse_envelope -> this).

    The committed-offset filter is forced OFF here: a file stream may
    split one offset range across triggers, and the filter would drop
    never-merged rows (found by a streaming-vs-batch state diff; the
    regression is pinned in test_streaming_replay_split_segments).
    Exactly-once is carried by the source checkpoint (files delivered
    once) + the batch-key guard + the idempotent (lsn, offset) MERGE.

    Batch-key identity: foreachBatch batch_ids are scoped to a
    CHECKPOINT — a different stream into the same table (new checkpoint
    dir, or the old one cleaned up) restarts at batch 0, and a bare
    '{stream_name}:{batch_id}' key would collide with the committed
    keys of the previous stream, silently skipping never-merged data
    while the file source marks it consumed (the replay_segments
    collision class, on the streaming path). Keys therefore fold in a
    digest of the checkpoint path: stable across RESTARTS of one stream
    (same checkpoint -> batch_ids continue, the crashed trigger re-runs
    under its original key), distinct across streams. Key-format note:
    keys before r5 were '{stream_name}:{batch_id}' — on a resumed old
    table the in-flight trigger re-merges once under the new key,
    idempotently, and state converges."""
    cfg = replace(cfg or ReplayConfig(), filter_committed_offsets=False)
    ckpt_id = _path_tag(checkpoint_dir)
    stream = (
        spark.readStream.schema(schema_ddl)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(binlog_glob)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if transform is not None:
            batch_df = transform(batch_df)
        process_batch(
            table, batch_df, f"{stream_name}:{ckpt_id}:{batch_id}", mapping, cfg
        )

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
