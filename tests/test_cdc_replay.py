"""CDC engine correctness: replay -> final-state equality vs the
sequential pandas oracle (token-array equality per doc_id), exactly-once,
checkpoint resume, LWW parity, schema evolution, streaming."""

from __future__ import annotations

import hashlib
import json
import os
import re

import pytest
from pyspark.sql import functions as F

from etl_rs_spark.operators.lww import lww_agg
from etl_rs_spark.operators.normalize_cdc import normalize_events
from etl_rs_spark.sinks.lakehouse import LakehouseTable
from etl_rs_spark.sources.binlog import (
    BinlogSpec,
    gen_events,
    read_offset_range,
    write_segments,
)
from etl_rs_spark.streaming.replay import (
    ReplayConfig,
    process_batch,
    replay_segments,
    replay_stream,
)
from etl_rs_spark.streaming.schema_evolution import ColumnMapping, MappedColumn
from tests.oracle_cdc import oracle_replay, table_state

VOCAB = 1000
MAX_LEN = 32

SPEC = BinlogSpec(
    n_events=2000, n_docs=150, n_partitions=4, vocab=VOCAB, tokens_max=16, seed=42
)
CFG = ReplayConfig(vocab=VOCAB, max_len=MAX_LEN)


@pytest.fixture(scope="module")
def binlog(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("binlog"))
    df = gen_events(spark, SPEC)
    segs = write_segments(df, path, n_segments=4, max_lsn=SPEC.n_events)
    events = [r.asDict() for r in df.collect()]
    return path, segs, events


@pytest.fixture(scope="module")
def oracle_state(binlog):
    _, _, events = binlog
    return oracle_replay(events, VOCAB, MAX_LEN)


def test_batch_replay_matches_oracle(spark, tmp_path, binlog, oracle_state):
    _, segs, _ = binlog
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    results = replay_segments(spark, table, segs, cfg=CFG)
    assert all(not r["skipped"] for r in results)
    assert table_state(table.read()) == oracle_state
    # lineage counters recorded
    lin = table.manifest()["lineage"]
    assert lin["rows_in"] == len(binlog[2])
    assert lin["dup_deliveries"] > 0
    assert lin["invalid_dropped"] >= 0
    assert lin["upserts"] > 0 and lin["deletes"] > 0


def test_exactly_once_reapply(spark, tmp_path, binlog, oracle_state):
    _, segs, _ = binlog
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    replay_segments(spark, table, segs, cfg=CFG)
    v1 = table.manifest()["version"]
    # replaying the identical batches must be a no-op (batch-id guard)
    results = replay_segments(spark, table, segs, cfg=CFG)
    assert all(r["skipped"] for r in results)
    assert table.manifest()["version"] == v1
    assert table_state(table.read()) == oracle_state


def test_skipped_commit_has_one_result_shape(spark, tmp_path, binlog):
    """Re-running a committed batch through process_batch or straight
    through merge returns the same skip result: the batch key and the
    table's current version."""
    _, segs, _ = binlog
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    events = spark.read.parquet(segs[0])
    first = process_batch(table, events, "seg0", cfg=CFG)
    assert first["skipped"] is False
    want = {"skipped": True, "version": first["version"], "batch": "seg0"}
    assert process_batch(table, events, "seg0", cfg=CFG) == want
    assert table.merge(events, "seg0") == want


def test_read_offset_range_is_inclusive(spark, binlog):
    """read_offset_range returns exactly one partition's events with
    start <= offset <= end, both bounds included."""
    path, segs, _ = binlog
    offsets = sorted({
        r["offset"] for r in spark.read.parquet(*segs)
        .filter(F.col("partition") == 1).select("offset").collect()
    })
    start, end = offsets[len(offsets) // 4], offsets[3 * len(offsets) // 4]

    def keys(df):
        return sorted(
            (r["partition"], r["offset"], r["lsn"])
            for r in df.select("partition", "offset", "lsn").collect()
        )

    got = keys(read_offset_range(spark, path, 1, start, end))
    want = keys(spark.read.parquet(*segs).filter(
        (F.col("partition") == 1) & F.col("offset").between(start, end)
    ))
    assert got == want
    assert got[0][1] == start and got[-1][1] == end


def test_binlog_id_keys_survive_relocation(spark, tmp_path, binlog, oracle_state):
    """A caller-supplied stable binlog_id (r3 ADVICE) keys batches on
    (basename, binlog_id) instead of the absolute-path digest: the same
    segments COPIED to a new root resume as already-committed — no
    surprise full re-merge after relocating data — while a DIFFERENT
    binlog_id still re-merges (two distinct logical binlogs never
    collide on basename alone)."""
    import shutil

    _, segs, _ = binlog
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    replay_segments(spark, table, segs, cfg=CFG, binlog_id="topicA")
    v1 = table.manifest()["version"]
    moved = []
    for seg in segs:
        dst = str(tmp_path / "relocated" / seg.rstrip("/").rsplit("/", 1)[-1])
        shutil.copytree(seg, dst)
        moved.append(dst)
    results = replay_segments(spark, table, moved, cfg=CFG, binlog_id="topicA")
    assert all(r["skipped"] for r in results)
    assert table.manifest()["version"] == v1
    # a different logical binlog with colliding basenames is NOT skipped
    results = replay_segments(spark, table, moved, cfg=CFG, binlog_id="topicB")
    assert all(not r["skipped"] for r in results)
    assert table_state(table.read()) == oracle_state  # idempotent re-merge


def test_checkpoint_resume_reconverges(spark, tmp_path, binlog, oracle_state):
    """Restart mid-stream with NEW batch ids re-reading from the start:
    committed per-partition offsets skip everything already applied and
    the final state is identical to the one-shot replay."""
    _, segs, _ = binlog
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    replay_segments(spark, table, segs[:2], cfg=CFG, batch_prefix="run1")
    mid_offsets = table.committed_offsets()
    assert mid_offsets
    # "crashed" consumer restarts and replays ALL segments under new keys
    replay_segments(spark, table, segs, cfg=CFG, batch_prefix="run2")
    assert table_state(table.read()) == oracle_state
    # offsets advanced monotonically
    end_offsets = table.committed_offsets()
    assert all(end_offsets[p] >= o for p, o in mid_offsets.items())
    # lineage counted each event exactly once despite the overlap
    assert table.manifest()["lineage"]["rows_in"] == len(binlog[2])


def test_lww_flavors_agree(spark, binlog):
    """``lww_agg`` keeps, per doc_id, the full row of the event with the
    greatest ``(lsn, offset)``: checked against that winner picked in
    plain Python from the same rows. The fixture binlog has a hot doc
    taking ~30% of its events and duplicate deliveries, which must fold
    to one row."""
    _, segs, _ = binlog
    df = spark.read.parquet(*segs)
    norm = normalize_events(df, VOCAB, MAX_LEN).filter("_valid").drop("_valid", "ts")
    cols = sorted(norm.columns)

    def row(r):
        return tuple(tuple(r[c]) if isinstance(r[c], list) else r[c] for c in cols)

    by_doc: dict[str, set] = {}
    for r in norm.collect():
        by_doc.setdefault(r["doc_id"], set()).add(((r["lsn"], r["offset"]), row(r)))
    want = []
    for cands in by_doc.values():
        top = max(order for order, _ in cands)
        winners = {x for order, x in cands if order == top}
        assert len(winners) == 1  # rows tied at the top are duplicate deliveries
        want.append(winners.pop())
    assert sorted(row(r) for r in lww_agg(df=norm).collect()) == sorted(want)


def test_valid_flag_matches_normalize_valid(spark, binlog):
    """valid_flag (the no-materialization hot-path check) must keep
    exactly the rows normalize_events keeps — on the real binlog AND on
    adversarial edges (null/empty/all-out-of-vocab token arrays)."""
    from etl_rs_spark.operators.normalize_cdc import valid_flag

    _, segs, _ = binlog
    real = spark.read.parquet(*segs)
    edges = spark.createDataFrame(
        [
            ("insert", 1, 0, 1, [1, 2], 2),
            ("insert", 2, 0, 2, [], 0),
            ("insert", 3, 0, 3, None, None),
            ("update", 4, 0, 4, [-5, VOCAB + 7], 2),   # all out-of-vocab
            ("update", 5, 0, 5, [-5, 0], 2),           # one valid token
            ("delete", 6, 0, 6, None, None),
        ],
        "op string, lsn long, partition int, offset long, tokens array<int>, n_tok int",
    )
    for df in (real, edges):
        cols = ["partition", "offset", "lsn"]
        a = {tuple(r[c] for c in cols): bool(r["_valid"] or False)
             for r in valid_flag(df, VOCAB).collect()}
        b = {tuple(r[c] for c in cols): bool(r["_valid"] or False)
             for r in normalize_events(df, VOCAB, MAX_LEN).collect()}
        assert a == b


def test_schema_evolution_additive(spark, tmp_path, binlog_evolved=None):
    """Epoch E2 adds a `tag` column mid-stream. Pre-E2 segments are
    physically written WITHOUT the column; the metadata-driven mapping
    null-fills it and the lake table widens additively."""
    spec = BinlogSpec(
        n_events=1200, n_docs=80, n_partitions=4, vocab=VOCAB,
        tokens_max=12, evolve_from_lsn=601, seed=7,
    )
    df = gen_events(spark, spec)
    path = str(tmp_path / "binlog")
    segs = write_segments(df, path, n_segments=4, max_lsn=spec.n_events,
                          drop_tag_before_evolve=spec.evolve_from_lsn)
    # physical check: first segments lack the tag column
    assert "tag" not in spark.read.parquet(segs[0]).columns
    assert "tag" in spark.read.parquet(segs[-1]).columns

    mapping = ColumnMapping.base().evolved(MappedColumn("tag", "tag", "string"))
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    replay_segments(spark, table, segs, mapping=mapping, cfg=CFG)

    events = [r.asDict() for r in df.collect()]
    for e in events:
        if e["lsn"] < spec.evolve_from_lsn:
            e["tag"] = None
    want = oracle_replay(events, VOCAB, MAX_LEN)
    assert table_state(table.read(), with_tag=True) == want
    # manifest schema evolved additively
    assert ["tag", "string"] in table.manifest()["payload_schema"]


def test_backtick_named_payload_column_matches_oracle(spark, tmp_path):
    """A payload column named ``a`b`` passes every SQL-string builder
    of the CDC path: the mapping cast, the LWW winner struct, the MERGE
    projection, the manifest schema DDL and the merge-on-read LWW. Two
    batches, so the read resolves keys across deltas."""
    spec = BinlogSpec(
        n_events=600, n_docs=40, n_partitions=2, vocab=VOCAB,
        tokens_max=12, evolve_from_lsn=1, seed=11,
    )
    events = gen_events(spark, spec).withColumnRenamed("tag", "a`b")
    mapping = ColumnMapping.base().evolved(MappedColumn("a`b", "a`b", "string"))
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=4)
    for i, half in enumerate(["lsn <= 300", "lsn > 300"]):
        process_batch(table, events.filter(half), f"b{i}", mapping=mapping, cfg=CFG)

    want = oracle_replay(
        [{**r.asDict(), "tag": r["a`b"]} for r in events.collect()], VOCAB, MAX_LEN
    )
    got = table_state(table.read().withColumnRenamed("a`b", "tag"), with_tag=True)
    assert got == want
    assert ["a`b", "string"] in table.manifest()["payload_schema"]


def test_streaming_replay(spark, tmp_path, binlog, oracle_state):
    path, segs, _ = binlog
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    schema = spark.read.parquet(segs[0]).schema
    q = replay_stream(
        spark, table, f"{path}/seg-*", str(tmp_path / "ckpt"), schema,
        cfg=CFG, max_files_per_trigger=6,
    )
    q.awaitTermination(300)
    assert table_state(table.read()) == oracle_state
    # restart on the same checkpoint: nothing new, state unchanged
    v = table.manifest()["version"]
    q2 = replay_stream(
        spark, table, f"{path}/seg-*", str(tmp_path / "ckpt"), schema,
        cfg=CFG, max_files_per_trigger=6,
    )
    q2.awaitTermination(300)
    assert table.manifest()["version"] == v
    assert table_state(table.read()) == oracle_state


def test_streaming_replay_from_kafka_envelope(spark, tmp_path, binlog, oracle_state):
    """The full wire path: change events encoded as Kafka-shaped
    (key, value, headers) frames -> streamed -> parse_envelope decode ->
    exactly-once MERGE. Final state must equal the sequential oracle —
    the envelope adds transport, not semantics."""
    from etl_rs_spark.sources import kafka as K

    path, _, _ = binlog
    wire = str(tmp_path / "wire")
    K.to_kafka_frame(
        spark.read.option("mergeSchema", True).parquet(f"{path}/seg-*"), "binlog"
    ).write.parquet(wire)

    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    q = replay_stream(
        spark, table, wire, str(tmp_path / "ckpt"), K.KAFKA_RAW_SCHEMA,
        cfg=CFG, max_files_per_trigger=6,
        transform=lambda df: K.parse_envelope(df).drop("tag"),
    )
    q.awaitTermination(300)
    assert table_state(table.read()) == oracle_state


def test_streaming_kafka_envelope_with_evolution(spark, tmp_path):
    """Three features composed: additive schema evolution (tag appears
    mid-stream) THROUGH the Kafka envelope THROUGH the streaming
    exactly-once path — final state incl. tags must equal the
    sequential oracle. Multi-feature seams are where bugs live."""
    from etl_rs_spark.sources import kafka as K

    spec = BinlogSpec(
        n_events=2000, n_docs=150, n_partitions=4, vocab=VOCAB,
        tokens_max=16, seed=7, evolve_from_lsn=1000,
    )
    df = gen_events(spark, spec)
    wire = str(tmp_path / "wire")
    K.to_kafka_frame(df, "binlog").write.parquet(wire)

    mapping = ColumnMapping.base().evolved(MappedColumn("tag", "tag", "string"))
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    q = replay_stream(
        spark, table, wire, str(tmp_path / "ckpt"), K.KAFKA_RAW_SCHEMA,
        mapping=mapping, cfg=CFG, max_files_per_trigger=5,
        transform=K.parse_envelope,
    )
    q.awaitTermination(300)

    events = [r.asDict() for r in df.collect()]
    want = oracle_replay(events, VOCAB, MAX_LEN)
    assert table_state(table.read(), with_tag=True) == want
    assert any(v["tag"] is not None for v in want.values())  # evolution hit


def test_mor_compaction_interleaved_with_replay(spark, tmp_path, binlog, oracle_state):
    """The operational pattern: background compaction runs BETWEEN
    incremental batches. Deltas appended after a compaction must still
    LWW-resolve against the compacted base; final state == oracle."""
    _, segs, _ = binlog
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    replay_segments(spark, table, segs[:2], cfg=CFG)
    table.compact()
    replay_segments(spark, table, segs[2:], cfg=CFG)
    assert table_state(table.read()) == oracle_state
    # a second compaction folds the post-compaction deltas too
    table.compact()
    assert table_state(table.read()) == oracle_state


def test_mor_auto_compaction_bounds_read_amplification(
    spark, tmp_path, binlog, oracle_state
):
    """The commit-time compaction POLICY (auto_compact_files): driving N
    incremental batches into a policy-on table keeps the read depth (the
    most base files in any bucket plus the deltas) bounded by the
    threshold+1 (one fresh delta can land before the follow-up
    compaction commit folds it), while a policy-off table's depth grows
    with every batch — and the final state is
    identical to the oracle in both. The policy survives reopen (it is
    manifest state, like n_buckets)."""
    _, segs, _ = binlog
    plain = LakehouseTable(spark, str(tmp_path / "plain"), n_buckets=8)
    auto = LakehouseTable(
        spark, str(tmp_path / "auto"), n_buckets=8,
        auto_compact_files=2,
    )
    compactions = 0
    for seg in segs:
        events = spark.read.option("mergeSchema", True).parquet(seg)
        process_batch(plain, events, f"b:{seg}", cfg=CFG)
        r = process_batch(auto, events, f"b:{seg}", cfg=CFG)
        compactions += int(bool(r.get("auto_compacted")))
    plain_max = plain._depth(plain.manifest())
    auto_max = auto._depth(auto.manifest())
    assert plain_max >= len(segs)          # uncompacted: one delta per batch
    assert auto_max <= 2 + 1               # bounded by threshold + one delta
    assert compactions >= 1                # the policy actually fired
    assert table_state(auto.read()) == oracle_state
    assert table_state(plain.read()) == oracle_state
    # reopening reads the policy from the manifest, not the constructor
    reopened = LakehouseTable(spark, str(tmp_path / "auto"), n_buckets=8)
    assert reopened.auto_compact_files == 2


def test_auto_compact_policy_adoptable_on_existing_table(
    spark, tmp_path, binlog, oracle_state
):
    """auto_compact_files is maintenance POLICY, not layout: opening an
    existing policy-off table with an explicit value must adopt it (the
    jobs/replay.py --auto-compact-files flag on a pre-existing --lake
    path) and persist it with the next commit — not silently keep the
    manifest's None."""
    _, segs, _ = binlog
    path = str(tmp_path / "t")
    t0 = LakehouseTable(spark, path, n_buckets=8)
    ev0 = spark.read.option("mergeSchema", True).parquet(segs[0])
    process_batch(t0, ev0, f"a:{segs[0]}", cfg=CFG)
    assert t0.manifest()["auto_compact_files"] is None
    # reopen WITH the policy: adopted in-session and active immediately
    t1 = LakehouseTable(spark, path, n_buckets=8, auto_compact_files=1)
    assert t1.auto_compact_files == 1
    fired = 0
    for seg in segs[1:]:
        events = spark.read.option("mergeSchema", True).parquet(seg)
        fired += int(bool(
            process_batch(t1, events, f"a:{seg}", cfg=CFG).get("auto_compacted")
        ))
    assert fired >= 1
    assert t1._depth(t1.manifest()) <= 2
    assert table_state(t1.read()) == oracle_state
    # the adopted policy is now manifest state: a plain reopen inherits it
    assert LakehouseTable(spark, path).auto_compact_files == 1


def test_corrupt_manifest_errors_name_the_file(spark, tmp_path, binlog):
    """Disk-level corruption of a snapshot manifest or the CURRENT
    pointer must surface as a ValueError naming the broken file (so the
    operator can roll back a version), not a raw JSONDecodeError /
    int() parse error."""
    _, segs, _ = binlog
    path = str(tmp_path / "t")
    t = LakehouseTable(spark, path, n_buckets=4)
    process_batch(t, spark.read.option("mergeSchema", True).parquet(segs[0]),
                  "b0", cfg=CFG)
    man_path = str(tmp_path / "t" / "_snapshots" / "v1.json")
    with open(man_path, "w") as f:
        f.write('{"version": 1, "buckets"')  # truncated JSON
    with pytest.raises(ValueError, match="corrupt manifest .*v1.json"):
        t.manifest()
    with open(str(tmp_path / "t" / "_snapshots" / "CURRENT"), "w") as f:
        f.write("not-a-number")
    with pytest.raises(ValueError, match="corrupt CURRENT pointer"):
        t.manifest()


def test_hostile_null_envelopes_commit_and_reconverge(spark, tmp_path):
    """Events with NULLs in every malformed-payload slot (op, lsn,
    doc_id, tokens, n_tok, partition, offset) must not kill the batch:
    the offsets lineage job skips NULL partitions (int(None) used to
    crash the COMMIT after the data write), invalid rows drop, and
    replaying the same batch under a new key reconverges exactly."""
    rows = [
        ("insert", 1, 0, 0, 100, "d1", [1, 2], 2, "s"),
        (None, 2, 0, 1, 100, "d1", [3], 1, "s"),
        ("update", None, 0, 2, 100, "d2", [4], 1, "s"),
        ("insert", 3, 0, 3, 100, None, [5], 1, "s"),
        ("insert", 4, 0, 4, 100, "d3", None, 0, "s"),
        ("delete", 5, 0, 5, 100, "d1", None, None, "s"),
        ("insert", 6, None, None, 100, "d4", [7, 8], 2, "s"),
    ]
    df = spark.createDataFrame(
        rows,
        "op string, lsn long, partition int, offset long, ts long, "
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    t = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=4)
    cfg = ReplayConfig(vocab=50257, max_len=16)
    process_batch(t, df, "hostile", cfg=cfg)

    def snap():
        return {
            r["doc_id"]: tuple(r["tokens"]) if r["tokens"] is not None else None
            for r in t.read().collect()
        }

    s1 = snap()
    # d1 deleted at lsn 5; d2 survives its null-lsn event; d3's null
    # tokens are invalid (dropped); d4's null-partition insert lands
    assert s1["d2"] == (4,) and s1["d4"] == (7, 8)
    assert "d1" not in s1 and "d3" not in s1
    # null-partition rows advance no committed offset
    assert t.committed_offsets() == {0: 5}
    process_batch(t, df, "hostile2", cfg=cfg)
    assert snap() == s1


def test_lww_flavors_agree_on_null_order_columns(spark):
    """A key whose winning (lsn, offset) contains NULLs (a source that
    doesn't stamp lsn) must not vanish: max_by orders NULL below every
    value, so all-null, mixed and no-null keys each keep one winner."""
    rows = [
        # duplicate deliveries share the payload (the binlog invariant) —
        # a tie on (NULL, NULL) must fold to one row, not pick between
        # divergent payloads
        ("all_null", None, None, [1]),
        ("all_null", None, None, [1]),
        ("mixed", None, 5, [3]),
        ("mixed", 7, 1, [4]),
        ("null_offset", 3, None, [5]),
        ("null_offset", 3, 2, [6]),
        ("plain", 1, 1, [7]),
        ("plain", 2, 0, [8]),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, lsn long, offset long, tokens array<int>"
    )
    def state(out):
        return {
            r["doc_id"]: (r["lsn"], r["offset"], tuple(r["tokens"]))
            for r in out.collect()
        }
    assert state(lww_agg(df)) == {
        "all_null": (None, None, (1,)),
        "mixed": (7, 1, (4,)),
        "null_offset": (3, 2, (6,)),
        "plain": (2, 0, (8,)),
    }


def test_bulk_replay_matches_oracle(spark, tmp_path, binlog, oracle_state):
    """One bulk batch into an empty table must land the same final state
    as segmented replay — it is the bench headline path, so its
    correctness is pinned against the oracle directly."""
    path, _, _ = binlog
    events = spark.read.option("mergeSchema", True).parquet(f"{path}/seg-*")
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    r = process_batch(table, events, "bulk", cfg=CFG)
    assert not r["skipped"]
    assert table_state(table.read()) == oracle_state


def test_streaming_replay_split_segments(spark, tmp_path, binlog, oracle_state):
    """REGRESSION: a file stream can split one lsn segment across
    micro-batches (trigger boundaries fall mid-segment). The
    committed-offset filter would then drop later files of an already
    partially-merged offset range — found as a 31k-row divergence at
    4M events. replay_stream must disable the filter and still
    reconverge to the oracle state."""
    path, _, events = binlog
    # re-write segments with several files each so maxFilesPerTrigger=3
    # is guaranteed to split segments across triggers
    df = spark.read.option("mergeSchema", True).parquet(f"{path}/seg-*")
    seg_root = str(tmp_path / "splitsegs")
    write_segments(df.repartition(4), seg_root, n_segments=4, max_lsn=SPEC.n_events)

    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    schema = spark.read.parquet(f"{seg_root}/seg-00000").schema
    q = replay_stream(
        spark, table, f"{seg_root}/seg-*", str(tmp_path / "ckpt"), schema,
        cfg=CFG, max_files_per_trigger=3,
    )
    q.awaitTermination(300)
    assert table_state(table.read()) == oracle_state
    lin = table.manifest()["lineage"]
    assert lin["rows_in"] == len(events)  # nothing silently dropped


def test_mor_replay_matches_oracle_and_compacts(spark, tmp_path, binlog, oracle_state):
    """Append-only deltas + read-time LWW resolve yield the oracle's
    final state; compaction folds deltas without changing the state."""
    _, segs, _ = binlog
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    results = replay_segments(spark, table, segs, cfg=CFG)
    assert all(not r["skipped"] for r in results)
    assert table_state(table.read()) == oracle_state

    man_before = table.manifest()
    n_files_before = len(table._live_files(man_before))
    info = table.compact()
    assert not info["skipped"] and info["compacted_files"] == n_files_before
    # read amplification is the read depth: a delta is one file per
    # write task, the base one file per bucket
    assert table._depth(table.manifest()) < table._depth(man_before)
    assert table_state(table.read()) == oracle_state

    # exactly-once still holds after compaction
    results = replay_segments(spark, table, segs, cfg=CFG)
    assert all(r["skipped"] for r in results)
    assert table_state(table.read()) == oracle_state


def test_mor_merge_is_order_insensitive(spark, tmp_path, binlog, oracle_state):
    """A delete committed in an early batch must beat an older insert
    committed later — read-time LWW orders by (lsn, offset), not batch
    arrival. (process_batch's offset high-water-mark assumes ordered
    segments, so this drives table.merge directly with reversed
    batches.)"""
    _, segs, _ = binlog
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    for i, seg in enumerate(reversed(segs)):
        df = spark.read.parquet(seg)
        norm = normalize_events(df, VOCAB, MAX_LEN).filter("_valid").drop(
            "_valid", "partition", "ts"
        )
        winners = lww_agg(norm, key="doc_id")
        table.merge(winners, f"rev-{i}")
    assert table_state(table.read()) == oracle_state


def test_out_of_order_replay_with_filter_disabled(spark, tmp_path, binlog, oracle_state):
    """Batches replayed in REVERSE order through the full process_batch
    path reconverge to the oracle state once the committed-offset
    filter (which assumes ordered delivery) is disabled: read-time LWW
    over (lsn, offset) is the actual correctness mechanism, the filter
    is an ordered-replay optimization."""
    _, segs, _ = binlog
    cfg = ReplayConfig(vocab=VOCAB, max_len=MAX_LEN, filter_committed_offsets=False)
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    replay_segments(spark, table, list(reversed(segs)), cfg=cfg)
    assert table_state(table.read()) == oracle_state


def test_merge_appends_one_unbucketed_delta(spark, tmp_path, binlog):
    """A merge writes its batch as one delta: one ``deltas`` entry per
    commit, files straight under the commit's data directory (no
    ``_bucket=`` directory anywhere), and the base left untouched."""
    _, segs, _ = binlog
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    for i, seg in enumerate(segs[:2]):
        before = table.manifest()
        process_batch(table, spark.read.parquet(seg), f"b{i}", cfg=CFG)
        man = table.manifest()
        assert man["deltas"][:-1] == before["deltas"] and len(man["deltas"]) == i + 1
        assert man["deltas"][-1] and man["buckets"] == {}
        assert len({os.path.dirname(f) for f in man["deltas"][-1]}) == 1
    assert not [d for d, _, _ in os.walk(tmp_path / "t" / "data") if "_bucket=" in d]


def test_compact_leaves_one_file_per_bucket(spark, tmp_path, binlog, oracle_state, monkeypatch):
    """After compact() the table is a base only: no deltas, and under an
    aligned shuffle conf (8 partitions, 8 buckets) one file per bucket,
    however many files the deltas held. The bucketed write then rides
    the LWW key shuffle: its plan has exactly one Exchange, so aligned
    hosts pay no repartition."""
    _, segs, _ = binlog
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    replay_segments(spark, table, segs, cfg=CFG)
    written, frame = [], type(spark.range(0))
    write = frame.write
    monkeypatch.setattr(frame, "write", property(lambda df: written.append(df) or write.fget(df)))
    table.compact()
    monkeypatch.undo()
    [compaction] = written
    plan = compaction._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange ", plan)) == 1, plan
    man = table.manifest()
    assert man["deltas"] == [] and len(man["buckets"]) == 8
    assert all(len(fl) == 1 for fl in man["buckets"].values())
    assert table._depth(man) == 1
    assert table_state(table.read()) == oracle_state


def test_legacy_bucket_layout_opens_merges_and_autocompacts(spark, tmp_path, binlog, oracle_state):
    """A manifest written before ``deltas`` existed keeps every file in
    ``buckets``, one file per bucket per merge. It opens with no deltas
    (its files act as the base), merges append deltas, and
    auto-compaction fires on the commit the per-bucket file rule fired
    on: 2 files per bucket, auto_compact_files=3, so the second new
    merge (2 + 2 > 3)."""
    _, segs, _ = binlog
    path = str(tmp_path / "t")
    table = LakehouseTable(spark, path, n_buckets=8)
    for i, seg in enumerate(segs[:2]):
        # the old merge: the LWW winners as one bucket-partitioned write
        norm = normalize_events(spark.read.parquet(seg), VOCAB, MAX_LEN).filter("_valid")
        chg = lww_agg(norm.drop("_valid", "partition", "ts"), key="doc_id").selectExpr(
            "doc_id", "tokens", "n_tok", "source", "CAST(lsn AS BIGINT) AS _lsn",
            "CAST(`offset` AS BIGINT) AS _offset", "op = 'delete' AS _deleted",
        )
        man = table.manifest()
        added = table._write_buckets(chg, man["version"] + 1)
        man["version"] += 1
        for b, fl in added.items():
            man["buckets"][b] = man["buckets"].get(b, []) + fl
        man["payload_schema"] = [list(t) for t in chg.dtypes[1:4]]
        man["committed"].append(f"legacy{i}")
        del man["deltas"]
        table._write_manifest(man, man["version"])
    with open(os.path.join(path, "_snapshots", "v2.json")) as f:
        assert "deltas" not in json.load(f)

    table = LakehouseTable(spark, path, auto_compact_files=3)
    man = table.manifest()
    assert man["deltas"] == [] and len(man["buckets"]) == 8
    assert min(len(fl) for fl in man["buckets"].values()) >= 2
    r2 = process_batch(table, spark.read.parquet(segs[2]), "b2", cfg=CFG)
    assert not r2.get("auto_compacted") and len(table.manifest()["deltas"]) == 1
    r3 = process_batch(table, spark.read.parquet(segs[3]), "b3", cfg=CFG)
    assert r3.get("auto_compacted") is True
    assert table.manifest()["deltas"] == []
    assert table_state(table.read()) == oracle_state


def test_mor_schema_evolution_in_delta(spark, tmp_path):
    """A new payload column arriving in a LATER MOR delta must widen the
    table additively: older base/delta files read back null-filled, and
    read-time LWW resolves across the mixed schemas."""
    spec = BinlogSpec(
        n_events=800, n_docs=60, n_partitions=4, vocab=VOCAB,
        tokens_max=10, evolve_from_lsn=401, seed=13,
    )
    df = gen_events(spark, spec)
    path = str(tmp_path / "binlog")
    segs = write_segments(df, path, n_segments=2, max_lsn=spec.n_events,
                          drop_tag_before_evolve=spec.evolve_from_lsn)
    assert "tag" not in spark.read.parquet(segs[0]).columns

    mapping = ColumnMapping.base().evolved(MappedColumn("tag", "tag", "string"))
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    replay_segments(spark, table, segs, mapping=mapping, cfg=CFG)

    events = [r.asDict() for r in df.collect()]
    for e in events:
        if e["lsn"] < spec.evolve_from_lsn:
            e["tag"] = None
    want = oracle_replay(events, VOCAB, MAX_LEN)
    assert table_state(table.read(), with_tag=True) == want
    assert ["tag", "string"] in table.manifest()["payload_schema"]

    # compaction folds mixed-schema deltas without losing the new column
    table.compact()
    assert table_state(table.read(), with_tag=True) == want


def test_lakehouse_refuses_foreign_bucket_hash(spark, tmp_path):
    """A table bucketed under a different hash family must refuse to
    open: merging into it would compute touched buckets in the wrong
    bucket space and silently never LWW-resolve existing keys."""
    path = str(tmp_path / "lake")
    t = LakehouseTable(spark, path, n_buckets=4)
    man = t.manifest()
    man["bucket_hash"] = "xxhash64-pmod"
    man["version"] += 1
    t._write_manifest(man, man["version"])
    with pytest.raises(ValueError, match="bucket"):
        LakehouseTable(spark, path)


@pytest.mark.parametrize("partitions", [7, 16])
def test_merge_correct_under_misaligned_shuffle_conf(
    spark, tmp_path, binlog, oracle_state, partitions
):
    """With n_buckets not a multiple of the shuffle partition count, a
    bucket spans several reducers of the LWW key shuffle (at 7 every
    reducer holds rows of every bucket; at 16 each of the 4 buckets
    spans 4 reducers), so compaction repartitions on _bucket before the
    bucketed base write: one file per bucket and a read depth of 1, and
    with auto_compact_files=3 the next two merges do not compact. The
    merges and the final state are unchanged. AQE coalescing is off: on
    this small input it would merge the reducers into one and hide a
    missing repartition."""
    path, segs, _ = binlog
    confs = {"spark.sql.shuffle.partitions": str(partitions),
             "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    # re-deliveries past the committed offsets: real rows, same state
    again = ReplayConfig(vocab=VOCAB, max_len=MAX_LEN, filter_committed_offsets=False)
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=4, auto_compact_files=3)
        replay_segments(spark, table, segs, cfg=CFG)
        table.compact()
        man = table.manifest()
        after = [process_batch(table, spark.read.parquet(segs[i]), f"again{i}", cfg=again)
                 for i in range(2)]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert man["deltas"] == [] and len(man["buckets"]) == 4
    for b, files in man["buckets"].items():
        assert len(files) == 1, (b, files)
    assert table._depth(man) == 1
    assert [r.get("auto_compacted") for r in after] == [None, None]
    assert table._depth(table.manifest()) == 3
    assert table_state(table.read()) == oracle_state


def test_empty_batch_commits_no_delta(spark, tmp_path, binlog, oracle_state):
    """A batch that writes no rows (here a re-delivered segment whose
    events are all at or below the committed offsets) commits its key
    and history entry but adds no delta and no data file, so it
    neither deepens reads nor brings auto-compaction forward."""
    _, segs, _ = binlog
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    replay_segments(spark, table, segs, cfg=CFG)
    before = table.manifest()
    data_dirs = sorted(os.listdir(tmp_path / "t" / "data"))
    r = process_batch(table, spark.read.parquet(segs[0]), "redelivered", cfg=CFG)
    man = table.manifest()
    assert not r["skipped"] and man["version"] == before["version"] + 1
    assert "redelivered" in man["committed"] and man["history"][-1]["batch"] == "redelivered"
    assert man["deltas"] == before["deltas"] and man["buckets"] == before["buckets"]
    assert table._depth(man) == table._depth(before)
    assert sorted(os.listdir(tmp_path / "t" / "data")) == data_dirs
    assert table_state(table.read()) == oracle_state


def test_time_travel_reads_historical_snapshots(spark, tmp_path, binlog, oracle_state):
    """Every committed version's manifest + immutable data files stay
    readable: read(version=k) returns exactly the state after batch k."""
    path, segs, events = binlog
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=4)
    replay_segments(spark, table, segs, cfg=CFG)
    assert table.manifest()["version"] == len(segs)

    # state after the FIRST segment only = oracle over its events
    # (segments split the lsn range evenly: segment 0 = lsn <= n/4)
    first_events = [e for e in events if e["lsn"] <= SPEC.n_events // 4]
    want_v1 = oracle_replay(first_events, VOCAB, MAX_LEN)
    assert table_state(table.read(version=1)) == want_v1
    assert table_state(table.read()) == oracle_state
    with pytest.raises(ValueError):
        table.read(version=99)


def test_vacuum_tombstones_drops_only_expired(spark, tmp_path, binlog, oracle_state):
    """vacuum_tombstones removes delete tombstones below the retention
    lsn without changing the live state; the pre-vacuum snapshot stays
    time-travelable."""
    path, segs, _ = binlog
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=4)
    replay_segments(spark, table, segs, cfg=CFG)
    pre_version = table.manifest()["version"]
    meta = table.read(include_meta=True, version=pre_version)
    # tombstones exist in the resolved state (read() filters them; scan
    # the raw files to count them)
    n_tomb = table._resolved(table.manifest()).filter("_deleted").count()
    assert n_tomb > 0

    r = table.vacuum_tombstones(min_lsn=SPEC.n_events + 1)
    man2 = table.manifest()
    raw2 = table._read_files(man2, table._live_files(man2))
    assert raw2.filter("_deleted").count() == 0          # all expired
    assert table_state(table.read()) == oracle_state     # live rows intact
    assert table_state(table.read(version=pre_version)) == oracle_state  # time travel
    assert r["version"] == pre_version + 1


def test_reopen_adopts_manifest_layout(spark, tmp_path, binlog, oracle_state):
    """The manifest is authoritative on open: reopening a 4-bucket
    table with n_buckets=32 must NOT merge in a different bucket space
    (which would leave old rows unresolved = silent duplicates). A table
    whose manifest records the removed copy-on-write mode (one row per
    key per bucket: a compacted layout) opens and merges as
    merge-on-read; asking for copy-on-write is refused."""
    path, segs, _ = binlog
    t1 = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=4)
    replay_segments(spark, t1, segs[:2], cfg=CFG)
    t1.compact()
    man = t1.manifest()
    man["mode"] = "cow"
    man["version"] += 1
    t1._write_manifest(man, man["version"])
    with pytest.raises(ValueError, match="copy-on-write was removed"):
        LakehouseTable(spark, str(tmp_path / "t"), mode="cow")
    t2 = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=32, key_col="wrong")
    assert t2.n_buckets == 4 and t2.key_col == "doc_id"
    replay_segments(spark, t2, segs[2:], cfg=CFG)
    assert table_state(t2.read()) == oracle_state
    # no duplicate keys survived the reopen
    dup = t2.read().groupBy("doc_id").count().filter("count > 1").count()
    assert dup == 0


def test_merge_rejects_type_changing_evolution(spark, tmp_path):
    """A known payload column arriving with a different type is refused
    before anything is written — mixed-type files would poison every
    later mergeSchema read after the batch is already durable."""
    t = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=2)
    base = spark.createDataFrame(
        [("d1", "insert", 1, 1, 5)], "doc_id string, op string, lsn long, offset long, x int"
    )
    t.merge(base, "b1")
    bad = spark.createDataFrame(
        [("d2", "insert", 2, 2, "five")], "doc_id string, op string, lsn long, offset long, x string"
    )
    with pytest.raises(ValueError, match="additive evolution"):
        t.merge(bad, "b2")
    assert not t.is_committed("b2")  # nothing durable from the bad batch
    assert [r["x"] for r in t.read().collect()] == [5]


def test_segment_keys_distinct_across_roots(spark, tmp_path):
    """Segments from DIFFERENT binlog roots share basenames
    (seg-00000..); the batch key must still distinguish them, or the
    second binlog is silently skipped as already-committed."""
    spec_a = BinlogSpec(n_events=300, n_docs=40, n_partitions=2, vocab=VOCAB, seed=1)
    spec_b = BinlogSpec(n_events=300, n_docs=40, n_partitions=2, vocab=VOCAB, seed=2)
    segs_a = write_segments(gen_events(spark, spec_a), str(tmp_path / "a"), 2, 300)
    segs_b = write_segments(gen_events(spark, spec_b), str(tmp_path / "b"), 2, 300)
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=2)
    ra = replay_segments(spark, table, segs_a, cfg=CFG)
    rb = replay_segments(spark, table, segs_b, cfg=CFG)
    assert all(not r["skipped"] for r in ra + rb)  # b NOT mistaken for a
    # key format '{prefix}:{basename}:{md5(abspath)[:8]}' is persisted:
    # a changed format re-merges every in-flight batch on resume
    tag = hashlib.md5(os.path.abspath(segs_a[0]).encode()).hexdigest()[:8]
    assert f"batch:seg-00000:{tag}" in table.manifest()["committed"]
    # replaying the same root again IS skipped (exactly-once resume)
    again = replay_segments(spark, table, segs_a, cfg=CFG)
    assert all(r["skipped"] for r in again)


def test_normalize_handles_null_token_elements(spark):
    """Null ELEMENTS inside a tokens array are dropped by the filter,
    and _valid is a real boolean (never NULL)."""
    df = spark.createDataFrame(
        [
            ("insert", 1, 0, 1, [None, 5], 2),
            ("insert", 2, 0, 2, None, None),
            ("delete", 3, 0, 3, None, None),
        ],
        "op string, lsn long, partition int, offset long, tokens array<int>, n_tok int",
    )
    rows = {r["lsn"]: r for r in normalize_events(df, VOCAB, MAX_LEN).collect()}
    assert list(rows[1]["tokens"]) == [5] and rows[1]["_valid"] is True
    assert rows[2]["_valid"] is False        # plain False, not NULL
    assert rows[3]["_valid"] is True


def test_streaming_batch_keys_distinct_across_checkpoints(spark, tmp_path, binlog, oracle_state):
    """Two DIFFERENT streams (own checkpoints) into the SAME table must
    not collide on foreachBatch batch ids: the second stream restarts
    at batch 0, and a bare 'replay:0' key would be skipped as already
    committed — its data silently lost while the file source marks the
    files consumed. Keys fold in a checkpoint digest."""
    path, segs, _ = binlog
    table = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    schema = spark.read.parquet(segs[0]).schema
    # stream A: first half of the segments
    q = replay_stream(
        spark, table, f"{path}/seg-0000[01]", str(tmp_path / "ckptA"), schema,
        cfg=CFG, max_files_per_trigger=6,
    )
    q.awaitTermination(300)
    partial = table_state(table.read())
    # key format '{stream}:{md5(abspath(ckpt))[:8]}:{batch_id}' is persisted
    ckpt_tag = hashlib.md5(os.path.abspath(tmp_path / "ckptA").encode()).hexdigest()[:8]
    assert f"replay:{ckpt_tag}:0" in table.manifest()["committed"]
    # stream B: the rest, NEW checkpoint, same table — batch ids restart
    q2 = replay_stream(
        spark, table, f"{path}/seg-0000[23]", str(tmp_path / "ckptB"), schema,
        cfg=CFG, max_files_per_trigger=6,
    )
    q2.awaitTermination(300)
    assert partial != oracle_state  # stream A alone was incomplete
    assert table_state(table.read()) == oracle_state


def test_crashed_commit_heals_instead_of_wedging(spark, tmp_path, binlog, oracle_state):
    """A writer crashing BETWEEN linking v{N}.json and swapping CURRENT
    used to wedge the table forever (every later commit recomputes N,
    collides, and raises). CURRENT is now a hint: manifest() scans
    forward to the crashed commit and the next merge builds on it."""
    import os as _os

    path, segs, _ = binlog
    t = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=8)
    process_batch(t, spark.read.parquet(segs[0]), "b0", cfg=CFG)
    process_batch(t, spark.read.parquet(segs[1]), "b1", cfg=CFG)
    snap_dir = str(tmp_path / "t" / "_snapshots")
    # simulate the crash: v3 manifest fully linked (a real crashed
    # commit records its own version), CURRENT still at 2
    import json as _json

    with open(_os.path.join(snap_dir, "v2.json")) as f:
        crashed = _json.load(f)
    crashed["version"] = 3
    crashed["committed"] = crashed["committed"] + ["crashed-writer"]
    with open(_os.path.join(snap_dir, "v3.json"), "w") as f:
        _json.dump(crashed, f)
    with open(_os.path.join(snap_dir, "CURRENT")) as f:
        assert f.read().strip() == "2"
    # next merges must build on v3 (committing v4+), not wedge
    process_batch(t, spark.read.parquet(segs[2]), "b2", cfg=CFG)
    process_batch(t, spark.read.parquet(segs[3]), "b3", cfg=CFG)
    assert table_state(t.read()) == oracle_state
    assert t.manifest()["version"] >= 4


def test_null_key_rows_match_oracle(spark, tmp_path):
    """NULL-key events LWW-resolve like any other key: two batches each
    carrying a NULL-doc_id insert leave one NULL-key row, the latest, as
    in the sequential oracle."""
    cols = ["op", "lsn", "partition", "offset", "ts", "doc_id", "tokens", "n_tok", "source"]
    batches = [
        [("insert", 1, 0, 0, 100, "d1", [1], 1, "s"),
         ("insert", 2, 0, 1, 100, None, [9, 9], 2, "s")],
        [("insert", 3, 0, 2, 100, None, [7], 1, "s")],
    ]
    cfg = ReplayConfig(vocab=50257, max_len=16)
    t = LakehouseTable(spark, str(tmp_path / "t"), n_buckets=4)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            rows,
            "op string, lsn long, partition int, offset long, ts long, "
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
        process_batch(t, df, f"b{i}", cfg=cfg)
    events = [dict(zip(cols, r)) for rows in batches for r in rows]
    want = oracle_replay(events, cfg.vocab, cfg.max_len)
    assert want[None]["tokens"] == (7,)
    assert table_state(t.read()) == want


def test_auto_compact_failure_does_not_fail_the_durable_merge(
    spark, tmp_path, binlog, monkeypatch
):
    """The merge is durable BEFORE auto-compaction runs; a maintenance
    failure must be reported in the result, not raised as if the
    committed batch failed (it would kill a streaming query)."""
    path, segs, _ = binlog
    t = LakehouseTable(
        spark, str(tmp_path / "t"), n_buckets=8, auto_compact_files=1
    )

    def boom():
        raise RuntimeError("simulated maintenance failure")

    monkeypatch.setattr(t, "compact", boom)
    process_batch(t, spark.read.parquet(segs[0]), "b0", cfg=CFG)
    r = process_batch(t, spark.read.parquet(segs[1]), "b1", cfg=CFG)
    assert r["skipped"] is False
    assert r.get("auto_compacted") is False
    assert "simulated maintenance failure" in r.get("auto_compact_error", "")
    # the merge itself is committed and readable
    assert t.is_committed("b1") and t.read().count() > 0
