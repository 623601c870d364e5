"""End-to-end training-data pipeline composition.

The operators are tested individually elsewhere; this pins that they
COMPOSE — the flow a real pretraining-data user runs:

    exact dedup -> near-dup groups (survivors only) -> benchmark
    decontamination -> source-weighted mixing -> sequence packing

on a crafted corpus with exact duplicates, near-duplicate clusters,
eval-set contamination, and skewed sources — verified against a full
python re-implementation of every stage, final packed token streams
compared bit-for-bit.
"""
from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from etl_rs_spark.operators import dedup_scale as ds
from etl_rs_spark.operators.graph import dedup_survivors
from etl_rs_spark.operators.mixing import mix_sample
from etl_rs_spark.operators.packing import pack_sequences

P = (1 << 31) - 1
B = 1_000_003
MAX_LEN = 16
WEIGHTS = {"hi": 2.0, "lo": 0.5}
SEED = 17

# corpus: (doc_id, text, lang, source). d1==d2 exact dups; d3/d4/d5 a
# near-dup chain in lang en; d6 shares 3-grams with probe p1
# (contaminated); d7 clean; d8/d9 exact dups in source lo.
DOCS = [
    (1, "alpha beta gamma delta epsilon zeta", "en", "hi"),
    (2, "alpha beta gamma delta epsilon zeta", "en", "hi"),   # exact dup of 1
    (3, "one two three four five six seven", "en", "hi"),
    (4, "one two three four five six eight", "en", "hi"),     # near-dup of 3
    (5, "zero two three four five six eight", "en", "hi"),    # near-dup of 4
    (6, "the quick brown fox jumps over dogs", "en", "lo"),   # contaminated
    (7, "completely unrelated clean training text here", "en", "lo"),
    (8, "duplicated low source content words again", "fr", "lo"),
    (9, "duplicated low source content words again", "fr", "lo"),  # dup of 8
    # near-dup of d3's text but in the fr block: lang blocking keeps it
    (10, "one two three four five six nine", "fr", "hi"),
]
PROBES = [
    (100, "x quick brown fox jumps y z", "en", "eval"),
]


def _words(text):
    return [w for w in text.split() if w]


def _w60(w: str) -> int:
    return int(hashlib.md5(w.encode()).hexdigest()[:15], 16)


def _shingles(wids, n=3):
    out = set()
    for i in range(len(wids) - n + 1):
        acc = wids[i] % P
        for j in range(1, n):
            acc = (acc * B + wids[i + j]) % P
        out.add(acc)
    return out


def _py_pipeline():
    """Reference implementation of the whole flow, plain python."""
    # 1. exact dedup: min id per text survives
    by_text = {}
    for i, t, lang, src in DOCS:
        by_text.setdefault(t, []).append(i)
    exact_survivors = {min(ids) for ids in by_text.values()}
    docs = [(i, t, lang, s) for i, t, lang, s in DOCS if i in exact_survivors]

    # 2. near-dup groups at jaccard >= 0.6 within lang blocks
    sh = {i: _shingles([_w60(w) for w in _words(t)]) for i, t, _l, _s in docs}
    edges = []
    for ai in range(len(docs)):
        for bi in range(ai + 1, len(docs)):
            a, b = docs[ai], docs[bi]
            if a[2] != b[2]:
                continue
            inter = len(sh[a[0]] & sh[b[0]])
            union = len(sh[a[0]] | sh[b[0]])
            if union and inter / union >= 0.6:
                edges.append((a[0], b[0]))
    # CC -> survivors = min per component
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    dropped = set()
    seen = set()
    for n0 in adj:
        if n0 in seen:
            continue
        comp, stack = set(), [n0]
        while stack:
            x = stack.pop()
            if x in comp:
                continue
            comp.add(x)
            stack.extend(adj[x] - comp)
        seen |= comp
        dropped |= comp - {min(comp)}
    docs = [d for d in docs if d[0] not in dropped]

    # 3. decontamination vs probe shingles (min_overlap=1, filter)
    probe_sh = set()
    for _i, t, _l, _s in PROBES:
        probe_sh |= _shingles([_w60(w) for w in _words(t)])
    docs = [d for d in docs if not (sh[d[0]] & probe_sh)]

    # 4. mixing by source weight
    mixed = []
    for i, t, _l, src in docs:
        w = WEIGHTS.get(src, 0.0)
        k = int(math.floor(w))
        thr = int((w - k) * (1 << 60))
        for r in range(k + (1 if thr > 0 else 0)):
            if r < k or _w60(f"{i}:{r}:{SEED}") < thr:
                mixed.append((i, r, t))

    # 5. pack (tokens = word hash mod 50257; composite identity
    # (doc_id, replica) ordered lexicographically, shard = doc_id % 2)
    shards = {}
    for i, r, t in sorted(mixed):
        toks = [_w60(w) % 50257 for w in _words(t)]
        if toks:
            shards.setdefault(i % 2, []).append(((i, r), toks))
    out = {}
    for s, dd in shards.items():
        stream = [tok for _mid, toks in dd for tok in toks]
        for c in range((len(stream) + MAX_LEN - 1) // MAX_LEN):
            out[(s, c)] = tuple(stream[c * MAX_LEN : (c + 1) * MAX_LEN])
    return out


def test_full_training_pipeline_composes(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string, lang string, source string")
    probes = spark.createDataFrame(PROBES, "doc_id long, text string, lang string, source string")

    # 1. exact dedup (digest agg keeps min id; semi-join applies it)
    survivors = ds.dedup_digest_stats(df, ["text"]).select("doc_id")
    stage1 = df.join(survivors, "doc_id", "left_semi")

    # 2. near-dup groups -> drop non-survivors
    wi = ds.doc_word_ids_hashed(stage1, extra_cols=("lang",))
    edges = ds.ngram_jaccard_pairs(wi, blocking_col="lang", n=3, threshold=0.6)
    drops = dedup_survivors(edges).filter(~F.col("is_survivor")).select(
        F.col("node").alias("doc_id")
    )
    stage2 = stage1.join(drops, "doc_id", "left_anti")

    # 3. decontaminate (filter mode) vs the probe corpus
    wi2 = ds.doc_word_ids_hashed(stage2, extra_cols=("lang", "source", "text"))
    probe_ids = ds.doc_word_ids_hashed(probes)
    stage3 = ds.decontaminate(wi2, probe_ids, n=3, min_overlap=1, mode="filter")

    # 4. mix by source, 5. pack — replicated docs are distinct packing
    # identities via the composite id (no lossy doc_id*K+replica encode)
    mixed = mix_sample(stage3, WEIGHTS, seed=SEED)
    toks = mixed.select(
        "doc_id",
        "replica",
        F.transform(F.col("word_ids"), lambda w: (w % F.lit(50257)).cast("int")).alias("tokens"),
    )
    packed = pack_sequences(toks, MAX_LEN, id_col=("doc_id", "replica"), n_shards=2)
    got = {
        (r["shard"], r["chunk"]): tuple(r["tokens"]) for r in packed.collect()
    }
    expected = _py_pipeline()
    assert got == expected
    # sanity on the fixture itself: every stage did real work
    assert len(expected) > 0
    ids_after = {r["doc_id"] for r in stage3.select("doc_id").collect()}
    assert 2 not in ids_after and 9 not in ids_after      # exact dups gone
    assert not {4, 5} <= ids_after and 3 in ids_after     # near-dup chain folded
    assert 6 not in ids_after                             # contaminated dropped
    assert 10 in ids_after                                # other-lang near-dup kept


def test_prep_corpus_matches_reference(spark):
    """The shipped composition, ``jobs/corpus_prep.prep_corpus``, packs
    exactly the reference streams, and its final plan reads the
    materialized word ids instead of recomputing exact dedup (no sha2
    digest) at write time."""
    from jobs.corpus_prep import prep_corpus

    schema = "doc_id long, text string, lang string, source string"
    packed = prep_corpus(
        spark.createDataFrame(DOCS, schema), spark.createDataFrame(PROBES, schema),
        WEIGHTS, max_len=MAX_LEN, shards=2, jaccard=0.6, default_weight=0.0,
    )
    got = {(r["shard"], r["chunk"]): tuple(r["tokens"]) for r in packed.collect()}
    assert got == _py_pipeline()
    assert "sha2" not in packed._jdf.queryExecution().executedPlan().toString()


def test_streaming_snapshot_mix_pack_equals_batch(spark, tmp_path):
    """Streaming mix->pack parity (repack-per-snapshot contract).

    Packing is NOT incremental: chunk identity depends on the global
    concatenation order within a shard, so one late change event shifts
    every downstream chunk boundary in its shard — freezing chunks per
    micro-batch would emit windows the next event invalidates. The
    shipped contract is therefore REPACK PER SNAPSHOT: the CDC replay
    maintains the upsert table incrementally (exactly-once), and
    mix->pack runs over any committed snapshot. This pins the equality
    that contract rests on: streaming replay (many micro-batches) and
    bulk batch replay of the same binlog produce identical snapshots,
    hence bit-identical mix->pack output."""
    from etl_rs_spark.sinks.lakehouse import LakehouseTable
    from etl_rs_spark.sources.binlog import BinlogSpec, gen_events, write_segments
    from etl_rs_spark.streaming.replay import (
        ReplayConfig,
        process_batch,
        replay_stream,
    )

    spec = BinlogSpec(
        n_events=1200, n_docs=100, n_partitions=4, vocab=500,
        tokens_max=12, seed=7,
    )
    cfg = ReplayConfig(vocab=500, max_len=32)
    path = str(tmp_path / "binlog")
    df = gen_events(spark, spec)
    write_segments(df, path, n_segments=4, max_lsn=spec.n_events)

    def snapshot_pack(table):
        state = table.read().select("doc_id", "tokens", "source")
        mixed = mix_sample(state, {"web": 2.0, "books": 0.5, "code": 1.0}, seed=SEED)
        packed = pack_sequences(
            mixed, MAX_LEN, id_col=("doc_id", "replica"), n_shards=4,
            shard_expr=F.pmod(F.xxhash64("doc_id"), F.lit(4)),
        )
        return {
            (r["shard"], r["chunk"]): (tuple(r["tokens"]), r["n_tokens"], r["n_docs"])
            for r in packed.collect()
        }

    # batch: the whole binlog as ONE process_batch merge
    t_batch = LakehouseTable(spark, str(tmp_path / "t_batch"), n_buckets=8)
    process_batch(
        t_batch, spark.read.option("mergeSchema", True).parquet(f"{path}/seg-*"),
        "bulk", cfg=cfg,
    )
    # streaming: the same binlog through foreachBatch micro-batches
    t_stream = LakehouseTable(spark, str(tmp_path / "t_stream"), n_buckets=8)
    schema = spark.read.parquet(f"{path}/seg-00000").schema
    q = replay_stream(
        spark, t_stream, f"{path}/seg-*", str(tmp_path / "ckpt"), schema,
        cfg=cfg, max_files_per_trigger=3,
    )
    q.awaitTermination(300)

    got_stream = snapshot_pack(t_stream)
    got_batch = snapshot_pack(t_batch)
    assert got_stream == got_batch
    assert len(got_batch) > 0
