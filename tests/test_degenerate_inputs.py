"""Every pipeline operator must handle an EMPTY corpus gracefully —
empty output (or all-clean marks), never a crash. Real pipelines hit
this constantly: a filter stage that drops everything, a source shard
with no rows, a probe set that is empty. One parametrized sweep so a
future operator change cannot regress the degenerate case silently."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F  # noqa: F401

from etl_rs_spark.operators import dedup_scale as ds
from etl_rs_spark.operators.graph import connected_components, dedup_survivors
from etl_rs_spark.operators.lww import lww_agg
from etl_rs_spark.operators.mixing import mix_sample
from etl_rs_spark.operators.normalize_cdc import normalize_events
from etl_rs_spark.operators.packing import pack_sequences

EVENT_DDL = (
    "op string, lsn long, partition int, offset long, ts long, "
    "doc_id string, tokens array<int>, n_tok int, source string"
)


def _empty(spark, ddl):
    return spark.createDataFrame([], ddl)


CASES = {
    "dedup_digest": lambda s: ds.dedup_digest_stats(
        _empty(s, "doc_id long, text string"), ["text"]),
    "word_ids": lambda s: ds.doc_word_ids_hashed(
        _empty(s, "doc_id long, text string")),
    "minhash_pairs": lambda s: ds.minhash_lsh_pairs(
        _empty(s, "doc_id long, word_ids array<bigint>"), n_hashes=4, bands=2),
    "simhash_pairs": lambda s: ds.simhash_pairs(
        _empty(s, "doc_id long, word_ids array<bigint>"), bits=16, max_hamming=2),
    "ngram_pairs": lambda s: ds.ngram_jaccard_pairs(
        _empty(s, "doc_id long, word_ids array<bigint>, lang string"), "lang"),
    "decontaminate_empty_docs": lambda s: ds.decontaminate(
        _empty(s, "doc_id long, word_ids array<bigint>"),
        s.createDataFrame([(1, [1, 2, 3])], "doc_id long, word_ids array<bigint>")),
    "connected_components": lambda s: connected_components(
        _empty(s, "id_l long, id_r long")),
    "dedup_survivors": lambda s: dedup_survivors(
        _empty(s, "id_l long, id_r long")),
    "mix_sample": lambda s: mix_sample(
        _empty(s, "doc_id long, source string"), {"a": 1.5}),
    "pack_sequences": lambda s: pack_sequences(
        _empty(s, "doc_id long, tokens array<int>"), 16),
    "lww_agg": lambda s: lww_agg(
        _empty(s, "doc_id string, lsn long, offset long, tokens array<int>")),
    "normalize_events": lambda s: normalize_events(_empty(s, EVENT_DDL), 50257, 64),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_empty_corpus_is_empty_output(spark, name):
    assert CASES[name](spark).count() == 0


def test_decontaminate_empty_probes_marks_all_clean(spark):
    """An EMPTY eval set means nothing is contaminated — mark mode keeps
    every doc at n_hits=0, filter mode keeps everything."""
    docs = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [4, 5, 6])], "doc_id long, word_ids array<bigint>"
    )
    probes = spark.createDataFrame([], "doc_id long, word_ids array<bigint>")
    marked = ds.decontaminate(docs, probes).collect()
    assert len(marked) == 2
    assert all(r["n_hits"] == 0 and not r["contaminated"] for r in marked)
    assert ds.decontaminate(docs, probes, mode="filter").count() == 2
