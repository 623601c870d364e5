"""Physical-plan quality gates — the 100 TB properties must be visible
in `explain`, not just hoped for:

- filters reach the parquet scan (PushedFilters) and projection prunes
  the read schema;
- dimension joins broadcast (no shuffle of the fact side);
- LWW aggregates map-side (partial_max_by) before the shuffle — the
  skew story;
- metadata-only media queries never read the binary payload column.

These are regression tests: a refactor that silently turns a broadcast
join into a sort-merge join or breaks pushdown fails here, not in a
cluster bill.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from etl_rs_spark.operators import dedup_scale as ds
from etl_rs_spark.operators import multimodal as mm
from etl_rs_spark.operators import similarity as sim

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q01_pushdown_and_pruning(spark):
    p = plan_of(entry.q01_pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in p
    # projection pruned: the scan must not read unused lineitem columns
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_quantity" in read


def test_q03_broadcasts_dimensions(spark):
    p = plan_of(entry.q03_nation_rollup(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_q04_anti_join_broadcasts(spark):
    p = plan_of(entry.q04_customers_no_urgent(spark, SF))
    assert "LeftAnti" in p
    assert "BroadcastHashJoin LeftAnti" in p or "BroadcastHashJoin" in p


def test_lww_partial_aggregation(spark):
    """lww_agg must plan a map-side partial_max_by: each input partition
    pre-combines to one candidate per key before shuffling — this is
    what makes a hot doc_id a non-event (SURVEY.md §4.3)."""
    p = plan_of(entry.q10_cdc_lww(spark, SF))
    assert "partial_max_by" in p


def test_q07_pair_join_is_hash_not_nested_loop(spark):
    """The reference's cross join re-planned as an equi join must never
    fall back to BroadcastNestedLoopJoin (transform_hdd_deduplication.rs
    :24-66 -> SURVEY.md §2.3 J1)."""
    p = plan_of(entry.q07_order_pairs(spark, SF))
    assert "NestedLoop" not in p
    assert "Join" in p


def test_ngram_pair_search_is_one_pass_without_join(spark):
    """q21's n-gram pair search evaluates its shingle expression once
    and joins nothing: postings group by (block, shingle) and the
    in-list pairs aggregate, so no second copy of scan -> shingles ->
    exchange feeds a build side."""
    df = entry.q21_ngram_jaccard_pairs(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("zip_with(zip_with(") == 1
    assert "Join" not in p


def test_media_metadata_prunes_binary(spark):
    media = mm.synth_media(spark, 50)
    media.write.mode("overwrite").parquet("/tmp/_plan_media_pq")
    df = spark.read.parquet("/tmp/_plan_media_pq")
    q = mm.filter_media_metadata(df, mimes=("image/png",), min_pixels=64).select(
        "media_id", "mime"
    )
    p = plan_of(q)
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "payload" not in read


def test_no_single_partition_exchange_in_contract_queries(spark):
    """No contract query may funnel through a single-reducer stage
    (Exchange SinglePartition) — the failure mode of a global
    rank/sort like the old vocab build. Cartesian products are banned
    outright; the only NestedLoop allowed is q22's deliberate
    broadcast brute-force scorer (tiny query side x corpus — the
    exact-rank verifier for the ANN paths)."""
    skip = {
        # non-parquet inputs (synth/k-means fit at plan time); their
        # plan properties are covered by their own operator tests
        "q24_multimodal_features", "q25_cdc_replay_state", "q33_ivf_topk",
    }
    for name, fn in entry.queries().items():
        if name in skip:
            continue
        p = plan_of(fn(spark, SF))
        assert "Exchange SinglePartition" not in p, f"{name} has a single-reducer stage"
        assert "CartesianProduct" not in p, f"{name} has a cartesian product"
        if name != "q22_cosine_topk":
            assert "NestedLoop" not in p, f"{name} has a nested-loop join"


def test_whole_stage_codegen_on_transforms(spark):
    """The expression-flavor transforms stay inside WholeStageCodegen
    (no Python eval nodes in the plan)."""
    p = plan_of(entry.q13_transform_nom(spark, SF))
    assert "codegen id" in p  # formatted-mode codegen marker
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_cdc_plan_building_is_few_jvm_calls(spark, jvm_calls):
    """Building (not running) valid_flag -> lww_agg -> normalize_events
    costs few py4j round trips: the operators are SQL strings, one call
    each, instead of Column chains that cost a call (plus PySpark's
    call-site capture) per operator. On PySpark 4.1 the Column-chain
    build made 596 ``send_command`` calls and the SQL-string build makes
    46; the bound is a quarter of the former. Counts, not timings."""
    from etl_rs_spark.operators.lww import lww_agg
    from etl_rs_spark.operators.normalize_cdc import normalize_events, valid_flag

    df = spark.createDataFrame(
        [("d1", "insert", 1, 0, [1, 2])],
        "doc_id string, op string, lsn long, offset long, tokens array<int>",
    )

    def build():
        return normalize_events(lww_agg(valid_flag(df, vocab=100)), vocab=100, max_len=8)

    build()  # warm the session's lazily created JVM helpers
    with jvm_calls() as calls:
        build()
    assert 0 < len(calls) <= 596 // 4, len(calls)


def _small_corpus(spark):
    """60 random 30-word docs over 300 words, one exact copy and three
    one-word near-copies (3-shingle Jaccard 27/29), and two probes, one
    sharing a 5-word run with doc 5."""
    rng = random.Random(5)
    texts = [" ".join(f"w{rng.randrange(300)}" for _ in range(30)) for _ in range(60)]
    texts.append(texts[3])
    texts += [texts[i].rsplit(" ", 1)[0] + " dup" for i in (3, 10, 11)]
    docs = spark.createDataFrame(
        [(i, t, "en", f"src{i % 3}") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string",
    )
    probes = spark.createDataFrame(
        [(0, " ".join(texts[5].split()[:5])), (1, "unrelated probe words")],
        "doc_id long, text string",
    )
    return docs, probes


def test_corpus_plan_building_is_few_jvm_calls(spark, jvm_calls):
    """``prep_corpus`` builds every stage from SQL strings. On this
    corpus one call, eager jobs included (the word-id checkpoint and
    connected components' rounds), made 4,257 calling-thread py4j calls
    when its stages were Column chains with Python lambdas (PySpark
    4.1); the bound is a quarter of that."""
    from jobs.corpus_prep import prep_corpus

    docs, probes = _small_corpus(spark)
    weights = {"src0": 2.0, "src1": 0.5}
    stages = {}
    prep_corpus(docs, probes, weights, max_len=64, shards=4, on_stage=stages.__setitem__)
    n = {k: stages[k].count() for k in ("input", "exact_dedup", "near_dedup", "decontaminate")}
    assert n == {"input": 64, "exact_dedup": 63, "near_dedup": 60, "decontaminate": 59}
    with jvm_calls() as calls:
        prep_corpus(docs, probes, weights, max_len=64, shards=4)
    assert 0 < len(calls) <= 4257 // 4, len(calls)


def test_near_dup_plan_building_is_few_jvm_calls(spark, jvm_calls):
    """Building (not running) the three banded-LSH pair searches costs
    few py4j round trips: their hashes are SQL text, a few calls per
    DataFrame operation, where a Column chain with Python lambdas costs
    one per function and per lambda. On this input with PySpark 4.1 the
    Column-lambda builds made 2,581 (``minhash_lsh_pairs``), 2,843
    (``simhash_pairs``, 16 bits) and 10,958 (``embedding_near_dup_pairs``,
    13 bands of 3 planes) calling-thread calls; each bound is a tenth of
    its count. Counts, not timings."""
    wi = entry._doc_word_ids(spark, SF)
    qz = entry._quantized(spark, SF)
    builds = {
        "minhash": (lambda: ds.minhash_lsh_pairs(wi, jaccard_threshold=0.6), 2581),
        "simhash": (lambda: ds.simhash_pairs(wi, bits=16, max_hamming=2), 2843),
        "embedding": (
            lambda: sim.embedding_near_dup_pairs(
                qz, dim=64, threshold=0.3, n_planes=3, n_bands=13,
                id_col="vec_id", vec_col="qv",
            ),
            10958,
        ),
    }
    for name, (build, column_calls) in builds.items():
        build()  # warm the session's lazily created JVM helpers
        with jvm_calls() as calls:
            build()
        assert 0 < len(calls) <= column_calls // 10, (name, len(calls))


def test_lsh_pairs_verify_once_per_pair(spark):
    """The three banded-LSH pair searches share one candidate stage
    (dedup_scale.lsh_candidates): one equi join on (band, key), then a
    distinct over the pairs. A pair colliding in several bands must be
    verified once, so no verify expression may sit under the distinct.
    The one exception is simhash's Hamming predicate, which Catalyst
    pushes into the (band, key) join condition (one popcount per
    colliding row, pruning the distinct's input); the distance it
    reports is computed once per pair, above the distinct."""
    wi = entry._doc_word_ids(spark, SF)
    qz = entry._quantized(spark, SF)
    cases = {
        "minhash": (ds.minhash_lsh_pairs(wi, jaccard_threshold=0.6), r"array_intersect"),
        "simhash": (ds.simhash_pairs(wi, bits=16, max_hamming=2), r"bit_count"),
        # the cosine's dot product zips two different vector columns
        # (a norm zips one column with itself)
        "embedding": (
            sim.embedding_near_dup_pairs(
                qz, dim=64, threshold=0.3, n_planes=3, n_bands=2,
                id_col="vec_id", vec_col="qv",
            ),
            r"zip_with\((\w+)#(\d+), \1#(?!\2,)\d+",
        ),
    }
    for name, (df, verify) in cases.items():
        lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
        depth = [re.match(r"[ :+\-]*", line).end() for line in lines]
        nodes = [line[d:] for line, d in zip(lines, depth)]
        band_joins = [
            n for n in nodes
            if n.startswith("Join ") and "band#" in n and "key#" in n
        ]
        assert len(band_joins) == 1, (name, band_joins)
        (top,) = [i for i, n in enumerate(nodes) if n.startswith("Aggregate [id_l#")]
        # the distinct is on the leftmost branch: lines before it are
        # its ancestors, lines after it at greater depth its subtree
        assert any(re.search(verify, n) for n in nodes[: top + 1]), name
        below = []
        for d, n in zip(depth[top + 1:], nodes[top + 1:]):
            if d <= depth[top]:
                break
            if re.search(verify, n) and not (name == "simhash" and n.startswith("Join ")):
                below.append(n)
        assert below == [], (name, below)
