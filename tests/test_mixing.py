"""Data mixing (operators/mixing.py) — deterministic source-weighted
up/down-sampling. Exactness bar: bit-equality with a driver-side python
oracle (same md5 formula, same integer thresholds), plus the plan
property that makes it free at scale: zero exchanges.
"""
from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from etl_rs_spark.operators.mixing import mix_sample

WEIGHTS = {"a": 3.0, "b": 0.5, "c": 1.25, "d": 0.0}


def _h60(key: str) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)


def _py_mix(docs, weights, seed=17, default=0.0):
    out = set()
    for i, s in docs:
        w = weights.get(s, default)
        k = int(math.floor(w))
        thr = int((w - k) * (1 << 60))
        for r in range(k + (1 if thr > 0 else 0)):
            if r < k or _h60(f"{i}:{r}:{seed}") < thr:
                out.add((i, r))
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    docs = [(i, "abcde"[i % 5]) for i in range(500)]
    return docs, spark.createDataFrame(docs, "doc_id long, source string")


def _spark_mix(df, weights, **kw):
    return {
        (r["doc_id"], r["replica"])
        for r in mix_sample(df, weights, **kw).collect()
    }


def test_mix_matches_python_oracle_exactly(corpus):
    docs, df = corpus
    assert _spark_mix(df, WEIGHTS) == _py_mix(docs, WEIGHTS)
    # default_weight keeps sources missing from the dict ('e' here)
    assert _spark_mix(df, WEIGHTS, default_weight=1.0) == _py_mix(
        docs, WEIGHTS, default=1.0
    )


def test_mix_shares_and_determinism(corpus):
    docs, df = corpus
    got = _spark_mix(df, WEIGHTS)
    per_src = {}
    for i, r in got:
        s = "abcde"[i % 5]
        per_src[s] = per_src.get(s, 0) + 1
    assert per_src["a"] == 300  # exactly 3 copies of 100 docs
    assert "d" not in per_src and "e" not in per_src  # dropped
    assert 25 <= per_src["b"] <= 75  # ~0.5 of 100
    assert 105 <= per_src["c"] <= 145  # ~1.25 of 100
    # reruns and repartitioning change nothing
    assert _spark_mix(df.repartition(11), WEIGHTS) == got
    # a new seed redraws fractional picks but never integer copies
    got2 = _spark_mix(df, WEIGHTS, seed=99)
    a = {(i, r) for i, r in got if i % 5 == 0}
    assert a == {(i, r) for i, r in got2 if i % 5 == 0}
    assert got2 == _py_mix(docs, WEIGHTS, seed=99)


def test_mix_replica_identity_feeds_packing(corpus):
    """Replicated docs are distinct identities downstream: (id, replica)
    is unique and replicas of one doc can land in different windows."""
    _docs, df = corpus
    out = mix_sample(df, {"a": 2.0})
    n = out.count()
    assert n == out.select("doc_id", "replica").distinct().count() == 200
    assert {r["replica"] for r in out.select("replica").distinct().collect()} == {0, 1}


def test_mix_rejects_bad_weights(corpus):
    _docs, df = corpus
    with pytest.raises(ValueError, match="weight"):
        mix_sample(df, {"a": -0.1})
    with pytest.raises(ValueError, match="weight"):
        mix_sample(df, {"a": float("inf")})
    with pytest.raises(ValueError, match="default_weight"):
        mix_sample(df, {"a": 1.0}, default_weight=-1)
    # absurd replication factors fail eagerly, not as an executor OOM
    with pytest.raises(ValueError, match="weight"):
        mix_sample(df, {"a": 1e12})


def test_mix_null_id_matches_sql_null_semantics(spark):
    """A NULL id must behave like the SQL oracle's `||` concatenation:
    integer copies survive (replica < k needs no hash), fractional
    draws never win (NULL comparison). concat_ws would instead skip the
    NULL and give every NULL-id row one shared real draw."""
    df = spark.createDataFrame(
        [(None, "a"), (7, "a")], "doc_id long, source string"
    )
    got = {
        (r["doc_id"], r["replica"])
        for r in mix_sample(df, {"a": 2.9}).collect()
    }
    # both rows keep replicas 0,1; only the non-null id may win replica 2
    assert {(None, 0), (None, 1), (7, 0), (7, 1)} <= got
    assert (None, 2) not in got


def test_mix_source_names_with_quotes_and_backslashes(spark):
    """Source names enter the plan as escaped SQL literals: a name with
    a quote, an escaped-quote look-alike and a trailing backslash
    selects exactly its own rows, like any other name."""
    odd = "it's \\' a \\"
    docs = [(i, [odd, "plain", "it's"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(docs, "doc_id long, source string")
    weights = {odd: 1.5, "plain": 0.0, "it's": 2.0}
    assert _spark_mix(df, weights) == _py_mix(docs, weights)


def test_mix_plans_zero_exchanges(corpus):
    """Mixing is a narrow projection: no shuffle, no broadcast — the
    weight map folds into the plan as literals and the hash filter runs
    at the scan."""
    _docs, df = corpus
    plan = (
        mix_sample(df, WEIGHTS)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_stratified_split_matches_python(spark):
    """Split assignment == the python replay of the cumulative integer
    thresholds; fractions land near the targets; a row's split is
    INDEPENDENT of what other rows exist (the leak-free property)."""
    from etl_rs_spark.operators.mixing import stratified_split

    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    rows = [(i,) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long")
    got = {r["doc_id"]: r["split"] for r in stratified_split(df, splits, seed=7).collect()}

    cum, thresholds = 0.0, []
    for name, frac in splits.items():
        cum += frac
        thresholds.append((name, min(int(cum * (1 << 60)), 1 << 60)))

    def expect(i):
        h = _h60(f"{i}:7")
        for name, t in thresholds:
            if h < t:
                return name
        return None

    assert got == {i: expect(i) for (i,) in rows}
    n = len(rows)
    frac_train = sum(1 for v in got.values() if v == "train") / n
    assert 0.75 < frac_train < 0.85
    # independence: the same doc in a 10x smaller corpus keeps its split
    small = {r["doc_id"]: r["split"] for r in stratified_split(
        df.filter("doc_id < 200"), splits, seed=7).collect()}
    assert all(got[i] == small[i] for i in small)
    # NULL id -> NULL split; bad fractions rejected
    nul = spark.createDataFrame([(None,)], "doc_id long")
    assert stratified_split(nul, splits).first()["split"] is None
    with pytest.raises(ValueError, match="sum"):
        stratified_split(df, {"a": 0.9, "b": 0.2})
    with pytest.raises(ValueError, match=">= 0"):
        stratified_split(df, {"a": -0.1})
    with pytest.raises(ValueError, match="at least one"):
        stratified_split(df, {})


def test_cap_per_group_matches_python(spark):
    """At most k rows per group; survivors are the k lowest (id, seed)
    draws with id tiebreak — replayed in python; output independent of
    input partitioning."""
    from etl_rs_spark.operators.mixing import cap_per_group

    rows = [(i, f"g{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    got = {(r["grp"], r["doc_id"]) for r in cap_per_group(df, "grp", 5, seed=7).collect()}

    by_g: dict[str, list] = {}
    for i, g in rows:
        by_g.setdefault(g, []).append(i)
    want = set()
    for g, ids in by_g.items():
        for i in sorted(ids, key=lambda i: (_h60(f"{i}:7"), i))[:5]:
            want.add((g, i))
    assert got == want
    got2 = {(r["grp"], r["doc_id"])
            for r in cap_per_group(df.repartition(7), "grp", 5, seed=7).collect()}
    assert got2 == want
    # k >= group size keeps everything; k must be positive
    assert cap_per_group(df, "grp", 1000).count() == 100
    with pytest.raises(ValueError, match="positive"):
        cap_per_group(df, "grp", 0)


def test_stratified_split_total_one_labels_everything(spark):
    """Fractions that FLOAT-sum to just under 1 (ten 0.1s accumulate to
    0.999...99) must still label the whole hash domain: the last
    threshold clamps to 2^60."""
    from etl_rs_spark.operators.mixing import stratified_split

    splits = {f"s{j}": 0.1 for j in range(10)}
    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    out = stratified_split(df, splits, seed=3)
    assert out.filter("split IS NULL").count() == 0


def test_cap_per_group_null_ids_rank_last(spark):
    """NULL-id rows must not displace real documents (Spark bare asc()
    is NULLS FIRST; the operator pins NULLS LAST like the SQL oracle):
    they survive only when a group has fewer than k real-id rows."""
    from etl_rs_spark.operators.mixing import cap_per_group

    df = spark.createDataFrame(
        [(None, "g"), (1, "g"), (2, "g"), (3, "g"), (None, "tiny")],
        "doc_id long, grp string",
    )
    got = {(r["grp"], r["doc_id"]) for r in cap_per_group(df, "grp", 2, seed=7).collect()}
    g_survivors = {i for (g, i) in got if g == "g"}
    assert None not in g_survivors and len(g_survivors) == 2
    assert ("tiny", None) in got  # under-full group keeps its NULL row
