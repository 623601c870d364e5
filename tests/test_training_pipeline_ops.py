"""Training-data pipeline operators: text analysis, corpus dedup,
similarity search, multimodal plumbing.

Oracles here are small pure-Python reimplementations (the same style as
the reference's dual-flavor parity tests, SURVEY.md §5.2); the DuckDB
cross-engine check runs via __spark_entry__.oracle_sql at the driver.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from etl_rs_spark.operators import dedup_scale as ds
from etl_rs_spark.operators import multimodal as mm
from etl_rs_spark.operators import similarity as sim
from etl_rs_spark.operators import text as tx

DOCS = [
    ("d1", "the quick brown fox jumps over the lazy dog", "en"),
    ("d2", "the quick brown fox jumps over the lazy cat", "en"),
    ("d3", "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of d1
    ("d4", "completely different words entirely here nothing shared", "en"),
    ("d5", "le chat est sur la table et le chien dort", "fr"),
    ("d6", "el perro y el gato es un animal de casa", "es"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id string, text string, lang string")


@pytest.fixture(scope="module")
def with_ids(spark, docs):
    return ds.doc_word_ids_hashed(docs).join(docs, "doc_id")


# -- text ------------------------------------------------------------------

def test_token_stats(docs):
    row = {r["doc_id"]: r for r in tx.token_stats(docs).collect()}
    assert row["d1"]["n_words"] == 9
    assert row["d1"]["n_distinct_words"] == 8  # 'the' twice
    total_len = sum(len(w) for w in DOCS[0][1].split())
    assert row["d1"]["avg_word_len"] == pytest.approx(total_len / 9)


def test_quality_score(docs):
    row = {r["doc_id"]: r for r in tx.quality_score(docs).collect()}
    assert row["d1"]["quality_ok"] is True
    # 'the' and 'over' -> of the 8 distinct words, 2 stopwords ('the','over'?)
    # stopword list has 'the' only among d1's words
    assert row["d1"]["stopword_ratio"] == pytest.approx(1 / 8)
    assert 0.0 < row["d1"]["alpha_ratio"] < 1.0


def test_lang_id(docs):
    out = {r["doc_id"]: r["lang_pred"] for r in tx.lang_id(docs).collect()}
    assert out["d1"] == "en"
    assert out["d5"] == "fr"
    assert out["d6"] == "es"


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [("a", "alpha beta gamma"), ("b", "gamma beta alpha"), ("c", "alpha beta gamma")],
        "doc_id string, text string",
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in tx.fingerprint(df).collect()}
    assert fp["a"] == fp["c"]
    assert fp["a"] != fp["b"]


def test_bpe_ish_tokens(spark):
    df = spark.createDataFrame([("x", "hello, world 42!")], "i string, t string")
    toks = df.select(tx.bpe_ish_tokens("t").alias("tk")).collect()[0]["tk"]
    assert toks == ["hello", ",", "world", "4", "2", "!"]


# -- exact dedup -----------------------------------------------------------

def test_exact_dedup_keeps_min_id_per_content(docs):
    out = {r["doc_id"]: r["n_copies"] for r in ds.dedup_digest_stats(docs, ["text"]).collect()}
    # d3 folded into d1
    assert out == {"d1": 2, "d2": 1, "d4": 1, "d5": 1, "d6": 1}


def test_exact_dedup_null_and_ambiguous_content(spark):
    """NULL content must form its own group (not be silently dropped),
    and the digest must distinguish values that would collide under
    naive separator-joined hashing."""
    df = spark.createDataFrame(
        [("d1", None, "x"), ("d2", None, "x"), ("d3", "x\x1f", ""),
         ("d4", "x", None), ("d5", "x", None)],
        "doc_id string, a string, b string",
    )
    got = {r["doc_id"]: r["n_copies"] for r in ds.dedup_digest_stats(df, ["a", "b"]).collect()}
    assert got == {"d1": 2, "d3": 1, "d4": 2}


# -- minhash / simhash / ngram --------------------------------------------

def _py_word_ids():
    """60-bit md5-prefix word ids (dedup_scale.word_hash60)."""
    def wid(w):
        return int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
    return {d: [wid(w) for w in t.split()] for d, t, _ in DOCS}


def test_word_id_map_matches_python(with_ids):
    got = {r["doc_id"]: list(r["word_ids"]) for r in with_ids.collect()}
    assert got == _py_word_ids()


def test_minhash_finds_near_dups(with_ids):
    # 8 bands of 2 rows: a J = 7/9 pair is a candidate with probability
    # 1 - (1 - (7/9)^2)^8 > 0.999, so the check does not hinge on how
    # one particular set of word ids falls into the bands
    pairs = ds.minhash_lsh_pairs(with_ids, bands=8, jaccard_threshold=0.5).collect()
    got = {(r["id_l"], r["id_r"]): r["jaccard"] for r in pairs}
    assert ("d1", "d3") in got and got[("d1", "d3")] == 1.0
    # d1/d2 distinct sets: 8 words each, 7 shared -> J = 7/9
    assert ("d1", "d2") in got
    assert got[("d1", "d2")] == pytest.approx(7 / 9)
    assert all(p[0] < p[1] for p in got)
    assert not any("d4" in p for p in got)


def test_minhash_signature_matches_python(with_ids):
    rows = with_ids.select(
        "doc_id", F.expr(ds.minhash_signature("word_ids", 4)).alias("sig")
    ).collect()
    ids = _py_word_ids()
    for r in rows:
        expected = []
        for i in range(4):
            a, b = tx.hash_params(i)
            expected.append(
                min((x % tx.HASH_P * a + b) % tx.HASH_P for x in set(ids[r["doc_id"]]))
            )
        assert list(r["sig"]) == expected


def test_simhash_pairs(with_ids):
    pairs = ds.simhash_pairs(with_ids, bits=16, max_hamming=2).collect()
    got = {(r["id_l"], r["id_r"]): r["hamming"] for r in pairs}
    assert got[("d1", "d3")] == 0
    assert not any("d4" in p and ("d1" in p or "d2" in p) for p in got)


def test_ngram_jaccard(with_ids):
    pairs = ds.ngram_jaccard_pairs(with_ids, blocking_col="lang", threshold=0.4).collect()
    got = {(r["id_l"], r["id_r"]): r["jaccard"] for r in pairs}
    assert got[("d1", "d3")] == 1.0
    # d1/d2 share 6 of their 7 3-gram shingles each -> J = 6/8
    assert got[("d1", "d2")] == pytest.approx(6 / 8)


def test_decontaminate_marks_and_filters(spark):
    """Benchmark decontamination: shared 3-gram shingles against a
    probe set mark a doc; min_overlap thresholds; filter mode drops
    exactly the marked docs; short docs (< n words) are always clean."""
    train = spark.createDataFrame(
        [
            ("t1", [1, 2, 3, 4, 5]),      # contains probe shingle (2,3,4), (3,4,5)
            ("t2", [9, 9, 9, 1, 2]),      # no probe 3-gram
            ("t3", [2, 3, 4, 99, 98]),    # one probe shingle (2,3,4)
            ("t4", [7, 8]),               # too short for any shingle
        ],
        "doc_id string, word_ids array<bigint>",
    )
    probes = spark.createDataFrame(
        [("p1", [2, 3, 4, 5]), ("p2", [50, 51, 52])],
        "doc_id string, word_ids array<bigint>",
    )
    marked = {
        r["doc_id"]: (r["n_hits"], r["contaminated"])
        for r in ds.decontaminate(train, probes, n=3, min_overlap=1).collect()
    }
    assert marked == {
        "t1": (2, True), "t2": (0, False), "t3": (1, True), "t4": (0, False),
    }
    # threshold: with min_overlap=2 only t1 is contaminated
    marked2 = {
        r["doc_id"]: r["contaminated"]
        for r in ds.decontaminate(train, probes, n=3, min_overlap=2).collect()
    }
    assert marked2 == {"t1": True, "t2": False, "t3": False, "t4": False}
    clean = {
        r["doc_id"]
        for r in ds.decontaminate(train, probes, n=3, min_overlap=1, mode="filter").collect()
    }
    assert clean == {"t2", "t4"}
    with pytest.raises(ValueError, match="mode"):
        ds.decontaminate(train, probes, mode="drop")
    with pytest.raises(ValueError, match="min_overlap"):
        ds.decontaminate(train, probes, min_overlap=0)


def test_decontaminate_probe_freq_cap_is_one_sided(spark):
    """max_probe_freq drops boilerplate probe shingles BEFORE matching:
    n_hits can only shrink, never grow — a shingle in > cap probe docs
    stops marking anyone."""
    train = spark.createDataFrame(
        [("t1", [1, 2, 3]), ("t2", [1, 2, 3, 4])],
        "doc_id string, word_ids array<bigint>",
    )
    # shingle (1,2,3) occurs in all three probes; (2,3,4) in one
    probes = spark.createDataFrame(
        [("p1", [1, 2, 3]), ("p2", [1, 2, 3]), ("p3", [1, 2, 3, 4])],
        "doc_id string, word_ids array<bigint>",
    )
    uncapped = {
        r["doc_id"]: r["n_hits"]
        for r in ds.decontaminate(train, probes, n=3).collect()
    }
    assert uncapped == {"t1": 1, "t2": 2}
    capped = {
        r["doc_id"]: r["n_hits"]
        for r in ds.decontaminate(train, probes, n=3, max_probe_freq=2).collect()
    }
    assert capped == {"t1": 0, "t2": 1}  # boilerplate shingle gone
    assert all(capped[k] <= uncapped[k] for k in uncapped)
    # unhinted probe side (huge-eval-suite escape hatch): same result
    unhinted = {
        r["doc_id"]: r["n_hits"]
        for r in ds.decontaminate(train, probes, n=3, broadcast_probes=False).collect()
    }
    assert unhinted == uncapped


def test_decontaminate_plans_broadcast_probe_join(spark):
    """The probe shingle set must reach the training scan as a
    broadcast — the training corpus is never shuffled to find hits."""
    train = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.array(F.col("id"), F.col("id") + 1, F.col("id") + 2, F.col("id") + 3).alias("word_ids"),
    )
    probes = train.filter(F.col("doc_id") % 50 == 0)
    plan = (
        ds.decontaminate(train, probes, n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the probe-shingle join is hint-forced broadcast; the small
    # join-back of hit counts is AQE's call and not asserted here
    assert "BroadcastHashJoin" in plan


# -- similarity ------------------------------------------------------------

def test_topk_ignores_poisoned_vectors(spark):
    """One NaN/Inf/zero embedding in the corpus must not displace real
    neighbors: Spark's DESC sort ranks NaN above every number, so an
    unguarded window would put the poisoned vector at rank 1 for EVERY
    query. Degenerate candidates drop; real ranking is unchanged."""
    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [float("nan"), 1.0, 0.0, 0.0]),
        (4, [float("inf"), 0.0, 0.0, 0.0]),
        (5, [0.0, 0.0, 0.0, 0.0]),
        (6, [0.5, 0.5, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<float>")
    out = sim.cosine_topk(df.filter("vec_id = 1"), df, k=5).collect()
    ids = [r["neighbor_id"] for r in out]
    assert ids == [2, 6]  # only finite-scored neighbors, best first
    assert all(
        r["score"] is not None and math.isfinite(r["score"]) for r in out
    )


VECS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.9, 0.1, 0.0, 0.0]),
    (3, [0.0, 1.0, 0.0, 0.0]),
    (4, [0.0, 0.0, 1.0, 0.0]),
    (5, [1.0, 0.01, 0.0, 0.0]),
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, "vec_id int, embedding array<float>")


def _py_cosine(a, b):
    d = sum(x * y for x, y in zip(a, b))
    return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def test_cosine_topk_exact(vecs):
    out = sim.cosine_topk(vecs.filter("vec_id = 1"), vecs, k=2).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in out] == [(5, 1), (2, 2)]
    assert out[0]["score"] == pytest.approx(round(_py_cosine(VECS[0][1], VECS[4][1]), 6))


def test_embedding_near_dups(vecs):
    pairs = sim.embedding_near_dup_pairs(vecs, dim=4, threshold=0.99, n_planes=1).collect()
    got = {(r["id_l"], r["id_r"]) for r in pairs}
    assert (1, 5) in got


def test_auto_n_planes_keeps_bucket_occupancy_constant():
    assert sim.auto_n_planes(500, 1024) == 1           # corpus < target
    assert sim.auto_n_planes(2 ** 20, 1024) == 10      # 1M / 1024 = 2^10
    assert sim.auto_n_planes(10 ** 11, 1024) == 27     # the 100 TB shape
    # monotone in corpus size, capped at 30
    planes = [sim.auto_n_planes(10 ** e) for e in range(3, 15)]
    assert planes == sorted(planes) and planes[-1] <= 30


def test_near_dup_bucket_cap_bounds_skewed_buckets(spark):
    """Adversarial skew: one direction repeated 40x would generate
    40*39/2 in-bucket pairs. max_bucket_size excludes the mega-bucket
    (dedup's max_block_size rule) instead of paying O(k^2)."""
    rows = [(i, [1.0, 0.001 * i, 0.0, 0.0]) for i in range(40)]
    skewed = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    uncapped = sim.embedding_near_dup_pairs(
        skewed, dim=4, threshold=0.0, n_planes=1
    ).count()
    capped = sim.embedding_near_dup_pairs(
        skewed, dim=4, threshold=0.0, n_planes=1, max_bucket_size=10
    ).count()
    assert uncapped == 40 * 39 / 2
    assert capped == 0  # the one mega-bucket is excluded entirely
    # a generous cap changes nothing
    assert (
        sim.embedding_near_dup_pairs(
            skewed, dim=4, threshold=0.0, n_planes=1, max_bucket_size=1000
        ).count()
        == uncapped
    )


def test_ivf_topk_exact_probe_all_equals_brute(vecs):
    """The deterministic integer-Lloyd's IVF with n_probe = n_cells
    degenerates to exact brute force, and is oracle-checkable.
    Operates on integer-quantized vectors (its documented contract)."""
    qz = vecs.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("bigint")
        ).alias("qv"),
    )
    full = sim.ivf_topk_exact(qz, qz, k=2, n_cells=2, n_probe=2, iters=2, vec_col="qv")
    brute = sim.cosine_topk(qz, qz, k=2, vec_col="qv")
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, brute.collect()))
    # restricted probing returns a subset of some per-query ranking
    ann = sim.ivf_topk_exact(qz, qz, k=2, n_cells=2, n_probe=1, iters=2, vec_col="qv")
    assert 0 < ann.count() <= full.count()


def test_ann_recall_on_real_embeddings(spark):
    """Quantified quality ladder on the real embeddings fixture: IVF
    probe-all has recall 1.0 by construction; recall is monotone in
    n_probe; the 2-of-8-cell configuration (q33's) clears a useful
    floor."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qz = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("bigint")
        ).alias("qv"),
    )
    queries = qz.filter("vec_id < 20")
    exact = sim.cosine_topk(queries, qz, k=5, vec_col="qv")

    def ivf(n_probe):
        return sim.ivf_topk_exact(
            queries, qz, k=5, n_cells=8, n_probe=n_probe, iters=2, vec_col="qv"
        )

    r_all = sim.ann_recall(ivf(8), exact)
    r2 = sim.ann_recall(ivf(2), exact)
    r1 = sim.ann_recall(ivf(1), exact)
    assert r_all == 1.0
    assert r1 <= r2 <= r_all
    assert r2 >= 0.5  # the q33 configuration recovers most true neighbors


# -- multimodal ------------------------------------------------------------

def test_media_plumbing(spark):
    media = mm.synth_media(spark, 20)
    assert media.count() == 20
    meta_only = mm.filter_media_metadata(media, mimes=("image/png",), min_pixels=256)
    assert meta_only.count() > 0
    feats = mm.extract_features(meta_only, dim=8)
    rows = feats.collect()
    assert all(len(r["feature"]) == 8 for r in rows)
    assert set(feats.columns) == {"media_id", "mime", "feature"}
    # deterministic across runs
    again = {r["media_id"]: r["feature"] for r in mm.extract_features(meta_only, dim=8).collect()}
    assert {r["media_id"]: r["feature"] for r in rows} == again


def test_media_strict_mode_raises_only_for_stub_formats(spark):
    media = mm.synth_media(spark, 30)
    # default synth gives png/jpeg rows OPAQUE bytes — the real codecs
    # reject them, and strict propagates the ValueError
    with pytest.raises(Exception):
        mm.extract_features(
            mm.filter_media_metadata(media, mimes=("image/png", "image/jpeg")),
            dim=8, strict=True,
        ).collect()
    # audio/wav decodes for REAL — strict mode succeeds
    wav_feats = mm.extract_features(
        mm.filter_media_metadata(media, mimes=("audio/wav",)), dim=8, strict=True
    ).collect()
    assert wav_feats and all(len(r["feature"]) == 8 for r in wav_feats)
    # a payload LABELED png with a bad signature dispatches to the real
    # codec (mime-only dispatch) and raises the truthful bad-signature
    # ValueError in strict mode — not the stub's NotImplementedError
    with pytest.raises(ValueError, match="not a PNG"):
        mm.decode_media(b"definitely-not-a-png", "image/png", 8, strict=True)


def test_wav_codec_round_trip():
    import numpy as np

    samples = (np.arange(100) * 321 % 65536 - 32768).astype(np.int16)
    decoded, rate = mm.decode_wav(mm.encode_wav(samples, sample_rate=16000))
    assert rate == 16000
    assert np.allclose(decoded * 32768.0, samples)
    with pytest.raises(ValueError):
        mm.decode_wav(b"payload-123")  # the old fake bytes are rejected
    with pytest.raises(ValueError):
        mm.decode_wav(mm.encode_wav(samples)[:20])  # truncated container


def test_ppm_codec_round_trip():
    import numpy as np

    px = (np.arange(4 * 3 * 3) % 256).astype(np.uint8).reshape(4, 3, 3)
    back = mm.decode_ppm(mm.encode_ppm(px))
    assert back.shape == (4, 3, 3) and (back == px).all()
    # comments + arbitrary whitespace in the header are legal P6
    hdr_variant = b"P6 # a comment\n3\n4 255\n" + px.tobytes()
    assert (mm.decode_ppm(hdr_variant) == px).all()
    with pytest.raises(ValueError):
        mm.decode_ppm(b"P5 1 1 255 x")


def test_real_wav_features_match_local_decode(spark):
    """extract_features over the wav rows must equal a driver-side
    decode of the same payloads — the Spark path adds plumbing, not
    semantics."""
    media = mm.synth_media(spark, 30)
    wav = mm.filter_media_metadata(media, mimes=("audio/wav",))
    got = {r["media_id"]: r["feature"] for r in mm.extract_features(wav, dim=4).collect()}
    local = {
        r["media_id"]: mm._pool_to_dim(mm.decode_wav(bytes(r["payload"]))[0], 4)
        for r in wav.collect()
    }
    assert got.keys() == local.keys() and len(got) > 0
    for k in got:
        assert got[k] == pytest.approx(local[k])


def test_frame_sample_plan(spark):
    media = mm.synth_media(spark, 3)
    plan = mm.frame_sample_plan(media, every_n=4)
    rows = plan.collect()
    assert all(r["frame_idx"] % 4 == 0 for r in rows)


def test_video_frame_pipeline_end_to_end(spark):
    """The full video path: frame_sample_plan over the metadata (no
    decode) -> join against the decoded-frame table -> REAL P6 decode of
    ONLY the sampled frames, vs a pandas oracle that regenerates every
    sampled frame's raster driver-side. Unsampled frames must never
    appear, zero-frame videos must emit nothing, and the per-frame
    integer stats must match the oracle exactly."""
    n_videos, fpv, every_n = 6, 12, 5
    meta_rows = [(f"m-{v:08d}", fpv if v != 3 else 0) for v in range(n_videos)]
    video_meta = spark.createDataFrame(meta_rows, "media_id string, n_bytes int")
    # the frame table holds ALL frames; video 3's metadata says 0 frames
    frames = mm.synth_video_frames(spark, n_videos, fpv)
    got = {
        (r["media_id"], r["frame_idx"]): (r["n_values"], r["sum_values"])
        for r in mm.sample_and_decode_frames(video_meta, frames, every_n=every_n).collect()
    }
    expect = {}
    for v in range(n_videos):
        if v == 3:
            continue  # zero-frame video: plan emits no rows
        for fi in range(0, fpv, every_n):
            px = mm.decode_ppm(mm._synth_frame_ppm(v, fi)).astype("int64")
            expect[(f"m-{v:08d}", fi)] = (int(px.size), int(px.sum()))
    assert got == expect and len(got) == 5 * 3  # ceil(12/5)=3 per live video


# -- sessionization --------------------------------------------------------

def test_sessionize_gap_semantics(spark):
    from etl_rs_spark.operators import sessions as ss
    rows = [
        (1, "2024-01-01 10:00:00", 1),
        (1, "2024-01-01 10:10:00", 2),   # same session (10 min)
        (1, "2024-01-01 11:00:00", 3),   # new session (50 min gap)
        (1, "2024-01-01 11:29:59", 4),   # same (29:59 < 30min)
        (2, "2024-01-01 10:00:00", 5),   # separate user
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string, event_id int").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {(r["user_id"], r["event_id"]): r["session_idx"]
           for r in ss.sessionize(df, order_cols=("event_id",)).collect()}
    assert out == {(1, 1): 0, (1, 2): 0, (1, 3): 1, (1, 4): 1, (2, 5): 0}

    stats = {(r["user_id"], r["session_idx"]): (r["n_events"], r["span_us"])
             for r in ss.session_stats(df, order_cols=("event_id",)).collect()}
    assert stats[(1, 0)] == (2, 600_000_000)
    assert stats[(1, 1)] == (2, 1_799_000_000)
    assert stats[(2, 0)] == (1, 0)


def test_sessionize_exact_30min_boundary(spark):
    from etl_rs_spark.operators import sessions as ss
    rows = [(1, "2024-01-01 10:00:00", 1), (1, "2024-01-01 10:30:00", 2)]
    df = spark.createDataFrame(rows, "user_id int, ts string, event_id int").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = ss.sessionize(df, order_cols=("event_id",)).collect()
    # exactly 30:00 is NOT a new session (gap must EXCEED the threshold)
    assert {r["session_idx"] for r in out} == {0}


# -- simhash scale controls -------------------------------------------------

def test_auto_simhash_bits_tracks_corpus_size():
    """Band width grows with the corpus (constant expected bucket
    occupancy) and the fingerprint stays within one bigint."""
    assert ds.auto_simhash_bits(100, max_hamming=2) == 15          # floor: 5-bit bands
    assert ds.auto_simhash_bits(10**6, max_hamming=2) == 30        # ceil(log2(1e6/1024))=10
    assert ds.auto_simhash_bits(10**9, max_hamming=2) == 60        # 20-bit bands
    assert ds.auto_simhash_bits(2**70, max_hamming=2) == 60        # capped at 62//3*3
    assert ds.auto_simhash_bits(10**9, max_hamming=3) == 60        # 4 bands x 15


def test_simhash_pairs_auto_bits_matches_brute_force(spark):
    """Pigeonhole completeness at the derived band layout: banded pairs
    == brute-force Hamming<=d pairs over the same (wide) fingerprints.
    Exercises shift/mask band keys and bit_count above 2^53."""
    docs = spark.createDataFrame(
        [(f"d{i:02d}", [(i * 7 + j * 13) % 50 + 1 for j in range(12)])
         for i in range(40)],
        "doc_id string, word_ids array<bigint>",
    )
    bits = 60  # force the wide-fingerprint arithmetic
    got = {
        (r["id_l"], r["id_r"]): r["hamming"]
        for r in ds.simhash_pairs(docs, bits=bits, max_hamming=8).collect()
    }
    fps = {
        r["doc_id"]: r["fp"]
        for r in docs.select(
            "doc_id", F.expr(ds.simhash("word_ids", bits)).alias("fp")
        ).collect()
    }
    ids = sorted(fps)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(fps[a] ^ fps[b]).count("1")
            if h <= 8:
                want[(a, b)] = h
    assert got == want
    assert any(f > 2**53 for f in fps.values())  # wide range actually hit


def test_simhash_bucket_cap_bounds_skewed_buckets(spark):
    """Adversarial skew: identical docs collapse into one (band, key)
    bucket per band. max_bucket_size excludes the mega-buckets from
    pairing entirely — bounded work instead of O(k^2) — and leaves
    under-cap buckets untouched."""
    rows = [(f"s{i:02d}", [1, 2, 3, 4]) for i in range(30)]          # one mega-cluster
    rows += [("u1", [5, 6, 7, 8]), ("u2", [5, 6, 7, 8])]             # small cluster
    docs = spark.createDataFrame(rows, "doc_id string, word_ids array<bigint>")
    uncapped = ds.simhash_pairs(docs, bits=30, max_hamming=2)
    capped = ds.simhash_pairs(docs, bits=30, max_hamming=2, max_bucket_size=5)
    assert uncapped.count() == 30 * 29 // 2 + 1
    got = {(r["id_l"], r["id_r"]) for r in capped.collect()}
    assert got == {("u1", "u2")}  # mega-bucket dropped, small cluster kept


def test_lsh_band_parameters_rejected(with_ids):
    """Band layouts that would put every document in one bucket are
    rejected before any plan is built: minhash bands outside
    [1, n_hashes] (more bands than hashes leaves every band slice empty,
    so every key is 0), and simhash fingerprints narrower than their
    max_hamming + 1 bands (0-bit band keys) or wider than a non-negative
    bigint."""
    for bands in (0, 5):
        with pytest.raises(ValueError, match="bands"):
            ds.minhash_lsh_pairs(with_ids, n_hashes=4, bands=bands)
    for bits, max_hamming in ((2, 2), (63, 2), (16, -1)):
        with pytest.raises(ValueError):
            ds.simhash_pairs(with_ids, bits=bits, max_hamming=max_hamming)
    with pytest.raises(ValueError, match="max_hamming"):
        ds.simhash_pairs(with_ids, max_hamming=-1)


@pytest.mark.parametrize("name", ["doc.id", "doc`id"])
def test_id_column_names_are_quoted(with_ids, vecs, name):
    """An id column whose name holds a dot or a backtick is a plain
    column to every near-dup, split and cap operator: each returns what
    it returns for the same frame under a plain id name."""
    from etl_rs_spark.operators.mixing import cap_per_group, stratified_split

    def rows(df):
        return sorted(map(tuple, df.collect()))

    docs = with_ids.select("doc_id", "word_ids", "lang")
    odd = docs.withColumnRenamed("doc_id", name)
    emb = vecs.withColumnRenamed("vec_id", name)
    runs = [
        lambda d, i: ds.minhash_lsh_pairs(d, id_col=i, bands=8, jaccard_threshold=0.5),
        lambda d, i: ds.simhash_pairs(d, id_col=i, bits=16, max_hamming=2),
        lambda d, i: stratified_split(d, {"a": 0.5, "b": 0.5}, id_col=i),
        lambda d, i: cap_per_group(d, "lang", 1, id_col=i),
    ]
    for run in runs:
        assert rows(run(odd, name)) == rows(run(docs, "doc_id"))
    near = [
        rows(sim.embedding_near_dup_pairs(
            df, dim=4, threshold=0.9, n_planes=2, n_bands=2, id_col=i
        ))
        for df, i in ((emb, name), (vecs, "vec_id"))
    ]
    assert near[0] == near[1] and near[0]


def test_ngram_hot_shingle_cap_bounds_join_rows(spark):
    """One boilerplate 3-gram shared by every doc ('the common header')
    makes in-list pairing O(n^2); capping per-(block, shingle)
    document frequency removes those postings BEFORE pairing while
    keeping true near-dup pairs whose overlap is real content."""
    n_docs = 40
    header = [901, 902, 903]  # the boilerplate shingle source
    rows = [(f"b{i:02d}", header + [i * 10 + 1, i * 10 + 2, i * 10 + 3, i * 10 + 4])
            for i in range(n_docs)]
    # one genuine near-dup pair sharing all its content shingles
    rows += [("dupA", header + [501, 502, 503, 504, 505]),
             ("dupB", header + [501, 502, 503, 504, 505])]
    docs = spark.createDataFrame(
        rows, "doc_id string, word_ids array<bigint>"
    ).withColumn("lang", F.lit("en"))

    capped = ds.ngram_jaccard_pairs(
        docs, blocking_col="lang", n=3, threshold=0.5, max_doc_freq=5
    )
    got = {(r["id_l"], r["id_r"]): r["jaccard"] for r in capped.collect()}
    # dupA/dupB share 5 of their 5 surviving shingles (header 3-grams
    # cut); every boilerplate-only pair is gone from the pairing entirely
    assert set(got) == {("dupA", "dupB")}

    # pair-row bound, measured on the operator's own posting construction:
    # sum of c^2 over (block, shingle) doc-frequencies c <= cap
    sh = docs.select(
        "lang", F.expr(ds.ngram_shingles("word_ids", 3)).alias("_sh")
    ).select("lang", F.explode("_sh").alias("_s"))
    dfreq = [r["c"] for r in sh.groupBy("lang", "_s").agg(F.count(F.lit(1)).alias("c")).collect()]
    assert sum(c * c for c in dfreq) > n_docs * n_docs          # uncapped blow-up exists
    assert sum(c * c for c in dfreq if c <= 5) < 10 * n_docs    # capped pairing is linear-ish


def test_ngram_pairs_match_brute_force_with_cap(spark):
    """ngram_jaccard_pairs equals a brute-force python Jaccard over
    every same-block pair with the stop-shingle cap applied: NULL-lang
    copies of docs pair with nothing (not even with each other), a NULL
    doc_id pairs with nothing
    but still counts toward the cap (it pushes the (1,2,3) shingle of
    block en over it), and an over-cap shingle contributes to no
    intersection while every |A|, |B| keeps it."""
    cap = 4
    rows = [
        (1, "en", [1, 2, 3, 4, 5, 6, 7, 8]),
        (2, "en", [1, 2, 3, 4, 5, 6, 7, 9]),
        (3, None, [1, 2, 3, 4, 5, 6, 7, 8]),
        (8, None, [1, 2, 3, 4, 5, 6, 7, 9]),
        (None, "en", [1, 2, 3, 4, 5, 6, 7, 8]),
        (4, "en", [1, 2, 3, 50, 51, 52, 53]),
        (5, "en", [1, 2, 3, 60, 61, 62]),
        (6, "fr", [1, 2, 3, 4, 5, 6, 7, 8]),
        (7, "fr", [1, 2, 3, 4, 5, 6, 70, 71]),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, word_ids array<bigint>")

    def shingles(ids, n=3):
        out = set()
        for i in range(len(ids) - n + 1):
            acc = ids[i] % tx.HASH_P
            for j in range(1, n):
                acc = (acc * 1_000_003 + ids[i + j]) % tx.HASH_P
            out.add(acc)
        return out

    sh = [(i, lang, shingles(w)) for i, lang, w in rows]
    dfreq = {}
    for _i, lang, s in sh:
        for x in s:
            dfreq[(lang, x)] = dfreq.get((lang, x), 0) + 1
    expected = {}
    for i, la, sa in sh:
        for j, lb, sb in sh:
            if i is None or j is None or la is None or la != lb or not i < j:
                continue
            inter = sum(1 for x in sa & sb if dfreq[(la, x)] <= cap)
            if inter and inter / (len(sa) + len(sb) - inter) >= 0.1:
                expected[(i, j)] = inter / (len(sa) + len(sb) - inter)
    assert expected == {(1, 2): 0.5, (6, 7): 0.5}  # the fixture's intent

    got = ds.ngram_jaccard_pairs(
        docs, blocking_col="lang", n=3, threshold=0.1, max_doc_freq=cap
    ).collect()
    assert {(r["id_l"], r["id_r"]): r["jaccard"] for r in got} == expected


def test_decoded_stats_real_codecs(spark):
    """extract_decoded_stats runs the REAL container parsers end-to-end
    (no stub path on this route) and its integer stats equal a direct
    numpy replay of the payload generators."""
    import numpy as np

    media = mm.synth_media(spark, 60, hash_mode="portable", include_ppm=True)
    real = mm.filter_media_metadata(
        media, mimes=("audio/wav", "image/ppm", "image/png")
    )
    rows = {r["media_id"]: r for r in mm.extract_decoded_stats(real).collect()}
    assert rows  # all three real formats present in the rotation
    assert {r["mime"] for r in rows.values()} == {
        "audio/wav", "image/ppm", "image/png"
    }
    for mid, r in rows.items():
        i = int(mid.split("-")[1])
        if r["mime"] == "audio/wav":
            n = 64 + i % 64
            k = np.arange(n, dtype=np.int64)
            samples = ((i * 2654435761 + k * 40503) % 65536) - 32768
            assert (r["n_values"], r["sum_values"]) == (n, int(samples.sum()))
        else:
            w, h = 4 + i % 5, 3 + i % 4
            idx = np.arange(w * h * 3, dtype=np.int64)
            mult = 97 if r["mime"] == "image/ppm" else 101
            px = (i * 2654435761 + idx * mult) % 256
            assert (r["n_values"], r["sum_values"]) == (w * h * 3, int(px.sum()))
    # jpeg rows carry opaque bytes in this mode: the real jpeg codec
    # rejects them, and decoded_stats never stubs
    with pytest.raises(Exception):
        mm.extract_decoded_stats(
            mm.filter_media_metadata(media, mimes=("image/jpeg",))
        ).collect()
    # a mime with no real codec at all must raise too
    with pytest.raises(ValueError, match="no real codec"):
        mm.decoded_stats(b"anything", "video/mp4")


def test_ppm_round_trip(spark):
    """encode_ppm/decode_ppm round-trip, including whitespace/comment
    header parsing."""
    import numpy as np

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert (mm.decode_ppm(mm.encode_ppm(px)) == px).all()
    with_comment = b"P6\n# a comment\n3 2\n255\n" + px.tobytes()
    assert (mm.decode_ppm(with_comment) == px).all()


def test_near_dup_banding_raises_recall_monotonically(spark, vecs_large=None):
    """OR-amplification: banded candidates are a superset of band 0's
    (same plane indexing), recall grows with n_bands, and every banded
    pair still carries the exact verified score."""
    import random

    rnd = random.Random(7)
    rows = [
        (i, [rnd.randint(-50, 50) for _ in range(8)]) for i in range(120)
    ]
    qz = spark.createDataFrame(rows, "vec_id int, qv array<bigint>")

    def pairs(n_bands, n_planes=4):
        return {
            (r["id_l"], r["id_r"]): r["score"]
            for r in sim.embedding_near_dup_pairs(
                qz, dim=8, threshold=0.5, n_planes=n_planes,
                id_col="vec_id", vec_col="qv", n_bands=n_bands,
            ).collect()
        }

    exact = pairs(1, n_planes=0)  # 0 planes -> one bucket -> all-pairs truth
    p1, p2, p4 = pairs(1), pairs(2), pairs(4)
    assert set(p1) <= set(p2) <= set(p4) <= set(exact)
    assert len(p4) > len(p1)  # banding actually recovered more pairs
    for k, v in p4.items():
        assert exact[k] == v  # scores identical to the exact verify


def test_exact_pairs_blocked_matches_truth(spark):
    """Blocked-GEMM exact scorer: identical (id_l, id_r, score) map to
    the one-bucket self-join verify at every block count — 1 (a single
    diagonal GEMM), 4 (mixed diagonal/off-diagonal groups), 64 > n
    (mostly singleton blocks) — with canonical id_l < id_r and
    zero-norm vectors excluded by the NaN-compares-False null rule."""
    import random

    rnd = random.Random(11)
    rows = [(i, [rnd.randint(-50, 50) for _ in range(8)]) for i in range(90)]
    rows.append((90, [0] * 8))  # zero norm: null score, never a pair
    qz = spark.createDataFrame(rows, "vec_id int, qv array<bigint>")
    truth = {
        (r["id_l"], r["id_r"]): r["score"]
        for r in sim.embedding_near_dup_pairs(
            qz, dim=8, threshold=0.5, n_planes=0, n_bands=1,
            id_col="vec_id", vec_col="qv",
        ).collect()
    }
    assert truth  # the fixture does produce >=0.5 pairs
    assert all(l < r for l, r in truth)
    assert not any(90 in p for p in truth)
    for n_blocks in (1, 4, 64):
        got = {
            (r["id_l"], r["id_r"]): r["score"]
            for r in sim.exact_pairs_blocked(
                qz, 0.5, id_col="vec_id", vec_col="qv", n_blocks=n_blocks
            ).collect()
        }
        assert got == truth, f"n_blocks={n_blocks}"


def test_exact_pairs_blocked_skips_null_vectors(spark):
    """A NULL vector scores NULL and pairs with nothing (the DuckDB
    twin's rule); it must not sink the whole group's matrix build."""
    qz = spark.createDataFrame(
        [(1, [1, 0]), (2, [2, 0]), (3, None), (4, [0, 1])],
        "vec_id int, qv array<bigint>",
    )
    got = sim.exact_pairs_blocked(qz, 0.5, id_col="vec_id", vec_col="qv", n_blocks=1)
    assert [(r["id_l"], r["id_r"]) for r in got.collect()] == [(1, 2)]


def test_brute_cutover_routing(vecs):
    """The cost-based strategy choice is visible in the plan: the exact
    path is a grouped-map pandas stage (FlatMapGroupsInPandas), the
    banded path is not. Auto-derived banding routes to exact exactly
    when b/2^k reaches the cutover — and never when the caller pinned
    n_bands or set max_bucket_size (capped semantics exclude mega-bucket
    pairs, which the exact path cannot honor)."""

    def plan(**kw):
        df = sim.embedding_near_dup_pairs(vecs, dim=4, n_planes=3, **kw)
        return df._jdf.queryExecution().analyzed().toString()

    # threshold 0.3, k=3 -> 13 bands / 8 buckets = 1.6 >= 0.5: exact
    assert "FlatMapGroupsInPandas" in plan(threshold=0.3)
    # near-dup grade: 2 bands / 8 buckets = 0.25 < 0.5: banded ships
    assert "FlatMapGroupsInPandas" not in plan(threshold=0.95)
    # explicit knobs win over the cost model
    assert "FlatMapGroupsInPandas" not in plan(threshold=0.3, n_bands=13)
    assert "FlatMapGroupsInPandas" not in plan(threshold=0.3, max_bucket_size=100)
    # cutover result at the routed threshold == the banded truth superset
    got = {
        (r["id_l"], r["id_r"])
        for r in sim.embedding_near_dup_pairs(
            vecs, dim=4, threshold=0.3, n_planes=3
        ).collect()
    }
    exact = {
        (r["id_l"], r["id_r"])
        for r in sim.embedding_near_dup_pairs(
            vecs, dim=4, threshold=0.3, n_planes=0, n_bands=1
        ).collect()
    }
    assert got == exact


def test_png_codec_all_filters():
    """Pure-python PNG codec: our encoder round-trips, and the decoder
    reverses ALL five scanline filters (None/Sub/Up/Average/Paeth) and
    RGBA — i.e. it reads PNGs from standard encoders at these settings,
    not just its own output."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, size=(5, 7, 3)).astype(np.uint8)
    assert (mm.decode_png(mm.encode_png(px)) == px).all()

    def fwd_filter(raw, ftype, ch):
        h, w, _ = raw.shape
        stride = w * ch
        flat = raw.reshape(h, stride).astype(np.int32)
        out, prev = b"", np.zeros(stride, dtype=np.int32)
        for y in range(h):
            line, enc = flat[y], np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = line[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                if ftype == 0: pred = 0
                elif ftype == 1: pred = a
                elif ftype == 2: pred = b
                elif ftype == 3: pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (line[x] - pred) % 256
            out += bytes([ftype]) + enc.astype(np.uint8).tobytes()
            prev = line
        return out

    def build(raw, ctype, ch, ftype):
        h, w, _ = raw.shape
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return (mm.PNG_MAGIC + mm._png_chunk(b"IHDR", ihdr)
                + mm._png_chunk(b"IDAT", zlib.compress(fwd_filter(raw, ftype, ch)))
                + mm._png_chunk(b"IEND", b""))

    for ftype in range(5):
        assert (mm.decode_png(build(px, 2, 3, ftype)) == px).all(), ftype
    px4 = rng.randint(0, 256, size=(3, 4, 4)).astype(np.uint8)
    assert (mm.decode_png(build(px4, 6, 4, 4)) == px4).all()
    with pytest.raises(ValueError):
        mm.decode_png(b"not a png")


def test_minhash_bucket_cap_bounds_skewed_buckets(spark):
    """k exact-dup docs share identical signatures -> one (band, key)
    bucket per band with k members; max_bucket_size excludes the
    mega-buckets (bounded work) and keeps under-cap clusters."""
    rows = [(f"s{i:02d}", [1, 2, 3, 4, 5]) for i in range(25)]       # mega cluster
    rows += [("u1", [9, 10, 11, 12]), ("u2", [9, 10, 11, 12])]
    docs = spark.createDataFrame(rows, "doc_id string, word_ids array<bigint>")
    uncapped = ds.minhash_lsh_pairs(docs, jaccard_threshold=0.9)
    capped = ds.minhash_lsh_pairs(docs, jaccard_threshold=0.9, max_bucket_size=5)
    assert uncapped.count() == 25 * 24 // 2 + 1
    got = {(r["id_l"], r["id_r"]) for r in capped.collect()}
    assert got == {("u1", "u2")}


def test_words_empty_doc_and_lang_case(spark):
    """Empty/whitespace-only docs tokenize to [] (not ['']), ratio
    columns go null instead of dividing by zero (ANSI-safe), and
    lang_id matches capitalized function words via lowercasing."""
    df = spark.createDataFrame(
        [("e1", ""), ("e2", "   "), ("d1", "The Dog And The Cat")],
        "doc_id string, text string",
    )
    stats = {r["doc_id"]: r for r in tx.token_stats(df).collect()}
    assert stats["e1"]["n_words"] == 0 and stats["e2"]["n_words"] == 0
    assert stats["e1"]["avg_word_len"] is None
    assert stats["d1"]["n_words"] == 5
    q = {r["doc_id"]: r for r in tx.quality_score(df).collect()}
    assert q["e1"]["quality_ok"] is False
    lang = {r["doc_id"]: r["lang_pred"] for r in tx.lang_id(df).collect()}
    assert lang["d1"] == "en"  # 'The'/'And' matched despite capitalization
    assert lang["e1"] is None


def test_filter_dsl_rejects_unknown_group_ops(spark):
    from etl_rs_spark.plans.filter_dsl import FilterError, filter_to_column

    with pytest.raises(FilterError, match="group op"):
        filter_to_column({"$and": [{"id": 1}]})


def test_contract_skew_caps_are_above_observed_maxima(spark):
    """The contract/bench queries run with their skew caps ACTIVE
    (round-3 verdict item 3). The caps are chosen above every observed
    group maximum, so they must not change a single result row on the
    real corpora — pinned here by capped-vs-uncapped row-count equality
    on the sf0.1 fixtures (q21 verbatim; q19 on the realistic-vocab
    bench derivation, whose banded buckets are the ones the main-sf
    bench pays for). The companion tests above prove the same caps DO
    bound synthetic skewed corpora — together: guard present, guard
    inactive on healthy data, guard effective under skew."""
    import bench
    import __spark_entry__ as entry

    sf01 = "/root/testdata/sf0.1"
    wi = entry._doc_word_ids(spark, sf01)
    q21_capped = ds.ngram_jaccard_pairs(
        wi, blocking_col="lang", n=3, threshold=0.3,
        max_doc_freq=entry.Q21_MAX_DOC_FREQ,
    ).count()
    q21_uncapped = ds.ngram_jaccard_pairs(
        wi, blocking_col="lang", n=3, threshold=0.3
    ).count()
    assert q21_capped == q21_uncapped > 0

    salted = ds.doc_word_ids_hashed(
        bench.salted_documents(spark, sf01), extra_cols=("lang",)
    )
    q19_capped = ds.minhash_lsh_pairs(
        salted, n_hashes=16, bands=4, jaccard_threshold=0.6,
        max_bucket_size=entry.Q19_MAX_BUCKET,
    ).count()
    q19_uncapped = ds.minhash_lsh_pairs(
        salted, n_hashes=16, bands=4, jaccard_threshold=0.6
    ).count()
    assert q19_capped == q19_uncapped > 0


def test_bands_for_recall_s_curve_inversion():
    """The analytic band derivation: 1-(1-p1^k)^b >= target at the
    threshold, minimal b, and the regimes the docstring promises —
    a handful of bands at near-dup-grade thresholds, many at low ones
    (the cost made explicit), never exceeding max_bands."""
    import math

    for threshold, k in [(0.9, 6), (0.95, 8), (0.3, 3), (0.5, 4)]:
        b = sim.bands_for_recall(threshold, k, 0.95)
        p1 = 1.0 - math.acos(threshold) / math.pi
        achieved = 1.0 - (1.0 - p1 ** k) ** b
        assert achieved >= 0.95
        if b > 1:  # minimality: one band fewer misses the target
            assert 1.0 - (1.0 - p1 ** k) ** (b - 1) < 0.95
    assert sim.bands_for_recall(0.9, 6, 0.95) <= 8    # near-dup grade: cheap
    assert sim.bands_for_recall(0.3, 3, 0.95) == 13   # q27's shipped config
    assert sim.bands_for_recall(0.0, 30, 0.999) == 128  # max_bands bound
    assert sim.bands_for_recall(1.0, 4, 0.95) == 1    # p_band = 1 -> 1 band
    with pytest.raises(ValueError):
        sim.bands_for_recall(0.5, 4, 1.0)


def test_repetition_stats_matches_python(spark):
    """Gopher-style repetition signals vs a plain-python oracle over
    randomized docs, plus the pinned edge cases (empty doc -> null
    fracs, single word -> zero counts, overlapping top gram > 1)."""
    import random
    from collections import Counter

    random.seed(41)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    rows = [(i, " ".join(random.choice(vocab) for _ in range(random.choice([0, 1, 5, 12, 30]))))
            for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in tx.repetition_stats(df).collect()}
    for i, text in rows:
        ws = [w for w in text.split() if w]
        n = len(ws)
        r = got[i]
        assert r["n_words"] == n
        if n == 0:
            assert r["dup_word_frac"] is None and r["top_2gram_frac"] is None
            continue
        assert r["dup_word_frac"] == round((n - len(set(ws))) / n, 6)
        for k in (2, 3):
            grams = [tuple(ws[j:j + k]) for j in range(max(n - k + 1, 0))]
            top = max(Counter(grams).values()) if grams else 0
            assert r[f"top_{k}gram_count"] == top, (i, k, text)
            assert r[f"top_{k}gram_frac"] == round(top * k / n, 6)


def test_redact_pii(spark):
    """Typed-tag PII scrub: all occurrences replaced, order email-first
    (an address's digit runs must not be half-eaten by the phone/ip
    patterns), clean text untouched, count column exact."""
    rows = [
        (0, "mail a.b+c@x.org and d@y.io, tel 25-989-741-2988, ip 10.0.0.1"),
        (1, "no pii here at all"),
        (2, ""),
        (3, "double 1.2.3.4 5.6.7.8"),
        (4, "addr user99@ex1.org end"),  # digits inside the email stay one <EMAIL>
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r for r in tx.redact_pii(df, count_col="n_pii").collect()}
    assert got[0]["text"] == "mail <EMAIL> and <EMAIL>, tel <PHONE>, ip <IP>"
    assert got[0]["n_pii"] == 4
    assert got[1]["text"] == "no pii here at all" and got[1]["n_pii"] == 0
    assert got[2]["text"] == "" and got[2]["n_pii"] == 0
    assert got[3]["text"] == "double <IP> <IP>" and got[3]["n_pii"] == 2
    assert got[4]["text"] == "addr <EMAIL> end" and got[4]["n_pii"] == 1
    # selective kinds: only emails scrubbed, out_col keeps the original
    out = {r["id"]: r for r in tx.redact_pii(
        df, kinds=("email",), out_col="clean").collect()}
    assert out[0]["clean"] == "mail <EMAIL> and <EMAIL>, tel 25-989-741-2988, ip 10.0.0.1"
    assert out[0]["text"] == rows[0][1]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown PII kinds"):
        tx.redact_pii(df, kinds=("ssn",))


def test_redact_pii_count_ignores_preexisting_tags_and_honors_order(spark):
    """n_pii counts spans ACTUALLY replaced — a tag literal already in
    the source (a previously-redacted corpus re-entering the pipeline)
    contributes 0. And `kinds` ORDER is the application order: ipv4
    before email redacts the address's host part first."""
    df = spark.createDataFrame(
        [(0, "mention the <EMAIL> placeholder, no pii"),
         (1, "real a@b.io plus quoted <PHONE>"),
         (2, None)],
        "id long, text string",
    )
    got = {r["id"]: r for r in tx.redact_pii(df, count_col="n_pii").collect()}
    assert got[0]["n_pii"] == 0 and got[0]["text"] == "mention the <EMAIL> placeholder, no pii"
    assert got[1]["n_pii"] == 1 and got[1]["text"] == "real <EMAIL> plus quoted <PHONE>"
    assert got[2]["text"] is None and got[2]["n_pii"] == 0
    # kinds order is authoritative: a phone embedded in an email local
    # part is eaten whole by email-first, but phone-first splits it
    df2 = spark.createDataFrame(
        [(0, "12-345-678-9012@x.org end")], "id long, text string"
    )
    email_first = tx.redact_pii(df2, kinds=("email", "phone")).first()["text"]
    phone_first = tx.redact_pii(df2, kinds=("phone", "email")).first()["text"]
    assert email_first == "<EMAIL> end"
    assert phone_first == "<PHONE>@x.org end"


def test_repetition_stats_null_text_is_all_null(spark):
    """NULL text must score NULL everywhere (non-ANSI size(NULL) = -1
    would otherwise report n_words -1 and a pristine dup_word_frac
    0.0, letting NULL docs sail through quality gates)."""
    df = spark.createDataFrame([(0, None), (1, "a a")], "doc_id long, text string")
    got = {r["doc_id"]: r for r in tx.repetition_stats(df).collect()}
    r0 = got[0]
    assert r0["n_words"] is None and r0["dup_word_frac"] is None
    assert r0["top_2gram_count"] is None and r0["top_2gram_frac"] is None
    assert got[1]["n_words"] == 2 and got[1]["dup_word_frac"] == 0.5
