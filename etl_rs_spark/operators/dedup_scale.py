"""Corpus-scale deduplication: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding near-dup.

The reference's dedup (SURVEY.md §2.11, operators/dedup.py here) is
record-linkage over business keys; a training-data pipeline also needs
*content* dedup over documents. Same architecture rules apply at 100 TB:

- blocking before pairing — candidate pairs come from equality joins
  or groupings on a bucket key (exact hash / LSH band bucket / blocking
  column + shingle), never from a cross join;
- symmetry breaking ``id_l < id_r`` on every emitted pair;
- all hashes are arithmetic mod p = 2^31-1 over md5-derived word ids —
  deterministic across engines, so a SQL oracle can verify every stage
  bit-for-bit (no engine-private hash functions in results).

Shuffle budget per operator is noted in each docstring; everything is
native Catalyst expressions (JVM-side; scalar chains codegen, the
higher-order array folds evaluate interpreted — which is why each
operator folds ALL its hashes in ONE pass and references computed
array columns a bounded number of times: Catalyst inlines a
projection's defining expression into every consumer reference, so an
n-reference consumer pays n recomputes of the md5 token map).

Every builder here renders SQL expression text (``etl_rs_spark.sql_text``
quotes the column names), a few py4j calls per DataFrame operation; a
Column chain with Python lambdas costs one per function and lambda.
Each portable hash has one definition: ``word_hash60`` for the word id
and ``text.universal_hash`` for the family h_i.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_rs_spark.operators.text import HASH_P, universal_hash
from etl_rs_spark.sql_text import ident


def cap_group_size(
    df: DataFrame, cols: tuple[str, ...], cap: int | None
) -> DataFrame:
    """The shared skew guard of the blocking joins here: drop ALL
    rows of any ``cols`` group with more than ``cap`` members (an
    over-full block means the blocking key under-splits — pay bounded
    recall, never O(k^2) pairs). ``cap=None`` is a no-op. One window
    count over already-shuffled small rows. (``ngram_jaccard_pairs``
    applies the same rule to its posting-list sizes.)"""
    if cap is None:
        return df
    part = ", ".join(map(ident, cols))
    return (
        df.selectExpr("*", f"count(1) OVER (PARTITION BY {part}) AS _grpsize")
        .filter(f"_grpsize <= {int(cap)}")
        .drop("_grpsize")
    )


def lsh_candidates(
    df: DataFrame,
    id_col: str,
    keys: list[str],
    cap: int | None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The candidate stage of every banded-LSH pair search here
    (minhash, simhash, embedding): ``keys[b]`` is the SQL text of band
    b's bucket key over ``df``'s columns. Each row explodes into one
    (band, key) row per band, ``cap_group_size`` drops over-full
    buckets, and an equi
    self-join on (band, key) with ``id_l < id_r`` emits a pair once per
    colliding band; the distinct makes it once per pair, so a verify
    placed above it runs once per pair, never once per band. Returns
    (id_l, id_r) plus each ``carry`` column as ``{c}_l`` / ``{c}_r``."""
    band_keys = ", ".join(
        f"struct({bi} AS band, {k} AS key)" for bi, k in enumerate(keys)
    )
    cols = [ident(c) for c in (id_col, *carry)]
    banded = df.selectExpr(*cols, f"explode(array({band_keys})) AS _b").selectExpr(
        *cols, "_b.band AS band", "_b.key AS key"
    )
    banded = cap_group_size(banded, ("band", "key"), cap)

    i = ident(id_col)
    return (
        banded.alias("l")
        .join(
            banded.alias("r"),
            F.expr(f"l.band = r.band AND l.key = r.key AND l.{i} < r.{i}"),
        )
        .selectExpr(
            f"l.{i} AS id_l",
            f"r.{i} AS id_r",
            *[f"{s}.{ident(c)} AS {ident(f'{c}_{s}')}" for c in carry for s in "lr"],
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# exact dedup

def dedup_digest_stats(
    df: DataFrame, content_cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """(survivor id, n_copies) per distinct content in ONE digest-keyed
    aggregation: min(id) + count(*) grouped by sha2(content). Content
    never enters the shuffle — only the 64-hex digest moves — and the
    partial min/count combine map-side. This is the plan exact-dedup
    reporting should have at 100 TB (vs content-keyed groupBy + join).

    The digest is over the JSON encoding of the content struct, which
    is unambiguous under NULLs, empty strings and values that contain
    any would-be separator byte, so NULL contents form their own group.
    Digest collisions are ignored (2^-128)."""
    content = ", ".join(map(ident, content_cols))
    return (
        df.groupBy(F.expr(f"sha2(to_json(struct({content})), 256) AS _digest"))
        .agg(
            F.expr(f"min({ident(id_col)}) AS {ident(id_col)}"),
            F.expr("count(1) AS n_copies"),
        )
        .drop("_digest")
    )


# ---------------------------------------------------------------------------
# word -> id mapping for arithmetic hashing (word_hash60 /
# doc_word_ids_hashed). id = first 60 bits of md5(word) — no vocab
# build, no join, no shuffle, and exactly reproducible in ANSI SQL
# (DuckDB: ('0x' || substr(md5(w),1,15))::BIGINT), so the oracles stay
# bit-exact. At 60 bits a 10^7-word vocabulary expects ~5e-5 collisions
# (vs ~2e4 under mod-2^31-1 residues) — exact-set Jaccard is
# undistorted at web-scale vocabularies. Consumers that need the
# universal-hash domain [0, p) (minhash, simhash, shingle folds) reduce
# mod p INTERNALLY.

def word_hash60(x: str) -> str:
    """SQL text of word -> bigint id in [0, 2^60) over the string
    expression ``x``: the first 15 hex chars of md5(utf8(x)).
    Engine-portable: DuckDB computes the identical value with
    ``('0x' || substr(md5(w), 1, 15))::BIGINT``. Pure codegen
    expression — no vocab, no join, no shuffle."""
    return f"CAST(conv(substring(md5(encode({x}, 'UTF-8')), 1, 15), 16, 10) AS BIGINT)"


def split_words(x: str) -> str:
    """SQL text of ``text.words`` over the string expression ``x``:
    whitespace-split, empty tokens dropped."""
    return rf"filter(split(trim({x}), '\\s+'), x -> x != '')"


def _id_hashes(x: str, n: int) -> list[str]:
    """h_0 .. h_{n-1} of the word id ``x``, reduced mod p first: a
    60-bit id times a < p would overflow bigint, a*(x mod p) <= 2^62
    does not, and ids already below p keep their value."""
    return [universal_hash(f"({x} % {HASH_P})", i) for i in range(n)]


def doc_word_ids_hashed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "word_ids",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Map each doc to its ordered array of 60-bit hashed word ids —
    the no-vocab scale path. A single narrow projection: zero shuffles,
    zero joins, embarrassingly parallel at any corpus size. Words are
    ``text.words``: whitespace-split, empty tokens dropped."""
    return df.selectExpr(
        *map(ident, (id_col, *extra_cols)),
        f"transform({split_words(ident(text_col))}, w -> {word_hash60('w')}) "
        f"AS {ident(out_col)}",
    )


# ---------------------------------------------------------------------------
# MinHash + LSH

def minhash_signature(word_ids: str, n_hashes: int) -> str:
    """SQL text of the MinHash signature of the array expression
    ``word_ids`` (a column name quoted by ``sql_text.ident``, or any
    expression): n_hashes universal hashes h_i(x) = (a_i*x + b_i) mod p
    (``text.universal_hash`` over x mod p); signature element i = min
    over the doc's distinct word ids.

    Computed as ONE fold over the distinct set (acc[i] = min(acc[i],
    h_i(x)) via zip_with) rather than n_hashes independent
    array_min(transform(...)) passes: the latter references the distinct
    array n times, and when ``word_ids`` is a computed projection (the
    hashed no-vocab path) Catalyst inlines its md5 token map into every
    reference — n full recomputes per row. Same arithmetic, same
    values."""
    distinct = f"array_distinct({word_ids})"
    hashes = ", ".join(_id_hashes("x", n_hashes))
    sig = (
        f"aggregate({distinct}, array_repeat(CAST({HASH_P} AS BIGINT), {int(n_hashes)}), "
        f"(acc, x) -> zip_with(acc, array({hashes}), (m, h) -> least(m, h)))"
    )
    # empty word set -> null signature (matches the old per-element
    # array_min-of-empty semantics of "no signature")
    return f"CASE WHEN size({distinct}) > 0 THEN {sig} END"


#: polynomial base folding a band's signature slice into one bigint key
BAND_KEY_B = 31


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    word_ids_col: str = "word_ids",
    n_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.7,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH, verified by exact
    Jaccard over distinct word-id sets.

    Each band's signature slice is folded to ONE bigint key
    ``k = fold(k*31 + sig[i]) mod p`` — the band join shuffles a 16-byte
    (band, key) pair instead of a signature array, and the fold is
    replicable in ANSI SQL for the oracles. Fold collisions can only ADD
    candidates (verified next), never lose a true pair. Shuffles:
    (1) ``lsh_candidates``' equi self-join on (band, key) and distinct;
    (2) distinct pairs join back to word-id sets for the exact verify.
    Returns (id_l, id_r, jaccard), id_l < id_r, jaccard rounded to
    6 decimals (cross-engine float parity) and >= threshold.

    ``max_bucket_size`` is the skew cap its simhash/embedding siblings
    carry: k exact-duplicate documents share identical signatures, so
    one (band, key) bucket holds k docs and the self-join pays k^2 —
    buckets over the cap are excluded from pairing (run exact dedup
    FIRST; a pair sharing only capped buckets is the documented recall
    trade).

    Raises ``ValueError`` unless 1 <= bands <= n_hashes: more bands than
    hashes would give every band an empty slice, a key of 0 and one
    all-pairs bucket."""
    if not 1 <= bands <= n_hashes:
        raise ValueError(f"bands must be in [1, n_hashes={n_hashes}], got {bands}")
    rows_per_band = n_hashes // bands
    i, w = ident(id_col), ident(word_ids_col)
    with_sig = docs.selectExpr(i, f"{minhash_signature(w, n_hashes)} AS _sig")

    def band_key(bi: int) -> str:
        k = "CAST(0 AS BIGINT)"
        for j in range(rows_per_band):
            k = f"({k} * {BAND_KEY_B} + _sig[{bi * rows_per_band + j}]) % {HASH_P}"
        return k

    cand = lsh_candidates(
        with_sig, id_col, [band_key(bi) for bi in range(bands)], max_bucket_size
    )

    sets = docs.selectExpr(i, f"array_distinct({w}) AS _set")
    jaccard = (
        "round(CAST(size(array_intersect(_sl, _sr)) AS DOUBLE) "
        "/ size(array_union(_sl, _sr)), 6) AS jaccard"
    )
    return (
        cand.join(sets.withColumnsRenamed({id_col: "id_l", "_set": "_sl"}), "id_l")
        .join(sets.withColumnsRenamed({id_col: "id_r", "_set": "_sr"}), "id_r")
        .selectExpr("*", jaccard)
        .filter(f"jaccard >= {float(jaccard_threshold)!r}D")
        .selectExpr("id_l", "id_r", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash

def simhash(word_ids: str, bits: int = 16) -> str:
    """SQL text of the SimHash fingerprint of the array expression
    ``word_ids`` (as in ``minhash_signature``) over its distinct word
    ids: bit j is set when the majority of word-hash bits h_j(x) mod 2
    are 1. The fingerprint is a bigint. Pure array algebra, no shuffle.

    One fold accumulates ALL per-bit votes (zip_with add of a ±1 array
    per word) instead of `bits` independent aggregate passes — the
    distinct array is referenced once, so the hashed no-vocab word-id
    expression isn't re-inlined per bit (see minhash_signature)."""
    word_votes = ", ".join(
        f"CAST(CASE WHEN ({h}) % 2 = 1 THEN 1 ELSE -1 END AS BIGINT)"
        for h in _id_hashes("x", bits)
    )
    votes = (
        f"aggregate(array_distinct({word_ids}), array_repeat(CAST(0 AS BIGINT), {int(bits)}), "
        f"(acc, x) -> zip_with(acc, array({word_votes}), (v, w) -> v + w))"
    )
    powers = ", ".join(f"CAST({2 ** j} AS BIGINT)" for j in range(bits))
    bits_set = (
        f"zip_with({votes}, array({powers}), "
        "(v, p) -> CASE WHEN v > 0 THEN p ELSE CAST(0 AS BIGINT) END)"
    )
    return f"aggregate({bits_set}, CAST(0 AS BIGINT), (a, x) -> a + x)"


def auto_simhash_bits(
    n_docs: int,
    max_hamming: int = 2,
    target_bucket_size: int = 1024,
    min_band_bits: int = 5,
) -> int:
    """Fingerprint width that keeps band buckets from going quadratic
    as the corpus grows: with (max_hamming+1) pigeonhole bands, each
    band key must span ~n_docs/target_bucket_size distinct values, so
    band_bits = log2(n/target) and bits = n_bands * band_bits (capped
    at 62 so the fingerprint stays one non-negative bigint). A fixed
    16-bit fingerprint with max_hamming=2 gives 5-bit band keys = 32
    buckets — O(n^2/32) in-band pairs at any corpus size; this derives
    the width the same way auto_n_planes does for embedding LSH."""
    import math

    n_bands = max_hamming + 1
    band_bits = max(
        min_band_bits,
        math.ceil(math.log2(max(n_docs, 2) / target_bucket_size))
        if n_docs > target_bucket_size
        else min_band_bits,
    )
    band_bits = min(band_bits, 62 // n_bands)
    return n_bands * band_bits


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    word_ids_col: str = "word_ids",
    bits: int | None = None,
    max_hamming: int = 2,
    max_bucket_size: int | None = None,
    target_bucket_size: int = 1024,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Blocking: split the fingerprint into (max_hamming+1) bit-bands —
    by pigeonhole any pair within distance d agrees on >= 1 band, so
    ``lsh_candidates``' equi join finds all true pairs without a cross
    join; the distance is computed from the carried fingerprints.

    Scale controls (the same remedies as embedding_near_dup_pairs):
    ``bits=None`` derives the fingerprint width from the corpus size
    (auto_simhash_bits, one cheap count job) so band-bucket occupancy
    stays ~constant as the corpus grows; ``max_bucket_size`` excludes
    over-full (band, key) buckets from pairing entirely — bounded
    worst case under adversarial skew (a mega-bucket means the
    fingerprint under-splits; raise bits rather than pay O(k^2)). A
    pair sharing ONLY a capped band can be missed — the documented
    recall trade every web-scale dedup blocker makes.

    All bit algebra is shift/mask arithmetic (no doubles): exact up to
    the full 62-bit fingerprint a bigint can hold non-negatively.

    Raises ``ValueError`` for ``max_hamming < 0`` and for an explicit
    ``bits`` outside [max_hamming + 1, 62]: fewer bits than bands would
    give 0-bit band keys, so every document would share one bucket.
    """
    n_bands = max_hamming + 1
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    if bits is None:
        bits = auto_simhash_bits(docs.count(), max_hamming, target_bucket_size)
    elif not n_bands <= bits <= 62:
        raise ValueError(f"bits must be in [max_hamming + 1, 62] = [{n_bands}, 62], got {bits}")
    band_bits = bits // n_bands
    with_fp = docs.selectExpr(
        ident(id_col), f"{simhash(ident(word_ids_col), bits)} AS _fp"
    )

    # top bits beyond n_bands*band_bits (bits not divisible by n_bands)
    # join no band: the pigeonhole guarantee is unaffected — differing
    # uncovered bits leave every band key untouched, so a <=max_hamming
    # pair still agrees on >= 1 band.
    keys = [
        f"shiftright(_fp, {bi * band_bits}) % CAST({2 ** band_bits} AS BIGINT)"
        for bi in range(n_bands)
    ]
    cand = lsh_candidates(with_fp, id_col, keys, max_bucket_size, carry=("_fp",))
    # bit_count is the JVM's Long.bitCount: exact over the full 62 bits
    # and whole-stage-codegen'd, not an interpreted array fold
    return cand.selectExpr(
        "id_l", "id_r", "CAST(bit_count(_fp_l ^ _fp_r) AS INT) AS hamming"
    ).filter(f"hamming <= {int(max_hamming)}")


# ---------------------------------------------------------------------------
# n-gram Jaccard (shingle-level, order-sensitive within the shingle)

def ngram_shingles(word_ids: str, n: int = 3) -> str:
    """SQL text of the word n-gram shingles of the array column
    ``word_ids``, each reduced to a single bigint by the polynomial
    (((w1*B + w2)*B + w3) mod p with B=1_000_003.

    Implemented as n shifted slices folded with zip_with rather than
    element_at(word_ids, i+j) random access: when ``word_ids`` is a
    computed projection (the hashed no-vocab path), Catalyst inlines its
    defining expression into every consumer reference — per-index access
    re-evaluates the whole md5 token map per shingle per offset (~150x
    blowup measured); the slice/zip form references the array exactly n
    times. greatest(m, 0) guards k < n (Spark's sequence(1, 0) steps
    BACKWARDS, and a negative slice length errors under ANSI).

    60-bit word ids are safe here without pre-reduction: acc < p ~2^31,
    so acc*B + w <= 2^51 + 2^60 stays in bigint, and (acc*B + w) mod p
    equals (acc*B + (w mod p)) mod p — shingle values are identical to
    the old mod-p-id pipeline."""
    B = 1_000_003
    w = ident(word_ids)
    slices = [f"slice({w}, {j + 1}, greatest(size({w}) - {int(n) - 1}, 0))" for j in range(n)]
    acc = f"transform({slices[0]}, x -> x % {HASH_P})"
    for sl in slices[1:]:
        acc = f"zip_with({acc}, {sl}, (a, w) -> (a * {B} + w) % {HASH_P})"
    return f"array_distinct({acc})"


def ngram_jaccard_pairs(
    docs: DataFrame,
    blocking_col: str,
    id_col: str = "doc_id",
    word_ids_col: str = "word_ids",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """n-gram Jaccard pairs within blocking groups via an inverted
    index (sparse similarity join).

    Instead of generating every in-block pair and intersecting shingle
    arrays (O(k^2) pairs x O(s) intersect), explode shingles into
    postings and group them by (block, shingle): only pairs that share
    >= 1 shingle are ever materialized, and |intersection| falls out of
    a count per pair. |union| = |A| + |B| - |inter|. Identical result
    set (a pair sharing zero shingles has jaccard 0 < threshold), but
    the shuffle key is the shingle — the plan a similarity join should
    have at 100 TB. Blocking (e.g. lang) stays in the grouping key; a
    NULL block or a NULL id pairs with nothing.

    Shuffle budget: two exchanges and no self-join. (1) postings
    shuffle by (block, shingle), a window counts each list's document
    frequency, and only lists of 2..cap postings are collected into
    (id, |shingles|) lists on that partitioning: the singletons, most
    postings, never are (BENCH/SCALE_EVIDENCE.md); (2) the in-list pairs
    id_l < id_r group by (id_l, id_r) to count the intersection. The
    shingle expression is evaluated once per doc: no second (build)
    side recomputes the postings.

    ``max_doc_freq`` is the stop-shingle rule of web-scale dedup: a
    boilerplate shingle shared by k documents (license headers, nav
    chrome) contributes k^2 candidate pairs, so posting lists whose
    (block, shingle) document frequency exceeds the cap are dropped
    BEFORE pairing (every posting counts, NULL-id ones included). The
    trade is bounded and one-sided: |intersection| can only shrink
    (denominators |A|, |B| are computed before the cut), so reported
    jaccard never inflates — a pair whose overlap is mostly
    stop-shingles may fall below threshold (recall loss on
    boilerplate-dominated pairs, the standard accepted loss); no false
    pairs are ever added."""
    i = ident(id_col)
    # explode_OUTER, not explode: plain explode's implicit
    # `size(arr) > 0` filter gets pushed below the projection and
    # RE-EVALUATES the whole shingle expression at the scan (verified
    # in the physical plan) — outer + isnotnull keeps one evaluation
    # and drops the same empty-shingle docs.
    postings = (
        docs.selectExpr(
            i, f"{ident(blocking_col)} AS _blk",
            f"{ngram_shingles(word_ids_col, n)} AS _sh",
        )
        .selectExpr(i, "_blk", "size(_sh) AS _n", "explode_outer(_sh) AS _s")
        .filter("_s IS NOT NULL AND _blk IS NOT NULL")
    )
    # shingles are distinct per doc, so a list's row count IS its
    # document frequency. Each entry carries its doc's shingle-set size:
    # |A| and |B| fall out of the pair aggregation (any_value).
    keep = "_df >= 2"
    if max_doc_freq is not None:
        keep += f" AND _df <= {int(max_doc_freq)}"
    lists = (
        postings.selectExpr("*", "count(1) OVER (PARTITION BY _blk, _s) AS _df")
        .filter(keep)
        .groupBy("_blk", "_s")
        .agg(F.expr(f"collect_list(struct({i} AS id, _n)) AS _d"))
    )
    pairs = (
        lists.selectExpr("_d", "explode(_d) AS l")
        .selectExpr("l", "explode(_d) AS r")
        .filter("l.id < r.id")
    )
    return (
        pairs.groupBy(F.expr("l.id AS id_l"), F.expr("r.id AS id_r"))
        .agg(
            F.expr("count(1) AS _inter"),
            F.expr("any_value(l._n) AS _nl"),
            F.expr("any_value(r._n) AS _nr"),
        )
        .selectExpr("id_l", "id_r", "_inter / (_nl + _nr - _inter) AS jaccard")
        .filter(f"jaccard >= {float(threshold)!r}D")
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (training-corpus hygiene)

def decontaminate(
    docs: DataFrame,
    probes: DataFrame,
    n: int = 3,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    word_ids_col: str = "word_ids",
    mode: str = "mark",
    max_probe_freq: int | None = None,
    broadcast_probes: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag (or drop) training documents that
    share word n-grams with an evaluation/benchmark probe set — the
    GPT-3-style n-gram decontamination pass every serious pretraining
    pipeline runs before training.

    A doc is contaminated when it contains >= ``min_overlap`` DISTINCT
    shingles (``ngram_shingles``, order-sensitive n-grams) that appear
    anywhere in ``probes``. ``mode="mark"`` returns every input doc row
    plus ``n_hits int`` (distinct probe shingles found in the doc) and
    ``contaminated boolean``; ``mode="filter"`` returns only the clean
    docs, columns unchanged.

    The 100 TB plan: the probe shingle set is the distinct union over
    the EVAL corpus — orders of magnitude smaller than the training
    corpus — so it is force-broadcast and the training side is never
    shuffled to find hits (one explode + BroadcastHashJoin at the
    scan). Matched postings (rare) aggregate per doc, and the hit
    counts join back as another small broadcast. The training corpus
    therefore crosses the wire zero times; the only wide exchange is
    over match rows. If the probe suite is itself huge (distinct
    shingles past executor memory), pass ``broadcast_probes=False`` to
    drop the hint and let the optimizer choose — a shingle-keyed
    shuffle join at real scale, same result either way (equivalence
    pinned in tests). ``max_probe_freq`` drops probe shingles that occur
    in more than that many probe docs first (boilerplate n-grams every
    doc contains would otherwise mark the whole corpus — recall-one-
    sided like q21's stop-shingle cap: dropping a probe shingle can
    only LOWER n_hits).
    """
    if mode not in ("mark", "filter"):
        raise ValueError(f"mode must be 'mark' or 'filter', got {mode!r}")
    if min_overlap < 1:
        raise ValueError(f"min_overlap must be >= 1, got {min_overlap}")

    i = ident(id_col)

    def postings(df: DataFrame) -> DataFrame:
        return df.selectExpr(
            i, f"explode_outer({ngram_shingles(word_ids_col, n)}) AS _s"
        ).filter("_s IS NOT NULL")

    probe_sh = cap_group_size(postings(probes), ("_s",), max_probe_freq)
    probe_sh = probe_sh.select("_s").distinct()
    # shingles are distinct per doc, so the match count IS the number
    # of distinct probe shingles present
    hits = (
        postings(docs)
        .join(F.broadcast(probe_sh) if broadcast_probes else probe_sh, "_s")
        .groupBy(i)
        .agg(F.expr("CAST(count(1) AS INT) AS n_hits"))
    )
    if mode == "filter":
        return docs.join(
            hits.filter(f"n_hits >= {int(min_overlap)}"), id_col, "left_anti"
        )
    cols = [ident(c) for c in docs.columns if c != id_col]
    return (
        docs.join(hits, id_col, "left")
        .selectExpr(i, *cols, "coalesce(n_hits, 0) AS n_hits")
        .selectExpr("*", f"n_hits >= {int(min_overlap)} AS contaminated")
    )
