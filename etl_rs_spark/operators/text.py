"""Text-analysis operators for training-data pipelines.

The etl-rs reference normalizes *fields* (SURVEY.md §2.10); a 100 TB
training-data pipeline normalizes *documents*. These operators extend the
same per-record, null-on-invalid philosophy to document-level features:
tokenization, quality scoring, language identification, fingerprinting.

All hot paths are native Column expressions (whole-stage codegen, zero
Python); the only join is a broadcast against a tiny profile table.
Every operator is deterministic — required for the DuckDB oracle parity
checks and for reproducible pipeline re-runs at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Modulus for all arithmetic hashes: 2^31 - 1 (Mersenne prime). Products
# of two residues stay < 2^62, inside bigint — the same arithmetic is
# expressible in ANSI SQL, which is what makes the oracles exact.
HASH_P = 2_147_483_647


def hash_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for the i-th universal hash h(x)=(a*x+b) mod p.
    Knuth multiplicative constants; a is never 0."""
    a = (2_654_435_761 * (i + 1) + 1) % HASH_P
    b = (40_503 * (i + 1) + 7) % HASH_P
    return (a or 1), b


def universal_hash(x: str, i: int) -> str:
    """SQL text of h_i(x) = (a_i*x + b_i) mod p over the bigint
    expression ``x``, which must lie in [0, p): a product a_i*x then
    stays below 2^62. Callers reduce wider values (60-bit word ids)
    mod p first."""
    a, b = hash_params(i)
    return f"({x} * {a} + {b}) % {HASH_P}"


def words(col: Column | str) -> Column:
    """Whitespace tokenization (the corpora here are space-separated).

    Empty tokens are filtered: Spark's split on an empty/whitespace-only
    string yields [''], which would count as one word (n_words=1 for an
    empty doc, so an ``n_words == 0`` empty-doc filter never fires).
    The DuckDB oracles mirror the same list_filter."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != "")


def _sum_word_len(w: Column) -> Column:
    """Total character count over a token array — shared by token_stats
    and quality_score so the (interpreted) ArrayAggregate reduction has
    exactly one definition to tune."""
    return F.aggregate(w, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x))


BPE_ISH_REGEX = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_ish_tokens(col: Column | str) -> Column:
    """GPT-2-style pre-tokenization approximation: letter runs, single
    digits, single punctuation marks. Pure regexp_extract_all — JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_ISH_REGEX), 0)


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token statistics: counts, average word length,
    type/token ratio. One narrow projection, no shuffle."""
    w = words(text_col)
    # nullif guards: an EMPTY doc now has size 0 (see words()), and a
    # bare division would error under ANSI mode — ratios are null there
    n = F.nullif(F.size(w), F.lit(0))
    return df.withColumns(
        {
            "n_words": F.size(w).cast("int"),
            "n_distinct_words": F.size(F.array_distinct(w)).cast("int"),
            "avg_word_len": _sum_word_len(w) / n,
            "distinct_ratio": F.size(F.array_distinct(w)) / n,
        }
    )


DEFAULT_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
)


def quality_score(
    df: DataFrame,
    text_col: str = "text",
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
    min_words: int = 5,
    max_avg_word_len: float = 20.0,
) -> DataFrame:
    """Heuristic document quality: stopword ratio, alpha ratio, length
    gates — the C4/Gopher-rule shape, all as codegen'd expressions.

    Adds ``stopword_ratio``, ``alpha_ratio``, ``quality_ok``.
    """
    w = words(text_col)
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    n_words = F.size(w)
    n_stop = F.size(F.array_intersect(F.array_distinct(w), stop_arr))
    text = F.col(text_col)
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    avg_len = _sum_word_len(w) / F.nullif(n_words, F.lit(0))
    return df.withColumns(
        {
            "stopword_ratio": n_stop / F.greatest(F.size(F.array_distinct(w)), F.lit(1)),
            "alpha_ratio": n_alpha / F.greatest(F.length(text), F.lit(1)),
            "quality_ok": (n_words >= min_words) & (avg_len <= max_avg_word_len),
        }
    )


# Tiny built-in function-word profiles; real deployments pass corpus-
# derived profiles. Scoring = broadcast join + sum of weights — the
# n-gram-heuristic shape without any Python in the loop.
DEFAULT_LANG_PROFILES: dict[str, dict[str, float]] = {
    "en": {"the": 3.0, "and": 2.0, "of": 2.0, "is": 1.5, "a": 1.0, "to": 1.5},
    "fr": {"le": 3.0, "la": 2.5, "et": 2.0, "de": 2.0, "un": 1.0, "est": 1.5},
    "es": {"el": 3.0, "la": 2.5, "y": 2.0, "de": 2.0, "un": 1.0, "es": 1.5},
    "de": {"der": 3.0, "die": 3.0, "und": 2.0, "das": 2.0, "ist": 1.5, "ein": 1.0},
}


def lang_id(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    profiles: dict[str, dict[str, float]] | None = None,
) -> DataFrame:
    """Language ID by function-word profile scoring.

    explode(words) -> broadcast join on the (lang, word, weight) profile
    table -> sum weight per (doc, lang) -> argmax lang (ties broken
    lexicographically). Docs matching no profile word get lang_pred null.
    At 100 TB the explode is map-local and the join is broadcast; the
    only shuffle is the per-doc aggregation.

    Tokens are lowercased before the join (profile words must be
    lowercase — the defaults are): a sentence-initial 'The' must score
    as 'the', or capitalized function words never match the profile.
    """
    profiles = profiles or DEFAULT_LANG_PROFILES
    spark = df.sparkSession
    rows = [(lang, w, float(wt)) for lang, p in profiles.items() for w, wt in p.items()]
    prof = spark.createDataFrame(rows, "lang_cand string, word string, weight double")

    tokens = df.select(id_col, F.explode(words(text_col)).alias("word")).select(
        id_col, F.lower("word").alias("word")
    )
    scored = (
        tokens.join(F.broadcast(prof), "word")
        .groupBy(id_col, "lang_cand")
        .agg(F.sum("weight").alias("score"))
    )
    best = scored.groupBy(id_col).agg(
        F.min_by("lang_cand", F.struct((-F.col("score")).alias("s"), F.col("lang_cand"))).alias("lang_pred"),
        F.max("score").alias("lang_score"),
    )
    return df.join(best, id_col, "left")


def fingerprint(
    df: DataFrame, text_col: str = "text", out_col: str = "fingerprint"
) -> DataFrame:
    """Order-sensitive document fingerprint: a positional polynomial over
    word hashes, mod 2^31-1. Identical word sequences collide with
    probability 1; reorderings don't (unlike a bag-of-words hash).

    word hash here is the word's length-weighted character sum surrogate
    (cheap, SQL-expressible); callers needing stronger hashes compose
    with ``word_id`` vocab mapping from dedup_scale.
    """
    w = words(text_col)
    # h(word) = (len(word) * 31 + ascii(first char)) — SQL-expressible
    wh = F.transform(w, lambda x: (F.length(x) * 31 + F.ascii(F.substring(x, 1, 1))).cast("bigint"))
    pos_weighted = F.zip_with(
        wh,
        F.sequence(F.lit(1), F.size(w)),
        lambda h, i: (h * i) % F.lit(HASH_P),
    )
    fp = F.aggregate(pos_weighted, F.lit(0).cast("bigint"), lambda a, x: (a + x) % F.lit(HASH_P))
    return df.withColumn(out_col, fp)


#: separator for word n-gram keys: a control char that whitespace
#: tokenization can never emit inside a word, so "ab c"-vs-"a bc"
#: bigrams cannot collide. The DuckDB oracles use the same chr(1).
NGRAM_SEP = "\x01"


def _word_ngrams(w: Column, n: int) -> Column:
    """Adjacent word n-grams of a token array as SEP-joined strings.
    Built from n SLICES zipped together — never element_at over a
    computed array, which Catalyst would inline and re-evaluate the
    whole tokenization per index (the q21 trap)."""
    size = F.size(w)
    ln = F.greatest(size - n + 1, F.lit(0))
    parts = [F.slice(w, i + 1, ln) for i in range(n)]
    g = parts[0]
    for p in parts[1:]:
        g = F.zip_with(g, p, lambda a, b: F.concat(a, F.lit(NGRAM_SEP), b))
    return g


def _max_run(sorted_arr: Column) -> Column:
    """Highest multiplicity in a SORTED string array, as one array-local
    fold (run-length over equal neighbours) — per-row work, zero
    shuffles, no explode+groupBy."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("int").alias("run"),
        F.lit(0).cast("int").alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def repetition_stats(
    df: DataFrame, text_col: str = "text", ns: tuple[int, ...] = (2, 3)
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021,
    "Scaling Language Models: Methods, Analysis & Insights from
    Training Gopher", Appendix A1 repetition filters — public paper):
    per document, the duplicate-word fraction and, for each n in
    ``ns``, the occurrence count of the MOST FREQUENT adjacent word
    n-gram plus the fraction of word positions its occurrences cover
    (count * n / n_words; overlapping occurrences can push it past 1 —
    callers threshold at ~0.15-0.3, where the distinction is moot).

    Repeated boilerplate (headers, navigation, template spam) shows up
    as high top-n-gram fractions long before exact/near dedup can see
    it; this is the standard pre-filter in public web-corpus pipelines.

    Scale shape: everything is array-local per row — slices + zip_with
    for the n-grams (one reference to the token array per slice), one
    array_sort + run-length fold for the max count. ZERO shuffles, no
    explode, no per-doc groupBy; the DuckDB oracle replays it with
    unnest + GROUP BY and matches exactly because only COUNTS cross
    engines, never a tie-broken winning gram. Empty docs yield null
    fractions (nullif guard, ANSI-safe); docs shorter than n yield
    count 0, fraction 0; NULL text yields NULL everything (the module's
    null-on-invalid rule — unguarded, non-ANSI size(NULL) = -1 would
    score a NULL doc as pristine dup_word_frac 0.0)."""
    c = F.col(text_col)
    w = words(text_col)
    n_words = F.when(c.isNotNull(), F.size(w))
    nn = F.nullif(n_words, F.lit(0)).cast("double")
    out = {
        "n_words": n_words.cast("int"),
        "dup_word_frac": F.round(
            (n_words - F.size(F.array_distinct(w))) / nn, 6
        ),
    }
    for n in ns:
        cnt = F.when(c.isNotNull(), _max_run(F.array_sort(_word_ngrams(w, n))))
        out[f"top_{n}gram_count"] = cnt.cast("int")
        out[f"top_{n}gram_frac"] = F.round(cnt * n / nn, 6)
    return df.withColumns(out)


#: PII patterns, applied in declaration order. Deliberately simple,
#: anchor-free regexes that mean the SAME thing in Java regex (Spark)
#: and RE2 (DuckDB oracles): character classes and bounded repetition
#: only — no lookaround (RE2 has none), no bare \w/\s (unicode-vs-ASCII
#: divergence, see functions/transforms.py). Email first: an address
#: can embed digit runs a later phone/ip pattern would half-redact.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{2,3}-\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    kinds: tuple[str, ...] = ("email", "phone", "ipv4"),
    out_col: str | None = None,
    count_col: str | None = None,
) -> DataFrame:
    """Redact PII spans with typed tags — the standard scrub stage a
    public training corpus runs before anything else sees the text
    (C4 / RefinedWeb-style). Pure chained regexp_replace: JVM-side,
    codegen'd, zero shuffles, replaces ALL occurrences.

    ``kinds`` selects and ORDERS the applied patterns from
    PII_PATTERNS — the tuple order IS the application order (an earlier
    pattern's replacement is what later patterns see). ``count_col``
    optionally records how many spans were ACTUALLY replaced per
    document (each stage counts its matches in the stage's input, so a
    tag literal already present in the source text — e.g. a
    previously-redacted corpus re-entering the pipeline — is never
    counted), the signal a pipeline uses to drop PII-dense documents
    outright."""
    by_kind = {k_: (p, r) for k_, p, r in PII_PATTERNS}
    unknown = [k for k in kinds if k not in by_kind]
    if unknown:
        raise ValueError(f"unknown PII kinds {unknown}; known: "
                         f"{[k for k, _, _ in PII_PATTERNS]}")
    out_col = out_col or text_col
    c: Column = F.col(text_col)
    n: Column = F.lit(0)
    for kind in kinds:
        pat, rep = by_kind[kind]
        if count_col:
            # matches in THIS stage's input = spans this stage replaces
            # (NULL text contributes 0 and passes through as NULL)
            n = n + F.when(
                c.isNull(), F.lit(0)
            ).otherwise(F.size(F.regexp_extract_all(c, F.lit(pat), 0)))
        c = F.regexp_replace(c, F.lit(pat), F.lit(rep))
    # ONE withColumns so both expressions resolve against the ORIGINAL
    # frame: with out_col == text_col (the default), a second
    # withColumn would re-bind the count's F.col(text_col) references
    # to the already-redacted column
    new_cols = {out_col: c}
    if count_col:
        new_cols[count_col] = n.cast("int")
    return df.withColumns(new_cols)
