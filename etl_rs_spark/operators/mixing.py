"""Data mixing: deterministic source-weighted up/down-sampling.

Pretraining mixes re-weight heterogeneous sources before packing —
"wikipedia x 3.0, common-crawl x 0.3" — by REPLICATING high-value
sources an integer number of times and keeping a deterministic hash
fraction for the fractional remainder (downsampling is the pure-
fractional case). This is the epochs-per-source knob of every published
LLM data recipe, applied as a dataflow operator instead of a loader
trick.

Reference parity note: the reference engine (CaoKha/etl-rs) ends at
normalized per-record tables; mixing is a training-pipeline addition
over the same (doc_id, tokens, source) shape, like packing and
decontamination.

Determinism and portability: a row's fate is a pure function of
(id, replica, seed) — the 60-bit md5 hash (dedup_scale.word_hash60
over a "id:replica:seed" key) compared against the INTEGER
threshold floor(frac * 2^60). No floats cross engines, no RNG state:
the same call yields the same sample on any cluster size or
partitioning, and a DuckDB oracle replays it bit-for-bit.

Every operator here builds its plan from SQL expression strings
(``etl_rs_spark.sql_text``; column names enter quoted, source and split
names as escaped literals): a few DataFrame operations, a few py4j
calls each.

The 100 TB story: ZERO shuffles — a broadcast-free narrow projection
(the weight table folds into the plan as a literal map), one
``transform``/``explode`` per row bounded by ceil(weight), and the
hash filter runs at the scan. Catalyst pushes column pruning through,
and downstream consumers pack replicated docs as distinct documents via
``pack_sequences(..., id_col=("doc_id", "replica"))``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_rs_spark.operators.dedup_scale import word_hash60
from etl_rs_spark.sql_text import ident, literal

#: hash domain: word_hash60 yields ids in [0, 2^60)
_HASH_DOMAIN = 1 << 60

#: weights above this are certainly a bug (a per-row explode of this
#: many replicas), and Spark's sequence() hard-fails near 2^31 anyway —
#: reject eagerly with a readable error instead of an executor OOM
_MAX_WEIGHT = 1_000_000


def mix_sample(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 17,
    default_weight: float = 0.0,
) -> DataFrame:
    """Sample/replicate rows per source to hit the mix ``weights``.

    A source with weight ``w = k + f`` (integer ``k >= 0``, fraction
    ``0 <= f < 1``) emits ``k`` guaranteed copies of every row plus one
    more with probability ``f`` — so its expected token share scales by
    exactly ``w``. ``w <= 1`` is plain downsampling; ``w = 0`` (and, by
    default, any source missing from ``weights``) drops the source.

    Output = input columns + ``replica int`` (0-based copy index):
    downstream identity is (id, replica), so packing or shuffling
    replicated docs treats each copy as a distinct document.

    The fractional keep decision for (row, replica r) is
    ``md5_60bit(f"{id}:{r}:{seed}") < floor(f * 2^60)`` — deterministic,
    independent per replica, engine-portable (integer threshold; no
    float comparisons). Changing ``seed`` redraws every fractional
    decision; integer copies are unaffected.
    """
    for s, w in weights.items():
        if w < 0 or not math.isfinite(w) or w > _MAX_WEIGHT:
            raise ValueError(
                f"weight for {s!r} must be finite in [0, {_MAX_WEIGHT}], got {w}"
            )
    if not 0 <= default_weight <= _MAX_WEIGHT or not math.isfinite(default_weight):
        raise ValueError(
            f"default_weight must be finite in [0, {_MAX_WEIGHT}], got {default_weight}"
        )

    def _split(w: float) -> tuple[int, int]:
        k = int(math.floor(w))
        thr = int((w - k) * _HASH_DOMAIN)  # exact integer threshold
        return k, thr

    cases = {s: _split(w) for s, w in weights.items()}
    dk, dthr = _split(default_weight)

    # one CASE per source, the last-named source outermost
    n_full, thr = str(dk), str(dthr)
    for src, (k, t) in cases.items():
        cond = f"{ident(source_col)} = {literal(src)}"
        n_full = f"CASE WHEN {cond} THEN {int(k)} ELSE {n_full} END"
        thr = f"CASE WHEN {cond} THEN {int(t)} ELSE {thr} END"

    # candidate replicas 0 .. n_full (the last one is the fractional
    # draw, generated only when a fraction exists). sequence(0, -1)
    # would count BACKWARDS, hence the explicit empty-array guard.
    n_cand = f"{n_full} + CASE WHEN {thr} > 0 THEN 1 ELSE 0 END"
    cands = (
        f"CASE WHEN {n_cand} > 0 THEN sequence(0, {n_cand} - 1) "
        f"ELSE CAST(array() AS ARRAY<INT>) END"
    )

    # concat, NOT concat_ws: concat_ws SKIPS null inputs, so a NULL id
    # would silently hash as just "replica:seed" (one shared draw for
    # every NULL-id row) while the SQL oracle's || yields NULL and drops
    # the row. concat propagates NULL -> hash NULL -> comparison NULL ->
    # fractional draw filtered out, matching the oracle: NULL-id rows
    # keep their integer copies and never win a fractional draw.
    key = (
        f"concat(CAST({ident(id_col)} AS STRING), ':', "
        f"CAST(_replica AS STRING), ':', '{int(seed)}')"
    )
    return (
        df.selectExpr("*", f"{n_full} AS _nf", f"{thr} AS _thr")
        .selectExpr("*", f"explode_outer({cands}) AS _replica")
        .filter(
            f"_replica IS NOT NULL AND (_replica < _nf OR {word_hash60(key)} < _thr)"
        )
        .selectExpr(*map(ident, df.columns), "CAST(_replica AS INT) AS replica")
    )


def stratified_split(
    df: DataFrame,
    splits: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 17,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: each row lands in
    exactly one named split as a pure function of (id, seed) — the same
    60-bit md5 draw as mix_sample against CUMULATIVE integer
    thresholds. Zero shuffles, SQL-replayable, and — the property that
    keeps eval sets leak-free as a corpus grows — a row's split NEVER
    changes when other rows arrive, unlike any sample that depends on
    counts or ordering.

    ``splits`` is an ordered {name: fraction} with fractions summing to
    at most 1 (within float eps); rows drawing past the last cumulative
    threshold get a NULL split (give fractions summing to 1 to label
    everything). NULL ids draw NULL and stay unlabeled, matching the
    SQL oracle's NULL propagation."""
    if not splits:
        raise ValueError("splits must name at least one split")
    bad = {n: f for n, f in splits.items() if f < 0}
    if bad:
        raise ValueError(f"split fractions must be >= 0, got {bad}")
    total = sum(splits.values())
    if total > 1 + 1e-9:
        raise ValueError(f"split fractions sum to {total} > 1")

    h = _seed_draw(id_col, seed)
    branches = []
    cum = 0.0
    names = list(splits)
    for name, frac in splits.items():
        cum += frac
        # the last threshold clamps to the full domain when fractions
        # sum to 1 within float eps: 0.8+0.1+0.1 float-sums to
        # 0.999…99, which would leave a ~2^-53 hash sliver unlabeled —
        # violating the "fractions summing to 1 label everything"
        # contract one row in ~10^16
        if name == names[-1] and abs(total - 1.0) <= 1e-9:
            thr = _HASH_DOMAIN
        else:
            thr = min(int(cum * _HASH_DOMAIN), _HASH_DOMAIN)  # exact integer
        branches.append(f"WHEN {h} < {thr} THEN {literal(name)}")
    return df.withColumn(out_col, F.expr(f"CASE {' '.join(branches)} END"))


def cap_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 17,
) -> DataFrame:
    """Keep at most ``k`` rows per group — the per-domain quota cap of
    web-corpus prep (one mega-domain must not dominate the mix).
    Survivor choice is deterministic: lowest 60-bit (id, seed) draw
    first, id as the tiebreak — an unbiased uniform sample of the group
    that is stable across partitioning and replayable in SQL. NULL ids
    draw NULL and rank LAST (matching SQL window NULLS LAST), so they
    survive only when a group has fewer than k real-id rows.

    ONE shuffle (the group window). Skew note: a mega-group's rows
    serialize into one task for the row_number pass — acceptable when
    groups are domains (high cardinality, bounded share); for a
    pathological single-group corpus, pre-thin with mix_sample (hash
    downsample to ~k x parallelism) before capping."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    # NULLS LAST, NOT bare ASC: Spark ASC ranks NULL FIRST while SQL
    # windows (and the DuckDB oracle) rank NULL LAST — bare ASC would
    # let NULL-id junk rows displace real documents from every cap
    rn = (
        f"row_number() OVER (PARTITION BY {ident(group_col)} ORDER BY "
        f"{_seed_draw(id_col, seed)} ASC NULLS LAST, {ident(id_col)} ASC NULLS LAST) AS _rn"
    )
    return df.selectExpr("*", rn).filter(f"_rn <= {int(k)}").drop("_rn")


def _seed_draw(id_col: str, seed: int) -> str:
    """SQL text of the 60-bit (id, seed) draw of ``stratified_split``
    and ``cap_per_group``: word_hash60 of "id:seed"; a NULL id draws
    NULL."""
    return word_hash60(f"concat(CAST({ident(id_col)} AS STRING), {literal(f':{seed}')})")
