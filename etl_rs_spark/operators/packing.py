"""Sequence packing: concat-and-chunk tokenized documents into
fixed-length training windows.

The standard LLM-pretraining data layout packs variable-length token
sequences into fixed ``max_len`` windows with no padding: concatenate
the corpus (optionally with a separator token after each document) and
split every ``max_len`` tokens, letting documents straddle window
boundaries. This is the GPT-style "concat and chunk" scheme — unlike
greedy first-fit bin packing it is deterministic, order-defined, and
loses zero tokens, which also makes it exactly replayable by a SQL
oracle (cumulative-offset window + per-chunk slices).

Reference parity note: the reference engine (CaoKha/etl-rs) stops at
normalize/dedup of per-record token arrays — packing is one of the
training-pipeline additions layered on top (like minhash dedup and ANN),
built over the same tokenized-document shape its pipeline emits.

Distribution model (the 100 TB story):

- The corpus is split into ``n_shards`` independent packing groups by a
  deterministic shard key (default ``pmod(doc_id, n_shards)``); each
  shard concatenates ITS documents in ``id_col`` order. Chunks never
  cross shards, so packing is embarrassingly parallel across shards and
  ``n_shards`` is the parallelism knob — size it to a few × cluster
  cores. Per-shard state is one running offset (a window sum), not the
  corpus.
- Exactly ONE shuffle: the offset window repartitions by ``shard``
  (uniform by construction), and the chunk assembly groups by
  ``(shard, chunk)`` — ``shard`` is a subset of the grouping keys, so
  Catalyst reuses the window's hash partitioning with a map-side
  partial aggregate and NO second exchange (plan-gated in
  tests/test_packing.py). Reducer state stays bounded regardless of
  document skew: a chunk holds at most ``max_len`` tokens; a single
  1M-token document simply spans many chunks.
- Everything is built-in Catalyst expressions (window sum, transform/
  slice, explode, array_sort/flatten) — no Python in the hot path.
  ``pack_sequences`` builds them from SQL expression strings
  (``etl_rs_spark.sql_text``), a few py4j calls per DataFrame operation.
- The offset window carries the token payload through the one
  shuffle. A shuffle-thin variant (window over (shard, id, length)
  only, then join the payload back by id) trades that for an extra
  join shuffle — same payload bytes moved, more stages; measured
  unprofitable on the replay LWW path (BENCH/BASELINE.md), so not
  offered here.

Streaming / CDC contract — REPACK PER SNAPSHOT: chunk identity is a
function of the whole shard's concatenation order, so ONE late change
event shifts every downstream chunk boundary in its shard. Packing
incrementally per micro-batch would freeze windows the next event
invalidates; instead the CDC replay engine maintains the token table
incrementally (exactly-once upserts) and mix->pack runs over a
committed SNAPSHOT — any snapshot, reproducibly (time travel included).
tests/test_pipeline_compose.py::test_streaming_snapshot_mix_pack_equals_batch
pins the equality this rests on: streaming and bulk replay of the same
binlog yield identical snapshots, hence bit-identical packed output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, NumericType
from pyspark.sql.window import Window

from etl_rs_spark.sql_text import ident


def pack_sequences(
    df: DataFrame,
    max_len: int,
    tokens_col: str = "tokens",
    id_col: str | tuple[str, ...] = "doc_id",
    n_shards: int = 32,
    sep_token: int | None = None,
    shard_expr: Column | None = None,
) -> DataFrame:
    """Pack ``tokens_col`` arrays into fixed ``max_len`` windows.

    Returns one row per (shard, chunk): ``shard int``, ``chunk bigint``
    (0-based within shard), ``tokens`` (same element type as the input;
    exactly ``max_len`` long except the final chunk of each shard),
    ``n_tokens int``, ``n_docs int`` (documents contributing at least
    one token to the window).

    Semantics: within a shard, documents are concatenated in ascending
    ``id_col`` order (with ``sep_token`` appended after each document
    when given); the stream is cut every ``max_len`` tokens. Documents
    straddle chunk boundaries — no padding, no token loss: the multiset
    of output tokens equals the input (plus separators). Empty documents
    contribute nothing (just a separator, if configured).

    ``id_col`` may be a TUPLE of columns for composite identities —
    mixing.mix_sample's replicated docs pack as
    ``id_col=("doc_id", "replica")`` so copies are distinct documents
    without any lossy hand-encoding. The identity must be UNIQUE per
    row: the concatenation order (and therefore every chunk) is defined
    by it, so duplicate ids would make output depend on tie-breaking.

    ``shard_expr`` overrides the shard key for non-numeric ids (e.g.
    ``pmod(xxhash64("doc_id"), n)``); the default ``pmod(id, n_shards)``
    over the FIRST id column requires it to be numeric (validated — a
    silent cast would turn string ids into one NULL shard and a
    single-partition sort) and is what the DuckDB oracle replays.
    Determinism: output is a pure function of the input rows —
    independent of partitioning, task order, or cluster size.
    """
    staged, ids = _staged_docs(
        df, max_len, tokens_col, id_col, n_shards, sep_token, shard_expr
    )
    # running offset of each doc inside its shard's concatenated stream
    order = ", ".join(map(ident, ids))
    return _assemble_chunks(staged.selectExpr(
        "*",
        f"coalesce(sum(_ln) OVER (PARTITION BY shard ORDER BY {order} ROWS "
        f"BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _start",
        "1 AS _nd",
    ), max_len)


def _staged_docs(
    df: DataFrame,
    max_len: int,
    tokens_col: str,
    id_col: str | tuple[str, ...],
    n_shards: int,
    sep_token: int | None,
    shard_expr: Column | None,
):
    """Validate + stage: one run row (*ids, shard, _tk, _ln) per
    non-empty document. Shared by pack_sequences and pack_tail so both
    paths shard, separate, and filter identically."""
    if max_len <= 0:
        raise ValueError(f"max_len must be positive, got {max_len}")
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    ids = [id_col] if isinstance(id_col, str) else list(id_col)

    toks = ident(tokens_col)
    if sep_token is not None:
        elem = df.schema[tokens_col].dataType.elementType.simpleString()
        toks = f"concat({toks}, array(CAST({int(sep_token)} AS {elem})))"
    if shard_expr is not None:
        df = df.withColumn("_shard", shard_expr)
        shard = "_shard"
    else:
        if not isinstance(df.schema[ids[0]].dataType, NumericType):
            raise ValueError(
                f"default shard key pmod({ids[0]}, n) needs a numeric id "
                f"column, got {df.schema[ids[0]].dataType.simpleString()} — "
                f"pass shard_expr (e.g. pmod(xxhash64(id), n)) for "
                f"string ids"
            )
        shard = f"pmod(CAST({ident(ids[0])} AS BIGINT), {int(n_shards)})"

    staged = df.selectExpr(
        *map(ident, ids),
        f"CAST({shard} AS INT) AS shard",
        f"{toks} AS _tk",
        f"CAST(size({toks}) AS BIGINT) AS _ln",
    ).filter("_ln > 0")
    return staged, ids


def _assemble_chunks(off: DataFrame, max_len: int) -> DataFrame:
    """Shared chunk assembly: rows (shard, _start, _ln, _tk, _nd) —
    each a token run placed at global offset ``_start`` of its shard's
    stream, carrying ``_nd`` source documents (1 for a real doc; the
    carry run in pack_tail counts the documents folded into it) —
    sliced into ``max_len`` windows and flattened per (shard, chunk).
    ``shard`` is a subset of the grouping keys, so the groupBy reuses
    whatever shard-hash partitioning produced ``_start`` (plan-gated:
    one exchange total in pack_sequences)."""
    L = f"CAST({int(max_len)} AS BIGINT)"
    # chunks this run spans: floor(start/L) .. floor((fin-1)/L). _ln > 0
    # guarantees the range is non-empty — sequence with hi < lo would
    # COUNT BACKWARDS, so upstream's empty-run filter is load-bearing.
    spans = off.selectExpr("*", "_start + _ln AS _fin").selectExpr(
        "shard", "_start", "_fin", "_tk", "_nd",
        f"sequence(_start div {int(max_len)}, (_fin - 1) div {int(max_len)}) AS _chunks",
    )
    # per-(run, chunk) slice, in LOCAL 1-based positions: the piece's
    # global range is [g0, g1) = [max(start, c*L), min(fin, (c+1)*L))
    g0 = f"greatest(_start, c * {L})"
    g1 = f"least(_fin, (c + CAST(1 AS BIGINT)) * {L})"
    piece = (
        f"struct(c AS chunk, slice(_tk, CAST({g0} - _start + 1 AS INT), "
        f"CAST({g1} - {g0} AS INT)) AS piece)"
    )
    # explode_outer + null filter, NOT plain explode: explode's implicit
    # size>0 pushdown re-evaluates the computed array at the scan
    pieces = (
        spans.selectExpr(
            "shard", "_start", "_nd",
            f"explode_outer(transform(_chunks, c -> {piece})) AS _cp",
        )
        .filter("_cp IS NOT NULL")
        .selectExpr("shard", "_start", "_nd", "_cp.chunk AS chunk", "_cp.piece AS _piece")
    )
    # assemble each window: pieces ordered by their run's start offset
    # (unique within a chunk), then flattened
    return (
        pieces.groupBy("shard", "chunk")
        .agg(
            F.expr("array_sort(collect_list(struct(_start, _piece))) AS _sp"),
            F.expr("CAST(sum(_nd) AS INT) AS n_docs"),
        )
        .selectExpr("*", "flatten(_sp._piece) AS tokens")
        .selectExpr("shard", "chunk", "tokens", "size(tokens) AS n_tokens", "n_docs")
    )


def pack_state(packed: DataFrame, max_len: int) -> DataFrame:
    """Per-shard committed packing state, derived from a packed output
    (or any committed snapshot of one): ``shard``, ``base`` (total
    tokens packed so far — the next token's global offset), ``carry``
    (the tokens of the final PARTIAL chunk; empty when the shard ended
    exactly on a ``max_len`` boundary) and ``carry_docs`` (documents
    contributing to that partial chunk). O(n_shards) rows — this is the
    ONLY state incremental packing needs, never the corpus."""
    if max_len <= 0:
        raise ValueError(f"max_len must be positive, got {max_len}")
    st = packed.groupBy("shard").agg(
        F.sum("n_tokens").cast("bigint").alias("base"),
        F.max_by(F.struct("tokens", "n_tokens", "n_docs"), "chunk").alias("_last"),
    )
    partial = F.col("_last.n_tokens") < F.lit(int(max_len))
    return st.select(
        "shard",
        "base",
        # slice(x, 1, 0) = empty array of the RIGHT element type
        F.when(partial, F.col("_last.tokens"))
        .otherwise(F.slice(F.col("_last.tokens"), 1, 0))
        .alias("carry"),
        F.when(partial, F.col("_last.n_docs")).otherwise(F.lit(0))
        .cast("int")
        .alias("carry_docs"),
    )


def pack_tail(
    df: DataFrame,
    state: DataFrame,
    max_len: int,
    tokens_col: str = "tokens",
    id_col: str | tuple[str, ...] = "doc_id",
    n_shards: int = 32,
    sep_token: int | None = None,
    shard_expr: Column | None = None,
) -> DataFrame:
    """Incremental packing for APPEND-ONLY corpora: pack only the new
    documents ``df``, continuing each shard's committed stream from
    ``state`` (a ``pack_state`` frame). Emits every chunk the new
    tokens touch — per shard that is the previously-partial boundary
    chunk COMPLETED (same ``chunk`` id, now longer) plus the new chunks
    after it — so the caller upserts by ``(shard, chunk)``: all earlier
    chunks are immutable. Exactly-once composition: MERGE the emitted
    rows into the packed table keyed on (shard, chunk), exactly like
    the CDC upsert path.

    Invariant (pinned in tests/test_packing.py): for any split of an
    append-only corpus into prefix + suffix by ascending id,
    ``upsert(pack_sequences(prefix), pack_tail(suffix, state(prefix)))``
    equals ``pack_sequences(prefix + suffix)`` bit-for-bit, including
    ``n_docs`` (the carry run carries its folded document count).

    CONTRACT — append-only and ordered: every new id must sort AFTER
    all committed ids of its shard (true for monotonically assigned
    doc_ids), ``max_len``/``n_shards``/``sep_token``/``shard_expr``
    must equal the values the committed chunks were packed with, and
    updates/deletes of committed docs are out of scope (those shift
    committed chunk boundaries — use the REPACK PER SNAPSHOT contract
    above). A shard with no new documents emits nothing — its committed
    chunks, boundary included, are already correct.

    Plan: ONE shuffle over the new docs (the same shard window as
    pack_sequences, whose partitioning the chunk groupBy reuses) plus a
    broadcast of the O(n_shards) state. The carry is folded into each
    shard's FIRST new run through the broadcast join rather than
    unioned in as extra rows — a union would erase the window's
    partitioning and force a second full shuffle of the tail
    (plan-gated in tests/test_packing.py)."""
    staged, ids = _staged_docs(
        df, max_len, tokens_col, id_col, n_shards, sep_token, shard_expr
    )
    elem = df.schema[tokens_col].dataType.elementType
    st = state.select(
        "shard",
        F.col("base").cast("bigint").alias("_base"),
        F.col("carry").cast(ArrayType(elem)).alias("_carry"),
        F.col("carry_docs").alias("_cd"),
    )
    # materialize the O(n_shards) state ONCE: it fans into two
    # broadcasts (the carry join and the boundary n_docs join), and an
    # unmaterialized plan — e.g. pack_state over the committed packed
    # table — would execute its full scan/aggregation twice
    st = df.sparkSession.createDataFrame(st.collect(), st.schema)

    # per-shard state rides a broadcast join (O(n_shards) rows); the
    # window is the same single shard-hash shuffle as pack_sequences
    w = (
        Window.partitionBy("shard")
        .orderBy(*ids)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    joined = staged.withColumn(
        "_w", F.coalesce(F.sum("_ln").over(w), F.lit(0))
    ).join(F.broadcast(st), "shard", "left")
    # the shard's first new run absorbs the carried partial boundary
    # chunk: its tokens are prepended and its start shifts back by the
    # carry length. Its _nd stays 1 — the carried DOCUMENT count is
    # added to the boundary chunk alone after assembly (folding it into
    # the run would overcount every later chunk a straddling first doc
    # spans).
    first = (
        (F.col("_w") == 0)
        & F.col("_carry").isNotNull()
        & (F.size("_carry") > 0)
    )
    clen = F.when(first, F.size("_carry").cast("bigint")).otherwise(F.lit(0))
    runs = joined.select(
        "shard",
        (F.coalesce(F.col("_base"), F.lit(0)) + F.col("_w") - clen).alias("_start"),
        (F.col("_ln") + clen).alias("_ln"),
        F.when(first, F.concat(F.col("_carry"), F.col("_tk")))
        .otherwise(F.col("_tk"))
        .alias("_tk"),
        F.lit(1).alias("_nd"),
    )
    out = _assemble_chunks(runs, max_len)
    # carry lies entirely inside one chunk (its length < max_len), so
    # (base - carry_len) div L IS the boundary chunk id
    bchunks = st.filter(F.size("_carry") > 0).select(
        "shard",
        F.expr(f"(_base - size(_carry)) div {int(max_len)}").alias("_bchunk"),
        "_cd",
    )
    return (
        out.join(F.broadcast(bchunks), "shard", "left")
        .withColumn(
            "n_docs",
            (
                F.col("n_docs")
                + F.when(F.col("chunk") == F.col("_bchunk"), F.col("_cd"))
                .otherwise(F.lit(0))
            ).cast("int"),
        )
        .drop("_bchunk", "_cd")
    )
