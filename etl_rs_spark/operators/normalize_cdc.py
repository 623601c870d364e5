"""Per-record normalization of tokenized sequences (CDC path).

The etl-rs analogue: per-column normalization with null-on-invalid
semantics (SURVEY.md §2.10), re-expressed over the ``tokens`` payload:

- drop token values outside ``[0, vocab)`` (clip-to-vocab),
- truncate to ``max_len``,
- recompute ``n_tok`` (the binlog deliberately carries ~1% wrong values),
- an insert/update whose tokens normalize to empty (or are null) is
  INVALID and dropped — the etl-rs "null on invalid" rule lifted to the
  row level; deletes carry no payload and are always valid.

Both ``valid_flag`` and ``normalize_events`` are pure Column
expressions (no Python), built from SQL strings: a couple of py4j calls
each, where the equivalent ``F.col`` chain costs a JVM round trip (plus
a call-site capture) per operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def valid_flag(df: DataFrame, vocab: int = 50257) -> DataFrame:
    """Adds ``_valid`` WITHOUT materializing cleaned token arrays:
    a row is valid iff it is a delete or at least one in-vocab token
    exists (early-exit ``exists``). This is exactly the row set
    ``normalize_events(...)._valid`` keeps, so LWW can run on raw
    payloads and the full normalize can wait until after the per-key
    winners are chosen — the O(events) hot path streams no new arrays."""
    # coalesce: exists() over a NULL tokens array is NULL, and a
    # three-valued _valid makes negative filters (~_valid) silently
    # miss those rows
    return df.withColumn(
        "_valid",
        F.expr(
            f"coalesce(op = 'delete' OR exists(tokens, t -> t >= 0 AND t < {int(vocab)}), false)"
        ),
    )


def normalize_events(df: DataFrame, vocab: int = 50257, max_len: int = 2048) -> DataFrame:
    """Clean tokens and recompute ``n_tok``. Adds ``_valid``; callers
    filter on it (keeping the invalid rows observable for lineage
    counters)."""
    df = df.withColumn(
        "tokens",
        F.expr(
            f"CASE WHEN op != 'delete' THEN "
            f"slice(filter(tokens, t -> t >= 0 AND t < {int(vocab)}), 1, {int(max_len)}) END"
        ),
    )
    df = df.withColumn("n_tok", F.expr("CAST(CASE WHEN tokens IS NOT NULL THEN size(tokens) END AS INT)"))
    # coalesce for the same reason as valid_flag: null tokens make
    # n_tok null, and NULL-valued _valid breaks negative filters
    return df.withColumn("_valid", F.expr("coalesce(op = 'delete' OR n_tok > 0, false)"))
