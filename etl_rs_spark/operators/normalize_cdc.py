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
expressions (no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def valid_flag(df: DataFrame, vocab: int = 50257) -> DataFrame:
    """Adds ``_valid`` WITHOUT materializing cleaned token arrays:
    a row is valid iff it is a delete or at least one in-vocab token
    exists (early-exit F.exists). This is exactly the row set
    ``normalize_events(...)._valid`` keeps, so LWW can run on raw
    payloads and the full normalize can wait until after the per-key
    winners are chosen — the O(events) hot path streams no new arrays."""
    # coalesce: exists() over a NULL tokens array is NULL, and a
    # three-valued _valid makes negative filters (~_valid) silently
    # miss those rows
    return df.withColumn(
        "_valid",
        F.coalesce(
            (F.col("op") == "delete")
            | F.exists("tokens", lambda t: (t >= 0) & (t < F.lit(vocab))),
            F.lit(False),
        ),
    )


def normalize_events(df: DataFrame, vocab: int = 50257, max_len: int = 2048) -> DataFrame:
    """Clean tokens and recompute ``n_tok``. Adds ``_valid``; callers
    filter on it (keeping the invalid rows observable for lineage
    counters)."""
    cleaned = F.slice(
        F.filter("tokens", lambda t: (t >= 0) & (t < F.lit(vocab))), 1, max_len
    )
    df = df.withColumn("tokens", F.when(F.col("op") != "delete", cleaned))
    df = df.withColumn(
        "n_tok",
        F.when(F.col("tokens").isNotNull(), F.size("tokens")).cast("int"),
    )
    # coalesce for the same reason as valid_flag: null tokens make
    # n_tok null, and NULL-valued _valid breaks negative filters
    return df.withColumn(
        "_valid",
        F.coalesce((F.col("op") == "delete") | (F.col("n_tok") > 0), F.lit(False)),
    )

