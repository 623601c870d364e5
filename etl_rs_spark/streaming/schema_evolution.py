"""Metadata-driven additive column mapping (north rule: "new columns like
source tags handled via metadata-driven column mapping").

The reference has fixed schemas (SURVEY.md §2.13 — evolution is absent
there); this is our addition. A ``ColumnMapping`` is pure metadata (it
could live in a config table); applying it:

- routes known source fields to target columns (rename + cast),
- null/default-fills targets missing from the batch (pre-evolution
  segments),
- silently drops unknown event fields (never crashes on a producer that
  is ahead of the consumer).

The lake table widens additively when the mapping grows — the sink's
manifest schema is the ALTER TABLE ADD COLUMN analogue.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_rs_spark.sql_text import ident


@dataclass(frozen=True)
class MappedColumn:
    source: str
    target: str
    ddl_type: str
    default: object = None


@dataclass
class ColumnMapping:
    columns: tuple[MappedColumn, ...]

    @staticmethod
    def base() -> "ColumnMapping":
        return ColumnMapping(
            columns=(
                MappedColumn("doc_id", "doc_id", "string"),
                MappedColumn("tokens", "tokens", "array<int>"),
                MappedColumn("n_tok", "n_tok", "int"),
                MappedColumn("source", "source", "string"),
            )
        )

    def evolved(self, *cols: MappedColumn) -> "ColumnMapping":
        """Additive evolution: append new mapped columns (epoch E2+)."""
        return ColumnMapping(columns=self.columns + cols)

    def apply(self, df: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
        out = []
        targets = {m.target for m in self.columns}
        for m in self.columns:
            if m.source in df.columns:
                out.append(F.expr(f"CAST({ident(m.source)} AS {m.ddl_type}) AS {ident(m.target)}"))
            else:
                out.append(F.lit(m.default).cast(m.ddl_type).alias(m.target))
        for c in passthrough:
            if c in targets:
                # would select the column TWICE — every later
                # F.col(name) dies with AMBIGUOUS_REFERENCE far from
                # the misconfiguration; fail at the source instead
                raise ValueError(
                    f"passthrough column {c!r} collides with a mapped target"
                )
            out.append(F.col(c))
        return df.select(*out)
