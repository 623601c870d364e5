"""Output checks against oracles that share no code with the engine.

- CDC: the end state of a lake table equals a DuckDB replay of the same
  stored binlog files: deliveries deduplicated on ``(partition,
  offset)``, tokens normalized (in-vocab, truncated), rows with no
  in-vocab token dropped, last writer per ``doc_id`` by ``(lsn,
  offset)``, tombstones removed. Token arrays are compared per doc.
- Manifest lineage: ``rows_in`` equals the events read, and every
  partition's committed offset is the log's last offset (lag 0).
- Contract queries: a Spark result equals its ``oracle_sql()`` twin as
  an order-insensitive multiset of canonicalized rows.
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb

#: engine normalize defaults (``ReplayConfig``)
VOCAB = 50257
MAX_LEN = 2048


def cdc_oracle_sql(files: list[str]) -> str:
    flist = ", ".join(f"'{f}'" for f in files)
    return f"""
    WITH delivered AS (
        SELECT * FROM read_parquet([{flist}], union_by_name = true)
        QUALIFY row_number() OVER (PARTITION BY "partition", "offset" ORDER BY lsn) = 1
    ), cleaned AS (
        SELECT doc_id, op, lsn, "offset", source,
               list_filter(tokens, t -> t >= 0 AND t < {VOCAB}) AS toks
        FROM delivered
    ), valid AS (
        SELECT * FROM cleaned WHERE op = 'delete' OR len(toks) > 0
    ), winners AS (
        SELECT * FROM valid
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC, "offset" DESC) = 1
    )
    SELECT doc_id, toks[1:{MAX_LEN}] AS tokens, source
    FROM winners WHERE op <> 'delete'
    """


class CdcOracle:
    """The oracle's end state of one stored binlog, replayed once."""

    def __init__(self, files: list[str]):
        self.con = duckdb.connect()
        self.con.sql(f"CREATE TABLE oracle AS {cdc_oracle_sql(files)}")

    def mismatches(self, table_arrow) -> int:
        """Docs whose engine state differs from the oracle's (missing on
        either side, or different tokens, n_tok or source)."""
        self.con.register("engine", table_arrow)
        return self.con.sql("""
            SELECT count(*) FROM engine e FULL OUTER JOIN oracle o USING (doc_id)
            WHERE e.doc_id IS NULL OR o.doc_id IS NULL
               OR e.tokens IS DISTINCT FROM o.tokens
               OR e.n_tok IS DISTINCT FROM len(o.tokens)
               OR e.source IS DISTINCT FROM o.source
        """).fetchone()[0]

    def close(self) -> None:
        self.con.close()


def log_extent(files: list[str]) -> tuple[int, dict[int, int]]:
    """Rows in the stored log and the last offset of each partition."""
    flist = ", ".join(f"'{f}'" for f in files)
    con = duckdb.connect()
    try:
        rel = f"read_parquet([{flist}], union_by_name = true)"
        n = con.sql(f"SELECT count(*) FROM {rel}").fetchone()[0]
        last = dict(con.sql(
            f'SELECT "partition", max("offset") FROM {rel} GROUP BY 1').fetchall())
    finally:
        con.close()
    return n, {int(p): int(o) for p, o in last.items()}


def lineage_ok(manifest: dict, rows: int, last_offsets: dict[int, int]) -> bool:
    committed = {int(p): int(o) for p, o in manifest["offsets"].items()}
    return int(manifest["lineage"].get("rows_in", -1)) == rows and committed == last_offsets


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9) + 0.0)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


class QueryOracle:
    """DuckDB views over one data directory, answering ``oracle_sql()``."""

    def __init__(self, data_dir: str, tables: list[str], sql: dict[str, str]):
        self.con = duckdb.connect()
        for t in tables:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self.sql = sql

    def matches(self, name: str, columns: list[str], rows: list) -> bool:
        o = self.con.sql(self.sql[name])
        if sorted(columns) != sorted(o.columns):
            return False
        cols = sorted(columns)
        si = [columns.index(c) for c in cols]
        oi = [o.columns.index(c) for c in cols]
        mine = Counter(tuple(_canon(r[i]) for i in si) for r in rows)
        theirs = Counter(tuple(_canon(r[i]) for i in oi) for r in o.fetchall())
        return mine == theirs

    def close(self) -> None:
        self.con.close()
