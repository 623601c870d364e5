"""Iceberg MERGE INTO sink — the same interface as LakehouseTable,
against a real Iceberg catalog.

The north rule's sink is ``MERGE INTO`` an Iceberg table. This sandbox
ships no iceberg-spark runtime jar, so ``LakehouseTable``
(sinks/lakehouse.py) implements the identical semantics on parquet +
manifest swaps; THIS module is the swap-in for clusters that do have
the jar: same ``merge(changes, batch_key, offsets, lineage)`` /
``read()`` / ``committed_offsets()`` surface, implemented as genuine
Spark SQL against an Iceberg catalog table.

Exactly-once: the row-level ``(lsn, offset)`` LWW guard inside the
MERGE makes every batch idempotent (re-merging a committed batch is a
no-op), and a batch-key / per-partition-offset ledger in the table
properties skips the redundant work — the Iceberg-native analogue of
the lakehouse-lite manifest fields, with the same
idempotence-not-atomicity correctness argument its tests pin.

All SQL is produced by pure string builders (``create_table_sql``,
``merge_sql``) so the statement shapes are unit-testable without a
catalog (tests/test_connectors.py); ``IcebergTable`` itself raises
cleanly when no Iceberg catalog is configured.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession

META_DDL = "_lsn BIGINT, _offset BIGINT, _deleted BOOLEAN"

#: committed-batch ledger cap: the newest N batch keys are retained in
#: table properties (unbounded growth would bloat every metadata
#: commit). A batch older than the window re-merges instead of being
#: skipped — safe, because the row-level (lsn, offset) LWW guard makes
#: that re-MERGE a no-op; the ledger is an optimization, not the
#: correctness mechanism.
COMMITTED_LEDGER_CAP = 256


def _sql_str(value: str) -> str:
    """Escape a value for embedding in a single-quoted Spark SQL
    literal: backslashes FIRST (Spark's default parser processes
    backslash escapes inside string literals, so a lone ``\\"`` from a
    JSON-encoded double quote would collapse and corrupt the stored
    JSON), then single quotes doubled."""
    return value.replace("\\", "\\\\").replace("'", "''")


def create_table_sql(
    ident: str, payload_ddl: str, key_col: str = "doc_id", n_buckets: int = 32
) -> str:
    """CREATE TABLE for the tokenized-sequence shape, hash-bucketed on
    the merge key (Iceberg's bucket transform = the lakehouse-lite
    base's `_bucket` layout; MERGE then touches only matching files)."""
    return (
        f"CREATE TABLE IF NOT EXISTS {ident} "
        f"({key_col} STRING, {payload_ddl}, {META_DDL}) "
        f"USING iceberg "
        f"PARTITIONED BY (bucket({n_buckets}, {key_col})) "
        f"TBLPROPERTIES ("
        f"'write.merge.mode'='merge-on-read', "
        f"'write.update.mode'='merge-on-read', "
        f"'write.delete.mode'='merge-on-read', "
        f"'format-version'='2')"
    )


def merge_sql(
    ident: str, source_view: str, key_col: str, columns: list[str]
) -> str:
    """The MERGE INTO statement for one LWW-resolved change batch.

    Row-level LWW guard mirrors lakehouse-lite: an incoming row wins
    only if its (lsn, offset) is strictly newer than the stored
    (_lsn, _offset) — so replaying an old batch can never regress a key,
    and deletes persist as tombstone rows (_deleted) rather than Iceberg
    DELETEs, keeping late-arriving older inserts suppressed.
    """
    sets = ", ".join(f"t.{c} = s.{c}" for c in columns)
    cols = ", ".join(columns)
    svals = ", ".join(f"s.{c}" for c in columns)
    return (
        f"MERGE INTO {ident} t "
        f"USING {source_view} s "
        f"ON t.{key_col} = s.{key_col} "
        f"WHEN MATCHED AND struct(s._lsn, s._offset) > struct(t._lsn, t._offset) "
        f"THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({key_col}, {cols}) "
        f"VALUES (s.{key_col}, {svals})"
    )


class IcebergTable:
    """Drop-in for LakehouseTable on a cluster with the Iceberg runtime.

    ``read()`` filters tombstones exactly like the lakehouse sink;
    exactly-once state rides in snapshot summary properties.
    """

    def __init__(
        self,
        spark: SparkSession,
        ident: str,
        key_col: str = "doc_id",
        n_buckets: int = 32,
    ):
        self.spark = spark
        self.ident = ident
        self.key_col = key_col
        self.n_buckets = n_buckets
        self._require_iceberg()

    def _require_iceberg(self) -> None:
        catalog = self.ident.split(".", 1)[0] if "." in self.ident else None
        conf = self.spark.conf
        key = f"spark.sql.catalog.{catalog}" if catalog else None
        if not key or conf.get(key, None) is None:
            raise RuntimeError(
                f"no Iceberg catalog configured for {self.ident!r}; set "
                f"spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog "
                f"and ship the iceberg-spark-runtime jar — or use "
                f"sinks.lakehouse.LakehouseTable (same interface/semantics) "
                f"where the jar is unavailable"
            )

    # -- replay state in table properties -----------------------------------

    def _props(self) -> dict:
        rows = self.spark.sql(f"SHOW TBLPROPERTIES {self.ident}").collect()
        return {r["key"]: r["value"] for r in rows}

    def committed_offsets(self) -> dict[int, int]:
        raw = self._props().get("replay.offsets", "{}")
        return {int(k): int(v) for k, v in json.loads(raw).items()}

    def is_committed(self, batch_key: str) -> bool:
        committed = json.loads(self._props().get("replay.committed", "[]"))
        return batch_key in committed

    # -- surface -------------------------------------------------------------

    def ensure(self, payload_ddl: str) -> None:
        self.spark.sql(
            create_table_sql(self.ident, payload_ddl, self.key_col, self.n_buckets)
        )

    def merge(
        self,
        changes: DataFrame,
        batch_key: str,
        offsets: dict[int, int] | None = None,
        lineage: dict[str, int] | None = None,
    ) -> dict:
        if self.is_committed(batch_key):
            return {"skipped": True}
        prev = self._props()
        committed = (json.loads(prev.get("replay.committed", "[]"))
                     + [batch_key])[-COMMITTED_LEDGER_CAP:]
        merged_offsets = {int(k): int(v) for k, v in
                          json.loads(prev.get("replay.offsets", "{}")).items()}

        # deterministic view name: Python's hash() is per-process salted
        # (a restart would compute a different name than the one a
        # half-finished run registered)
        view = f"_merge_src_{hashlib.md5(batch_key.encode()).hexdigest()[:16]}"
        changes.createOrReplaceTempView(view)
        cols = [c for c in changes.columns if c != self.key_col]
        # The properties update below is a separate metadata commit from
        # the MERGE snapshot. Exactly-once still holds without atomicity:
        # if the process dies between the two, the batch key is absent
        # from replay.committed and the batch is re-merged — and the
        # row-level (lsn, offset) LWW guard makes that re-MERGE a no-op.
        # (Idempotent-merge-plus-guard is the SAME argument the
        # lakehouse-lite sink's tests pin; the batch guard is purely an
        # optimization to skip the work.)
        self.spark.sql(merge_sql(self.ident, view, self.key_col, cols))
        # offsets and lineage callables resolve AFTER the MERGE (same
        # contract as LakehouseTable) — a caller running the envelope
        # aggregation concurrently keeps its overlap here too
        if callable(lineage):
            lineage = lineage()
        if callable(offsets):
            offsets = offsets()
        for p, o in (offsets or {}).items():
            merged_offsets[int(p)] = max(merged_offsets.get(int(p), -1), int(o))
        # property VALUES are single-quote-escaped: a batch key like
        # "seg-0'1" must not break (or inject into) the statement
        offsets_json = json.dumps({str(k): v for k, v in merged_offsets.items()})
        self.spark.sql(
            f"ALTER TABLE {self.ident} SET TBLPROPERTIES ("
            f"'replay.committed'='{_sql_str(json.dumps(committed))}', "
            f"'replay.offsets'='{_sql_str(offsets_json)}', "
            f"'replay.lineage'='{_sql_str(json.dumps(lineage or {}))}')"
        )
        return {"skipped": False, "batch": batch_key}

    def read(self, include_meta: bool = False) -> DataFrame:
        df = self.spark.table(self.ident).filter("NOT _deleted")
        return df if include_meta else df.drop("_lsn", "_offset", "_deleted")
