"""Lakehouse-lite: a snapshot-committed, hash-bucketed, MERGE-capable
lake table.

The north rule targets Iceberg ``MERGE INTO``; this sandbox has no
Iceberg runtime jar, so the same semantics are implemented on plain
parquet + an atomic manifest-swap commit protocol (the shape of an
Iceberg snapshot commit):

- ``data/v{N}-{id}/*.parquet`` — a MERGE's delta, one immutable file
  per write task (Iceberg merge-on-read); readers LWW-resolve each key
  across base and deltas, and ``compact()`` folds them into a new base
  under ``data/v{N}-{id}/_bucket={B}/``, bucketed by
  ``pmod(murmur3(key), n_buckets)`` (Spark's own shuffle hash — see
  ``_write_buckets``; the manifest records the hash family and ``open``
  refuses a mismatch).
- ``_snapshots/v{N}.json`` — the manifest: schema, the base's files per
  bucket (``buckets``), one file list per delta (``deltas``), committed
  batch ids, per-partition committed offsets, lineage counters. Linked
  by exclusive create only after its data files are
  durable, so every linked version is committed; ``_snapshots/CURRENT``
  is a hint the reader scans forward from. Readers see v{N} or
  v{N+1}, never a blend.

Exactly-once: a batch key already present in ``committed`` is skipped
(the reference is at-least-once via Kafka auto-commit,
src/kafka.rs:134 — upgrading that is OUR addition per SURVEY §2.13).
On top of the batch guard, the merge itself is idempotent and
order-insensitive: every row stores its winning ``(_lsn, _offset)`` and
an incoming change only wins if strictly newer; deletes are kept as
tombstones so a replayed older insert cannot resurrect a deleted key.
Replay of any subset of batches in any order reconverges to the same
final state.

Schema evolution is additive and metadata-driven: new payload columns
widen the manifest schema, which every read applies, so existing rows
read back as null; batches missing known columns are null-filled. Swapping
this class for an Iceberg catalog table keeps every caller unchanged —
``merge`` maps to ``MERGE INTO`` + snapshot properties, ``read`` to a
snapshot scan.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_rs_spark.operators.lww import lww_agg
from etl_rs_spark.sql_text import ident

META_COLS = ["_lsn", "_offset", "_deleted"]
ENVELOPE_COLS = ["op", "lsn", "offset", "partition", "ts"]

#: the bucket-assignment hash family this code computes. Recorded in the
#: manifest at table creation and asserted on open: the family is what
#: the base's ``_bucket={B}`` directories mean, so a table bucketed under
#: another family (an earlier revision used xxhash64) is refused instead
#: of getting a base that mixes two placements.
BUCKET_HASH = "murmur3-pmod"


class ConcurrentCommitError(RuntimeError):
    """A commit could not be applied (optimistic concurrency,
    Iceberg-style): either a file it rewrites was already removed by a
    concurrent rewrite, or it lost 10 version races in a row. Merges and
    compactions rebase onto a concurrent commit internally; only these
    cases surface. The losing attempt's data files are orphans (never
    referenced by any manifest) and the table state is untouched —
    re-run the operation; merge() is idempotent under its batch-key
    guard."""


class LakehouseTable:
    """Merge-on-read lake table: a MERGE only APPENDS the batch as one
    delta, one file per write task with no bucketing; readers
    LWW-resolve (max (_lsn,_offset) per key) across base+delta files,
    and ``compact()`` folds the deltas back into one bucketed base. The
    per-batch write cost is O(batch), not O(table) — the Iceberg
    MOR/positional-delete shape — at the price of an agg at read time
    until compaction (``auto_compact_files`` bounds it). Nothing reads
    the bucket layout: every read and compaction resolves all live
    files through one shuffle."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str = "doc_id",
        n_buckets: int = 16,
        mode: str = "mor",
        auto_compact_files: int | None = None,
    ):
        """``auto_compact_files``: the maintenance policy — after a merge
        commit, if the read depth (``_depth``: the most base files in any
        bucket plus the number of deltas) exceeds this,
        ``compact()`` runs as its own follow-up snapshot commit. Bounds
        read amplification (a read scans base + every delta file and
        pays an LWW agg over all of them) without a caller-managed
        maintenance schedule. Unlike the LAYOUT fields (key_col/n_buckets,
        manifest-authoritative — changing them would corrupt bucket
        placement), this is pure maintenance policy: passing a non-None
        value when opening an existing table ADOPTS it immediately and
        persists it with the next merge commit, so
        ``jobs/replay.py --auto-compact-files`` works on a pre-existing
        lake path instead of being silently ignored. Passing None keeps
        whatever the manifest records. Commit-time and background-safe: the compaction
        is an ordinary optimistic snapshot commit, so readers see either
        the pre- or post-compaction version, never a blend, and a
        concurrent writer losing the version race simply retries against
        the compacted manifest.

        ``mode`` accepts only ``"mor"``: copy-on-write was removed. A
        table whose manifest records ``"mode": "cow"`` opens as
        merge-on-read — its files already hold one row per key per
        bucket, a valid base layout."""
        if mode != "mor":
            raise ValueError(
                f"mode={mode!r}: copy-on-write was removed; 'mor' "
                f"(merge-on-read, compacted by auto_compact_files) is the "
                f"only write path"
            )
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.n_buckets = n_buckets
        os.makedirs(self._snap_dir, exist_ok=True)
        if not os.path.exists(self._manifest_path(0)):
            try:
                self._write_manifest(
                    {
                        "version": 0,
                        "key_col": key_col,
                        "n_buckets": n_buckets,
                        "mode": mode,
                        "bucket_hash": BUCKET_HASH,
                        "auto_compact_files": auto_compact_files,
                        "payload_schema": [],  # [name, ddl_type] pairs, additive
                        "buckets": {},
                        "deltas": [],
                        "committed": [],
                        "offsets": {},
                        "lineage": {},
                        "history": [],
                    },
                    version=0,
                )
            except ConcurrentCommitError:
                # two processes raced fresh-table creation: adopt the
                # winner's v0 — the manifest-is-authoritative open below
                # then validates layout exactly like any existing table
                pass
        man = self.manifest()
        # the MANIFEST is authoritative for layout on an existing table:
        # constructor arguments describe table CREATION; opening with a
        # different n_buckets (e.g. a job hardcoding 32 against a
        # 16-bucket table) must not make compact() write a base in a
        # different bucket space than the one the manifest records.
        self.key_col = man.get("key_col", key_col)
        self.n_buckets = int(man.get("n_buckets", n_buckets))
        # maintenance policy, not layout: an explicit constructor value
        # overrides the manifest and is persisted at the next commit
        if auto_compact_files is not None:
            self.auto_compact_files = auto_compact_files
        else:
            self.auto_compact_files = man.get("auto_compact_files")
        # refuse to open a table bucketed under a different hash family
        # (see BUCKET_HASH).
        # Manifests predating the field were written by the murmur3 code
        # lineage, so absence defaults to the current family.
        persisted = man.get("bucket_hash", BUCKET_HASH)
        if persisted != BUCKET_HASH:
            raise ValueError(
                f"table at {path!r} is bucketed with {persisted!r} but this "
                f"engine computes {BUCKET_HASH!r}; rewrite the table (read "
                f"+ recreate) before merging into it"
            )

    # -- manifest plumbing --------------------------------------------------

    @property
    def _snap_dir(self) -> str:
        return os.path.join(self.path, "_snapshots")

    @property
    def _current_path(self) -> str:
        return os.path.join(self._snap_dir, "CURRENT")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._snap_dir, f"v{version}.json")

    def manifest(self) -> dict:
        """The newest committed snapshot's manifest. CURRENT is a hint:
        the scan moves forward from it while ``v{N+1}.json`` exists,
        which is safe because a version is linked only after its data
        is durable. A pointer that lags (a writer died before moving it)
        or was moved backwards therefore never hides a commit."""
        try:
            with open(self._current_path) as f:
                version = int(f.read().strip())
        except FileNotFoundError:
            version = 0  # v0's creator has not moved the pointer yet
        except ValueError as e:
            # CURRENT is written via atomic rename, so garbage here means
            # external corruption — name the file, don't leak int()'s error
            raise ValueError(
                f"corrupt CURRENT pointer at {self._current_path!r}: {e}"
            ) from e
        while os.path.exists(self._manifest_path(version + 1)):
            version += 1
        return self.manifest_at(version)

    def manifest_at(self, version: int) -> dict:
        """A specific snapshot's manifest. Every committed version's
        manifest (and its immutable data files) stays on disk, so any
        historical snapshot can be read back — Iceberg-style time
        travel."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            raise ValueError(f"no snapshot v{version} at {self.path!r}")
        try:
            with open(path) as f:
                man = json.load(f)
        except json.JSONDecodeError as e:
            # manifests are written tmp+link (never partially visible), so
            # a parse failure means disk-level corruption — say which
            # snapshot file, so the operator can move it aside
            raise ValueError(f"corrupt manifest {path!r}: {e}") from e
        man.setdefault("deltas", [])  # older manifests: all files are base
        return man

    def _write_manifest(self, man: dict, version: int) -> None:
        final = self._manifest_path(version)
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(man, f)
        # exclusive commit: os.link fails if v{N}.json already exists,
        # i.e. another writer claimed the version
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"snapshot v{version} at {self.path!r} was claimed by "
                f"another commit; re-run against the fresh manifest"
            ) from None
        finally:
            os.unlink(tmp)
        # the pointer only saves readers a forward scan (see manifest),
        # so a racing writer moving it backwards is harmless
        cur_tmp = self._current_path + f".tmp-{uuid.uuid4().hex}"
        with open(cur_tmp, "w") as f:
            f.write(str(version))
        os.rename(cur_tmp, self._current_path)  # atomic swap

    # -- read ----------------------------------------------------------------

    def _data_dir(self, version: int) -> str:
        """A writer-unique ``data/v{N}-{uuid}``: racing writers of one
        version never share a directory, so a loser's mode('overwrite')
        cannot delete files a winner's manifest references (the os.link
        guard stays the sole arbiter). A loser leaves an orphan dir."""
        return os.path.join(self.path, "data", f"v{version}-{uuid.uuid4().hex[:8]}")

    def _write_buckets(self, df: DataFrame, version: int) -> dict[str, list[str]]:
        """Bucket-partitioned write of a rewrite's resolved rows ``df``
        (one row per key, fresh from the LWW key shuffle); returns the new
        files per bucket. The one place that knows bucket placement.

        Bucket id = pmod(murmur3(key), n_buckets), DELIBERATELY the hash
        of Spark's shuffle partitioner (HashPartitioning = pmod(Murmur3Hash,
        n)). The key shuffle sends a key to reducer ``hash mod partitions``
        and to bucket ``hash mod n_buckets``, so every bucket stays in one
        task exactly when ``n_buckets % partitions == 0``, and the write
        needs no shuffle of its own. Otherwise a bucket spans several
        reducers (at 32 partitions and 8 buckets, 4 files per bucket and
        a read depth of 4), so the rows repartition once on ``_bucket``.
        AQE coalescing merges whole reducer partitions and so never splits
        a bucket; partitionBy routes on the ``_bucket`` value, so placement
        is correct either way and only the file count depends on the rule."""
        df = df.withColumn(
            "_bucket", F.expr(f"CAST(pmod(hash({ident(self.key_col)}), {int(self.n_buckets)}) AS INT)")
        )
        if self.n_buckets % int(self.spark.conf.get("spark.sql.shuffle.partitions")):
            df = df.repartition(self.n_buckets, "_bucket")
        out_dir = self._data_dir(version)
        df.write.partitionBy("_bucket").mode("overwrite").parquet(out_dir)
        return {d.split("=", 1)[1]: _parquet_files(os.path.join(out_dir, d))
                for d in os.listdir(out_dir) if d.startswith("_bucket=")}

    @staticmethod
    def _live_files(man: dict) -> list[str]:
        """Every file a read of ``man`` scans: the base, then each delta."""
        return [f for fl in [*man["buckets"].values(), *man["deltas"]] for f in fl]

    @staticmethod
    def _depth(man: dict) -> int:
        """Read depth, what ``auto_compact_files`` bounds: the most base
        files in any bucket plus one per delta (a delta may hold rows of
        every bucket)."""
        return max(map(len, man["buckets"].values()), default=0) + len(man["deltas"])

    def _full_schema_ddl(self, man: dict) -> str:
        cols = [f"{ident(self.key_col)} string"]
        cols += [f"{ident(n)} {t}" for n, t in man["payload_schema"]]
        cols += ["`_lsn` bigint", "`_offset` bigint", "`_deleted` boolean"]
        return ", ".join(cols)

    def _read_files(self, man: dict, files: list[str]) -> DataFrame:
        """``files`` read with the manifest schema (``_widen`` keeps every
        file's types in it); columns a file lacks read back as null."""
        schema = StructType.fromDDL(self._full_schema_ddl(man))
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*files)

    def _resolved(self, man: dict) -> DataFrame:
        """Every live file of ``man``, LWW-resolved to one row per key:
        the latest (_lsn, _offset) version wins, through the write path's
        own ``lww_agg``, so read-side and write-side tie/NULL semantics
        cannot diverge."""
        df = self._read_files(man, self._live_files(man))
        return lww_agg(df, key=self.key_col, order=("_lsn", "_offset"))

    def read(self, include_meta: bool = False, version: int | None = None) -> DataFrame:
        """Snapshot scan; ``version`` time-travels to any committed
        snapshot (data files are immutable and manifests are retained,
        so an old version reads exactly what it read when current)."""
        man = self.manifest() if version is None else self.manifest_at(version)
        df = self._resolved(man).filter(~F.col("_deleted"))
        return df if include_meta else df.drop(*META_COLS)

    def committed_offsets(self) -> dict[int, int]:
        return {int(k): int(v) for k, v in self.manifest()["offsets"].items()}

    def is_committed(self, batch_key: str) -> bool:
        return batch_key in self.manifest()["committed"]

    # -- merge ----------------------------------------------------------------

    def merge(
        self,
        changes: DataFrame,
        batch_key: str,
        offsets: "dict[int, int] | Callable[[], dict[int, int]] | None" = None,
        lineage: dict[str, int] | "Callable[[], dict[str, int]]" | None = None,
    ) -> dict:
        """MERGE one LWW-resolved change batch (one row per key; columns:
        key_col, op, lsn, offset, payload...) by appending it as a delta.
        Returns commit info.

        ``lineage`` and ``offsets`` may be callables resolved AFTER the
        data write and before the manifest commit — this lets callers
        collect counters via Observations riding on the merge job
        itself, and run the envelope offset/dup aggregation as a
        CONCURRENT job that the manifest step joins, instead of a
        serial pass in front of the merge."""
        man = self.manifest()
        if batch_key in man["committed"]:
            return {"skipped": True, "version": man["version"], "batch": batch_key}

        chg_types = dict(changes.dtypes)
        batch_schema = [
            [c, chg_types[c]]
            for c in changes.columns
            if c != self.key_col and c not in ENVELOPE_COLS
        ]
        # refuses a type change BEFORE anything is written
        schema = _widen(man["payload_schema"], batch_schema)

        chg = changes.selectExpr(
            ident(self.key_col),
            # null-fill payload columns absent in batch
            *[ident(n) if n in chg_types else f"CAST(NULL AS {t}) AS {ident(n)}" for n, t in schema],
            "CAST(lsn AS BIGINT) AS _lsn",
            "CAST(`offset` AS BIGINT) AS _offset",
            "op = 'delete' AS _deleted",
        )
        # the batch IS the delta, one file per write task: append it,
        # never read or rewrite existing data — O(batch) write cost
        out_dir = self._data_dir(man["version"] + 1)
        rows = Observation()
        chg.observe(rows, F.expr("count(1) AS n")).write.mode("overwrite").parquet(out_dir)
        delta = _parquet_files(out_dir) if rows.get["n"] else []
        if not delta:
            # an empty batch (say, a re-delivery at or below the committed
            # offsets) commits its key, offsets and lineage but no delta:
            # its one empty file would only deepen every read
            shutil.rmtree(out_dir)

        if callable(lineage):
            lineage = lineage()  # post-write: observations have landed
        if callable(offsets):
            offsets = offsets()  # post-write: the concurrent job joined
        lineage, offsets = lineage or {}, offsets or {}

        def mutate(m: dict) -> None:
            m["payload_schema"] = _widen(m["payload_schema"], batch_schema)
            for p, o in offsets.items():
                m["offsets"][str(p)] = max(int(m["offsets"].get(str(p), -1)), int(o))
            for k, v in lineage.items():
                m["lineage"][k] = int(m["lineage"].get(k, 0)) + int(v)
            m["committed"].append(batch_key)
            self._replace_files(m, batch_key, delta=delta, lineage=lineage)

        man = self._commit(man, mutate, batch_key)
        if man is None:  # another writer committed this batch
            return {"skipped": True, "version": self.manifest()["version"], "batch": batch_key}
        out = {"skipped": False, "version": man["version"]}
        # maintenance policy: fold deltas once the read depth exceeds
        # the threshold — a SEPARATE follow-up snapshot commit, after the
        # batch is already durable, so a compaction failure never loses
        # the merge
        if self.auto_compact_files and self._depth(man) > self.auto_compact_files:
            try:
                c = self.compact()
                out["auto_compacted"] = True
                out["version"] = c["version"]
            except Exception as e:  # noqa: BLE001 — contract: the merge
                # is already durable; a maintenance failure (version
                # race, transient Spark error) must not make a committed
                # batch look failed to the caller / kill a streaming
                # query. Reported, not raised; the next threshold breach
                # retries compaction.
                out["auto_compacted"] = False
                out["auto_compact_error"] = str(e)
        return out

    # -- commit -----------------------------------------------------------------

    def _commit(
        self, base: dict, mutate: Callable[[dict], None], batch_key: str | None = None
    ) -> dict | None:
        """The one snapshot commit. Applies ``mutate`` to a copy of
        ``base`` and links the result as ``base["version"] + 1``. After a
        lost version race it re-reads the manifest and re-applies
        ``mutate`` there, targeting THAT manifest's version + 1, so the
        commit always carries every concurrent commit (a rebase).
        ``mutate`` raises ConcurrentCommitError when a file it removes is
        no longer live — the one conflict rule (Iceberg's "no conflicting
        deletes"). Returns the linked manifest, or None when
        ``batch_key`` is already committed. Bounded: each lost race means
        real concurrent progress, so contention this deep signals a
        misconfigured deployment and raises."""
        man = copy.deepcopy(base)
        for attempt in range(10):
            if attempt:
                man = self.manifest()
            if batch_key in man["committed"]:
                return None
            man["version"] += 1
            mutate(man)
            try:
                self._write_manifest(man, man["version"])
                return man
            except ConcurrentCommitError:
                continue
        raise ConcurrentCommitError(
            f"lost 10 consecutive version races committing {batch_key or 'a rewrite'!r} "
            f"at {self.path!r} — too many concurrent writers on one table"
        )

    def _replace_files(
        self,
        man: dict,
        label: str,
        removed: frozenset[str] = frozenset(),
        buckets: dict[str, list[str]] | None = None,
        delta: list[str] | None = None,
        lineage: dict | None = None,
    ) -> None:
        """The file-level part of every commit's ``mutate``: drop
        ``removed`` from the base and the deltas, add a rewrite's base
        ``buckets`` or a merge's ``delta`` (one new ``deltas`` entry),
        record the history entry and the session's maintenance policy."""
        if not removed <= set(self._live_files(man)):
            raise ConcurrentCommitError(
                f"{label!r} at {self.path!r} rewrites files a concurrent "
                f"rewrite already replaced; re-run against the fresh manifest"
            )
        base = {b: [f for f in fl if f not in removed] for b, fl in man["buckets"].items()}
        for b, fl in (buckets or {}).items():
            base[b] = base.get(b, []) + fl
        man["buckets"] = {b: fl for b, fl in base.items() if fl}
        deltas = [[f for f in d if f not in removed] for d in man["deltas"]] + [delta or []]
        man["deltas"] = [d for d in deltas if d]
        man["history"] = (
            man["history"] + [{"batch": label, "version": man["version"], "lineage": lineage or {}}]
        )[-100:]
        # persist the in-session maintenance policy (see __init__: an
        # explicit constructor value overrides the manifest's)
        man["auto_compact_files"] = self.auto_compact_files

    def _rewrite(self, base: dict, df: DataFrame, label: str) -> int:
        """Replace every live file of ``base`` (its base and deltas) by
        ``df`` (one row per key), written as a bucket-partitioned base.
        Removes exactly the files it read, so it rebases over a
        concurrent delta append and conflicts only with another
        rewrite."""
        removed = frozenset(self._live_files(base))
        added = self._write_buckets(df, base["version"] + 1)
        return self._commit(
            base, lambda m: self._replace_files(m, label, removed, buckets=added)
        )["version"]

    # -- compaction (merge-on-read maintenance) -----------------------------

    def compact(self) -> dict:
        """Fold the base and every delta into one new base per bucket:
        LWW-resolve every key, write the buckets, commit. After compaction a read
        is a plain scan again (until the next delta). Tombstones are
        RETAINED by compaction (a replayed older insert must still lose
        to the delete); drop them with vacuum_tombstones once the
        upstream log is known to be past their lsn."""
        man = self.manifest()
        n_files = len(self._live_files(man))
        version = self._rewrite(man, self._resolved(man), "_compact")
        return {"skipped": False, "version": version, "compacted_files": n_files}

    # -- tombstone retention -------------------------------------------------

    def vacuum_tombstones(self, min_lsn: int) -> dict:
        """Drop delete tombstones with ``_lsn < min_lsn`` — the
        retention job the compact() docstring defers to.

        PRECONDITION (caller's responsibility): the upstream log is
        known to be consumed past ``min_lsn``, i.e. no future batch can
        deliver an event with lsn < min_lsn. Under that invariant a
        dropped tombstone can never be needed again: the only row it
        suppresses is a replayed OLDER insert, which by the invariant
        will never arrive. Without it, dropping a tombstone would let a
        late replay resurrect a deleted key — which is why tombstones
        are retained by default and this is an explicit maintenance
        call. Keys are LWW-resolved first, so the rewrite doubles as a
        compaction."""
        man = self.manifest()
        keep = self._resolved(man).filter(
            ~(F.col("_deleted") & (F.col("_lsn") < F.lit(int(min_lsn))))
        )
        version = self._rewrite(man, keep, f"_vacuum<{min_lsn}")
        return {"skipped": False, "version": version, "min_lsn": int(min_lsn)}


def _widen(schema: list, cols: list) -> list:
    """Additive schema evolution: ``schema`` plus the never-seen
    ``[name, ddl_type]`` pairs of ``cols``. A KNOWN column arriving with a
    DIFFERENT type is rejected loudly: writing it as-is would commit a
    file whose type disagrees with the manifest schema every read uses,
    failing every later read after the bad batch is durable."""
    known = dict(schema)
    for c, t in cols:
        if c in known and known[c] != t:
            raise ValueError(
                f"payload column {c!r} arrives as {t} but the table records "
                f"{known[c]}; additive evolution cannot change a column's "
                f"type — cast the batch or add a new column"
            )
    return schema + [[c, t] for c, t in cols if c not in known]


def _parquet_files(directory: str) -> list[str]:
    return [os.path.join(directory, f) for f in os.listdir(directory) if f.endswith(".parquet")]
