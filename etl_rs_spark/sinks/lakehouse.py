"""Lakehouse-lite: a snapshot-committed, hash-bucketed, MERGE-capable
lake table.

The north rule targets Iceberg ``MERGE INTO``; this sandbox has no
Iceberg runtime jar, so the same semantics are implemented on plain
parquet + an atomic manifest-swap commit protocol (the shape of an
Iceberg snapshot commit):

- ``data/v{N}/_bucket={B}/*.parquet`` — immutable data files, hash-
  bucketed by ``pmod(murmur3(key), n_buckets)`` (Spark's own shuffle
  hash — see ``_bucket``; the manifest records the hash family and
  ``open`` refuses a mismatch). A MERGE rewrites ONLY
  the buckets touched by the batch (Iceberg copy-on-write at bucket
  granularity); untouched buckets keep their existing files.
- ``_snapshots/v{N}.json`` — the manifest: schema, per-bucket file
  lists, committed batch ids, per-partition committed offsets, lineage
  counters. Written via exclusive create; ``_snapshots/CURRENT`` is
  swapped by atomic rename. Readers see v{N} or v{N+1}, never a blend.

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
widen the manifest schema; existing rows read back as null
(mergeSchema); batches missing known columns are null-filled. Swapping
this class for an Iceberg catalog table keeps every caller unchanged —
``merge`` maps to ``MERGE INTO`` + snapshot properties, ``read`` to a
snapshot scan.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

META_COLS = ["_lsn", "_offset", "_deleted"]
ENVELOPE_COLS = ["op", "lsn", "offset", "partition", "ts"]

#: the bucket-assignment hash family this code computes. Recorded in the
#: manifest at table creation and asserted on open: silently changing
#: the family (as an earlier revision did, xxhash64 -> murmur3) makes
#: merge() compute touched buckets in a different bucket space than the
#: persisted files — existing rows for a key sit in an unscanned bucket
#: and are never LWW-resolved. Refusing the mismatch turns silent
#: duplicate keys into a loud error.
BUCKET_HASH = "murmur3-pmod"


class ConcurrentCommitError(RuntimeError):
    """Another writer claimed the snapshot version this commit targeted
    (optimistic concurrency, Iceberg-style). The losing attempt's data
    files are orphans (never referenced by any manifest) and the table
    state is untouched — re-run the operation against the fresh
    manifest; merge() is idempotent under its batch-key guard, and MOR
    merges rebase-and-retry internally before surfacing this."""


class LakehouseTable:
    """``mode="cow"`` (copy-on-write, default): a MERGE rewrites every
    bucket the batch touches; reads are plain scans. ``mode="mor"``
    (merge-on-read): a MERGE only APPENDS the batch's delta files to
    their buckets; readers LWW-resolve (max (_lsn,_offset) per key)
    across base+delta files, and ``compact()`` folds deltas back into
    one base per bucket. MOR turns the per-batch write cost from
    O(table) to O(batch) — the Iceberg MOR/positional-delete shape —
    at the price of an agg at read time until compaction."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str = "doc_id",
        n_buckets: int = 16,
        mode: str = "cow",
        auto_compact_files: int | None = None,
    ):
        """``auto_compact_files``: MOR maintenance policy — after a merge
        commit, if any bucket holds more than this many live files,
        ``compact()`` runs as its own follow-up snapshot commit. Bounds
        read amplification (a MOR read scans base + every delta file and
        pays an LWW agg over all of them) without a caller-managed
        maintenance schedule. Unlike the LAYOUT fields (mode/n_buckets,
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
        the compacted manifest."""
        if mode not in ("cow", "mor"):
            raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.n_buckets = n_buckets
        os.makedirs(self._snap_dir, exist_ok=True)
        if not os.path.exists(self._current_path):
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
        # 16-bucket table) must not make merge() compute touched buckets
        # in the wrong bucket space — existing rows would sit in
        # unscanned buckets and never LWW-resolve (silent duplicates).
        self.mode = man.get("mode", "cow")
        self.key_col = man.get("key_col", key_col)
        self.n_buckets = int(man.get("n_buckets", n_buckets))
        # maintenance policy, not layout: an explicit constructor value
        # overrides the manifest and is persisted at the next commit
        if auto_compact_files is not None:
            self.auto_compact_files = auto_compact_files
        else:
            self.auto_compact_files = man.get("auto_compact_files")
        # refuse to open a table bucketed under a different hash family —
        # merging into it would scan the wrong buckets (see BUCKET_HASH).
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

    def manifest(self) -> dict:
        try:
            with open(self._current_path) as f:
                version = int(f.read().strip())
        except ValueError as e:
            # CURRENT is written via atomic rename, so garbage here means
            # external corruption — name the file, don't leak int()'s error
            raise ValueError(
                f"corrupt CURRENT pointer at {self._current_path!r}: {e}"
            ) from e
        return self.manifest_at(version)

    def manifest_at(self, version: int) -> dict:
        """A specific snapshot's manifest. Every committed version's
        manifest (and its immutable data files) stays on disk, so any
        historical snapshot can be read back — Iceberg-style time
        travel."""
        path = os.path.join(self._snap_dir, f"v{version}.json")
        if not os.path.exists(path):
            raise ValueError(f"no snapshot v{version} at {self.path!r}")
        try:
            with open(path) as f:
                return json.load(f)
        except json.JSONDecodeError as e:
            # manifests are written tmp+link (never partially visible), so
            # a parse failure means disk-level corruption — say which
            # snapshot file, so the operator can roll CURRENT back a version
            raise ValueError(f"corrupt manifest {path!r}: {e}") from e

    def _write_manifest(self, man: dict, version: int) -> None:
        final = os.path.join(self._snap_dir, f"v{version}.json")
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(man, f)
        # exclusive commit: os.link fails if v{N}.json already exists —
        # either a concurrent writer claimed the version, or a previous
        # writer crashed between its link and its CURRENT swap
        try:
            os.link(tmp, final)
        except FileExistsError:
            os.unlink(tmp)
            # the existing v{N}.json is FULLY durable (data written and
            # manifest linked before any pointer move), so if CURRENT
            # still lags we COMPLETE that commit's pointer swap here —
            # without this, every later commit recomputes version N and
            # re-collides, wedging the table permanently
            if self._current_version() < version:
                self._swap_current(version)
            raise ConcurrentCommitError(
                f"snapshot v{version} at {self.path!r} was claimed by "
                f"another commit; re-run against the fresh manifest"
            )
        os.unlink(tmp)
        self._swap_current(version)

    def _swap_current(self, version: int) -> None:
        cur_tmp = self._current_path + f".tmp-{uuid.uuid4().hex}"
        with open(cur_tmp, "w") as f:
            f.write(str(version))
        os.rename(cur_tmp, self._current_path)  # atomic swap

    def _current_version(self) -> int:
        try:
            with open(self._current_path) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    # -- read ----------------------------------------------------------------

    def _bucket(self, col):
        """Bucket id = pmod(murmur3(key), n_buckets) — DELIBERATELY the
        same hash family Spark's own shuffle partitioner uses
        (HashPartitioning = pmod(Murmur3Hash, n)). Consequence: the
        upstream LWW groupBy / merge join, which shuffle on the key,
        leave every bucket's rows CO-LOCATED in one task whenever the
        shuffle partition count and n_buckets divide each other — so the
        bucketed write below needs NO extra repartition (one full-payload
        shuffle saved per MERGE commit)."""
        return F.pmod(F.hash(col), F.lit(self.n_buckets)).cast("int")

    def _bucket_aligned(self) -> bool:
        """True when the session's shuffle partition count and n_buckets
        divide each other — the condition under which an upstream
        key-shuffle (LWW groupBy / merge join) leaves every bucket's rows
        co-located in a bounded number of tasks, so the bucketed write
        needs no extra repartition.

        AQE interaction (r3 ADVICE): adaptive partition COALESCING does
        not void the guarantee — coalescing merges whole reducer
        partitions, so it can co-locate several buckets in one task but
        never SPLITS a bucket across tasks; the dynamic partitionBy
        still emits at most one file per (bucket, task-holding-it), and
        that count only shrinks under coalescing. The one AQE rule that
        can split a bucket is the skew-join handler on the COW merge
        join (OptimizeSkewedJoin duplicates a skewed partition's rows
        across tasks) — a few extra files in the skewed bucket for that
        commit, folded by the next rewrite of the bucket; routing stays
        correct because partitionBy keys on the _bucket VALUE, not the
        task."""
        try:
            sp = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            return False
        return sp % self.n_buckets == 0 or self.n_buckets % sp == 0

    def _bucket_colocated(self, df: DataFrame) -> DataFrame:
        """The pre-write co-location guard: with an aligned shuffle conf
        this is a no-op (the fast path — one full-payload shuffle saved
        per MERGE commit); with Spark's default 200 partitions and 32
        buckets, every reducer task could otherwise emit a file per
        bucket (tasks x buckets small files per commit), so misaligned
        callers pay one repartition on the _bucket column instead."""
        if self._bucket_aligned():
            return df
        return df.repartition(self.n_buckets, F.col("_bucket"))

    def _new_data_dir(self, version: int) -> str:
        """Writer-unique data directory for one commit attempt:
        ``data/v{N}-{uuid}``. Two writers racing the same target version
        then write to DIFFERENT directories, so the loser's
        mode('overwrite') cannot delete files a winner's committed
        manifest already references — the os.link manifest guard stays
        the sole arbiter (Iceberg gets the same property from unique
        data file names). A losing attempt leaves an orphan directory;
        harmless, removable by any GC that keeps directories referenced
        by retained manifests."""
        return os.path.join(self.path, "data", f"v{version}-{uuid.uuid4().hex[:8]}")

    def _full_schema_ddl(self, man: dict) -> str:
        cols = [f"`{self.key_col}` string"]
        cols += [f"`{n}` {t}" for n, t in man["payload_schema"]]
        cols += ["`_lsn` bigint", "`_offset` bigint", "`_deleted` boolean"]
        return ", ".join(cols)

    def _read_files(self, man: dict, files: list[str]) -> DataFrame:
        schema = StructType.fromDDL(self._full_schema_ddl(man))
        if not files:
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.option("mergeSchema", True).parquet(*files)
        # null-fill columns added after these files were written
        missing = {f.name: f.dataType for f in schema.fields if f.name not in df.columns}
        for name, dtype in missing.items():
            df = df.withColumn(name, F.lit(None).cast(dtype))
        return df.select(*[f.name for f in schema.fields])

    def _resolve(self, df: DataFrame) -> DataFrame:
        """Merge-on-read LWW: latest (_lsn, _offset) version per key
        wins — literally the write path's operators.lww.lww_agg, so the
        read-side and write-side tie/NULL semantics can never diverge."""
        from etl_rs_spark.operators.lww import lww_agg

        return lww_agg(df, key=self.key_col, order=("_lsn", "_offset"))

    def read(self, include_meta: bool = False, version: int | None = None) -> DataFrame:
        """Snapshot scan; ``version`` time-travels to any committed
        snapshot (data files are immutable and manifests are retained,
        so an old version reads exactly what it read when current)."""
        man = self.manifest() if version is None else self.manifest_at(version)
        files = [f for fl in man["buckets"].values() for f in fl]
        df = self._read_files(man, files)
        if self.mode == "mor":
            df = self._resolve(df)
        df = df.filter(~F.col("_deleted"))
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
        key_col, op, lsn, offset, payload...). Returns commit info.

        ``lineage`` and ``offsets`` may be callables resolved AFTER the
        data write and before the manifest commit — this lets callers
        collect counters via Observations riding on the merge job
        itself, and run the envelope offset/dup aggregation as a
        CONCURRENT job that the manifest step joins, instead of a
        serial pass in front of the merge."""
        man = self.manifest()
        if batch_key in man["committed"]:
            return {"skipped": True, "version": man["version"], "batch": batch_key}

        payload_cols = [
            c for c in changes.columns if c != self.key_col and c not in ENVELOPE_COLS
        ]
        # additive schema evolution: append never-seen payload columns.
        # A KNOWN column arriving with a DIFFERENT type is rejected
        # loudly: writing it as-is would commit mixed-type files that
        # poison every later mergeSchema read ("Failed to merge
        # incompatible data types") after the bad batch is already
        # durable — evolution here is additive, never type-changing.
        known = dict(man["payload_schema"])
        chg_types = dict(changes.dtypes)
        new_schema = list(man["payload_schema"])
        for c in payload_cols:
            if c not in known:
                new_schema.append([c, chg_types[c]])
            elif chg_types[c] != known[c]:
                raise ValueError(
                    f"payload column {c!r} arrives as {chg_types[c]} but the "
                    f"table records {known[c]}; additive evolution cannot "
                    f"change a column's type — cast the batch or add a new "
                    f"column"
                )
        man["payload_schema"] = new_schema
        target_payload = [n for n, _ in new_schema]

        chg = changes.withColumn("_bucket", self._bucket(F.col(self.key_col)))
        chg = (
            chg.withColumn("_lsn", F.col("lsn").cast("bigint"))
            .withColumn("_offset", F.col("offset").cast("bigint"))
            .withColumn("_deleted", F.col("op") == "delete")
        )
        for n, t in new_schema:  # null-fill payload columns absent in batch
            if n not in chg.columns:
                chg = chg.withColumn(n, F.lit(None).cast(t))
        chg = chg.select(self.key_col, *target_payload, *META_COLS, "_bucket")

        table_empty = not any(man["buckets"].values())
        if self.mode == "mor":
            # merge-on-read: the batch IS the delta — append its files,
            # never read or rewrite existing data. O(batch) write cost.
            merged = chg
            touched = None
        elif table_empty:
            # bulk fast path (initial load / bench bulk replay): no
            # current rows can conflict, so skip BOTH the touched-bucket
            # pre-scan and the full-outer join — one shuffle, one write.
            merged = chg
            touched = None  # derived from the write output below
        else:
            touched = sorted(
                r["_bucket"] for r in chg.select("_bucket").distinct().collect()
            )
            cur_files = [f for b in touched for f in man["buckets"].get(str(b), [])]
            cur = self._read_files(man, cur_files)

            # NULL-key rows bypass the join: a full-outer on key never
            # matches NULL, and the take_new NULL-guard would then emit
            # an all-NULL husk (payload and _deleted silently discarded)
            # instead of the row. Stored verbatim, matching the MOR and
            # empty-table paths — NULL keys are never LWW-resolved.
            null_new = chg.filter(F.col(self.key_col).isNull())
            chg = chg.filter(F.col(self.key_col).isNotNull())

            c, n = cur.alias("c"), chg.alias("n")
            joined = c.join(n, on=F.col(f"c.{self.key_col}") == F.col(f"n.{self.key_col}"), how="full_outer")
            take_new = F.col(f"c.{self.key_col}").isNull() | (
                F.struct(F.col("n._lsn"), F.col("n._offset"))
                > F.struct(F.col("c._lsn"), F.col("c._offset"))
            )
            take_new = F.col(f"n.{self.key_col}").isNotNull() & take_new
            merged_cols = [
                F.coalesce(F.col(f"n.{self.key_col}"), F.col(f"c.{self.key_col}")).alias(self.key_col)
            ]
            for col in target_payload + META_COLS:
                merged_cols.append(
                    F.when(take_new, F.col(f"n.{col}")).otherwise(F.col(f"c.{col}")).alias(col)
                )
            merged = joined.select(*merged_cols)
            merged = merged.withColumn(
                "_bucket", self._bucket(F.col(self.key_col))
            ).unionByName(null_new)

        version = man["version"] + 1
        out_dir = self._new_data_dir(version)
        # aligned shuffle conf -> no repartition before the bucketed
        # write: the batch arrives key-shuffled (LWW agg or merge join),
        # and _bucket is the same Murmur3 family as that shuffle, so
        # buckets are already co-located — the dynamic partitionBy sorts
        # within tasks and emits ~1 file per bucket. Misaligned callers
        # get one repartition instead of tasks x buckets small files.
        (
            self._bucket_colocated(merged).write.partitionBy("_bucket")
            .mode("overwrite")
            .parquet(out_dir)
        )
        if touched is None:
            touched = sorted(
                int(d.split("=", 1)[1])
                for d in os.listdir(out_dir)
                if d.startswith("_bucket=")
            )

        new_buckets = dict(man["buckets"])
        for b in touched:
            bdir = os.path.join(out_dir, f"_bucket={b}")
            files = (
                [os.path.join(bdir, f) for f in os.listdir(bdir) if f.endswith(".parquet")]
                if os.path.isdir(bdir)
                else []
            )
            if self.mode == "mor":
                # append the delta; existing base/delta files stay live
                new_buckets[str(b)] = new_buckets.get(str(b), []) + files
            else:
                new_buckets[str(b)] = files
        man["buckets"] = new_buckets

        if callable(lineage):
            lineage = lineage()  # post-write: observations have landed
        if callable(offsets):
            offsets = offsets()  # post-write: the concurrent job joined
        for p, o in (offsets or {}).items():
            k = str(p)
            man["offsets"][k] = max(int(man["offsets"].get(k, -1)), int(o))
        cum = man["lineage"]
        for k, v in (lineage or {}).items():
            cum[k] = int(cum.get(k, 0)) + int(v)
        man["committed"].append(batch_key)
        man["history"] = (man["history"] + [{"batch": batch_key, "version": version, "lineage": lineage or {}}])[-100:]
        man["version"] = version
        # persist the in-session maintenance policy (see __init__: an
        # explicit constructor value overrides the manifest's)
        man["auto_compact_files"] = self.auto_compact_files
        try:
            self._write_manifest(man, version)
        except ConcurrentCommitError:
            if self.mode != "mor":
                # COW rewrote whole buckets from a now-STALE base — the
                # written files may be missing the winner's rows, so a
                # manifest-level rebase would lose data. The caller
                # re-runs merge(); the batch-key guard makes that safe.
                raise
            # MOR only APPENDS delta files, so the commit rebases onto
            # the fresh manifest: same files, new version. offsets and
            # lineage are resolved dicts by now — reapplied fresh.
            version = self._rebase_mor_commit(
                batch_key, touched, out_dir, offsets or {}, lineage or {}
            )
            if version is None:  # another writer committed this batch
                return {
                    "skipped": True,
                    "version": self.manifest()["version"],
                    "batch": batch_key,
                }
            new_buckets = self.manifest()["buckets"]
        out = {"skipped": False, "version": version, "touched_buckets": touched}
        # MOR maintenance policy: fold deltas once any bucket's live
        # file count exceeds the threshold — a SEPARATE follow-up
        # snapshot commit, after the batch is already durable, so a
        # compaction failure never loses the merge
        if (
            self.mode == "mor"
            and self.auto_compact_files
            and any(len(fl) > self.auto_compact_files for fl in new_buckets.values())
        ):
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

    def _rebase_mor_commit(
        self,
        batch_key: str,
        touched: list[int],
        out_dir: str,
        offsets: dict,
        lineage: dict,
    ) -> int | None:
        """Re-attach an already-written MOR delta to the FRESH manifest
        after losing a version race. Safe precisely because MOR merges
        append files without rewriting any existing ones. Returns the
        committed version, or None when another writer already
        committed this batch_key (our files become orphans). Bounded
        retries: each loss means real concurrent progress, so contention
        this deep signals a misconfigured deployment and raises."""
        for _ in range(10):
            man = self.manifest()
            if batch_key in man["committed"]:
                return None
            # max with the pointer: defensive against a manifest whose
            # internal version field lags its filename (external repair
            # tooling) — colliding below CURRENT can never win
            version = max(man["version"], self._current_version()) + 1
            new_buckets = dict(man["buckets"])
            for b in touched:
                bdir = os.path.join(out_dir, f"_bucket={b}")
                files = (
                    [os.path.join(bdir, f) for f in os.listdir(bdir) if f.endswith(".parquet")]
                    if os.path.isdir(bdir)
                    else []
                )
                new_buckets[str(b)] = new_buckets.get(str(b), []) + files
            man["buckets"] = new_buckets
            for p, o in offsets.items():
                k = str(p)
                man["offsets"][k] = max(int(man["offsets"].get(k, -1)), int(o))
            for k, v in lineage.items():
                man["lineage"][k] = int(man["lineage"].get(k, 0)) + int(v)
            man["committed"].append(batch_key)
            man["history"] = (
                man["history"] + [{"batch": batch_key, "version": version, "lineage": lineage}]
            )[-100:]
            man["version"] = version
            man["auto_compact_files"] = self.auto_compact_files
            try:
                self._write_manifest(man, version)
                return version
            except ConcurrentCommitError:
                continue
        raise ConcurrentCommitError(
            f"lost 10 consecutive version races committing {batch_key!r} "
            f"at {self.path!r} — too many concurrent writers on one table"
        )

    def _rewrite_and_commit(self, man: dict, df: DataFrame, label: str) -> int:
        """Full-table rewrite commit shared by compact() and
        vacuum_tombstones(): bucket-partitioned write of ``df`` into a
        fresh data dir, bucket map rebuilt from the output listing, one
        snapshot commit recorded under ``label``. Commits at the
        CALLER's manifest version + 1 — ``df`` was derived from that
        snapshot, so if anything committed in between the version race
        surfaces as ConcurrentCommitError (state unharmed, caller
        re-runs) instead of the rewrite silently dropping the
        interleaved batch. The write needs no repartition when the
        shuffle conf is bucket-aligned (upstream groupBy uses the same
        Murmur3 family); misaligned callers get one repartition."""
        version = man["version"] + 1
        out_dir = self._new_data_dir(version)
        (
            self._bucket_colocated(df).write.partitionBy("_bucket")
            .mode("overwrite")
            .parquet(out_dir)
        )
        new_buckets: dict[str, list[str]] = {}
        for d in os.listdir(out_dir):
            if not d.startswith("_bucket="):
                continue
            b = d.split("=", 1)[1]
            bdir = os.path.join(out_dir, d)
            new_buckets[b] = [
                os.path.join(bdir, f) for f in os.listdir(bdir) if f.endswith(".parquet")
            ]
        man["buckets"] = new_buckets
        man["history"] = (
            man["history"] + [{"batch": label, "version": version, "lineage": {}}]
        )[-100:]
        man["version"] = version
        self._write_manifest(man, version)
        return version

    # -- compaction (merge-on-read maintenance) -----------------------------

    def compact(self) -> dict:
        """Fold all MOR delta files into one base per bucket: LWW-resolve
        every key, rewrite the buckets, swap the manifest. After
        compaction a read is a plain scan again (until the next delta).
        Tombstones are RETAINED by compaction (a replayed older insert
        must still lose to the delete); drop them with a retention job
        once the upstream log is known to be past their lsn."""
        man = self.manifest()
        if self.mode != "mor":
            return {"skipped": True, "reason": "cow table"}
        files = [f for fl in man["buckets"].values() for f in fl]
        n_files = len(files)
        resolved = self._resolve(self._read_files(man, files))
        resolved = resolved.withColumn("_bucket", self._bucket(F.col(self.key_col)))
        version = self._rewrite_and_commit(man, resolved, "_compact")
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
        call. MOR tables are LWW-resolved first (per-key winners), so
        the rewrite doubles as a compaction."""
        man = self.manifest()
        files = [f for fl in man["buckets"].values() for f in fl]
        df = self._read_files(man, files)
        if self.mode == "mor":
            df = self._resolve(df)
        keep = df.filter(
            ~(F.col("_deleted") & (F.col("_lsn") < F.lit(int(min_lsn))))
        ).withColumn("_bucket", self._bucket(F.col(self.key_col)))
        version = self._rewrite_and_commit(man, keep, f"_vacuum<{min_lsn}")
        return {"skipped": False, "version": version, "min_lsn": int(min_lsn)}
