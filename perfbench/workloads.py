"""The workloads. Each one sets up its inputs (timed as set-up),
warms the code path it measures, repeats its measured operation until
``--seconds`` have passed (at least twice), then checks every output and
reports the median repetition.

A workload returns its end-to-end figures; in a traced run it also
fills ``run.layer`` with per-layer figures, some of which come from
isolated legs: one layer's public function timed alone over an input
that was materialized, untimed, beforehand.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

from pyspark.sql import functions as F

import checks
import datagen
from etl_rs_spark.operators import dedup_scale as DS
from etl_rs_spark.operators.graph import dedup_survivors
from etl_rs_spark.operators.lww import lww_agg
from etl_rs_spark.operators.mixing import mix_sample
from etl_rs_spark.operators.normalize_cdc import normalize_events, valid_flag
from etl_rs_spark.operators.packing import pack_sequences
from etl_rs_spark.session import force
from etl_rs_spark.sinks.lakehouse import LakehouseTable
from etl_rs_spark.sources.binlog import BinlogSpec, gen_events, read_segments, write_segments
from etl_rs_spark.streaming.replay import process_batch, replay_stream
from jobs.corpus_prep import prep_corpus

#: measured repetitions of a workload's operation, at the least
MIN_REPS = 2
#: CDC replay: events per binlog segment (~10 events per doc), segments
#: bulk-loaded as the base, tail segments (one stream trigger each), and
#: the merge-on-read table's auto-compaction threshold (live files per
#: bucket): the third tail trigger trips one auto-compaction
SEG_EVENTS = 5_000
BASE_SEGMENTS = 12
TAIL_SEGMENTS = 4
AUTO_COMPACT_FILES = 3
#: corpus prep: salted documents (one file per core), mix weights and
#: packing shape. At 8,000 docs about a quarter of a run is per-document
#: work (hashing, the n-gram join, packing); the rest is the fixed cost
#: of ~20 Spark jobs
CORPUS_DOCS = 8_000
CORPUS_WEIGHTS = {"src0": 2.0, "src1": 0.5, "src5": 1.25}
CORPUS_MAX_LEN = 2048
CORPUS_SHARDS = 16
#: contract queries (traced corpus_prep runs): scale factor and the
#: queries timed, one or more per engine module no workload reaches
QUERY_SF = 0.01
QUERIES = [
    "q12_transform_siret_pce",   # functions.transforms
    "q26_filter_dsl_list",       # plans.filter_dsl
    "q24_multimodal_features",   # operators.multimodal + operators.jpeg
    "q22_cosine_topk",           # operators.similarity
    "q39_repetition",            # operators.text
    "q40_redact_pii",            # operators.text
]
READS = 3


class Run:
    """One benchmark process: session, scratch root, seed, counters."""

    def __init__(self, spark, root: str, seed: int, seconds: float, traced: bool, tracer):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.tracer = tracer
        self.span = tracer.span
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def op(self, ok: bool, what: str) -> None:
        """Count one operation that already ran."""
        self.attempted += 1
        if not ok:
            self._fail(what)

    @contextmanager
    def attempt(self, what: str):
        """Count one operation; an exception in it fails it."""
        self.attempted += 1
        try:
            yield
        except Exception:  # noqa: BLE001 - counted as failed, the run goes on
            traceback.print_exc()
            self._fail(what)

    def check(self, what: str, fn) -> None:
        """An output check of operations already counted: fails one when
        ``fn`` returns false or raises."""
        try:
            ok = fn()
        except Exception:  # noqa: BLE001 - a check that cannot run fails
            traceback.print_exc()
            ok = False
        if not ok:
            self._fail(what)

    def until_deadline(self):
        """Yield repetition indices until ``seconds`` have passed (at
        least ``MIN_REPS``); the loop body is one timed repetition."""
        t0 = time.perf_counter()
        i = 0
        while i < MIN_REPS or time.perf_counter() - t0 < self.seconds:
            yield i
            i += 1


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _du(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, data files only."""
    size = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.startswith(".") or f == "_SUCCESS":
                continue
            size += os.path.getsize(os.path.join(d, f))
            files += 1
    return size, files


def _parquet_files(path: str) -> list[str]:
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".parquet"))


def _check_cdc(run: Run, tables: list[LakehouseTable], files: list[str], extent) -> None:
    oracle = checks.CdcOracle(files)
    try:
        for table in tables:
            run.check("manifest lineage", lambda: checks.lineage_ok(table.manifest(), *extent))
            state = table.read().toArrow()
            run.check("cdc state != oracle", lambda: oracle.mismatches(state) == 0)
        # the check must catch a corrupted state: drop one doc
        run.check("oracle missed a corrupted table state",
                  lambda: oracle.mismatches(state.slice(1)) > 0)
    finally:
        oracle.close()


# -- cdc_replay -----------------------------------------------------------------

def _write_log(spark, path: str, n_base: int, n_tail: int, seed: int):
    """A binlog of ``n_base + n_tail`` equal segments (one parquet file
    each, so one stream trigger drains one); the tail segments are
    moved under ``<path>/tail``. Returns the base segments and the
    stream schema as DDL."""
    n_segs = n_base + n_tail
    n_events = SEG_EVENTS * n_segs
    events = gen_events(spark, BinlogSpec(n_events=n_events, n_docs=n_events // 10, seed=seed))
    seg_of = F.floor((F.col("lsn") - 1) / F.lit(SEG_EVENTS))
    segs = write_segments(events.repartition(n_segs, seg_of), path, n_segs, n_events)
    os.makedirs(os.path.join(path, "tail"))
    for s in segs[n_base:]:
        os.rename(s, os.path.join(path, "tail", os.path.basename(s)))
    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in events.schema.fields)
    return segs[:n_base], ddl


def _replay(run: Run, table: LakehouseTable, log: str, base: list[str], ddl: str, name: str):
    """Bulk-load the base segments, then drain the tail with one stream
    (one segment per trigger). Each batch and trigger is an operation."""
    with run.attempt("bulk batch"), run.span("process_batch") as bulk:
        process_batch(table, read_segments(run.spark, base), f"{name}:base")
    with run.span("stream") as drain:
        q = replay_stream(run.spark, table, os.path.join(log, "tail", "seg-*"),
                          run.path(f"ckpt_{name}"), ddl, max_files_per_trigger=1,
                          stream_name=name)
        try:
            q.awaitTermination()
            failed = 0
        except Exception:  # noqa: BLE001 - the failing trigger is counted below
            traceback.print_exc()
            failed = 1
    progress = [p for p in q.recentProgress if "addBatch" in p["durationMs"]]
    for i in range(len(progress) + failed):
        run.op(i < len(progress), "stream trigger")
    return bulk, drain, progress


def _lake(run: Run, name: str) -> LakehouseTable:
    return LakehouseTable(run.spark, run.path(name), mode="mor",
                          auto_compact_files=AUTO_COMPACT_FILES)


def cdc_replay(run: Run) -> dict:
    spark = run.spark
    log = run.path("binlog")
    with run.span("binlog.gen") as gen:
        base, ddl = _write_log(spark, log, BASE_SEGMENTS, TAIL_SEGMENTS, run.seed)
    run.layer["binlog.gen_s"] = gen.dur
    files = _parquet_files(log)
    extent = checks.log_extent(files)
    base_events, _ = checks.log_extent([f for b in base for f in _parquet_files(b)])
    tail_events = extent[0] - base_events
    with run.span("warmup"):  # the same path on a copy: base + one tail segment
        wlog = run.path("warm_binlog")
        first = sorted(os.listdir(os.path.join(log, "tail")))[0]
        shutil.copytree(os.path.join(log, "tail", first), os.path.join(wlog, "tail", first))
        _replay(run, _lake(run, "warm_lake"), wlog, base, ddl, "warm")
    setup_done = time.perf_counter()

    # one repetition: the base bulk-loaded into a fresh table, then the
    # tail drained by a fresh stream
    reps = []
    with run.span("measure"):
        for i in run.until_deadline():
            table = _lake(run, f"lake{i}")
            reps.append((table, *_replay(run, table, log, base, ddl, f"cdc{i}")))
    _check_cdc(run, [r[0] for r in reps], files, extent)

    for _, _, _, progress in reps:
        print("trigger_s=" + " ".join(f"{p['durationMs']['triggerExecution'] / 1000.0:.3f}"
                                      for p in progress), file=sys.stderr)
    rate = statistics.median(extent[0] / (bulk.dur + drain.dur) for _, bulk, drain, _ in reps)
    if run.traced:
        run.layer["replay_events_per_s"] = statistics.median(base_events / r[1].dur for r in reps)
        table = reps[-1][0]
        reads = []
        for _ in range(READS):
            with run.attempt("read"), run.span("read"):
                reads.append(_timed(lambda: force(table.read())))
        run.layer["read_p50_s"] = statistics.median(reads)
        _tail_layers(run, reps, tail_events)
        _bulk_legs(run, base)
    return {"setup_end": setup_done, "throughput_per_s": rate}


def _bulk_legs(run: Run, base: list[str]) -> None:
    """Isolated legs of the bulk path over the base segment: scan,
    validity flag, LWW aggregate, normalize and the lake merge."""
    spark, L = run.spark, run.layer
    # isolated legs, each over an input materialized beforehand
    with run.span("binlog.scan") as s:
        force(read_segments(spark, base))
    L["binlog.scan_s"] = s.dur
    with run.span("normalize_cdc.valid_flag") as s:
        force(valid_flag(read_segments(spark, base)))
    L["normalize_cdc.valid_flag_s"] = s.dur
    valid_path, win_path, norm_path = run.path("leg_valid"), run.path("leg_win"), run.path("leg_norm")
    with run.span("materialize"):
        (valid_flag(read_segments(spark, base)).filter("_valid")
         .drop("_valid", "partition").write.parquet(valid_path))
    with run.span("lww.agg") as s:
        force(lww_agg(spark.read.parquet(valid_path), key="doc_id"))
    L["lww.agg_s"] = s.dur
    with run.span("materialize"):
        lww_agg(spark.read.parquet(valid_path), key="doc_id").write.parquet(win_path)
    with run.span("normalize_cdc.normalize") as s:
        force(normalize_events(spark.read.parquet(win_path)))
    L["normalize_cdc.normalize_s"] = s.dur
    with run.span("materialize"):
        normalize_events(spark.read.parquet(win_path)).drop("_valid").write.parquet(norm_path)
    leg = LakehouseTable(spark, run.path("leg_lake"))
    with run.span("lakehouse.merge") as s:
        leg.merge(spark.read.parquet(norm_path), "leg")
    L["lakehouse.merge_s"] = s.dur
    L["lakehouse.bytes_written"], L["lakehouse.files_written"] = _du(os.path.join(leg.path, "data"))


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest nearest-rank percentile with at least ``beyond``
    sorted samples above it, as (value, percentile, samples beyond).
    Below 100 samples that percentile would be under p90, so this is the
    maximum, with 0 beyond."""
    n = len(samples)
    k = n - 1 if n < 10 * beyond else n - beyond - 1
    return samples[k], 100.0 * (k + 1) / n, n - k - 1


def _tail_layers(run: Run, reps: list, tail_events: int) -> None:
    """Stream and lake figures: trigger phases over every repetition's
    triggers; manifest, file-layout and compaction figures of the last
    repetition's table."""
    L = run.layer
    progress = [p for r in reps for p in r[3]]
    trig = sorted(p["durationMs"]["triggerExecution"] / 1000.0 for p in progress)
    med = lambda key: statistics.median(p["durationMs"].get(key, 0) / 1000.0 for p in progress)
    L["triggers"] = len(progress)
    L["tail_events_per_s"] = statistics.median(tail_events / r[2].dur for r in reps)
    L["commit_p50_s"] = statistics.median(trig)
    L["commit_tail_s"], L["commit_tail_pct"], L["commit_tail_beyond"] = tail_percentile(trig)
    L["stream.add_batch_s"] = med("addBatch")
    L["stream.overhead_s"] = statistics.median(
        (p["durationMs"]["triggerExecution"] - p["durationMs"]["addBatch"]) / 1000.0 for p in progress)
    L["stream.wal_commit_s"] = med("walCommit")
    L["stream.commit_offsets_s"] = med("commitOffsets")
    L["stream.latest_offset_s"] = med("latestOffset")

    table = reps[-1][0]
    man = table.manifest()
    snap = os.path.join(table.path, "_snapshots")
    L["lakehouse.manifest_bytes"] = os.path.getsize(os.path.join(snap, f"v{man['version']}.json"))
    L["lakehouse.snapshots_bytes"], _ = _du(snap)
    t = [_timed(table.manifest) for _ in range(5)]
    L["lakehouse.manifest_read_s"] = statistics.median(t)
    files = [len(fl) for fl in man["buckets"].values()]
    L["lakehouse.live_files"] = sum(files)
    L["lakehouse.max_bucket_files"] = max(files, default=0)
    # a commit that tripped auto-compaction is followed by "_compact"
    compacting = []
    for t, _, _, prog in reps:
        hist = [h["batch"] for h in t.manifest()["history"]]
        compacted = {b.rsplit(":", 1)[-1] for b, nxt in zip(hist, hist[1:])
                     if nxt == "_compact" and b != "_compact"}
        compacting += [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog
                       if str(p["batchId"]) in compacted]
    L["lakehouse.compactions"] = hist.count("_compact")
    L["lakehouse.compacting_commit_s"] = statistics.median(compacting or [0.0])
    live = run.path("live")
    table.read().write.parquet(live)
    L["bytes_per_live_byte"] = _du(table.path)[0] / _du(live)[0]
    with run.span("lakehouse.compact") as s:
        table.compact()
    L["lakehouse.compact_s"] = s.dur
    with run.span("read_compacted") as s:
        force(table.read())
    L["lakehouse.read_compacted_s"] = s.dur


# -- corpus_prep ----------------------------------------------------------------

def _write_docs(run: Run):
    """The salted docs in one parquet file per core, split into the
    training docs and the decontamination probes (every 97th)."""
    path = run.path("docs")
    os.makedirs(path)
    docs = datagen.salted_documents(CORPUS_DOCS, run.seed)
    parts = run.spark.sparkContext.defaultParallelism
    for i in range(parts):
        docs.iloc[i::parts].to_parquet(os.path.join(path, f"part-{i}.parquet"), index=False)
    docs = run.spark.read.parquet(path)
    return docs.filter(F.col("doc_id") % 97 != 0), docs.filter(F.col("doc_id") % 97 == 0)


def _prep(train, probes, out: str, on_stage=None) -> None:
    packed = prep_corpus(train, probes, CORPUS_WEIGHTS, max_len=CORPUS_MAX_LEN,
                         shards=CORPUS_SHARDS, jaccard=0.8, on_stage=on_stage)
    packed.write.mode("overwrite").partitionBy("shard").parquet(out)


def corpus_prep(run: Run) -> dict:
    spark = run.spark
    with run.span("docs.gen"):
        train, probes = _write_docs(run)
    n_docs = sum(1 for i in range(CORPUS_DOCS) if i % 97)
    with run.span("warmup"):
        _prep(train, probes, run.path("warm_out"))
    setup_done = time.perf_counter()

    secs, stages = [], {}
    with run.span("measure"):
        for i in run.until_deadline():
            out = run.path(f"packed{i}")
            if i:
                shutil.rmtree(run.path(f"packed{i - 1}"))
            with run.attempt("corpus run"), run.span("prep_corpus"):
                secs.append(_timed(lambda: _prep(train, probes, out, stages.__setitem__)))

    # token conservation through packing, and the window bound
    got = {}

    def conserved() -> bool:
        got["total"], got["longest"], got["bad"] = spark.read.parquet(out).agg(
            F.sum("n_tokens"), F.max("n_tokens"),
            F.sum((F.size("tokens") != F.col("n_tokens")).cast("int"))).first()
        return got["total"] == stages["mix"].agg(F.sum(F.size("word_ids"))).first()[0]

    run.check("corpus tokens not conserved", conserved)
    run.check("corpus chunk over max_len",
              lambda: got["longest"] <= CORPUS_MAX_LEN and got["bad"] == 0)

    docs_per_s = n_docs / statistics.median(secs)
    if run.traced:
        _corpus_legs(run, train, probes, docs_per_s)
        _query_legs(run)
    return {"setup_end": setup_done, "throughput_per_s": docs_per_s}


def _corpus_legs(run: Run, train, probes, docs_per_s: float) -> None:
    spark, L = run.spark, run.layer
    L["corpus_docs_per_s"] = docs_per_s

    def leg(name: str, df) -> None:
        with run.span(name) as s:
            force(df)
        L[f"{name}_s"] = s.dur

    def stored(name: str, df):
        p = run.path(f"leg_{name}")
        with run.span("materialize"):
            df.write.parquet(p)
        return spark.read.parquet(p)

    leg("dedup_scale.exact_dedup", DS.dedup_digest_stats(train, ["text"]))
    wi = stored("wi", DS.doc_word_ids_hashed(train, extra_cols=("lang",)))
    pairs = DS.ngram_jaccard_pairs(wi, blocking_col="lang", n=3, threshold=0.8,
                                   max_doc_freq=max(64, train.count() // 100))
    leg("dedup_scale.ngram_pairs", pairs)
    edges = stored("edges", pairs)
    leg("graph.survivors", dedup_survivors(edges))
    wis = stored("wis", DS.doc_word_ids_hashed(train, extra_cols=("source",)))
    pids = stored("pids", DS.doc_word_ids_hashed(probes))
    decon = DS.decontaminate(wis, pids, n=3, min_overlap=1, mode="filter")
    leg("dedup_scale.decontaminate", decon)
    mix = mix_sample(stored("decon", decon), CORPUS_WEIGHTS)
    leg("mixing.mix", mix)
    mixed = stored("mixed", mix)
    toks = mixed.select("doc_id", "replica", F.transform(
        "word_ids", lambda w: (w % F.lit(50257)).cast("int")).alias("tokens"))
    leg("packing.pack", pack_sequences(stored("toks", toks), CORPUS_MAX_LEN,
                                       id_col=("doc_id", "replica"), n_shards=CORPUS_SHARDS))


# -- contract_queries -----------------------------------------------------------

def _query_legs(run: Run) -> None:
    """One warmed pass over the contract queries in ``QUERIES``, each
    result checked against its ``oracle_sql()`` twin."""
    import __spark_entry__ as entry

    spark, qs = run.spark, entry.queries()
    data = datagen.write_sf(run.path("sf"), QUERY_SF, run.seed)
    warm = datagen.write_sf(run.path("warm_sf"), QUERY_SF / 10, run.seed + 1)
    for name in QUERIES:
        qs[name](spark, warm).collect()
    oracle = checks.QueryOracle(data, datagen.TABLES, entry.oracle_sql())
    try:
        for name in QUERIES:
            with run.attempt(name):
                with run.span(f"query.{name}") as s:
                    df = qs[name](spark, data)
                    rows = df.collect()
                run.layer[f"query.{name}_s"] = s.dur
                run.check(f"{name} != oracle_sql twin",
                          lambda: oracle.matches(name, df.columns, rows))
    finally:
        oracle.close()
    run.layer["query_total_s"] = sum(run.layer[f"query.{q}_s"] for q in QUERIES)


WORKLOADS = {
    "cdc_replay": cdc_replay,
    "corpus_prep": corpus_prep,
}
