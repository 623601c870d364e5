"""spark-submit entry point: training-corpus preparation pipeline.

Runs the full pretraining-data flow over a documents table:

    exact dedup -> near-dup groups (n-gram Jaccard pairs -> connected
    components, one survivor per cluster) -> benchmark decontamination
    -> source-weighted mixing -> fixed-length sequence packing
    -> parquet shards

Every stage builds its plan from SQL expression strings
(``etl_rs_spark.sql_text``): a few py4j calls per DataFrame operation.

Each document is hashed to word ids once: the exact-dedup survivors'
word ids are materialized by one eager local checkpoint whose job also
counts them (an Observation; the count sizes the stop-shingle cap), and
every later stage reads that frame. A run therefore pays exact dedup
and word hashing once, not once per action.

Usage (same launch mode as jobs/replay.py):

    python tools/build_pyfiles.py     # -> dist/etl_rs_spark.zip
    spark-submit --py-files dist/etl_rs_spark.zip jobs/corpus_prep.py \
        --docs /root/testdata/sf0.1/documents.parquet \
        --out /tmp/packed --max-len 2048 --shards 64 \
        --weight src0=2.0 --weight src1=0.5

In-sandbox the same file runs as plain ``python jobs/corpus_prep.py``
(the session factory ships the package itself). Emits ONE JSON line
with per-stage row counts, drop attribution (exact dups / near dups /
contaminated), packed chunk stats, and wall time per stage — the
numbers a data engineer checks before pointing a trainer at the
output.

Every stage is the library operator the contract queries exercise
(q17 exact dedup; q21's n-gram similarity join feeding q37's connected
components — shingle jaccard is the order-sensitive near-dup policy, a
deliberate choice over q19's word-set minhash; q35 decontamination;
q36 mixing; q34 packing), so the scale properties documented there —
digest-only exact-dedup shuffle, inverted-index similarity join with
the stop-shingle cap, broadcast probe shingles, zero-shuffle mixing,
one-shuffle packing — carry over unchanged.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation
from pyspark.sql import functions as F

from etl_rs_spark.operators import dedup_scale as DS
from etl_rs_spark.operators.graph import dedup_survivors
from etl_rs_spark.operators.mixing import mix_sample
from etl_rs_spark.operators.packing import pack_sequences
from etl_rs_spark.session import get_spark, host_cpus


def prep_corpus(
    docs,
    probes=None,
    weights: dict[str, float] | None = None,
    *,
    max_len: int = 2048,
    shards: int = 64,
    vocab: int = 50257,
    jaccard: float = 0.8,
    decon_ngram: int = 3,
    decon_overlap: int = 1,
    default_weight: float = 1.0,
    sep_token: int | None = None,
    on_stage=None,
):
    """Library form of the pipeline: documents DataFrame in, packed
    (shard, chunk, tokens, ...) DataFrame out — exact dedup -> near-dup
    survivor filter -> decontaminate -> mix -> pack, each stage the same
    operator the contract queries gate. ``on_stage(name, df)`` is an
    optional observer called once per stage (the CLI uses it for
    per-stage row counts); its return value is ignored.

    Each document's word ids are computed once: the post-dedup word-id
    frame is materialized by ONE eager ``localCheckpoint`` (the fault
    model ``connected_components`` already imposes on this pipeline)
    and feeds the pair search, the survivor anti-join, decontamination,
    mixing and packing, so the final action re-runs neither exact dedup
    nor word hashing. Its row count, which sizes the stop-shingle cap,
    is an ``Observation`` riding that checkpoint job, not a recount.
    Past these checkpoints (and connected components' own) the returned
    plan is LAZY — the caller decides the action (write, count, collect)."""

    def note(name, df):
        if on_stage:
            on_stage(name, df)

    note("input", docs)

    # 1. exact dedup: digest-keyed survivors, content never shuffled.
    # The count sizes the stop-shingle cap (semantics, not metrics), so
    # it is taken whether or not an observer runs.
    survivors = DS.dedup_digest_stats(docs, ["text"]).selectExpr("doc_id")
    docs = docs.join(survivors, "doc_id", "left_semi")
    obs = Observation("word_ids")
    wi = (
        DS.doc_word_ids_hashed(docs, extra_cols=("lang", "source"))
        .observe(obs, F.expr("count(1) AS n"))
        .localCheckpoint(eager=True)
    )
    note("exact_dedup", wi)

    # 2. near-dup groups -> keep one survivor per cluster
    if jaccard > 0:
        edges = DS.ngram_jaccard_pairs(
            wi, blocking_col="lang", n=3, threshold=jaccard,
            max_doc_freq=max(64, int(obs.get["n"]) // 100),
        )
        drops = dedup_survivors(edges).filter("NOT is_survivor").selectExpr(
            "node AS doc_id"
        )
        wi = wi.join(drops, "doc_id", "left_anti")
        note("near_dedup", wi)
    wi = wi.drop("lang")

    # 3. decontamination against the probe corpus
    if probes is not None:
        probe_ids = DS.doc_word_ids_hashed(probes)
        wi = DS.decontaminate(
            wi, probe_ids, n=decon_ngram,
            min_overlap=decon_overlap, mode="filter",
        )
        note("decontaminate", wi)

    # 4. mixing (skipped when no weights given)
    if weights:
        mixed = mix_sample(wi, weights, default_weight=default_weight)
    else:
        mixed = wi.selectExpr("*", "0 AS replica")
    note("mix", mixed)

    # 5. pack
    toks = mixed.selectExpr(
        "doc_id", "replica",
        f"transform(word_ids, w -> CAST(w % {int(vocab)} AS INT)) AS tokens",
    )
    return pack_sequences(
        toks, max_len, id_col=("doc_id", "replica"),
        n_shards=shards, sep_token=sep_token,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="documents parquet path")
    ap.add_argument("--probes", default=None,
                    help="eval-set parquet for decontamination (same schema); "
                         "omit to skip the stage")
    ap.add_argument("--out", required=True, help="output dir for packed parquet")
    ap.add_argument("--max-len", type=int, default=2048)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--sep-token", type=int, default=None)
    ap.add_argument("--vocab", type=int, default=50257)
    ap.add_argument("--jaccard", type=float, default=0.8,
                    help="near-dup threshold; <=0 skips the stage")
    ap.add_argument("--decon-ngram", type=int, default=3)
    ap.add_argument("--decon-overlap", type=int, default=1)
    ap.add_argument("--weight", action="append", default=[], metavar="SRC=W",
                    help="mix weight per source (repeatable); omit all to skip mixing")
    ap.add_argument("--default-weight", type=float, default=1.0,
                    help="weight for sources not named by --weight")
    ap.add_argument("--cpus", type=int, default=host_cpus())
    ap.add_argument(
        "--no-stage-counts", action="store_true",
        help="skip per-stage row counts (each one recomputes the "
             "pipeline prefix — fine diagnostically, wasteful at scale)",
    )
    args = ap.parse_args()

    weights = {}
    for kv in args.weight:
        if "=" not in kv:
            ap.error(f"--weight {kv!r} is not of the form source=weight")
        s, w = kv.split("=", 1)
        try:
            weights[s] = float(w)
        except ValueError:
            ap.error(f"--weight {kv!r}: {w!r} is not a number")

    spark = get_spark(
        app_name="corpus-prep",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    metrics: dict = {"metric": "corpus_prep", "stages": {}}
    t0 = time.perf_counter()
    last = [t0]

    def stage(name: str, df) -> None:
        if args.no_stage_counts:
            return
        metrics["stages"][name] = {
            "rows": df.count(), "sec": round(time.perf_counter() - last[0], 2),
        }
        last[0] = time.perf_counter()

    docs = spark.read.parquet(args.docs)
    probes = spark.read.parquet(args.probes) if args.probes else None
    packed = prep_corpus(
        docs, probes, weights,
        max_len=args.max_len, shards=args.shards, vocab=args.vocab,
        jaccard=args.jaccard, decon_ngram=args.decon_ngram,
        decon_overlap=args.decon_overlap,
        default_weight=args.default_weight, sep_token=args.sep_token,
        on_stage=stage,
    )
    n_in = metrics["stages"].get("input", {}).get("rows", -1)
    # stats ride the write via observe — one pass, and an EMPTY result
    # (e.g. an over-aggressive probe set dropped everything) still
    # reports 0 chunks instead of crashing on an unreadable empty dir
    obs = Observation("packed")
    packed = packed.observe(
        obs,
        F.count(F.lit(1)).alias("chunks"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("tokens"),
        F.coalesce(
            F.sum((F.col("n_tokens") == args.max_len).cast("int")), F.lit(0)
        ).alias("full_chunks"),
    )
    t_write = time.perf_counter()
    packed.write.mode("overwrite").partitionBy("shard").parquet(args.out)
    agg = obs.get
    metrics["stages"]["pack_write"] = {
        "rows": int(agg["chunks"]), "sec": round(time.perf_counter() - t_write, 2),
    }
    if not args.no_stage_counts:
        metrics["docs_in"] = n_in
    metrics.update(
        {
            "chunks": int(agg["chunks"]),
            "tokens_packed": int(agg["tokens"]),
            "full_chunk_frac": round(int(agg["full_chunks"]) / max(int(agg["chunks"]), 1), 4),
            "max_len": args.max_len,
            "n_shards": args.shards,
            "wall_sec": round(time.perf_counter() - t0, 2),
            "out": args.out,
        }
    )
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
