"""Duplicate-detect + record-merge pipeline (SURVEY.md §2.11).

Reference: crates/libs/lib-etl/examples/transform_hdd_deduplication.rs.
Same semantics, different architecture — the reference collects distinct
blocking keys to the driver and cross-joins each partition on one node
(`hash_partition` :282-311 + rayon :313-328); here every stage is a
shuffle-partitioned dataflow:

- stage 2/3 (candidate pre-filter + partition) -> one window count over
  the blocking key; the "partitioning" IS the shuffle.
- stage 4's cross join + theta filter -> an **equi self-join on the
  blocking key** (the join predicate AND-includes `Nom == Nom_right`,
  :37-39, so the cross join was never necessary) + the remaining
  non-equi conditions. Spark plans this as a hash/sort-merge join, never
  a broadcast-nested-loop.
- stage 4's driver-side `vec_ids_to_remove` (:220-228) -> an exploded
  id frame + left-anti join (never materialized on the driver).

Determinism: the reference's list-merge order is Polars hash order
(unstable); we canonicalize with array_sort before serializing, so
output is bit-stable across partition counts. Reference edge cases kept:
two merged rows with EQUAL id-sets eliminate each other (:165-200), the
left row's SIRET must be null but the right's may not be (:28-30), ids
compare lexicographically as strings (:31-34), and the PCE merge keeps
duplicates while every other column dedups (:133 vs :134-161).

Skew note (100 TB): a hot blocking key with k rows generates O(k^2)
pairs. AQE skew-join splits the *shuffle* skew; the quadratic blow-up
itself is bounded upstream by `max_block_size` — blocks larger than the
cap are excluded from pairing (they are almost never true duplicates;
tune per dataset) and flow through unmerged.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_rs_spark.sql_text import ident


@dataclass
class DedupConfig:
    id_col: str = "ID"
    blocking_col: str = "Nom"
    # equal-or-either-null secondary match (reference :41-49)
    soft_col: str = "Prenom"
    # at least one of these must match exactly (reference :50-65)
    any_match_cols: tuple[str, ...] = ("PCE", "Email", "Telephone")
    # left row must have this column null to be merge-eligible (:28-30)
    guard_null_col: str = "SIRET"
    # columns merged into '/'-joined lists; True -> keep duplicates
    merge_cols: dict[str, bool] = field(
        default_factory=lambda: {
            "PCE": True,
            "Email": False,
            "Telephone": False,
            "SIRET": False,
            "SIRET successeur": False,
            "Raison_sociale": False,
            "Id_source": False,
        }
    )
    ids_col: str = "IDS"
    max_block_size: int | None = 10_000


def _col(name: str, side: str = "") -> Column:
    """Column ``name`` of the frame aliased ``side``, quoted."""
    return F.col(f"{side}.{ident(name)}" if side else ident(name))


def _serialize_list(col: Column) -> Column:
    """'/'-join with reference null semantics: any null element nulls the
    whole result (Polars list.join(ignore_nulls=false)); order canonical."""
    return F.when(
        F.exists(col, lambda x: x.isNull()), F.lit(None).cast("string")
    ).otherwise(F.array_join(F.array_sort(col), "/"))


def candidate_blocks(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Stages 2-3 (reference :265-311): keep rows in blocking groups of
    size > 1; the shuffle replaces the driver-side hash_partition."""
    w = Window.partitionBy(_col(cfg.blocking_col))
    out = (
        df.filter(_col(cfg.blocking_col).isNotNull())
        .withColumn("_block_size", F.count(F.lit(1)).over(w))
        .filter(F.col("_block_size") > 1)
    )
    if cfg.max_block_size is not None:
        out = out.filter(F.col("_block_size") <= cfg.max_block_size)
    return out.drop("_block_size")


def detect_duplicates(df: DataFrame, cfg: DedupConfig) -> tuple[DataFrame, DataFrame]:
    """Stage 4 (reference :22-231). Returns (rows_to_add, ids_to_remove).

    rows_to_add: one merged record per surviving group with '/'-joined
    list columns. ids_to_remove: single-column frame of original ids
    consumed by a merge.
    """
    i = cfg.id_col
    left = df.alias("l")
    right = df.alias("r")

    def L(c: str) -> Column:
        return _col(c, "l")

    def R(c: str) -> Column:
        return _col(c, "r")

    soft = (
        (L(cfg.soft_col) == R(cfg.soft_col))
        | L(cfg.soft_col).isNull()
        | R(cfg.soft_col).isNull()
    )
    any_match = None
    for c in cfg.any_match_cols:
        cond = L(c) == R(c)
        any_match = cond if any_match is None else (any_match | cond)

    pairs = left.join(
        right,
        # the blocking-key equality makes this an equi join (hash
        # partitioned by Nom) — the reference's cross join re-planned
        (L(cfg.blocking_col) == R(cfg.blocking_col))
        & L(cfg.guard_null_col).isNull()
        & (L(i) < R(i))
        & soft
        & any_match,
        "inner",
    )

    pair_cols = [
        L(cfg.blocking_col).alias(cfg.blocking_col),
        L(cfg.soft_col).alias(cfg.soft_col),
        L(i).alias(i),
        F.array_distinct(F.array(L(i), R(i))).alias(cfg.ids_col),
    ]
    for c in cfg.merge_cols:
        pair_cols.append(F.array_distinct(F.array(L(c), R(c))).alias(c))
    pair_df = pairs.select(*pair_cols)

    # reference :130-162 — group by (Id, Nom, Prenom); PCE keeps dups
    aggs = []
    for c, keep_dups in cfg.merge_cols.items():
        merged = F.flatten(F.collect_list(_col(c)))
        if not keep_dups:
            merged = F.array_distinct(merged)
        aggs.append(merged.alias(c))
    aggs.append(
        F.array_distinct(F.flatten(F.collect_list(_col(cfg.ids_col)))).alias(cfg.ids_col)
    )
    merged = pair_df.groupBy(*map(_col, (i, cfg.blocking_col, cfg.soft_col))).agg(*aggs)

    # reference :165-200 — eliminate rows whose id-set is a subset of
    # another row's (equal sets kill BOTH rows). Subsets can only occur
    # within a blocking group, so this is again an equi self-join.
    ml, mr = merged.alias("ml"), merged.alias("mr")
    subset_ids = (
        ml.join(
            mr,
            (_col(cfg.blocking_col, "ml") == _col(cfg.blocking_col, "mr"))
            & (_col(i, "ml") != _col(i, "mr"))
            & (
                F.size(F.array_except(_col(cfg.ids_col, "ml"), _col(cfg.ids_col, "mr")))
                == 0
            ),
            "inner",
        )
        .select(_col(i, "ml").alias(i))
        .distinct()
    )
    survivors = merged.join(subset_ids, on=i, how="left_anti")

    out_cols = [_col(i), _col(cfg.blocking_col), _col(cfg.soft_col)]
    for c in cfg.merge_cols:
        out_cols.append(_serialize_list(_col(c)).alias(c))
    out_cols.append(_serialize_list(_col(cfg.ids_col)).alias(cfg.ids_col))
    rows_to_add = survivors.select(*out_cols)

    ids_to_remove = (
        survivors.select(F.explode(_col(cfg.ids_col)).alias(i)).distinct()
    )
    return rows_to_add, ids_to_remove


def reconciliate(
    df_original: DataFrame,
    rows_to_add: DataFrame,
    ids_to_remove: DataFrame,
    cfg: DedupConfig,
) -> DataFrame:
    """Stage 6 (reference :233-263): drop merged-away originals (anti
    join, not a driver-collected id vector), union the merged records."""
    originals = df_original.withColumn(
        cfg.ids_col, F.lit(None).cast("string")
    ).join(ids_to_remove, on=cfg.id_col, how="left_anti")
    return originals.unionByName(rows_to_add.select(*map(_col, originals.columns)))


def dedup_merge(df: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """Full pipeline: candidate filter -> pair detect -> merge -> reconcile.

    ``df`` must already be normalized (the HDD pipeline applies
    ``hdd_normalize_exprs`` first, reference :370-381).
    """
    cfg = cfg or DedupConfig()
    keep = [cfg.id_col, cfg.blocking_col, cfg.soft_col, *cfg.merge_cols]
    kept = df.select(*map(_col, keep))
    rows_to_add, ids_to_remove = detect_duplicates(candidate_blocks(kept, cfg), cfg)
    return reconciliate(kept, rows_to_add, ids_to_remove, cfg)
