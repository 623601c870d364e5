"""Golden-file test for the dedup/merge pipeline (SURVEY.md §2.11).

Reference pair: files/HDD_deduplication.csv (25 rows) ->
files/HDD_deduplication_transformed.csv (20 rows = 18 survivors + 2
merged records). List-valued outputs are compared as multisets of their
'/'-separated parts because the reference's element order is Polars hash
order (unstable run-to-run) while ours is canonically sorted.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from etl_rs_spark.functions.transforms import hdd_normalize_exprs
from etl_rs_spark.operators.dedup import DedupConfig, dedup_merge, detect_duplicates, candidate_blocks
from tests.conftest import REFERENCE

FLOATY = ["PCE", "SIRET", "SIRET successeur", "Telephone"]
HDD_CSV = f"{REFERENCE}/files/HDD_deduplication.csv"
HDD_GOLDEN_CSV = f"{REFERENCE}/files/HDD_deduplication_transformed.csv"
HDD_COLS = ["ID", "Nom", "Prenom", "PCE", "Email", "Telephone", "SIRET",
            "SIRET successeur", "Raison_sociale", "Id_source"]
HDD_SCHEMA = ", ".join(f"`{c}` string" for c in HDD_COLS)


def load_hdd(spark):
    """Rebuild the engine's input table: CSV floats are stringified with
    i64 truncation (reference src/transforms/utils.rs:102-109), ID is the
    Postgres autoincrement (insertion order, 1-based)."""
    pdf = pd.read_csv(
        HDD_CSV,
        sep=";",
        dtype=str,
        keep_default_na=False,
    ).replace({"": None})
    for c in FLOATY:
        pdf[c] = pdf[c].map(lambda v: str(int(float(v))) if v else None)
    pdf.insert(0, "ID", [str(i + 1) for i in range(len(pdf))])
    return spark.createDataFrame(pdf.astype(object).where(pd.notnull(pdf), None))


def as_multiset(v):
    return tuple(sorted(v.split("/"))) if isinstance(v, str) else v


@pytest.fixture(scope="module")
def result(spark):
    df = load_hdd(spark)
    normalized = df.withColumns(hdd_normalize_exprs())
    return dedup_merge(normalized).toPandas()


@pytest.mark.skipif(
    not (os.path.exists(HDD_CSV) and os.path.exists(HDD_GOLDEN_CSV)),
    reason=f"reference CSVs absent ({HDD_CSV}, {HDD_GOLDEN_CSV}); "
    f"needs a checkout of the reference repository",
)
def test_hdd_golden(result):
    golden = pd.read_csv(
        HDD_GOLDEN_CSV,
        dtype=str,
        keep_default_na=False,
    ).replace({"": None})

    # 25 inputs - 5 merged-away originals (2,3,8 and 4,5) + 2 merged records
    assert len(result) == len(golden) == 22
    got = {
        row["ID"]: {c: as_multiset(row[c]) for c in golden.columns if c != "ID"}
        for _, row in result.where(pd.notnull(result), None).iterrows()
    }
    want = {
        row["ID"]: {c: as_multiset(row[c]) for c in golden.columns if c != "ID"}
        for _, row in golden.iterrows()
    }
    assert set(got) == set(want)
    for rid in want:
        assert got[rid] == want[rid], f"row ID={rid}: {got[rid]} != {want[rid]}"


def test_no_nested_loop_join(spark):
    """The reference's cross join must be re-planned as an equi join on
    the blocking key — a nested-loop/cartesian plan would not survive
    100 TB. The plan shape does not depend on the data, so a small
    synthetic HDD-shaped frame stands in for the reference CSV."""
    rows = [
        ("1", "Dupont", "Jean", "12345678901234", "jean.dupont@example.com",
         "0612345678", None, None, None, "1"),
        ("2", "DUPONT", "jean", "12345678901234", None, "06 12 34 56 78",
         None, None, None, "2"),
        ("3", "Martin", "Claire", None, "claire.martin@example.com", None,
         "73282932000074", None, "Acme SA", "3"),
        ("4", "Martin", None, None, "claire.martin@example.com", "0698765432",
         None, None, None, "4"),
        ("5", "Durand", "Paul", "98765432109876", None, None, None, None, None, "5"),
    ]
    df = spark.createDataFrame(rows, HDD_SCHEMA).withColumns(hdd_normalize_exprs())
    plan = dedup_merge(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_transitive_chain_subset_elimination(spark):
    """A~B, B~C, A~C: group of left-id 1 holds {1,2,3}; group of left-id
    2 holds {2,3} — a strict subset, eliminated (reference :165-200).
    One merged record survives; PCE keeps per-pair duplicates (:133)."""
    rows = [
        ("1", "X", "A", "p", None, None, None, None, None, "1"),
        ("2", "X", "A", "p", None, None, None, None, None, "2"),
        ("3", "X", "A", "p", None, None, None, None, None, "3"),
        ("4", "Y", "B", "q", None, None, None, None, None, "4"),  # singleton block
    ]
    df = spark.createDataFrame(rows, HDD_SCHEMA)
    cfg = DedupConfig()
    cands = candidate_blocks(df, cfg)
    assert cands.count() == 3  # singleton 'Y' block pre-filtered (W1)
    rows_to_add, ids_to_remove = detect_duplicates(cands, cfg)
    assert rows_to_add.count() == 1
    assert {r["ID"] for r in ids_to_remove.collect()} == {"1", "2", "3"}
    out = dedup_merge(df, cfg).where("IDS is not null").collect()
    assert len(out) == 1
    merged = out[0]
    assert merged["ID"] == "1"
    assert merged["IDS"] == "1/2/3"
    # left-id-1 group had pairs (1,2) and (1,3): PCE flatten keeps dups
    assert merged["PCE"] == "p/p"
    assert merged["Id_source"] == "1/2/3"


def test_backtick_named_columns_merge_like_plain_names(spark):
    """A blocking column and a merge column whose names hold a backtick
    give the same rows as plain names: every name the pipeline refers
    to is quoted with the backtick doubled."""
    rows = [
        ("1", "X", "A", None, "a@x", None, None, None, None, "1"),
        ("2", "X", "A", None, "a@x", None, None, None, None, "2"),
        ("3", "X", "B", None, "b@x", None, None, None, None, "3"),
        ("4", "Y", "A", None, "a@x", None, None, None, None, "4"),
    ]
    plain = spark.createDataFrame(rows, HDD_SCHEMA)
    names = {"Nom": "N`om", "Email": "Em`ail"}
    cfg = DedupConfig()
    odd_cfg = DedupConfig(
        blocking_col=names["Nom"],
        any_match_cols=tuple(names.get(c, c) for c in cfg.any_match_cols),
        merge_cols={names.get(c, c): keep for c, keep in cfg.merge_cols.items()},
    )
    want = {r["ID"]: r.asDict() for r in dedup_merge(plain, cfg).collect()}
    got = dedup_merge(plain.withColumnsRenamed(names), odd_cfg).withColumnsRenamed(
        {odd: c for c, odd in names.items()}
    )
    assert {r["ID"]: r.asDict() for r in got.collect()} == want
    assert want["1"]["IDS"] == "1/2"
