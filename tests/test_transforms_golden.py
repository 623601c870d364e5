"""Golden-vector tests for the transform library (T1-T13).

Layer 1 of the reference's test strategy (SURVEY.md §5): the inline
(input, expected) tables from each reference transform module, ported
verbatim. The Python scalar fns are checked directly (they double as the
oracle), and every native expr flavor is checked through Spark.

Layer 3: end-to-end golden-file test — the reference's committed
JDD_normalisation.csv → JDD_normalisation_transformed.csv pair
(crates/libs/lib-etl/files/), run through the exact flavor composition of
examples/transform_jdd_normalisation.rs:40-52.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_rs_spark.functions import transforms as T
from etl_rs_spark.sources.csv_source import read_reference_csv
from tests.conftest import REFERENCE

# --- reference inline vectors (file:line cited per block) -----------------

NOM_UDF_VECTORS = [  # nom.rs:128-161
    ("Jean-Dupont//Smith", "JEAN DUPONT ET SMITH"),
    ("Marie-Curie&Einstein", "MARIE CURIE ET EINSTEIN"),
    ("N/A", "N ET A"),
    ("O'Neil & Sons", "O'NEIL ET SONS"),
    ("El Niño", "EL NINO"),
    ("&Carre & Lagrave&", "CARRE ET LAGRAVE"),
    ("/Sébastien / Pascal/", "SEBASTIEN ET PASCAL"),
    ("Carre_/", "CARRE"),
    ("Brøgger", "BRØGGER"),
    (None, None),
    ("", None),
    ("    ", None),
]

NOM_EXPR_VECTORS = [  # nom.rs:163-196
    ("&Carre & Lagrave&", "CARRE ET LAGRAVE"),
    ("/Sébastien / Pascal/", "SEBASTIEN ET PASCAL"),
    ("Carre_/", "CARRE"),
    ("Brøgger", "BRØGGER"),
    (None, None),
]

PRENOM_VECTORS = [  # prenom.rs:158-176 (UDF) == prenom.rs:178-219 (expr)
    ("amélie", "Amélie"),
    ("LOUCA", "Louca"),
    ("H-an", "H-An"),
    ("élie", "Elie"),
    ("anne-marie", "Anne-Marie"),
    ("anne marie", "Anne Marie"),
    ("Hélène*3", "Hélène"),
    ("Hélène&Adelin", "Hélène Adelin"),
    (None, None),
]

CIVILITE_VECTORS = [  # civilite.rs:56-76
    ("Mm", "MONSIEUR"),
    ("MR", "MONSIEUR"),
    ("Ms", "MADAME"),
    ("MMe", "MADAME"),
    ("M(espace)", "MONSIEUR"),
    ("MAD", "MADAME"),
    ("MADAME", "MADAME"),
    ("MM Mme", "MONSIEUR MADAME"),
    ("Mme M.", "MONSIEUR MADAME"),
    ("MISS", None),
    (None, None),
]

EMAIL_VECTORS = [  # email.rs:139-184 (UDF) == email.rs:186-245 (expr)
    ("Lucas31@gmail.com", "LUCAS31@GMAIL.COM"),
    ("Lucas 31@gmail.com", "LUCAS31@GMAIL.COM"),
    ("Lucàs31@gmail.com", "LUCAS31@GMAIL.COM"),
    ("Luc’’as31@gmail.com", "LUCAS31@GMAIL.COM"),
    ("@gmail.com", None),
    ("Lucas31gmail.com", None),
    ("Lucas31@g.com", None),
    ("Lucas31@siapartnersrue(XXXX....XXXX).com", None),
    ("Lucas31@", None),
    ("Lucas31@gmail.c-om", None),
    ("Lucas31@.gmail.com", "LUCAS31@GMAIL.COM"),
    ("Lucas31@gmail.", None),
    ("Lucas31@gmail..com", None),
    ("Lucas31@gmail.f", None),
    ("Lucas31@gmail.commmee", None),
    (None, None),
    ("em&ms@gmail..com", None),
]

TELEPHONE_VECTORS = [  # telephone.rs:94-127
    ("07 85 78 45 21b", "+33 7 85 78 45 21"),
    ("06.58.96.32.47", "+33 6 58 96 32 47"),
    ("06-58-96a32’47", "+33 6 58 96 32 47"),
    ("443-73-421-00395", None),
    ('"06.""é/940592"', None),
    ("081 6 75 57 98", None),
    ("085 6 75 57 98", "+33 8 56 75 57 98"),
    (None, None),
]

RAISON_SOCIALE_VECTORS = [  # raison_sociale.rs:91-122
    ('"ED""BANGER"', 'ED"BANGER'),
    ("Imagin&tiff_", "IMAGIN&TIFF_"),
    ("S’ociété", "S’OCIETE"),
    ("VECCHIA/", "VECCHIA/"),
    ("//MONEYY//", "//MONEYY//"),
    ("Straße", "STRAßE"),
    ("Ve&ccio", "VE&CCIO"),
    ("édouardservices", "EDOUARDSERVICES"),
    ("imagin//", "IMAGIN//"),
    ("HecøTOR", "HECØTOR"),
    ("ed'GAR", "ED'GAR"),
    ("Société dupont", "SOCIETE DUPONT"),
    ("villiers", "VILLIERS"),
    ("Paul&JO", "PAUL&JO"),
    ('""vanescènce"', '"VANESCENCE'),
    ("Brøgger", "BRØGGER"),
    ("A", "A"),
    (None, None),
    ("TIGER_Milk", "TIGER_MILK"),
    ("漢字", "漢字"),
]

SIRET_VECTORS = [  # siret.rs:49-82
    ("443 169 524 00120", "44316952400120"),
    ("443.169.524.00120", "44316952400120"),
    ("443 169 524 GH780", None),
    ("4ZT 169 524 00120", None),
    (None, None),
]

SIREN_VECTORS = [  # siren.rs:40-69
    ("732829320", "732829320"),
    ("732829320111", None),
    (None, None),
]

APE_VECTORS = [  # ape.rs:45-80
    ("62.01z", "6201Z"),
    ("62,01z", "6201Z"),
    ("94z", None),
    ("12325", None),
    ("a2325", None),
    (None, None),
]

CODE_NAF_VECTORS = [  # code_naf.rs:44-79 (libelle_naf.rs identical)
    ("011;1Z", "0111Z"),
    ("1234a", "1234A"),
    ("5678B", "5678B"),
    ("1234", None),
    ("5678", None),
    ("12-34", None),
]

PCE_VECTORS = [  # pce.rs semantics: digits only, no length check
    ("12345678910124", "12345678910124"),
    ("PCE-123 45", "12345"),
    ("abc", ""),
    (None, None),
]

PY_CASES = [
    (T.nom_py, NOM_UDF_VECTORS),
    (T.nom_expr_py, NOM_EXPR_VECTORS),
    (T.prenom_py, PRENOM_VECTORS),
    (T.prenom_expr_py, PRENOM_VECTORS),
    (T.civilite_py, CIVILITE_VECTORS),
    (T.email_py, EMAIL_VECTORS),
    (T.email_expr_py, EMAIL_VECTORS),
    (T.telephone_py, TELEPHONE_VECTORS),
    (T.raison_sociale_py, RAISON_SOCIALE_VECTORS),
    (T.siret_py, SIRET_VECTORS),
    (T.siren_py, SIREN_VECTORS),
    (T.ape_py, APE_VECTORS),
    (T.code_naf_py, CODE_NAF_VECTORS),
    (T.pce_py, PCE_VECTORS),
]


@pytest.mark.parametrize("fn,vectors", PY_CASES, ids=lambda x: getattr(x, "__name__", ""))
def test_python_flavors(fn, vectors):
    for inp, expected in vectors:
        assert fn(inp) == expected, f"{fn.__name__}({inp!r})"


SPARK_EXPR_CASES = [
    ("nom", T.nom_expr, NOM_EXPR_VECTORS),
    ("prenom", T.prenom_expr, PRENOM_VECTORS),
    ("civilite", T.civilite_udf, CIVILITE_VECTORS),
    ("email", T.email_expr, EMAIL_VECTORS),
    ("telephone", T.telephone_udf, TELEPHONE_VECTORS),
    ("raison_sociale", T.raison_sociale_expr, RAISON_SOCIALE_VECTORS),
    ("siret", T.siret_expr, SIRET_VECTORS),
    ("siren", T.siren_expr, SIREN_VECTORS),
    ("ape", T.ape_expr, APE_VECTORS),
    ("code_naf", T.code_naf_expr, CODE_NAF_VECTORS),
    ("pce", T.pce_expr, PCE_VECTORS),
    ("nom_udf", T.nom_udf, NOM_UDF_VECTORS),
    ("email_udf", T.email_udf, EMAIL_VECTORS),
    ("prenom_udf", T.prenom_udf, PRENOM_VECTORS),
]


@pytest.mark.parametrize("name,expr_fn,vectors", SPARK_EXPR_CASES, ids=lambda x: x if isinstance(x, str) else "")
def test_spark_flavors(spark, name, expr_fn, vectors):
    df = spark.createDataFrame([(i, v) for i, (v, _) in enumerate(vectors)], "i int, v string")
    rows = df.select("i", expr_fn(F.col("v")).alias("out")).orderBy("i").collect()
    got = [r["out"] for r in rows]
    want = [e for _, e in vectors]
    assert got == want, f"transform {name}: {got} != {want}"


JDD_CSV = f"{REFERENCE}/files/JDD_normalisation.csv"
JDD_GOLDEN_CSV = f"{REFERENCE}/files/JDD_normalisation_transformed.csv"


@pytest.mark.skipif(
    not (os.path.exists(JDD_CSV) and os.path.exists(JDD_GOLDEN_CSV)),
    reason=f"reference CSVs absent ({JDD_CSV}, {JDD_GOLDEN_CSV}); "
    f"needs a checkout of the reference repository",
)
def test_jdd_golden_e2e(spark):
    """files/JDD_normalisation.csv -> files/JDD_normalisation_transformed.csv
    via the composition in examples/transform_jdd_normalisation.rs:40-52."""
    df = read_reference_csv(spark, JDD_CSV)
    out = df.withColumns(T.jdd_normalize_exprs()).toPandas()

    golden = pd.read_csv(
        JDD_GOLDEN_CSV,
        dtype=str,
        keep_default_na=False,
    ).replace({"": None})
    out = out.where(pd.notnull(out), None)

    assert len(out) == len(golden) == 57
    for col in golden.columns:
        got = list(out[col])
        want = list(golden[col])
        assert got == want, f"column {col}: {got} != {want}"


def test_unicode_whitespace_flavor_parity(spark):
    """Java regex \\s is ASCII-only; the reference (Rust regex) and the
    python twins treat NBSP/U+2028 as whitespace. The native exprs carry
    (?U) so an NBSP between names collapses to a space instead of being
    silently deleted by the invalid-char strip — found by flavor-parity
    fuzzing (410 hostile strings x 14 transforms now mismatch-free)."""
    hostile = [
        "dupont martin",           # NBSP between names
        "  a b  ",                 # unicode line separator
        "jean  luc-marie",
        "123 456 789",        # NBSP-grouped SIREN
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(hostile)], "i int, v string")
    rows = df.select(
        "i",
        T.nom_expr(F.col("v")).alias("nom"),
        T.siren_expr(F.col("v")).alias("siren"),
    ).orderBy("i").collect()
    for r, s in zip(rows, hostile):
        assert r["nom"] == T.nom_expr_py(s), f"nom({s!r})"
    assert rows[0]["nom"] == "DUPONT MARTIN"   # NBSP -> space, not deleted
    assert rows[3]["siren"] == "123456789"     # NBSP stripped before validate
    assert rows[3]["siren"] == T.siren_py(hostile[3])


def test_validators_reject_trailing_newline(spark):
    """'$' in both Java and Python regex matches BEFORE a trailing
    newline; the reference's Rust '$' is end-of-text. The validators
    anchor with \\z/\\Z so 'A@B.FR\\n' and '1234A\\n' are rejected (not
    'validated' with the newline retained in the normalized value)."""
    import etl_rs_spark.functions.transforms as T
    from pyspark.sql import functions as F

    assert T.email_py("JOHN@EXAMPLE.COM\n") is None
    assert T.email_py("JOHN@EXAMPLE.COM") == "JOHN@EXAMPLE.COM"
    # expr flavor: a LONE trailing newline is consumed by the first-only
    # ['’&\s]+ strip (legitimate normalization)...
    assert T.email_expr_py("A@EX.FR\n") == "A@EX.FR"
    # ...but when an earlier whitespace run absorbs the first-only
    # strip, the surviving trailing newline must fail validation
    assert T.email_expr_py("A @EX.FR\n") is None
    assert T.ape_py("6201Z\n") is None
    assert T.ape_py("62.01Z") == "6201Z"
    assert T.code_naf_py("1234a\n") is None

    df = spark.createDataFrame(
        [("A @EX.FR\n",), ("A @EX.FR",), ("B@EX.COMMM",)], "raw string"
    )
    got = [r["e"] for r in df.select(T.email_expr(F.col("raw")).alias("e")).collect()]
    assert got == [None, "A@EX.FR", None]
    df2 = spark.createDataFrame([("6201Z\n",), ("62.01Z",)], "raw string")
    got2 = [r["a"] for r in df2.select(T.ape_expr(F.col("raw")).alias("a")).collect()]
    assert got2 == [None, "6201Z"]
