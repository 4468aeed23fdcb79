"""Classification precedence (SURVEY.md §2.9, reference extract.js:13-33):
override CSV > institution keyword > company suffix > person; override
whitespace normalization + last-wins duplicates
(reference classify.js:19-21)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocds_entity_extract_spark.functions.classify import (
    load_classifier_override,
    with_entity_type,
)
from ocds_entity_extract_spark.functions.text import collapse_ws, simple_name

CASES = [
    ("Juan Pérez García", "person"),
    ("Grupo Aurora Delta S.A. de C.V.", "company"),
    ("Constructora Omega S. de R.L.", "company"),
    ("Comercializadora Zenit SA de CV", "company"),
    ("Secretaría de Salud", "institution"),
    ("Instituto Nacional Electoral", "institution"),
    ("Universidad de Cultura de Oaxaca", "institution"),
    ("Banco del Norte Azteca", "institution"),
    ("María López Hernández", "person"),
    ("Operadora Continental Inc", "company"),
]


def _mentions_df(spark, names):
    df = spark.createDataFrame([(n,) for n in names], "surface string")
    return df.select(
        collapse_ws("surface").alias("name_norm"),
        simple_name("surface").alias("entity_id"),
    )


def test_heuristic_precedence(spark):
    df = with_entity_type(_mentions_df(spark, [c[0] for c in CASES]))
    got = {r["name_norm"]: r["entity_type"] for r in df.collect()}
    for name, expected in CASES:
        assert got[" ".join(name.split())] == expected, name


def test_override_beats_heuristic(spark):
    override = load_classifier_override(
        spark,
        spark.createDataFrame(
            [("Grupo  Aurora", "company"), ("Secretaría de Salud", "person")],
            "name string, type string",
        ),
    )
    df = with_entity_type(
        _mentions_df(spark, ["Grupo Aurora", "Secretaría de Salud", "Otro Nombre"]),
        override,
    )
    got = {r["name_norm"]: r["entity_type"] for r in df.collect()}
    assert got["Grupo Aurora"] == "company"          # ws-normalized override hit
    assert got["Secretaría de Salud"] == "person"    # override wins over keyword
    assert got["Otro Nombre"] == "person"


def test_override_last_wins(spark):
    """Duplicate names: later row wins (reference classify.js:19-21)."""
    override = load_classifier_override(
        spark,
        spark.createDataFrame(
            [("Dup Name", "person"), ("Dup Name", "company")],
            "name string, type string",
        ),
    )
    row = override.collect()
    assert len(row) == 1 and row[0]["override_type"] == "company"


def test_override_csv_last_file_wins(spark, tmp_path):
    """Across CSV files the LAST file in argument order wins, even when a
    later file is the larger one (Spark plans file splits largest-first)."""
    a, b = tmp_path / "a.csv", tmp_path / "b.csv"
    a.write_text("Dup Name,person\n")
    b.write_text(
        "Dup Name,company\n"
        + "".join(f"Filler Name {i},person\n" for i in range(2000))
    )
    override = load_classifier_override(spark, [str(a), str(b)])
    row = override.filter(F.col("name_norm") == "Dup Name").collect()
    assert len(row) == 1 and row[0]["override_type"] == "company"
    # and the other order: a.csv last -> person
    override = load_classifier_override(spark, [str(b), str(a)])
    row = override.filter(F.col("name_norm") == "Dup Name").collect()
    assert row[0]["override_type"] == "person"
