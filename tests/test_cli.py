"""CLI driver argument/validation parity (S1 — reference index.js:13-31).

Error-path tests run without a SparkSession; `test_cli_docs_agree_with_triples`
runs both sinks end to end on a three-page corpus."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from ocds_entity_extract_spark.__main__ import build_parser, main


def test_missing_database_or_collection_errors(capsys):
    assert main([]) == 1
    assert "no database or collection" in capsys.readouterr().out
    assert main(["-d", "/tmp/x"]) == 1
    assert main(["-c", "pages"]) == 1


def test_unsupported_output_value_errors(capsys):
    assert main(["-d", "/tmp/x", "-c", "pages", "-o", "mongo"]) == 1
    out = capsys.readouterr().out
    assert "unsupported output value mongo" in out
    assert "* db" in out and "* stream" in out


def test_option_surface_parity():
    """Reference option names/aliases all parse (classifiers multi-valued)."""
    ns = build_parser().parse_args(
        ["-d", "wh", "-c", "pages", "-o", "db", "-x", "a.csv", "b.csv", "-t"]
    )
    assert ns.database == "wh" and ns.collection == "pages"
    assert ns.output == "db"
    assert ns.classifiers == ["a.csv", "b.csv"]
    assert ns.test is True
    long = build_parser().parse_args(
        ["--database", "wh", "--collection", "pages", "--output", "stream",
         "--classifiers", "x.csv"]
    )
    assert long.output == "stream" and long.classifiers == ["x.csv"]


def test_pyfiles_artifact_complete(tmp_path):
    """The --py-files zip must carry every package module (an executor
    resolves all UDF code from it) and no tests/caches."""
    import pathlib
    import zipfile

    from tools.make_pyfiles import PKG, build

    out = build(tmp_path)
    with zipfile.ZipFile(out) as z:
        names = set(z.namelist())
    on_disk = {
        str(p.relative_to(PKG.parent))
        for p in pathlib.Path(PKG).rglob("*.py")
        if "__pycache__" not in p.parts
    }
    assert on_disk <= names
    assert not [n for n in names if "test" in n or "__pycache__" in n]
    assert "ocds_entity_extract_spark/plans/pipeline.py" in names


@pytest.mark.parametrize("output", ["db", "stream"])
def test_cli_docs_agree_with_triples(spark, tmp_path, output):
    """The CLI writes an entity doc for every `type` subject, a membership
    doc for every `memberOf` triple — including a NEW contact person
    (ana-torres, from her email) and her 'funcionario' edge — and an area
    doc for every area an `inArea`/`partOf` triple names."""
    from ocds_entity_extract_spark.schemas import PAGES_SCHEMA

    ts = dt.datetime(2025, 3, 1, tzinfo=dt.timezone.utc)
    bodies = [
        "<p>hoy Secretaría de Salud informó avances.</p>"
        "<p>contacto: ana.torres@salud.gob.mx para dudas.</p>",
        "<p>hoy Grupo Aurora Delta S.A. firmó.</p>"
        "<p>contacto: luis.vega@aurora.mx</p>",
        "<p>la Secretaría de Educación de Jalisco abrió registro.</p>",
    ]
    rows = [
        (f"https://noticias.example.mx/n/{i}", ts + dt.timedelta(seconds=i),
         f"<html><body>{b}</body></html>".encode(), None, "es")
        for i, b in enumerate(bodies)
    ]
    wh = str(tmp_path / "wh")
    spark.createDataFrame(rows, schema=PAGES_SCHEMA).write.parquet(
        os.path.join(wh, "pages")
    )
    assert main(["-d", wh, "-c", "pages", "-o", output]) == 0

    if output == "db":
        read = lambda t: spark.read.parquet(os.path.join(wh, t))  # noqa: E731
        triples, ents, mems, areas = (
            read("triples"), read("entity_docs"), read("membership_docs"),
            read("area_docs"),
        )
    else:
        read = lambda t: spark.read.json(os.path.join(wh, "out", t))  # noqa: E731
        triples, ents, mems, areas = (
            read("triples"), read("entities"), read("memberships"), read("areas")
        )
    t = {(r["subj"], r["pred"], r["obj"]) for r in triples.collect()}
    types = {s for s, p, _o in t if p == "type"}
    member_of = {(s, o) for s, p, o in t if p == "memberOf"}
    assert {"ana-torres", "luis-vega"} <= types
    assert ("ana-torres", "secretaria-de-salud") in member_of
    in_area = {o for _s, p, o in t if p == "inArea"}
    part_of = {x for s, p, o in t if p == "partOf" for x in (s, o)}
    assert in_area and part_of
    assert {r["id"] for r in areas.collect()} == in_area | part_of
    assert {r["id"] for r in ents.collect()} == types
    assert {
        (r["person_id"], r["organization_id"]) for r in mems.collect()
    } == member_of
    spark.catalog.clearCache()
