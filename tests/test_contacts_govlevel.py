"""contact_details + gov_level parity (≙ reference extract.js:889-891
contactPoint consumption and extract.js:893-895 / 522-524 govLevel stamp).

Webtext analogues: page-level email/tel spans attributed to the page's
entities; institution gov level derived from the name (municipio/
ayuntamiento => city, place-suffix or gobierno => region, other
institution keywords => country)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocds_entity_extract_spark.operators.mentions import (
    contacts_from_spans,
    detect_spans,
)
from ocds_entity_extract_spark.plans.documents import entity_documents
from ocds_entity_extract_spark.plans.pipeline import build_triples


def test_contact_span_extraction(spark):
    pages = spark.createDataFrame(
        [
            ("u1", "hoy Grupo Delta anunció. contacto: prensa@ejemplo.mx aqui."),
            ("u2", "sin contacto alguno en esta nota."),
            ("u3", "tel: 55-1234-5678 y correo redaccion@diario.com.mx listo."),
            ("u4", None),
        ],
        "url string, text string",
    ).withColumn("warc_ts", F.lit("2025-01-01 00:00:00").cast("timestamp"))
    got = {
        (r["url"], r["contact_type"], r["contact_value"])
        for r in contacts_from_spans(detect_spans(pages)).collect()
    }
    assert got == {
        ("u1", "email", "prensa@ejemplo.mx"),
        ("u3", "tel", "tel: 55-1234-5678"),
        ("u3", "email", "redaccion@diario.com.mx"),
    }


def test_pipeline_contact_details_vs_golden(spark, small_corpus):
    """Entity-doc contact_details match the datagen golden attribution
    (P/R >= 0.95 — linking differences may fold slightly differently)."""
    from ocds_entity_extract_spark.schemas import PAGES_SCHEMA

    pages_rows, _, aux = small_corpus
    pages = spark.createDataFrame(pages_rows, schema=PAGES_SCHEMA)
    res = build_triples(spark, pages)
    docs = entity_documents(
        res.entities,
        res.mapping,
        res.member_edges,
        contact_edges=res.contact_edges,
        inst_regions=res.inst_regions,
    )
    got = {
        (r["id"], c["type"], c["value"])
        for r in docs.select("id", "contact_details").collect()
        for c in r["contact_details"]
    }
    golden = set(aux["contacts"])
    assert golden, "datagen produced no golden contacts — corpus too small?"
    tp = len(got & golden)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(golden)
    assert precision >= 0.95, (precision, sorted(got - golden)[:10])
    assert recall >= 0.95, (recall, sorted(golden - got)[:10])


def _doc_rows(spark, ids_types):
    rows = [
        (slug, slug, etype, [], 1, 1,
         "2025-01-01 00:00:00", "2025-01-01 00:00:00", ["d1"])
        for slug, etype in ids_types
    ]
    schema = (
        "entity_id string, name string, entity_type string,"
        " other_names array<string>, mention_count long, page_count long,"
        " first_seen string, last_seen string, sources array<string>"
    )
    df = spark.createDataFrame(rows, schema)
    df = df.withColumn("first_seen", F.col("first_seen").cast("timestamp"))
    df = df.withColumn("last_seen", F.col("last_seen").cast("timestamp"))
    df = df.withColumn("source_runs", F.array().cast("array<string>"))
    mapping = spark.createDataFrame(
        [(slug, slug) for slug, _ in ids_types],
        "entity_id string, canonical_id string",
    )
    return df, mapping


def test_gov_level_rules(spark, no_doc_edges):
    ents, mapping = _doc_rows(
        spark,
        [
            ("municipio-de-centro", "institution"),
            ("ayuntamiento-de-guadalajara", "institution"),
            ("gobierno-del-estado", "institution"),
            ("secretaria-de-salud-de-jalisco", "institution"),
            ("secretaria-de-energia", "institution"),
            ("grupo-delta-s-a", "company"),
            ("juan-perez", "person"),
        ],
    )
    # region-probe rows as the pipeline would compute them
    inst_regions = spark.createDataFrame(
        [("secretaria-de-salud-de-jalisco", "México", "Jalisco", None, "region")],
        "entity_id string, country_name string, region string,"
        " locality string, gov_level string",
    )
    d = {
        r["id"]: r["gov_level"]
        for r in entity_documents(
            ents, mapping, *no_doc_edges[:2], inst_regions=inst_regions
        ).collect()
    }
    assert d["municipio-de-centro"] == "city"
    assert d["ayuntamiento-de-guadalajara"] == "city"
    assert d["gobierno-del-estado"] == "region"
    assert d["secretaria-de-salud-de-jalisco"] == "region"   # probe wins
    assert d["secretaria-de-energia"] == "country"           # federal default
    assert d["grupo-delta-s-a"] is None
    assert d["juan-perez"] is None


def test_contact_details_default_empty(spark, no_doc_edges):
    ents, mapping = _doc_rows(spark, [("secretaria-de-salud", "institution")])
    d = entity_documents(ents, mapping, *no_doc_edges).collect()[0]
    assert d["contact_details"] == []
    assert d["gov_level"] == "country"
