"""contactPoint-person branch + contract/purchase counter split + initials
identifier (reference extract.js:372-390, 546-578, 882-887 analogues)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ocds_entity_extract_spark.plans.documents import entity_documents
from ocds_entity_extract_spark.plans.pipeline import build_triples
from ocds_entity_extract_spark.schemas import PAGES_SCHEMA

TS = dt.datetime(2025, 3, 1, tzinfo=dt.timezone.utc)


def _pages(spark, rows):
    return spark.createDataFrame(rows, schema=PAGES_SCHEMA)


def _page(i, body):
    return {
        "url": f"https://noticias.example.mx/n/{i}",
        "warc_ts": TS + dt.timedelta(seconds=i),
        "html": f"<html><body>{body}</body></html>".encode(),
        "text": None,
        "lang": "es",
    }


@pytest.fixture(scope="module")
def cp_corpus(spark):
    rows = [
        # institution + person-named email -> funcionario membership
        _page(1, "<p>hoy Secretaría de Salud informó avances.</p>"
                 "<p>contacto: ana.torres@salud.gob.mx para dudas.</p>"),
        # same person again on another institution page (page_count=2)
        _page(2, "<p>hoy Instituto Nacional Electoral publicó.</p>"
                 "<p>contacto: ana.torres@ine.org.mx aqui.</p>"),
        # generic inbox: NO person derived
        _page(3, "<p>hoy Secretaría de Salud informó.</p>"
                 "<p>contacto: redaccion@salud.gob.mx</p>"),
        # person email on a page with NO institution: no edge, but the
        # person entity still appears (reference creates the person first)
        _page(4, "<p>hoy Grupo Aurora Delta S.A. firmó.</p>"
                 "<p>contacto: luis.vega@aurora.mx</p>"),
        # membership sentence on a PURCHASE page (product sentence present)
        _page(5, "<p>en rueda de prensa, Juan García López, titular de "
                 "Secretaría de Salud, destacó avances.</p>"
                 "<p>Producto 440123456789: material de curación, 3 unidades "
                 "a $10.50 con sobreprecio $0.00 y promedio $5.00 según el "
                 "acta.</p>"),
        # same-shaped membership on a non-purchase page
        _page(6, "<p>en rueda de prensa, Juan García López, gerente de "
                 "Instituto Nacional Electoral, destacó avances.</p>"),
    ]
    return _pages(spark, rows)


def _by_id(docs_df):
    return {r["id"]: r.asDict(recursive=True) for r in docs_df.collect()}


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"max_driver_linking": 0},
        # fully forced plan: its contact-person branch takes the dim join
        {
            "max_driver_linking": 0,
            "cc_small_graph_threshold": 0,
            "surface_broadcast": "aqe",
        },
    ],
)
def test_contact_person_edges_and_triples(spark, cp_corpus, kw):
    res = build_triples(spark, cp_corpus, **kw)
    triples = {(r["subj"], r["pred"], r["obj"]) for r in res.triples.collect()}
    # memberOf edges to each institution on the contact pages
    assert ("ana-torres", "memberOf", "secretaria-de-salud") in triples
    assert ("ana-torres", "memberOf", "instituto-nacional-electoral") in triples
    # NEW person gets a type triple
    assert ("ana-torres", "type", "person") in triples
    assert ("luis-vega", "type", "person") in triples
    # generic inbox derived nobody
    assert not any(s == "redaccion" for s, _p, _o in triples)
    # luis-vega has no institution on his page -> no memberOf edge
    assert not any(s == "luis-vega" and p == "memberOf" for s, p, _o in triples)
    edges = res.member_edges.collect()
    func = [e for e in edges if e["role"] == "funcionario"]
    assert {e["member_canon"] for e in func} == {"ana-torres"}
    assert all(e["is_purchase"] is False for e in func)
    spark.catalog.clearCache()


def test_contact_person_docs_and_counter_split(spark, cp_corpus):
    res = build_triples(spark, cp_corpus)
    docs = _by_id(
        entity_documents(
            res.entities,
            res.mapping,
            res.member_edges,
            res.contact_edges,
            res.inst_regions,
            contact_persons=res.contact_persons,
        )
    )
    ana = docs["ana-torres"]
    assert ana["entity_type"] == "person"
    assert ana["classification"] == ["person", "funcionario"]
    assert ana["counters"]["membership_count"]["funcionario"] == 2
    assert ana["counters"]["contract_count"]["funcionario"] == 2
    assert ana["counters"]["purchase_count"]["funcionario"] == 0
    assert ana["counters"]["pages"] == 2
    assert ana["counters"]["mentions"] == 0
    assert ana["name"] == "Ana Torres"
    # luis-vega: person doc exists even without an institution edge
    assert docs["luis-vega"]["classification"] == ["person"]
    # purchase/contract split: titular edge rode a product page,
    # gerente edge did not
    juan = docs["juan-garcia-lopez"]
    assert juan["counters"]["purchase_count"]["titular"] == 1
    assert juan["counters"]["contract_count"]["titular"] == 0
    assert juan["counters"]["contract_count"]["gerente"] == 1
    assert juan["counters"]["membership_count"]["titular"] == 1
    assert juan["counters"]["membership_count"]["gerente"] == 1
    # initials identifier: institutions only, >= 2 contributing tokens
    salud = docs["secretaria-de-salud"]
    assert {"id": "ss", "scheme": "initials"} in salud["identifiers"]
    ine = docs["instituto-nacional-electoral"]
    assert {"id": "ine", "scheme": "initials"} in ine["identifiers"]
    # companies/persons carry no initials identifier
    assert not any(
        i["scheme"] == "initials" for i in juan["identifiers"]
    )
    spark.catalog.clearCache()


def test_initials_skips_connectors_and_short(spark):
    from ocds_entity_extract_spark.plans.documents import initials_col

    df = spark.createDataFrame(
        [
            ("secretaria-de-salud-de-jalisco",),   # 'de' skipped
            ("banco",),                            # 1 token -> empty
            ("comision-3a-del-agua",),             # digit-led token skipped
        ],
        "slug string",
    )
    got = [r["i"] for r in df.select(initials_col("slug").alias("i")).collect()]
    assert got == ["ssj", "", "ca"]


def test_existing_person_reused_for_contact_email(spark):
    # an email whose slug matches a MENTIONED person canonicalizes onto it
    rows = [
        _page(1, "<p>hoy Ana Torres participó en la sesión de "
                 "Secretaría de Salud hoy mismo.</p>"
                 "<p>contacto: ana.torres@salud.gob.mx</p>"),
    ]
    res = build_triples(spark, _pages(spark, rows))
    # no NEW person row: the slug already exists in the mapping
    assert res.contact_persons is not None
    assert res.contact_persons.count() == 0
    docs = _by_id(
        entity_documents(
            res.entities,
            res.mapping,
            res.member_edges,
            res.contact_edges,
            res.inst_regions,
            contact_persons=res.contact_persons,
        )
    )
    ana = docs["ana-torres"]
    assert ana["counters"]["mentions"] >= 1          # real mention kept
    assert ana["counters"]["membership_count"]["funcionario"] == 1
    assert "funcionario" in ana["classification"]
    spark.catalog.clearCache()


def test_corpus_without_person_emails_skips_branch(spark, pages_df):
    # datagen corpora carry only generic inboxes: the auto gate must skip
    # the branch (contact_persons is None) and triples stay unaffected
    res = build_triples(spark, pages_df)
    assert res.contact_persons is None
    assert res.member_edges.filter(F.col("role") == "funcionario").count() == 0
    spark.catalog.clearCache()
